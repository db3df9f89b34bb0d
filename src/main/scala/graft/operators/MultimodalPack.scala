package graft.operators

import graft.{QueryPack, Tables}
import graft.sources.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-facing multimodal queries. Every decode runs a REAL parser
  * over genuine byte layouts (PNG/JPEG/GIF/BMP/WebP/TIFF headers,
  * PNG/BMP pixels, RIFF/WAV, ISO-BMFF) — the fixtures encode
  * doc_id-derived parameters INTO the bytes and the oracles replay
  * those parameters arithmetically, so a parser bug (offset,
  * endianness, mis-hopped chunk) hash-diverges while the oracle
  * never needs a codec.
  */
object MultimodalPack extends QueryPack {

  /** Minimum near-dup frame pairs for a video pair to count as
    * sharing a scene (mm_video_scenes). */
  val MinSharedScenes = 2

  /** Probe-subset bound for the brute-force side of mm_dhash_recall
    * (img_ids below this — all-pairs stays trivially affordable). */
  val DhashProbeN = 200

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the unified media-metadata table over a MIXED corpus: real PNG
    // bytes (IHDR dims), real WAV bytes (sample-frame count, junk
    // chunks hopped), real MP4 bytes (frames from the parsed mvhd
    // duration, both header versions) through ONE decode dispatch —
    // the oracle replays the parameters each generator encoded,
    // including every byte-length the containers produce
    "mm_decode_meta" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.decodeMeta(
        Multimodal.mediaFromDocuments(Tables.documents(s, dir))).toDF()
    }),

    // REAL header decode (no stub): PNG IHDR + JPEG SOF marker walk
    // over genuine byte layouts ([[graft.sources.Multimodal.HeaderCodec]]).
    // The oracle replays the dimensions the generator encoded; a parser
    // bug (wrong offset, wrong endianness, mis-hopped segment) breaks
    // the hash.
    "mm_decode_headers" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.decodeHeaders(
        Multimodal.syntheticImages(Tables.documents(s, dir))).toDF()
    }),

    // REAL legacy-image header decode: GIF logical-screen descriptor
    // (the one LITTLE-endian image container here — PNG/JPEG are BE)
    // and both BMP DIB layouts (core u16 dims; info i32 dims with the
    // negative-height top-down flag the parser must abs). Same
    // decodeHeaders plumbing, same oracle-replays-the-generator gate.
    "mm_gif_bmp_meta" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.decodeHeaders(
        Multimodal.syntheticLegacyImages(Tables.documents(s, dir))).toDF()
    }),

    // REAL modern-image header decode: WebP across all three
    // bitstream variants (VP8X u24le canvas, VP8L packed 14-bit
    // dims, VP8 u16le after the start code — one container, three
    // layouts) and TIFF in both byte orders × both inline IFD value
    // types (the one dual-endian format here). Same decodeHeaders
    // plumbing and oracle-replays-the-generator gate; eight real
    // image layouts now flow through one decode path.
    "mm_webp_tiff_meta" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.decodeHeaders(
        Multimodal.syntheticModernImages(Tables.documents(s, dir))).toDF()
    }),

    // REAL audio header decode: RIFF chunk walk over genuine WAV byte
    // layouts ([[graft.sources.Multimodal.WavCodec]]) — little-endian
    // fields, junk-chunk hops, word-alignment pad bytes. The oracle
    // replays the PCM parameters the generator encoded.
    "mm_wav_meta" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.decodeWav(
        Multimodal.syntheticAudio(Tables.documents(s, dir))).toDF()
    }),

    // REAL video header decode: ISO-BMFF box walk to moov/mvhd
    // ([[graft.sources.Multimodal.Mp4Codec]]) — big-endian sizes,
    // unknown-box hops, and both mvhd versions (odd ids take the
    // 64-bit v1 layout). The oracle replays the encoded parameters.
    "mm_mp4_meta" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.decodeMp4(
        Multimodal.syntheticVideos(Tables.documents(s, dir))).toDF()
    }),

    // WARC archive round trip — the crawl-interchange ingest leg
    // ([[graft.sources.Warc]]): documents spool into per-source
    // WARC/1.0 archives (even-hash sources as per-record gzip
    // members, the warc.gz shape; odd raw), then the strict record
    // walker parses them back. The oracle replays what the writer
    // encoded straight from `documents` — a walker bug (off-by-one
    // on the CRLFCRLF terminator, character-vs-octet Content-Length,
    // a desync after a gzip member) breaks position, length, or the
    // payload md5. Parallelism is the archive count; no shuffle
    // after the per-source repartition that builds them.
    "mm_warc_roundtrip" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.sources.Warc.parseArchives(
          graft.sources.Warc.archivesFromDocuments(Tables.documents(s, dir)))
        .toDF()
        .select(col("source"), col("pos"), col("doc_id"),
          col("content_length"), md5(col("payload")).as("payload_md5"))
    }),

    // The response-record layer on top: payloads are full HTTP/1.1
    // messages (status line + headers + body — what crawl archives
    // actually carry), parsed by [[graft.sources.Warc.parseHttp]]
    // after the record walk. The oracle replays the status/
    // content-type/body rules straight from `documents`; a parse bug
    // (CRLF off-by-one in the header block, body sliced at the wrong
    // offset) breaks status, octets, or the body md5.
    "mm_warc_http" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.sources.Warc.parseHttpRecords(
          graft.sources.Warc.responseArchivesFromDocuments(
            Tables.documents(s, dir)))
        .toDF()
        .select(col("source"), col("doc_id"), col("status"),
          col("content_type"),
          length(col("body")).cast("long").as("body_octets"),
          md5(col("body")).as("body_md5"))
    }),

    // The crawl→media composition END TO END, every layer byte-real:
    // PNG/JPEG binaries spool into per-mime WARC response archives
    // (bodies wrapped in genuine HTTP/1.1 messages), the strict
    // record walk + HTTP parse recover them, and the header codec
    // reads the dimensions back off the recovered bytes. Three real
    // parsers composed; a framing bug in ANY layer (record
    // desync, header/body split, dimension offset) breaks the hash.
    "mm_warc_media" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      graft.sources.Warc.parseHttpRecords(
          graft.sources.Warc.mediaResponseArchives(
            Multimodal.syntheticImages(Tables.documents(s, dir)).toDF()))
        .flatMap { r =>
          Multimodal.HeaderCodec.parse(r.body).map { case (fmt, w, h) =>
            (r.doc_id, r.content_type, fmt, w, h) }
        }
        .toDF("doc_id", "content_type", "fmt", "width", "height")
    }),

    // Cross-modality corpus profile — the rollup a media curation
    // pipeline monitors: every REAL decoder (PNG/JPEG dims, WAV and
    // MP4 durations) feeding one per-kind summary. Decodes stay
    // scan-stage; each branch is one partial-agg; the union is rows,
    // not data. Averages are exact-long sums over one IEEE division,
    // rounded the same on both engines.
    "mm_media_profile" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val docs = Tables.documents(s, dir)
      val nulD = lit(null).cast("double")
      val img = Multimodal.decodeHeaders(
          Multimodal.syntheticImages(docs)).toDF()
        .groupBy(col("fmt").as("kind"))
        .agg(count(lit(1)).as("n"),
          graft.Det.dround(sum(col("width")).cast("double")
            / count(lit(1)), 4).as("avg_width"),
          graft.Det.dround(sum(col("height")).cast("double")
            / count(lit(1)), 4).as("avg_height"))
        .select(col("kind"), col("n"),
          lit(null).cast("long").as("total_duration_ms"),
          col("avg_width"), col("avg_height"))
      def av(kind: String, meta: org.apache.spark.sql.DataFrame) =
        meta.agg(count(lit(1)).as("n"),
            sum(col("duration_ms")).as("total_duration_ms"))
          .select(lit(kind).as("kind"), col("n"),
            col("total_duration_ms"), nulD.as("avg_width"),
            nulD.as("avg_height"))
      img
        .unionByName(av("wav",
          Multimodal.decodeWav(Multimodal.syntheticAudio(docs)).toDF()))
        .unionByName(av("mp4",
          Multimodal.decodeMp4(Multimodal.syntheticVideos(docs)).toDF()))
    }),

    "mm_frame_sample" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.sampleFrames(
        Multimodal.decodeMeta(
          Multimodal.mediaFromDocuments(Tables.documents(s, dir))), step = 5)
    }),

    // aspect-preserving resize plan for image media (integer math).
    "mm_resize_plan" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.resizePlan(
        Multimodal.decodeMeta(
          Multimodal.mediaFromDocuments(Tables.documents(s, dir)))).toDF()
    }),

    // byte-histogram feature vectors — the multimodal→embedding
    // bridge; format-agnostic by design (a byte histogram needs no
    // container), so the fixture bytes are the documents' UTF-8 text,
    // which keeps the oracle pure ascii() arithmetic.
    // Emitted in flat (doc_id, dim, value) form: the driver's pandas
    // harness cannot hash array cells, and serializing floats to
    // strings risks formatting divergence — exploding keeps the
    // compare bit-exact. The array form itself is consumed (and so
    // still pinned) by mm_feature_topk and MultimodalSpec.
    "mm_feature_extract" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.extractFeatures(
        Multimodal.textBytesFromDocuments(Tables.documents(s, dir))).toDF()
        .select(col("doc_id"),
          posexplode(col("feature")).as(Seq("dim", "value")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"),
          col("value"))
    }),

    // ...and the bridge driven END-TO-END: media bytes → feature
    // vectors → cosine top-3 per query through the similarity
    // machinery (same broadcast brute-force shape as sim_cosine_topk,
    // 8-dim vectors). The claim "features feed the sim_* operators"
    // as a pinned query, not a comment.
    "mm_feature_topk" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import graft.functions.Similarity
      // zero-vector features (empty media) would make every cosine
      // NaN and float to rank 1 — excluded on BOTH engine sides
      val v = Multimodal.extractFeatures(
          Multimodal.textBytesFromDocuments(Tables.documents(s, dir))).toDF()
        .select(col("doc_id"), col("feature"),
          Similarity.norm(col("feature")).as("nrm"))
        .filter(col("nrm") > 0)
      val q = v.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), col("feature").as("qf"),
          col("nrm").as("qn"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("doc_id"))
      v.crossJoin(broadcast(q))
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"),
          (Similarity.dot(col("qf"), col("feature"))
            / (col("qn") * col("nrm"))).as("cos"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("doc_id"),
          graft.Det.dround(col("cos"), 6).as("cos"))
    }),

    // perceptual image hashing: REAL decoded thumbnail grids (genuine
    // PNG zlib inflate + BMP pixel-array walk, luma'd and resized —
    // [[graft.sources.Multimodal.PixelCodec]]) → 63-bit dHash as one
    // codegen'd projection — the image analog of ds_simhash. The
    // oracle replays the GRID the fixture encoded; a decoder bug
    // (filter, stride, row order, channel order, resize) breaks it
    "mm_dhash" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      dhashed(s, dir)
    }),

    // ...and image NEAR-DUP pairs through the SimHash banding
    // pattern: 4 bands × 16 bits cover the 63-bit hash, so pigeonhole
    // guarantees a shared band within HamCap=3 bits — candidates are
    // an equi-join on (band, key), the popcount filter runs inside
    // the join projection, and the fixture's bumped variants (≤ 3
    // flipped bits by construction) are the ground-truth dup pairs
    // the query must recover
    "mm_dhash_dups" -> ((s, dir) => dhashPairsFor(s, dir)),

    // the AUDIO near-dup leg: REAL mono-PCM WAVs (data payload, junk
    // hops, sign-extension) decoded by a genuine RIFF walk, window
    // energies extracted partition-wise, and the sign-delta
    // fingerprint as the same static-unroll codegen shape as dhash —
    // a decode bug (missed pad, wrong endianness, no sign extension)
    // shifts samples and breaks the hash
    "mm_audio_fp" -> ((s, dir) => audioFped(s, dir)),

    // ...and audio near-dup pairs through the IDENTICAL banded
    // Hamming machinery as the image leg — the bumped one-sample
    // transient moves at most one bit, so the ground-truth pairs sit
    // inside the pigeonhole-guaranteed radius
    "mm_audio_fp_dups" -> ((s, dir) =>
      dhashDups(audioFped(s, dir)
          .select(col("snd_id").as("img_id"), col("fp").as("dhash")))
        .select(col("img_a").as("snd_a"), col("img_b").as("snd_b"),
          col("hamming"))),

    // the VIDEO leg: shared-SCENE detection at frame grain — every
    // sampled frame hashes like an image, near-dup frame pairs come
    // from the same banded join, and the video-pair overlap count is
    // one partial-agg rollup on top. The fixture's variant videos
    // re-encode exactly SharedFrames frames, so ground truth is a
    // known overlap the query must land on; cross-video frame
    // matching never compares all frames — only banded candidates
    "mm_video_scenes" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val r = Multimodal.FrameRadix
      val h = Multimodal.decodePixels(
          Multimodal.syntheticSharedSceneVideos(
            Tables.widen(Tables.documents(s, dir))))
        .toDF()
        .select(col("img_id"),
          PerceptualHash.dhash(col("pixels")).as("dhash"))
      dhashDups(h)
        .select(expr(s"img_a div $r").as("va"), expr(s"img_b div $r").as("vb"))
        .filter(col("va") =!= col("vb"))
        .select(least(col("va"), col("vb")).as("vid_a"),
          greatest(col("va"), col("vb")).as("vid_b"))
        .groupBy(col("vid_a"), col("vid_b"))
        .agg(count(lit(1)).as("shared_frames"))
        .filter(col("shared_frames") >= MinSharedScenes)
    }),

    // ...and the audio APPLY step, completing the modality symmetry:
    // near-dup clips → components → the surviving clip library
    "mm_audio_fp_apply" -> ((s, dir) => {
      // the memoized fingerprint frame feeds the pair join AND the
      // final survivor anti-join — one decode for the whole family
      val h = audioFped(s, dir)
        .select(col("snd_id").as("img_id"), col("fp").as("dhash"))
      val losers = Components.connectedComponents(
          dhashDups(h).select(col("img_a"), col("img_b")),
          "img_a", "img_b")
        .filter(col("node") =!= col("rep"))
        .select(col("node").as("img_id"))
      h.join(losers, Seq("img_id"), "left_anti")
        .select(col("img_id").as("snd_id"), col("dhash").as("fp"))
    }),

    // the banded index auditing its own recall (the ds_lsh_recall
    // pattern): brute-force truth = ALL pairs within HamCap on a
    // bounded probe subset, compared against what the banding
    // surfaces on the same subset. For THIS index the audit is a
    // proof check, not a measurement — pigeonhole over 4 bands
    // guarantees recall 1.0 at radius 3, and the oracle asserts the
    // counts EQUAL (a banding bug fails the hash, not a comment)
    "mm_dhash_recall" -> ((s, dir) => {
      val sub = dhashed(s, dir).filter(col("img_id") < DhashProbeN)
        .localCheckpoint(true)
      val truth = sub.alias("a").join(sub.alias("b"),
          col("a.img_id") < col("b.img_id"))
        .filter(expr("bit_count(a.dhash ^ b.dhash)") <= PerceptualHash.HamCap)
        .select(col("a.img_id").as("img_a"), col("b.img_id").as("img_b"))
      // the ds_fuzzy_recall fusion: materialize the twice-referenced
      // pair frames once, then one tagged union + one aggregation
      // replaces three 1-row aggs composed via crossJoin broadcasts
      val truthC = truth.localCheckpoint(eager = true)
      val cand = dhashDups(sub).select(col("img_a"), col("img_b"))
        .localCheckpoint(eager = true)
      val hit = truthC.join(cand, Seq("img_a", "img_b"), "left_semi")
      truthC.select(lit("t").as("k"))
        .unionByName(cand.select(lit("c").as("k")))
        .unionByName(hit.select(lit("h").as("k")))
        .agg(
          coalesce(sum(when(col("k") === "t", 1L)), lit(0L)).as("n_true"),
          coalesce(sum(when(col("k") === "c", 1L)), lit(0L)).as("n_cand"),
          coalesce(sum(when(col("k") === "h", 1L)), lit(0L)).as("n_hit"))
        .select(col("n_true"), col("n_cand"), col("n_hit"),
          (col("n_hit") === col("n_true") &&
            col("n_cand") === col("n_true")).as("pigeonhole_ok"))
    }),

    // the image-dedup APPLY step (the ds_dedup_apply shape at image
    // grain): near-dup pairs → connected components → every
    // non-representative drops, the surviving library remains —
    // min-id retention, one component walk, never all-pairs
    "mm_dhash_apply" -> ((s, dir) => {
      val h = dhashed(s, dir)
      val losers = dhashGroupsFor(s, dir)
        .filter(col("node") =!= col("rep"))
        .select(col("node").as("img_id"))
      h.join(losers, Seq("img_id"), "left_anti")
    }),

    // ...and the crawl-composed form: the near-dup image corpus
    // spooled into WARC response archives, recovered through the
    // strict record walk + HTTP parse, THEN deduped — the media twin
    // of ds_crawl_dedup. The archive trip must be byte-exact or the
    // hashes (and this oracle, which replays the pre-spool bytes)
    // break.
    "mm_crawl_dhash_dups" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val recovered = graft.sources.Warc.parseHttpRecords(
          graft.sources.Warc.mediaResponseArchives(
            Multimodal.syntheticNearDupImages(
              Tables.widen(Tables.documents(s, dir))).toDF()))
        .map(r => Multimodal.MediaRow(r.doc_id, r.content_type, r.body))
      dhashDups(Multimodal.decodePixels(recovered).toDF()
        .select(col("img_id"),
          PerceptualHash.dhash(col("pixels")).as("dhash")))
    }),

    // LAION-style PAIR curation — the multimodal ds_keep_best: image
    // near-dup groups (dhash pairs → components) each keep the pair
    // with the BEST caption. Caption = the image id's source document
    // (the fixture maps base and bumped variants onto real doc ids);
    // quality = caption token count, ties to the lowest img_id via
    // the max(struct) argmax — a map-side partial agg, never a
    // per-group sort. Singleton images (no near-dup) are their own
    // group through the coalesce.
    "mm_pair_dedup" -> ((s, dir) => {
      val h = dhashed(s, dir)
      val groups = dhashGroupsFor(s, dir)
      val caps = Tables.documents(s, dir)
        .select(col("doc_id").as("img_id"),
          size(split(col("text"), " ")).cast("long").as("cap_tokens"))
      h.select(col("img_id"))
        .join(groups.withColumnRenamed("node", "img_id"),
          Seq("img_id"), "left")
        .select(col("img_id"), coalesce(col("rep"), col("img_id")).as("grp"))
        .join(caps, Seq("img_id"))
        .groupBy("grp")
        .agg(max(struct(col("cap_tokens"), (-col("img_id")).as("ni"),
          col("img_id"))).as("m"))
        .select(col("grp"), col("m.img_id").as("img_id"),
          col("m.cap_tokens").as("cap_tokens"))
    })
  )

  /** (snd_id, fp) over the near-dup audio fixture. The decoded
    * fingerprint frames and their dup pairs/groups are [[IndexCache]]
    * artifacts, read by five dhash consumers (hash table, dup pairs,
    * apply, pair curation, recall probe) and two audio consumers. */
  private def audioFped(s: SparkSession, dir: String): DataFrame =
    IndexCache.artifact(s, "audiofp", dir) {
      implicit val sp: SparkSession = s
      Multimodal.windowEnergies(Multimodal.decodePcm16(
          Multimodal.syntheticNearDupAudio(
            Tables.widen(Tables.documents(s, dir)))))
        .select(col("snd_id"),
          PerceptualHash.audioFp(col("energies")).as("fp"))
        .localCheckpoint(eager = true)
    }

  /** (img_id, dhash) over the near-dup image fixture — the shared
    * head of the perceptual-hash queries, memoized per corpus. */
  private[graft] def dhashed(s: SparkSession, dir: String): DataFrame =
    IndexCache.artifact(s, "dhash", dir)(
      dhashOf(s, Tables.documents(s, dir)).localCheckpoint(eager = true))

  /** The image dup-pair index and its components — shared by
    * mm_dhash_dups / mm_dhash_apply / mm_pair_dedup. */
  private def dhashPairsFor(s: SparkSession, dir: String): DataFrame =
    IndexCache.artifact(s, "dhashpairs", dir)(
      dhashDups(dhashed(s, dir)).localCheckpoint(eager = true))

  private def dhashGroupsFor(s: SparkSession, dir: String): DataFrame =
    IndexCache.artifact(s, "dhashgroups", dir)(
      Components.connectedComponents(
          dhashPairsFor(s, dir).select(col("img_a"), col("img_b")),
          "img_a", "img_b")
        .localCheckpoint(eager = true))

  private[graft] def dhashOf(s: SparkSession, docs: DataFrame): DataFrame = {
    implicit val sp: SparkSession = s
    // widen before the codec walk: PNG/BMP/JPEG decode + dhash is the
    // per-row-dense chain the single-split fixture scan serializes
    Multimodal.decodePixels(
        Multimodal.syntheticNearDupImages(Tables.widen(docs))).toDF()
      .select(col("img_id"),
        PerceptualHash.dhash(col("pixels")).as("dhash"))
  }

  /** The banded Hamming near-dup join over (img_id, dhash) rows. */
  private[graft] def dhashDups(h: DataFrame): DataFrame = {
    import graft.operators.PerceptualHash.{Bands, HamCap, bandKey}
    // materialize the (img_id, dhash) projection ONCE (16-byte rows):
    // the banded self-join otherwise re-runs the whole decode +
    // perceptual-hash chain under BOTH sides (the winnowPairs
    // discipline; video scenes measured 3.3 -> ~1.3 s at sf0.1)
    val hd = h.select(col("img_id"), col("dhash"))
      .localCheckpoint(eager = true)
    val banded = hd.select(col("img_id"), col("dhash"),
        explode(array((0 until Bands).map(b0 => struct(
          lit(b0.toLong).as("band"),
          bandKey(col("dhash"), b0).as("key"))): _*)).as("bk"))
      .select(col("img_id"), col("dhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    banded.alias("a").join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.img_id") < col("b.img_id"))
      .select(col("a.img_id").as("img_a"), col("b.img_id").as("img_b"),
        expr("CAST(bit_count(a.dhash ^ b.dhash) AS BIGINT)")
          .as("hamming"))
      .filter(col("hamming") <= HamCap)
      .distinct()
  }

  /** The mm_feature_extract oracle body, reused as a CTE by the
    * feature-topk oracle. */
  private val featureCte =
    """chars AS (SELECT doc_id, ascii(tc) // 32 AS bkt
      |  FROM (SELECT doc_id, unnest(string_split_regex(text, '')) AS tc
      |        FROM documents)
      |  WHERE tc <> ''),
      |counts AS (SELECT doc_id, bkt, count(*) AS c
      |           FROM chars GROUP BY doc_id, bkt),
      |grid AS (SELECT d.doc_id, g.d FROM documents d,
      |         UNNEST(generate_series(0, 7)) AS g(d)),
      |j AS (SELECT grid.doc_id, grid.d, COALESCE(counts.c, 0) AS c
      |      FROM grid LEFT JOIN counts
      |        ON grid.doc_id = counts.doc_id AND grid.d = counts.bkt),
      |n AS (SELECT doc_id, greatest(strlen(text), 1) AS n FROM documents),
      |feats AS (SELECT j.doc_id AS doc_id,
      |       list(CAST(j.c / CAST(n.n AS DOUBLE) AS FLOAT)
      |            ORDER BY j.d) AS feature
      |FROM j JOIN n ON j.doc_id = n.doc_id
      |GROUP BY j.doc_id)""".stripMargin

  private def fDot(a: String, b: String): String =
    graft.functions.Similarity.sqlDot(a, b)

  private def fCos(a: String, b: String): String =
    graft.functions.Similarity.sqlCos(a, b)

  override def oracles: Map[String, String] = Map(
    // byte lengths replay the container layouts themselves: a minimal
    // PNG is 33 bytes (sig 8 + IHDR len/tag/payload/crc 25), a
    // header-only WAV 44 (+16 when the junk chunk is present: id + size
    // + 7 payload + 1 pad), an MP4 ftyp+free+moov{mvhd} 63 (v0) or 75
    // (v1's three u64 fields) — so even the generators' framing is
    // pinned, not just the parsed fields
    "mm_decode_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |       ELSE 'video/mp4' END AS mime,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 33
        |            WHEN doc_id % 3 = 1 THEN
        |              44 + CASE WHEN doc_id % 9 = 1 THEN 16 ELSE 0 END
        |            WHEN doc_id % 2 = 1 THEN 75 ELSE 63 END AS BIGINT)
        |    AS n_bytes,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 64 + doc_id % 577
        |            ELSE 0 END AS INTEGER) AS width,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 64 + (doc_id * 31) % 353
        |            ELSE 0 END AS INTEGER) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1
        |            WHEN doc_id % 3 = 1 THEN 1000 + (doc_id * 37) % 9000
        |            ELSE 1 + doc_id % 24 END AS INTEGER) AS n_frames
        |FROM documents""".stripMargin,

    "mm_decode_headers" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
        |  CAST(16 + doc_id % 1000 AS INTEGER) AS width,
        |  CAST(16 + (doc_id * 7) % 800 AS INTEGER) AS height
        |FROM documents""".stripMargin,

    "mm_gif_bmp_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'gif' ELSE 'bmp' END AS fmt,
        |  CAST(16 + doc_id % 1000 AS INTEGER) AS width,
        |  CAST(16 + (doc_id * 7) % 800 AS INTEGER) AS height
        |FROM documents""".stripMargin,

    "mm_webp_tiff_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'webp' ELSE 'tiff' END AS fmt,
        |  CAST(16 + doc_id % 1000 AS INTEGER) AS width,
        |  CAST(16 + (doc_id * 7) % 800 AS INTEGER) AS height
        |FROM documents""".stripMargin,

    "mm_warc_media" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image/png'
        |       ELSE 'image/jpeg' END AS content_type,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
        |  CAST(16 + doc_id % 1000 AS INTEGER) AS width,
        |  CAST(16 + (doc_id * 7) % 800 AS INTEGER) AS height
        |FROM documents""".stripMargin,

    "mm_warc_http" ->
      """SELECT source, doc_id,
        |  CASE WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END AS status,
        |  'text/' || lang AS content_type,
        |  CAST(CASE WHEN doc_id % 13 = 0 THEN 0
        |            ELSE strlen(text) END AS BIGINT) AS body_octets,
        |  md5(CASE WHEN doc_id % 13 = 0 THEN '' ELSE text END) AS body_md5
        |FROM documents""".stripMargin,

    // the writer's facts, straight from the table: position = rank
    // in the per-source doc_id spool order, Content-Length = octet
    // (strlen) length, md5 over the same UTF-8 bytes
    "mm_warc_roundtrip" ->
      """SELECT source,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1
        |       AS BIGINT) AS pos,
        |  doc_id, CAST(strlen(text) AS BIGINT) AS content_length,
        |  md5(text) AS payload_md5
        |FROM documents""".stripMargin,

    // integer arithmetic throughout (duration is floor division), so
    // the compare is exact; a parser that misreads any LE field or
    // desyncs on the junk chunk's pad byte diverges here
    "mm_wav_meta" ->
      """SELECT doc_id,
        |  CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |  CAST(CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |       WHEN 2 THEN 22050 WHEN 3 THEN 44100
        |       ELSE 48000 END AS INTEGER) AS sample_rate,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 16
        |       WHEN 2 THEN 24 ELSE 32 END AS INTEGER) AS bits,
        |  CAST(1000 + (doc_id * 37) % 9000 AS BIGINT) AS n_frames,
        |  (1000 + (doc_id * 37) % 9000) * 1000
        |    // CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |       WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END
        |    AS duration_ms
        |FROM documents""".stripMargin,

    "mm_mp4_meta" ->
      """SELECT doc_id, 'isom' AS brand,
        |  CAST(doc_id % 2 AS INTEGER) AS mvhd_version,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
        |       WHEN 2 THEN 90000 ELSE 48000 END AS INTEGER) AS timescale,
        |  CAST(1000 + (doc_id * 53) % 100000 AS BIGINT) AS duration,
        |  (1000 + (doc_id * 53) % 100000) * 1000
        |    // CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
        |       WHEN 2 THEN 90000 ELSE 48000 END AS duration_ms
        |FROM documents""".stripMargin,

    // replays each decoder's id-derived arithmetic; DuckDB integer
    // sums widen to HUGEINT, so totals cast back to BIGINT
    "mm_media_profile" ->
      """WITH img AS (SELECT
        |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS kind,
        |    16 + doc_id % 1000 AS w, 16 + (doc_id * 7) % 800 AS h
        |  FROM documents),
        |ia AS (SELECT kind, count(*) AS n,
        |         CAST(NULL AS BIGINT) AS total_duration_ms,
        |         floor((CAST(sum(w) AS DOUBLE) / count(*)) * 1e4 + 0.5) / 1e4
        |           AS avg_width,
        |         floor((CAST(sum(h) AS DOUBLE) / count(*)) * 1e4 + 0.5) / 1e4
        |           AS avg_height
        |       FROM img GROUP BY kind),
        |wa AS (SELECT 'wav' AS kind, count(*) AS n,
        |         CAST(sum((1000 + (doc_id * 37) % 9000) * 1000
        |           // CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |              WHEN 2 THEN 22050 WHEN 3 THEN 44100
        |              ELSE 48000 END) AS BIGINT) AS total_duration_ms,
        |         CAST(NULL AS DOUBLE) AS avg_width,
        |         CAST(NULL AS DOUBLE) AS avg_height
        |       FROM documents),
        |ma AS (SELECT 'mp4' AS kind, count(*) AS n,
        |         CAST(sum((1000 + (doc_id * 53) % 100000) * 1000
        |           // CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
        |              WHEN 2 THEN 90000 ELSE 48000 END) AS BIGINT)
        |           AS total_duration_ms,
        |         CAST(NULL AS DOUBLE) AS avg_width,
        |         CAST(NULL AS DOUBLE) AS avg_height
        |       FROM documents)
        |SELECT * FROM ia UNION ALL SELECT * FROM wa
        |UNION ALL SELECT * FROM ma""".stripMargin,

    "mm_frame_sample" ->
      """SELECT doc_id, CAST(f AS INTEGER) AS frame_no
        |FROM (SELECT doc_id, 1 + doc_id % 24 AS n_frames FROM documents
        |      WHERE doc_id % 3 = 2),
        |     UNNEST(generate_series(0, n_frames - 1, 5)) AS g(f)""".stripMargin,

    "mm_resize_plan" ->
      """SELECT doc_id, width, height,
        |  CAST(CASE WHEN greatest(width, height) <= 224 THEN width
        |            ELSE greatest((width * 224) // greatest(width, height), 1)
        |       END AS INTEGER) AS out_w,
        |  CAST(CASE WHEN greatest(width, height) <= 224 THEN height
        |            ELSE greatest((height * 224) // greatest(width, height), 1)
        |       END AS INTEGER) AS out_h
        |FROM (SELECT doc_id,
        |        CAST(64 + doc_id % 577 AS INTEGER) AS width,
        |        CAST(64 + (doc_id * 31) % 353 AS INTEGER) AS height
        |      FROM documents WHERE doc_id % 3 = 0)""".stripMargin,

    // the corpus is ASCII (verified at all SFs), so a per-CHAR code
    // histogram in SQL equals the Spark side's per-BYTE histogram
    // the tc <> '' guard (inside featureCte) covers empty documents:
    // string_split_regex of '' yields [''] with ascii 0, which would
    // fabricate a bucket-0 count the Spark byte loop never sees
    "mm_feature_extract" ->
      s"""WITH $featureCte
         |SELECT j.doc_id AS doc_id, CAST(j.d AS BIGINT) AS dim,
         |       CAST(j.c / CAST(n.n AS DOUBLE) AS FLOAT) AS value
         |FROM j JOIN n ON j.doc_id = n.doc_id""".stripMargin,

    "mm_feature_topk" ->
      s"""WITH $featureCte,
         |nz AS (SELECT doc_id, feature FROM feats
         |       WHERE sqrt(${fDot("feature", "feature")}) > 0)
         |SELECT query_id, rank, doc_id, floor(cos * 1e6 + 0.5) / 1e6 AS cos
         |FROM (
         |  SELECT q.doc_id AS query_id, v.doc_id,
         |         ${fCos("q.feature", "v.feature")} AS cos,
         |         row_number() OVER (PARTITION BY q.doc_id
         |           ORDER BY ${fCos("q.feature", "v.feature")} DESC,
         |                    v.doc_id) AS rank
         |  FROM (SELECT * FROM nz WHERE doc_id < 10) q
         |  CROSS JOIN nz v
         |  WHERE v.doc_id <> q.doc_id)
         |WHERE rank <= 3""".stripMargin,

    "mm_dhash" ->
      s"""WITH $dhashCte
         |SELECT img_id, dhash FROM h""".stripMargin,

    "mm_audio_fp" ->
      s"""WITH $audioCte
         |SELECT snd_id, fp FROM ah""".stripMargin,

    "mm_video_scenes" -> {
      import graft.sources.Multimodal.{FrameRadix => R, SharedFrames, VideoFrames}
      s"""WITH fr AS (SELECT (doc_id + v) * $R + f AS img_id,
         |       CASE WHEN v = 1 AND f >= $SharedFrames
         |            THEN 10 + f ELSE f END AS rot,
         |       CASE WHEN v = 1 AND f < $SharedFrames THEN 1 ELSE 0 END AS bump,
         |       text, strlen(text) AS n
         |     FROM documents,
         |       (SELECT unnest([0, 1]) AS v),
         |       (SELECT unnest(generate_series(0, ${VideoFrames - 1})) AS f)
         |     WHERE doc_id % 2 = 0),
         |px AS (SELECT img_id, list_transform(generate_series(0, 71), i ->
         |         ascii(substr(text, ((i + rot) % n) + 1, 1)) +
         |         CASE WHEN bump = 1 AND i = 0 THEN 16 ELSE 0 END) AS ps
         |       FROM fr),
         |$dhashHSql,
         |$dhashPairCtes,
         |vp AS (SELECT least(img_a // $R, img_b // $R) AS vid_a,
         |              greatest(img_a // $R, img_b // $R) AS vid_b
         |       FROM pairs WHERE img_a // $R <> img_b // $R)
         |SELECT vid_a, vid_b, count(*) AS shared_frames
         |FROM vp GROUP BY vid_a, vid_b
         |HAVING count(*) >= $MinSharedScenes""".stripMargin
    },

    "mm_audio_fp_apply" ->
      s"""WITH RECURSIVE $audioCte,
         |h AS (SELECT snd_id AS img_id, fp AS dhash FROM ah),
         |$dhashPairCtes,
         |e AS (SELECT img_a AS a, img_b AS b FROM pairs
         |      UNION SELECT img_b, img_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         |groups AS (SELECT n AS img_id, min(m) AS rep FROM (
         |    SELECT a AS n, least(a, b) AS m FROM reach
         |    UNION ALL
         |    SELECT DISTINCT a, a FROM e)
         |  GROUP BY n)
         |SELECT h.img_id AS snd_id, h.dhash AS fp FROM h
         |WHERE NOT EXISTS (SELECT 1 FROM groups g
         |                  WHERE g.img_id = h.img_id
         |                    AND g.img_id <> g.rep)""".stripMargin,

    // pigeonhole makes banded candidates EQUAL brute-force truth at
    // this radius — the oracle replays truth and asserts the equality
    "mm_dhash_recall" ->
      s"""WITH $dhashCte,
         |sub AS (SELECT img_id, dhash FROM h WHERE img_id < $DhashProbeN),
         |truth AS (SELECT a.img_id AS img_a, b.img_id AS img_b
         |          FROM sub a JOIN sub b ON a.img_id < b.img_id
         |          WHERE bit_count(xor(a.dhash, b.dhash))
         |                <= ${PerceptualHash.HamCap})
         |SELECT (SELECT count(*) FROM truth) AS n_true,
         |       (SELECT count(*) FROM truth) AS n_cand,
         |       (SELECT count(*) FROM truth) AS n_hit,
         |       TRUE AS pigeonhole_ok""".stripMargin,

    "mm_dhash_apply" ->
      s"""WITH RECURSIVE $dhashCte,
         |$dhashPairCtes,
         |e AS (SELECT img_a AS a, img_b AS b FROM pairs
         |      UNION SELECT img_b, img_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         |groups AS (SELECT n AS img_id, min(m) AS rep FROM (
         |    SELECT a AS n, least(a, b) AS m FROM reach
         |    UNION ALL
         |    SELECT DISTINCT a, a FROM e)
         |  GROUP BY n)
         |SELECT h.img_id, h.dhash FROM h
         |WHERE NOT EXISTS (SELECT 1 FROM groups g
         |                  WHERE g.img_id = h.img_id
         |                    AND g.img_id <> g.rep)""".stripMargin,

    "mm_pair_dedup" ->
      s"""WITH RECURSIVE $dhashCte,
         |$dhashPairCtes,
         |e AS (SELECT img_a AS a, img_b AS b FROM pairs
         |      UNION SELECT img_b, img_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         |groups AS (SELECT n AS img_id, min(m) AS rep FROM (
         |    SELECT a AS n, least(a, b) AS m FROM reach
         |    UNION ALL
         |    SELECT DISTINCT a, a FROM e)
         |  GROUP BY n),
         |caps AS (SELECT doc_id AS img_id,
         |           CAST(len(string_split(text, ' ')) AS BIGINT)
         |             AS cap_tokens
         |         FROM documents),
         |g2 AS (SELECT h.img_id, coalesce(g.rep, h.img_id) AS grp
         |       FROM h LEFT JOIN groups g ON g.img_id = h.img_id),
         |j AS (SELECT g2.grp, g2.img_id, c.cap_tokens,
         |        row_number() OVER (PARTITION BY g2.grp
         |          ORDER BY c.cap_tokens DESC, g2.img_id) AS rn
         |      FROM g2 JOIN caps c ON c.img_id = g2.img_id)
         |SELECT grp, img_id, cap_tokens FROM j WHERE rn = 1""".stripMargin,

    // the archive round trip is byte-identity, so the oracle is the
    // SAME pair derivation as mm_dhash_dups — any spool/walk/parse
    // drift on the Spark side shows up as a hash mismatch here
    "mm_crawl_dhash_dups" ->
      s"""WITH $dhashCte,
         |$dhashPairCtes
         |SELECT img_a, img_b, hamming FROM pairs""".stripMargin,

    "mm_audio_fp_dups" ->
      s"""WITH $audioCte,
         |banded AS (SELECT snd_id, fp, band,
         |             (fp >> (band * ${PerceptualHash.BandBits}))
         |               & ${(1L << PerceptualHash.BandBits) - 1} AS key
         |           FROM ah, (SELECT unnest(generate_series(0,
         |             ${PerceptualHash.Bands - 1})) AS band)),
         |cand AS (SELECT DISTINCT a.snd_id AS snd_a, b.snd_id AS snd_b,
         |           a.fp AS fa, b.fp AS fb
         |         FROM banded a JOIN banded b
         |           ON a.band = b.band AND a.key = b.key
         |          AND a.snd_id < b.snd_id)
         |SELECT snd_a, snd_b,
         |  CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
         |FROM cand
         |WHERE bit_count(xor(fa, fb)) <= ${PerceptualHash.HamCap}""".stripMargin,

    "mm_dhash_dups" ->
      s"""WITH $dhashCte,
         |$dhashPairCtes
         |SELECT img_a, img_b, hamming FROM pairs""".stripMargin
  )

  /** The banded-pair derivation over `h(img_id, dhash)` — shared by
    * every image-dedup oracle (pairs, apply, crawl-composed). */
  private lazy val dhashPairCtes =
    s"""banded AS (SELECT img_id, dhash, band,
       |             (dhash >> (band * ${PerceptualHash.BandBits}))
       |               & ${(1L << PerceptualHash.BandBits) - 1} AS key
       |           FROM h, (SELECT unnest(generate_series(0,
       |             ${PerceptualHash.Bands - 1})) AS band)),
       |cand AS (SELECT DISTINCT a.img_id AS img_a, b.img_id AS img_b,
       |           a.dhash AS ha, b.dhash AS hb
       |         FROM banded a JOIN banded b
       |           ON a.band = b.band AND a.key = b.key
       |          AND a.img_id < b.img_id),
       |pairs AS (SELECT img_a, img_b,
       |            CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
       |          FROM cand
       |          WHERE bit_count(xor(ha, hb)) <= ${PerceptualHash.HamCap})""".stripMargin

  /** The decoded-grid + dHash oracle body: pixels cycle the doc's
    * text bytes (the fixture's GRID formula — the bytes in between
    * are genuine PNG/BMP the Spark side must really decode; ASCII
    * byte≡char like the feature oracle), variant 1 bumps pixel 0 by
    * +16, and the hash replays
    * [[graft.operators.PerceptualHash.dhash]]'s 63 comparisons
    * arithmetically. */
  /** The audio-fingerprint oracle body: samples replay the
    * generator's byte−64 formula off the doc text (sample 0 bumped
    * +16 on the odd variant), window energies as nested list sums,
    * the 63 sign-delta comparisons arithmetically. The REAL RIFF
    * decode on the Spark side must land exactly these numbers. */
  private val audioCte = {
    import graft.sources.Multimodal.{FpFrame, FpWindows}
    s"""snds AS (SELECT doc_id + v AS snd_id, v, text,
       |           strlen(text) AS n
       |         FROM documents, (SELECT unnest([0, 1]) AS v)
       |         WHERE doc_id % 2 = 0),
       |es AS (SELECT snd_id,
       |         list_transform(generate_series(0, ${FpWindows - 1}), w ->
       |           list_sum(list_transform(generate_series(0, ${FpFrame - 1}), j ->
       |             abs(ascii(substr(text, ((w * $FpFrame + j) % n) + 1, 1))
       |                 - 64 +
       |                 CASE WHEN v = 1 AND w * $FpFrame + j = 0
       |                      THEN 16 ELSE 0 END)))) AS e
       |       FROM snds),
       |ah AS (SELECT snd_id,
       |         CAST(list_sum(list_transform(generate_series(0, 62), k ->
       |           CASE WHEN e[k + 2] > e[k + 1]
       |                THEN (1::BIGINT << k) ELSE 0::BIGINT END))
       |           AS BIGINT) AS fp
       |       FROM es)""".stripMargin
  }

  /** The dHash-from-pixels CTE: needs `px(img_id, ps)` in scope —
    * replays [[graft.operators.PerceptualHash.dhash]]'s 63
    * comparisons arithmetically, shared by the image and video
    * oracle heads. */
  private val dhashHSql =
    """h AS (SELECT img_id,
      |        CAST(list_sum(list_transform(generate_series(0, 62), k ->
      |          CASE WHEN ps[(k // 8) * 9 + (k % 8) + 2]
      |                  > ps[(k // 8) * 9 + (k % 8) + 1]
      |               THEN (1::BIGINT << k) ELSE 0::BIGINT END))
      |          AS BIGINT) AS dhash
      |      FROM px)""".stripMargin

  private val dhashCte =
    s"""imgs AS (SELECT doc_id + v AS img_id, v, text,
      |           strlen(text) AS n
      |         FROM documents, (SELECT unnest([0, 1]) AS v)
      |         WHERE doc_id % 2 = 0),
      |px AS (SELECT img_id, list_transform(generate_series(0, 71), i ->
      |           ascii(substr(text, (i % n) + 1, 1)) +
      |           CASE WHEN v = 1 AND i = 0 THEN 16 ELSE 0 END) AS ps
      |       FROM imgs),
      |$dhashHSql""".stripMargin
}
