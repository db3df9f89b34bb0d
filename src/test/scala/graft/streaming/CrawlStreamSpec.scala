package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.operators.CrawlText
import graft.sources.Warc
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The continuous-curation contract: archives landing in a feed
  * directory are walked exactly once across restarts, each batch is
  * curated against the offline chrome artifact, the per-batch write
  * is replay-idempotent, and the union of streamed batches equals
  * the one-shot batch curation of the same corpus under the same
  * chrome — stream/batch parity, the property that lets an owner
  * backfill with the batch path and tail with the stream. */
class CrawlStreamSpec extends SparkSpec {

  private def docs(ids: Range, source: String): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"unique page body words for doc $i here", "en", source))
      .toDF("doc_id", "text", "lang", "source")
  }

  /** Spool each source's archive to the feed dir under the
    * startIngest naming convention (gz mix follows the writer's
    * source-hash rule). */
  private def land(feed: String, corpus: DataFrame): Unit = {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    Warc.htmlResponseArchives(corpus).collect().foreach { row =>
      val gz = math.abs(row.source.hashCode % 2) == 0
      val name = if (gz) s"${row.source}.warc.gz" else s"${row.source}.warc"
      Files.write(Paths.get(feed, name), row.archive)
    }
  }

  test("exactly-once archives, replay-idempotent batches, batch parity") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val dir = Files.createTempDirectory("graft-crawl").toString
    val feed = s"$dir/feed"; val out = s"$dir/curated"; val ckpt = s"$dir/ckpt"
    Files.createDirectories(Paths.get(feed))

    // wave 1: two sources, 12+12 docs (banner df >= MinDf per source)
    val wave1 = docs(1 to 12, "alpha").union(docs(21 to 32, "beta"))
    land(feed, wave1)

    // chrome is the OFFLINE artifact — learned from the wave-1 corpus
    val chrome = CrawlText.boilerplate(CrawlText.paragraphs(
      Warc.parseHttpRecords(Warc.htmlResponseArchives(wave1)).toDF()))
      .select(col("lang"), col("h"))

    val drift = s"$dir/drift"
    CrawlStream.startCuration(spark, feed, out, ckpt, chrome, Some(drift))
      .awaitTermination()
    val afterW1 = spark.read.parquet(out)
    // doc 26 is a 404 (26 % 13 == 0); the other 23 survive
    assert(afterW1.count() == 23)
    // wave 1 IS the chrome's training corpus: nothing drifts
    assert(spark.read.parquet(drift).count() == 0,
      "wave-1 banners are in the artifact; the monitor must stay quiet")

    // wave 2 lands (52 is a 404); restart tails ONLY the new archive.
    // gamma's banner is NOT in the wave-1 chrome artifact — it stays
    // in gamma's text until the next artifact refresh, by design.
    land(feed, docs(41 to 52, "gamma"))
    val compiled = Compiles.during {
      CrawlStream.startCuration(spark, feed, out, ckpt, chrome, Some(drift))
        .awaitTermination()
    }
    // the second run's query is a new cloned session, but its body
    // runs in `spark` and reuses the classes wave 1 compiled
    assert(compiled == 0, s"wave 2 compiled $compiled classes")
    // ...and the DRIFT MONITOR fires on exactly the new chrome: the
    // gamma banner clears the batch-local df bar (11 non-404 docs),
    // the footer is already frozen, genuine text stays under df
    val drifted = spark.read.parquet(drift)
      .select("lang", "para", "df").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(drifted ==
      Set(("en", "Welcome to gamma cookie notice applies", 11L)),
      s"drift inventory: $drifted")
    val afterW2 = spark.read.parquet(out)
    assert(afterW2.count() == 34)
    assert(afterW2.select("doc_id").distinct().count() == 34,
      "an archive re-walked across restarts would duplicate doc_ids")

    // batch parity: streamed union == one-shot batch curation of the
    // full corpus under the same chrome artifact
    val full = wave1.union(docs(41 to 52, "gamma"))
    val batch = CrawlText.curatedWithChrome(
      Warc.parseHttpRecords(Warc.htmlResponseArchives(full)).toDF(), chrome)
    assert(afterW2.select("doc_id", "lang", "n_chars", "text_md5")
      .exceptAll(batch).isEmpty && batch.exceptAll(
        afterW2.select("doc_id", "lang", "n_chars", "text_md5")).isEmpty)

    // replay idempotency: re-running upsert for an applied batch id
    // is a no-op (the _SUCCESS marker short-circuits), and even a
    // forced rewrite reproduces the same directory contents
    val batchDirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(batchDirs.forall(_.startsWith("ingest_batch=")), s"$batchDirs")
  }

  test("streaming jsonl export ships each batch's curated docs as shards") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val dir = Files.createTempDirectory("graft-crawl-x").toString
    val feed = s"$dir/feed"; val out = s"$dir/curated"; val ckpt = s"$dir/ckpt"
    val export = s"$dir/export"
    Files.createDirectories(Paths.get(feed))
    val corpus = docs(1 to 12, "alpha").union(docs(21 to 32, "beta"))
    land(feed, corpus)
    val chrome = CrawlText.boilerplate(CrawlText.paragraphs(
      Warc.parseHttpRecords(Warc.htmlResponseArchives(corpus)).toDF()))
      .select(col("lang"), col("h"))

    CrawlStream.startCuration(spark, feed, out, ckpt, chrome,
      exportDir = Some(export)).awaitTermination()

    val batchDir = new java.io.File(export).listFiles()
      .filter(_.isDirectory).map(_.getPath).toSeq match {
      case Seq(one) => one
      case other => fail(s"expected one batch dir, got $other")
    }
    assert(new java.io.File(s"$batchDir/_SUCCESS").exists(),
      "marker lands only after every shard")
    val files = new java.io.File(batchDir).listFiles()
      .filter(_.getName.endsWith(".jsonl.gz"))
    assert(files.nonEmpty)
    val mtimes = files.map(f => f.getName -> f.lastModified()).toMap

    // parse every shard back: the export IS the curated batch output
    val shards = files.map { f =>
      val name = f.getName.stripSuffix(".jsonl.gz")
      val cut = name.lastIndexOf('_')
      graft.sources.JsonlShards.Shard(name.substring(0, cut),
        name.substring(cut + 1).toLong, -1L,
        Files.readAllBytes(f.toPath))
    }.map(sh => sh.copy(n_docs = countLines(sh.data)))
    val parsed = graft.sources.JsonlShards.parseShards(
      spark.createDataset(shards.toSeq)(
        org.apache.spark.sql.Encoders.product[graft.sources.JsonlShards.Shard]))
    val curatedMd5 = spark.read.parquet(out)
      .select("doc_id", "text_md5").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val exportedMd5 = parsed.select(col("doc_id"), md5(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(exportedMd5 == curatedMd5,
      "exported shards must carry exactly the curated text")

    // restart with the same checkpoint: the marker short-circuits —
    // no shard file is rewritten
    CrawlStream.startCuration(spark, feed, out, ckpt, chrome,
      exportDir = Some(export)).awaitTermination()
    val after = new java.io.File(batchDir).listFiles()
      .filter(_.getName.endsWith(".jsonl.gz"))
      .map(f => f.getName -> f.lastModified()).toMap
    assert(after == mtimes, "applied batch must not rewrite shards")
  }

  private def countLines(gz: Array[Byte]): Long = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(gz))
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    new String(out.toByteArray,
      java.nio.charset.StandardCharsets.UTF_8).count(_ == '\n').toLong
  }
}
