package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.IftPack

/** The streaming SFT-intake contract: structural rejects and
  * template conversations never land, a duplicated canned response
  * admits only its FIRST conversation — within a batch and across
  * waves — the response sketch survives restarts, and a checkpoint
  * replay leaves the store byte-identical. */
class IftStreamSpec extends SparkSpec {

  /** One conversation row per id; every word embeds the id, so
    * assistant responses are unique across docs EXCEPT the canned
    * refusal the %5 slice plants (the cross-conv duplicate under
    * test). 18 words ≈ 120 chars — long enough that no 6-turn slice
    * hits an empty substring (which would trip the empty-turn gate). */
  private def docsDf(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(id => (id, (1 to 18).map(k => s"w${id}x$k").mkString(" "),
      s"src${id % 3}")).toDF("doc_id", "text", "source")
  }

  private def admittedIds(out: String): Set[Long] =
    IftStream.admitted(spark, out).collect().map(_.getLong(0)).toSet

  test("first-response-wins intake across waves, restart keeps the sketch") {
    val dir = Files.createTempDirectory("graft-ift").toString
    val feed = s"$dir/feed"; val out = s"$dir/sft"
    val ckpt = s"$dir/ckpt"; val sketch = s"$dir/resp.sketch"
    val templates = Seq(IftPack.Template)

    // wave 1: 1 = clean, 5 and 20 = same canned refusal (within-batch
    // dup: min conv 5 survives), 14 = template prompt (must drop)
    docsDf(Seq(1L, 5L, 14L, 20L)).coalesce(1)
      .write.mode("append").parquet(feed)
    val seen1 = new BloomSeenSet("rkey", expectedKeys = 1000,
      persistPath = Some(sketch))
    IftStream.startIntake(spark, feed, out, ckpt, seen1, templates)
      .awaitTermination()
    assert(admittedIds(out) == Set(1L, 5L))

    // wave 2: 10 repeats the canned refusal (cross-batch dup — must
    // drop against conv 5's committed key), 2 is genuinely new
    docsDf(Seq(10L, 2L)).coalesce(1).write.mode("append").parquet(feed)
    IftStream.startIntake(spark, feed, out, ckpt, seen1, templates)
      .awaitTermination()
    assert(admittedIds(out) == Set(1L, 5L, 2L))

    // restart: a FRESH process loads the persisted sketch — a wave-3
    // canned conv still drops, a clean one still lands
    docsDf(Seq(15L, 3L)).coalesce(1).write.mode("append").parquet(feed)
    val seen2 = new BloomSeenSet("rkey", expectedKeys = 1000,
      persistPath = Some(sketch))
    IftStream.startIntake(spark, feed, out, ckpt, seen2, templates)
      .awaitTermination()
    assert(admittedIds(out) == Set(1L, 5L, 2L, 3L))

    // replay with nothing new: the store must stay row-identical
    val before = IftStream.admitted(spark, out).collect()
      .map(_.toSeq).toSet
    IftStream.startIntake(spark, feed, out, ckpt, seen2, templates)
      .awaitTermination()
    assert(IftStream.admitted(spark, out).collect()
      .map(_.toSeq).toSet == before)
  }

  test("a dropped survivor does not hand its response to the next conv " +
      "(batch-form parity)") {
    // 35 is the min conv of the canned-response group but is itself
    // template-dropped (35%7==0 plants the template prompt, 35%5==0
    // the canned response); 40 shares the canned response. The batch
    // form's dupResponses picks survivors over ALL conversations, so
    // 40 is a dup LOSER and the canned response trains zero times —
    // a survivor chosen from the filtered pool would wrongly admit 40.
    val dir = Files.createTempDirectory("graft-ift3").toString
    val feed = s"$dir/feed"; val out = s"$dir/sft"
    docsDf(Seq(35L, 40L, 1L)).coalesce(1).write.mode("append").parquet(feed)
    val seen = new BloomSeenSet("rkey", expectedKeys = 1000)
    IftStream.startIntake(spark, feed, out, s"$dir/ckpt", seen,
      Seq(IftPack.Template)).awaitTermination()
    assert(admittedIds(out) == Set(1L),
      "only the clean conv may land: 35 is templated, 40 loses its " +
        "canned response to the dropped survivor 35")
  }

  test("later intakes of the same shape reuse the compiled classes") {
    // fresh stores, each fed one clean conv and one canned refusal
    // (ids 255255 apart keep every residue the synthesis keys on):
    // the same plans over the same sizes, run by queries whose cloned
    // sessions differ
    def intake(ids: Seq[Long]): (Set[Long], Long) = {
      val dir = Files.createTempDirectory("graft-ift4").toString
      val feed = s"$dir/feed"; val out = s"$dir/sft"
      docsDf(ids).coalesce(1).write.mode("append").parquet(feed)
      val seen = new BloomSeenSet("rkey", expectedKeys = 1000)
      val compiled = Compiles.during {
        IftStream.startIntake(spark, feed, out, s"$dir/ckpt", seen,
          Seq(IftPack.Template)).awaitTermination()
      }
      (admittedIds(out), compiled)
    }
    val k = 255255L
    val runs = (0 to 3).map(j => intake(Seq(1L + j * k, 5L + j * k)))
    runs.zipWithIndex.foreach { case ((ids, _), j) =>
      assert(ids == Set(1L + j * k, 5L + j * k)) }
    // Run in the queries' cloned sessions, each later intake would
    // compile about 60 classes again. In `spark` it compiles a few, not
    // 0: adaptive execution numbers codegen stages in the order stages
    // finish, and a stage that comes back under another number
    // compiles again.
    val later = runs.drop(1).map(_._2)
    assert(later.sum < 90, s"later intakes compiled $later classes")
  }

  test("the landed rows reproduce their response keys (store needs no key column)") {
    val dir = Files.createTempDirectory("graft-ift2").toString
    val feed = s"$dir/feed"; val out = s"$dir/sft"
    docsDf(Seq(1L, 5L)).coalesce(1).write.mode("append").parquet(feed)
    val seen = new BloomSeenSet("rkey", expectedKeys = 1000)
    IftStream.startIntake(spark, feed, out, s"$dir/ckpt", seen, Seq.empty)
      .awaitTermination()
    val store = IftStream.admitted(spark, out)
    val keys = IftStream.storeRespKeys(store).collect().map(_.getString(0))
    assert(keys.nonEmpty && keys.distinct.length == keys.length)
    // conv 5's canned refusal key is among them — the exact key a
    // wave-2 duplicate would collide with
    import org.apache.spark.sql.functions.{col, md5, lit}
    val canned = spark.range(1)
      .select(md5(lit(IftPack.Canned)).as("k")).head.getString(0)
    assert(keys.contains(canned))
  }
}
