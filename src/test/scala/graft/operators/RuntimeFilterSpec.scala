package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Bloom runtime-filter join: the sketch may only PRUNE shuffle
  * volume, never change the result — pinned by comparing against the
  * plain semi join on real data, plus a plan assertion that the probe
  * really sits in the big side's scan stage (before the exchange) and
  * an expression-level check that codegen and interpreted evaluation
  * agree on the same serialized sketch.
  */
class RuntimeFilterSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("bloomPrunedSemiJoin is row-identical to the plain semi join") {
    val hi = graft.Tables.orders(spark, sf)
      .filter(col("o_totalprice") > 100000.0)
    val pruned = RuntimeFilter.bloomPrunedSemiJoin(
        graft.Tables.lineitem(spark, sf), col("l_orderkey"),
        hi, col("o_orderkey"), expectedKeys = 100000L)
      .select("l_orderkey", "l_linenumber")
      .as[(Long, Long)].collect().toSet
    val plain = graft.Tables.lineitem(spark, sf)
      .join(hi, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .select("l_orderkey", "l_linenumber")
      .as[(Long, Long)].collect().toSet
    assert(plain.nonEmpty, "empty join — vacuous test")
    assert(pruned == plain)
  }

  test("probe filter sits in the big side's scan stage, before the exchange") {
    // force the shuffle join the operator targets (its whole point is
    // the small side being too big to broadcast as rows)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val hi = graft.Tables.orders(spark, sf)
        .filter(col("o_totalprice") > 100000.0)
      val df = RuntimeFilter.bloomPrunedSemiJoin(
        graft.Tables.lineitem(spark, sf), col("l_orderkey"),
        hi, col("o_orderkey"), expectedKeys = 100000L)
      df.count() // let AQE settle the final plan
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // the probe must be a DataFilter of the lineitem SCAN (same
      // stage as the read — rows die before reaching the exchange)
      val scanLine = plan.linesIterator
        .find(l => l.contains("FileScan") && l.contains("lineitem"))
        .getOrElse(fail(s"no lineitem scan in plan:\n$plan"))
      assert(scanLine.contains("DataFilters: [bloom_might_contain"),
        s"probe not in lineitem scan's DataFilters:\n$plan")
      assert(plan.contains("Exchange"), s"expected a shuffle join:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("bloomPrunedAntiJoin is row-identical to the plain anti join") {
    val d = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), graft.functions.Hashing.h32(col("text")).as("h"))
    val batch = d.filter(col("doc_id") % 5 === 0)
    val history = d.filter(col("doc_id") % 5 =!= 0)
    val pruned = RuntimeFilter.bloomPrunedAntiJoin(batch, col("h"),
        history, col("h"), expectedKeys = 10000L)
      .select("doc_id").as[Long].collect().toSet
    val plain = batch.join(
        history.select(col("h").as("hh")), col("h") === col("hh"),
        "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(plain.nonEmpty && pruned == plain)
    // synthetic overlap: seen keys must drop, unseen pass
    val b2 = Seq(1L, 2L, 3L, 4L).toDF("k")
    val h2 = Seq(2L, 4L, 6L).toDF("k2")
    val got = RuntimeFilter.bloomPrunedAntiJoin(b2, col("k"), h2, col("k2"),
        expectedKeys = 100L)
      .as[Long].collect().toSet
    assert(got == Set(1L, 3L))
    // null batch keys: plain left_anti KEEPS them (null equals no
    // history key) — the probe's null must not drop the row
    val b3 = Seq(Some(1L), None, Some(2L)).toDF("k")
    val got3 = RuntimeFilter.bloomPrunedAntiJoin(b3, col("k"), h2,
        col("k2"), expectedKeys = 100L)
      .as[Option[Long]].collect().toSet
    assert(got3 == Set(Some(1L), None), s"null key mishandled: $got3")
  }

  test("prebuilt-sketch overloads: one filter reused across batches") {
    // the amortized/persistent form: build the sketch ONCE, reuse it
    // for every subsequent batch instead of re-scanning history
    val h2 = Seq(2L, 4L, 6L).toDF("k2")
    // the ONE sketch-keying authority — raw putLong of key values
    // would not match the xxhash64 probes and disable pruning
    val bf = RuntimeFilter.keySketch(h2, col("k2"), 100)
    val batches = Seq(Seq(1L, 2L, 3L), Seq(4L, 5L, 6L))
    val got = batches.map { b =>
      RuntimeFilter.bloomPrunedAntiJoin(b.toDF("k"), col("k"), h2,
        col("k2"), bf).as[Long].collect().toSet
    }
    assert(got == Seq(Set(1L, 3L), Set(5L)))
    // stale-in-the-extra-keys direction is safe for the SEMI form
    // too: extra keys in the sketch only cost fpp, never rows
    bf.mergeInPlace(RuntimeFilter.keySketch(Seq(999L).toDF("k"), col("k"), 100))
    val semi = RuntimeFilter.bloomPrunedSemiJoin(
        Seq(1L, 2L, 6L, 999L).toDF("k"), col("k"), h2, col("k2"), bf)
      .as[Long].collect().toSet
    assert(semi == Set(2L, 6L))
  }

  test("keySketch of an empty frame probes false and merges into a full sketch") {
    val keys = Seq(1L, 2L, 3L).toDF("k")
    def hits(bf: BloomFilter): Set[Long] =
      keys.filter(graft.plans.BloomMightContainLong.probe(xxhash64(col("k")), bf))
        .as[Long].collect().toSet
    val none = RuntimeFilter.keySketch(keys.filter(lit(false)), col("k"), 100)
    val full = RuntimeFilter.keySketch(Seq(1L, 2L).toDF("k"), col("k"), 100)
    assert(hits(none).isEmpty, "an empty sketch holds no key")
    assert(none.bitSize == full.bitSize && none.isCompatible(full))
    none.mergeInPlace(full)
    assert(hits(none) == Set(1L, 2L))
  }

  test("bloomPrunedAntiJoin with an empty history returns the batch") {
    val got = RuntimeFilter.bloomPrunedAntiJoin(Seq(1L, 2L, 3L).toDF("k"), col("k"),
        Seq.empty[Long].toDF("k2"), col("k2"), expectedKeys = 100L)
      .as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L))
  }

  test("bloomPrunedSemiJoin with an empty small side returns no rows") {
    val got = RuntimeFilter.bloomPrunedSemiJoin(Seq(1L, 2L, 3L).toDF("k"), col("k"),
        Seq.empty[Long].toDF("k2"), col("k2"), expectedKeys = 100L)
      .as[Long].collect()
    assert(got.isEmpty)
  }

  test("sketch envelope: roundtrip preserves probes; scheme mismatches are refused") {
    val h = Seq("addr_1", "addr_2", "addr_3").toDF("k")
    val bf = RuntimeFilter.keySketch(h, col("k"), 100)
    val out = new java.io.ByteArrayOutputStream()
    RuntimeFilter.saveSketch(bf, out)
    val loaded = RuntimeFilter.loadSketch(
      new java.io.ByteArrayInputStream(out.toByteArray))
    val got = RuntimeFilter.bloomPrunedAntiJoin(
        Seq("addr_2", "addr_9").toDF("k"), col("k"), h, col("k"), loaded)
      .as[String].collect().toSet
    assert(got == Set("addr_9"), "roundtripped sketch must prune identically")
    // RAW BloomFilter bytes carry no keying version — a sketch built
    // under the retired cast-long scheme would probe false for every
    // true match (silent false negatives). The envelope refuses them.
    val raw = new java.io.ByteArrayOutputStream()
    bf.writeTo(raw)
    intercept[IllegalArgumentException] {
      RuntimeFilter.loadSketch(new java.io.ByteArrayInputStream(raw.toByteArray))
    }
    // a correctly-enveloped sketch from a RETIRED keying scheme (v1)
    // must be rejected by version, not accepted by magic alone
    val v1 = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(v1)
    d.writeInt(0x47525346); d.writeInt(1); bf.writeTo(d); d.flush()
    val e = intercept[IllegalArgumentException] {
      RuntimeFilter.loadSketch(new java.io.ByteArrayInputStream(v1.toByteArray))
    }
    assert(e.getMessage.contains("v1"), s"mismatch message must name the scheme: ${e.getMessage}")
  }

  test("BloomMightContainLong: codegen and interpreted eval agree; FP-only") {
    val bf = BloomFilter.create(1000, 0.01)
    (0L until 500L).foreach(bf.putLong)
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    val probed = spark.range(0, 2000)
      .withColumn("hit", graft.plans.BloomMightContainLong.probe(
        col("id"), bf))
      .as[(Long, Boolean)].collect()
    // no false negatives, ever
    assert(probed.filter(_._1 < 500).forall(_._2), "false negative!")
    // fpp 1% on 1500 non-members: expect ~15, allow generous slack
    val fps = probed.count { case (id, hit) => id >= 500 && hit }
    assert(fps < 150, s"implausible false-positive count $fps")
    // interpreted path agrees with codegen on every input
    val expr = graft.plans.BloomMightContainLong(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.LongType, nullable = false),
      out.toByteArray)
    probed.foreach { case (id, hit) =>
      val row = org.apache.spark.sql.catalyst.InternalRow(id)
      assert(expr.eval(row) == hit, s"interpreted/codegen disagree at $id")
    }
  }
}
