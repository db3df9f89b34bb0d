package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** Driver-local doc-store double — the literal UpdateOne-per-key
  * analog, for specs: a map key → latest row. The collect
  * is what makes it a TEST double; a production document-store sink
  * implements the same trait with `batch.foreachPartition` opening a
  * connector client per partition (no driver involvement). Replays
  * are idempotent because put-by-key is.
  *
  * `orderCols` resolves same-key duplicates WITHIN a batch exactly
  * like [[ParquetDocStoreSink]] (descending — latest wins); without
  * it, collect() partition order would pick a nondeterministic
  * winner and the two sinks would diverge on the same batch. */
class InMemoryDocStoreSink(keys: Seq[String],
                           orderCols: Seq[String]) extends KeyedSink {
  val store = new scala.collection.concurrent.TrieMap[Seq[Any], Map[String, Any]]()

  override def upsert(batch: DataFrame, batchId: Long): Unit = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col(_).desc): _*)
    val latest = batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val cols = latest.columns.toSeq
    latest.collect().foreach { r =>
      val row = cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap
      store.put(keys.map(row), row)
    }
  }
}
