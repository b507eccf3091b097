package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Idempotent keyed parquet sink for `foreachBatch` upserts — the bounded
  * replacement for a driver-side map (a driver store grows with
  * keys×sessions; this one lives on storage and is read back
  * distributed).
  *
  * Log-structured merge-on-read design:
  *   - each micro-batch APPENDS under `dir/bid=<batchId>/` with overwrite —
  *     a re-delivered batch (crash-and-rerun, README.md:22-27 semantics)
  *     rewrites exactly its own partition, so delivery is idempotent by
  *     construction and a commit is O(batch), never O(table);
  *   - a batch costs exactly one job, its write: the batch's plan (for a
  *     stateful stream, its state load, update and commit) runs once. An
  *     empty batch is written too and leaves one schema-only part file
  *     under its `bid=`; it adds no rows, and compaction drops it;
  *   - the current table is the latest row per key (max batch id wins),
  *     resolved at read time by a keyed window — distributed, bounded by
  *     data volume, no driver state.
  *
  * Reads and compaction take the table's schema from the caller (the
  * stream's analyzed output schema), so they start no schema-inference
  * job and a table of empty batches reads as an empty table.
  *
  * This is the parquet-native shape of a streaming-upsert table (the
  * compaction a real deployment would add is an offline rewrite of old
  * `bid=` partitions; correctness doesn't depend on it).
  */
object KeyedParquetSink {

  /** `foreachBatch` body: persist one micro-batch's emitted rows in one
    * job. No emptiness probe: on a stateful batch it would run the state
    * stage a second time. */
  def upsertBatch(batch: DataFrame, batchId: Long, dir: String): Unit =
    batch.write.mode("overwrite").parquet(s"$dir/bid=$batchId")

  /** Winner-per-key resolution (the merge-on-read rule, shared by reads
    * and compaction so the two can never diverge): one row per key, the
    * latest emission — highest batch id — winning. `bid` stays in the
    * output. */
  private def resolve(spark: SparkSession, dir: String, schema: StructType,
      keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("bid").desc)
    spark.read.schema(schema.add("bid", LongType)).parquet(dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Read the table's current contents: one row per key, the latest
    * emission (highest batch id) winning — Update-mode streams emit at
    * most one row per key per batch, so the result is exactly the final
    * state of every key. `schema` is the upserted rows' schema (without
    * `bid`). */
  def read(spark: SparkSession, dir: String, schema: StructType,
      keys: Seq[String]): DataFrame =
    resolve(spark, dir, schema, keys).drop("bid")

  /** Offline compaction: drop every DOMINATED row (a key's non-winning
    * generations) so the read-side merge stops growing with micro-batch
    * count. Each surviving row keeps its ORIGINAL batch id — compaction
    * garbage-collects, it never renumbers: renumbering (e.g. folding into
    * a fresh `bid=0`) would let a crash-redelivered old batch outrank the
    * compacted generation and resurrect superseded values. With original
    * ids preserved, a redelivered batch rewrites exactly the partition it
    * always owned and still loses to every key's winner. A `bid=` that
    * holds no rows (an empty batch's schema-only file) is not rewritten.
    *
    * The rewrite lands in a sibling directory and swaps in via two
    * renames (a brief not-found window exists between them — this is
    * offline table maintenance for quiesced logs, like any maintenance
    * job, not a concurrent-reader protocol). */
  def compact(spark: SparkSession, dir: String, schema: StructType,
      keys: Seq[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(dir)
    val fs = target.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(dir + "_compacting")
    val old = new org.apache.hadoop.fs.Path(dir + "_compacted_old")
    // self-heal a run that crashed between the two renames below: the live
    // dir is absent while `old` (the full pre-compaction log) or `tmp`
    // (the compacted winners) holds the only copy — reinstall it BEFORE
    // any destructive step, preferring the full log
    if (!fs.exists(target)) {
      val source = if (fs.exists(old)) old else tmp
      if (!fs.exists(source) || !fs.rename(source, target))
        throw new java.io.IOException(
          s"compact: $target missing and no recoverable copy at $old/$tmp")
    }
    // clear leftovers of a previously crashed compaction only now that the
    // live table is verified present: Hadoop rename onto an existing
    // directory nests the source inside it, which would corrupt the table
    fs.delete(old, true)
    resolve(spark, dir, schema, keys)
      .write.mode("overwrite").partitionBy("bid").parquet(tmp.toString)
    if (!fs.rename(target, old))
      throw new java.io.IOException(s"compact: cannot move $target aside")
    if (!fs.rename(tmp, target)) {
      fs.rename(old, target) // restore the live table before failing
      throw new java.io.IOException(s"compact: cannot install $tmp")
    }
    fs.delete(old, true)
  }
}
