package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The log-structured upsert sink behind the streaming hash gates:
  * idempotent redelivery, latest-per-key reads, compaction. */
class KeyedParquetSinkSpec extends SparkSpec {
  import spark.implicits._

  private val kv = StructType.fromDDL("k STRING, v BIGINT")

  private def table(dir: String) =
    KeyedParquetSink.read(spark, dir, kv, Seq("k"))
      .orderBy("k").as[(String, Long)].collect().toSeq

  test("latest batch wins per key; redelivery overwrites its own slot") {
    val dir = graft.TempDirs.create("sink-spec")
    KeyedParquetSink.upsertBatch(
      Seq(("a", 1L), ("b", 1L)).toDF("k", "v"), 0L, dir)
    KeyedParquetSink.upsertBatch(
      Seq(("b", 2L), ("c", 2L)).toDF("k", "v"), 1L, dir)
    assert(table(dir) === Seq(("a", 1L), ("b", 2L), ("c", 2L)))
    // crash-and-rerun: batch 1 re-delivered with the same content lands
    // in the same bid= partition — the table is unchanged
    KeyedParquetSink.upsertBatch(
      Seq(("b", 2L), ("c", 2L)).toDF("k", "v"), 1L, dir)
    assert(table(dir) === Seq(("a", 1L), ("b", 2L), ("c", 2L)))
    // an empty batch adds no rows
    KeyedParquetSink.upsertBatch(
      Seq.empty[(String, Long)].toDF("k", "v"), 2L, dir)
    assert(table(dir) === Seq(("a", 1L), ("b", 2L), ("c", 2L)))
    assert(spark.read.schema(kv).parquet(s"$dir/bid=2").count() === 0)
  }

  test("one job per upsert, empty or not; reads start no job") {
    val dir = graft.TempDirs.create("sink-jobs")
    val full = Seq(("a", 1L)).toDF("k", "v")
    val empty = Seq.empty[(String, Long)].toDF("k", "v")
    assert(jobsDuring(KeyedParquetSink.upsertBatch(full, 0L, dir))._2 === 1)
    assert(jobsDuring(KeyedParquetSink.upsertBatch(empty, 1L, dir))._2 === 1)
    assert(jobsDuring(KeyedParquetSink.read(spark, dir, kv, Seq("k")))._2 === 0)
    assert(table(dir) === Seq(("a", 1L)))
  }

  test("a sink whose only batch was empty reads as an empty table") {
    val dir = graft.TempDirs.create("sink-empty")
    KeyedParquetSink.upsertBatch(
      Seq.empty[(String, Long)].toDF("k", "v"), 0L, dir)
    val t = KeyedParquetSink.read(spark, dir, kv, Seq("k"))
    assert(t.schema === kv)
    assert(t.count() === 0)
  }

  test("compact drops dominated rows; winners keep their original bid") {
    val dir = graft.TempDirs.create("sink-compact")
    (0L to 5L).foreach { bid =>
      KeyedParquetSink.upsertBatch(
        Seq((s"k${bid % 3}", bid)).toDF("k", "v"), bid, dir)
    }
    KeyedParquetSink.upsertBatch(
      Seq.empty[(String, Long)].toDF("k", "v"), 6L, dir)
    val before = table(dir)
    assert(before === Seq(("k0", 3L), ("k1", 4L), ("k2", 5L)))
    KeyedParquetSink.compact(spark, dir, kv, Seq("k"))
    // only the winning generations survive, under their ORIGINAL ids; the
    // empty batch's schema-only bid=6 is dropped
    val gens = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("bid=")).toSeq.sorted
    assert(gens === Seq("bid=3", "bid=4", "bid=5"))
    assert(table(dir) === before)
    // crash-redelivery of an OLD batch must NOT resurrect superseded
    // values: bid=0's content (k0 -> 0) still loses to k0's winner bid=3
    KeyedParquetSink.upsertBatch(Seq(("k0", 0L)).toDF("k", "v"), 0L, dir)
    assert(table(dir) === before)
    // genuinely NEW generations still win
    KeyedParquetSink.upsertBatch(Seq(("k0", 9L)).toDF("k", "v"), 7L, dir)
    assert(table(dir) === Seq(("k0", 9L), ("k1", 4L), ("k2", 5L)))
  }

  test("compact self-heals a run that crashed between the two renames") {
    val dir = graft.TempDirs.create("sink-heal")
    (0L to 3L).foreach { bid =>
      KeyedParquetSink.upsertBatch(
        Seq((s"k${bid % 2}", bid)).toDF("k", "v"), bid, dir)
    }
    val before = table(dir)
    assert(before === Seq(("k0", 2L), ("k1", 3L)))
    // simulate the crash window: live dir moved aside to _compacted_old,
    // the second rename never happened — `old` holds the only copy
    val live = new java.io.File(dir)
    val old = new java.io.File(dir + "_compacted_old")
    assert(live.renameTo(old) && !live.exists())
    // a rerun must reinstall the log before any destructive step, then
    // complete the compaction normally
    KeyedParquetSink.compact(spark, dir, kv, Seq("k"))
    assert(!old.exists())
    assert(table(dir) === before)
    val gens = live.listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("bid=")).toSeq.sorted
    assert(gens === Seq("bid=2", "bid=3"))
  }
}
