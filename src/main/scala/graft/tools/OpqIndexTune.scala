package graft.tools

import graft.{Session, Tables}
import graft.operators.{Pq, Similarity}
import org.apache.spark.sql.functions._

/** Dev tool: measures the q149 gate quantities (on-disk OPQ-IVFPQ index
  * recall, frozen-rotation append drift, disk≡memory agreement) at a
  * given SF dir, so the registered thresholds come from measurement at
  * BOTH sf0.01 and sf0.1 — never invented. */
object OpqIndexTune {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.local(Session.cpus)
    val emb = Tables.embeddings(spark, dir).localCheckpoint()
    // tune on the SAME probe population the certificates gate on
    val probes = emb.filter(
      col("vec_id") < graft.queries.SharedAnn.Cfg.NProbes)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      probes, "vec_id", "embedding", 5)
      .select(col("q_id"), col("vec_id")).localCheckpoint()
    val total = exact.count()
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val a = df.select(col("q_id"), col("vec_id").as("a_vec"))
      exact.join(a, exact("q_id") === a("q_id") &&
        col("vec_id") === col("a_vec")).count().toDouble / total
    }

    // full-corpus OPQ index, probed on disk vs the in-memory twin
    val full = graft.TempDirs.create("opqtune_full")
    Pq.writeIvfPqIndex(emb, "vec_id", "embedding", full, nCells = 16,
      nSub = 16, nCodes = 16, iters = 3, spill = 2, opqIters = 6)
    val disk = Pq.probeIvfPqIndex(spark, full, probes, "vec_id",
      "embedding", 5, nprobe = 6,
      refineWith = Some((emb, "vec_id", "embedding")))
      .select(col("q_id"), col("vec_id"), col("rank")).localCheckpoint()
    val mem = Pq.opqIvfPqTopK(emb, "vec_id", "embedding", probes,
      "vec_id", "embedding", 5, nCells = 16, nprobe = 6, nSub = 16,
      nCodes = 16, iters = 3, opqIters = 6, refine = 8, spill = 2)
      .select(col("q_id"), col("vec_id"), col("rank")).localCheckpoint()
    val nDiff = disk.exceptAll(mem).count() + mem.exceptAll(disk).count()
    println(f"RESULT full_recall=${recallOf(disk)}%.3f disk_vs_mem_diff=$nDiff")

    // 75 % base + frozen-model appends + compact vs the full rebuild
    val base = graft.TempDirs.create("opqtune_base")
    Pq.writeIvfPqIndex(emb.filter(col("vec_id") % 4 =!= 0), "vec_id",
      "embedding", base, nCells = 16, nSub = 16, nCodes = 16, iters = 3,
      spill = 2, opqIters = 6)
    Pq.appendIvfPqIndex(emb.filter(col("vec_id") % 8 === 0), "vec_id",
      "embedding", base, spill = 2)
    Pq.appendIvfPqIndex(emb.filter(col("vec_id") % 8 === 4), "vec_id",
      "embedding", base, spill = 2)
    val compacted = graft.TempDirs.create("opqtune_compacted")
    Pq.compactIvfPqIndex(spark, base, compacted)
    val appended = Pq.probeIvfPqIndex(spark, compacted, probes, "vec_id",
      "embedding", 5, nprobe = 6,
      refineWith = Some((emb, "vec_id", "embedding")))
    val rApp = recallOf(appended)
    val rFull = recallOf(disk)
    println(f"RESULT appended_recall=$rApp%.3f drift=${rFull - rApp}%.3f")
    spark.stop()
  }
}
