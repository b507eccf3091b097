package graft.tools

import graft.{Session, Tables}
import graft.operators.{Pq, Similarity}
import org.apache.spark.sql.functions._

/** Dev tool: macro recall@5 of PQ configurations vs brute force. */
object PqTune {
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
    for (res <- Seq(false, true)) {
      val t0 = System.nanoTime()
      val ivf = Pq.ivfPqTopK(emb, "vec_id", "embedding", probes,
          "vec_id", "embedding", 5, nCells = 16, nprobe = 6,
          nSub = 16, nCodes = 16, iters = 3, residual = res, refine = 8, spill = 2)
        .select(col("q_id"), col("vec_id").as("a_vec"))
      val hits = exact.join(ivf,
        exact("q_id") === ivf("q_id") && col("vec_id") === col("a_vec")).count()
      println(f"RESULT ivfpq residual=$res recall=${hits.toDouble / total}%.3f " +
        f"t=${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    for ((nSub, nCodes, refine) <- Seq((8, 16, 8), (8, 16, 16), (8, 32, 8),
        (16, 16, 8), (16, 32, 8), (8, 16, 24), (16, 16, 16))) {
      val t0 = System.nanoTime()
      val model = Pq.train(emb, "vec_id", "embedding", nSub, nCodes, 3)
      val pq = Pq.searchWithModel(emb, "vec_id", "embedding", probes,
          "vec_id", "embedding", 5, model, refine)
        .select(col("q_id"), col("vec_id").as("a_vec"))
      val hits = exact.join(pq,
        exact("q_id") === pq("q_id") && col("vec_id") === col("a_vec")).count()
      val err = Pq.reconstructionError(emb, "vec_id", "embedding", model)
        .agg(avg(col("sq_err"))).head().getDouble(0)
      println(f"RESULT nSub=$nSub nCodes=$nCodes refine=$refine " +
        f"recall=${hits.toDouble / total}%.3f mse=$err%.3f " +
        f"t=${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
