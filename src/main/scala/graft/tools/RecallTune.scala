package graft.tools

import graft.{Session, Tables}
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Temporary tuning harness: sweeps approximate-operator configs and
  * prints recall so registered configs can be chosen from measurement. */
object RecallTune {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Session.local(Session.cpus)
    val emb = Tables.embeddings(spark, d).cache()
    emb.count()
    // tune on the SAME probe population the certificates gate on
    val probes = emb.filter(
      col("vec_id") < graft.queries.SharedAnn.Cfg.NProbes)

    def recallOf(exact: DataFrame, approx: DataFrame): Double = {
      val e = exact.select(col("q_id"), col("vec_id"))
      val a = approx.select(col("q_id"), col("vec_id").as("a_vec"))
      val r = e.join(a, e("q_id") === a("q_id") && col("vec_id") === col("a_vec"),
          "left_outer")
        .agg(count(lit(1)).as("n"), count(col("a_vec")).as("h"))
        .head()
      r.getLong(1).toDouble / r.getLong(0)
    }

    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      probes, "vec_id", "embedding", 5).cache()
    exact.count()

    // registered q71/q95 config
    {
      val r = recallOf(exact, Similarity.ivfTopK(emb, "vec_id", "embedding",
        "label", probes, "vec_id", "embedding", 5, 4, spill = 2))
      println(f"REG ivf-label nprobe=4 spill=2 recall=$r%.3f")
    }
    // registered q106 config
    {
      val cells = Similarity.trainCells(emb, "vec_id", "embedding", 16, 3)
      val withCell = emb.select(col("vec_id"), col("embedding"))
        .join(cells, Seq("vec_id"))
      val r = recallOf(exact, Similarity.ivfTopK(withCell, "vec_id",
        "embedding", "cell", probes, "vec_id", "embedding", 5, 6, spill = 2))
      println(f"REG ivf-trained nCells=16 iters=3 nprobe=6 spill=2 recall=$r%.3f")
    }
    // registered q112 on-disk config
    {
      val dir = graft.TempDirs.create("tune_ivf")
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", dir,
        nCells = 16, iters = 3, spill = 2)
      val r = recallOf(exact, Similarity.probeIvfIndex(spark, dir, probes,
        "vec_id", "embedding", 5, nprobe = 6))
      println(f"REG ivf-disk nCells=16 iters=3 spill=2 nprobe=6 recall=$r%.3f")
    }
    // registered q74/q96 config
    {
      val r = recallOf(exact, Similarity.lshTopK(emb, "vec_id", "embedding",
        probes, "vec_id", "embedding", 5, dims = 64, nBits = 48, nBands = 12))
      println(f"REG lsh-topk nBits=48 nBands=12 recall=$r%.3f")
    }
    // registered q142 config: IVF-PQ append drift (appended vs rebuilt)
    {
      import graft.operators.Pq
      val base = emb.filter(col("vec_id") % 4 =!= 0)
      val appended = graft.TempDirs.create("tune_ivfpq_appended")
      Pq.writeIvfPqIndex(base, "vec_id", "embedding", appended,
        nCells = 16, nSub = 16, nCodes = 16, iters = 3, spill = 2)
      Pq.appendIvfPqIndex(emb.filter(col("vec_id") % 8 === 0),
        "vec_id", "embedding", appended, spill = 2)
      Pq.appendIvfPqIndex(emb.filter(col("vec_id") % 8 === 4),
        "vec_id", "embedding", appended, spill = 2)
      val compacted = graft.TempDirs.create("tune_ivfpq_compacted")
      Pq.compactIvfPqIndex(spark, appended, compacted)
      val rebuilt = graft.TempDirs.create("tune_ivfpq_rebuilt")
      Pq.writeIvfPqIndex(emb, "vec_id", "embedding", rebuilt,
        nCells = 16, nSub = 16, nCodes = 16, iters = 3, spill = 2)
      val app = recallOf(exact, Pq.probeIvfPqIndex(spark, compacted, probes,
        "vec_id", "embedding", 5, nprobe = 6,
        refineWith = Some((emb, "vec_id", "embedding"))))
      val reb = recallOf(exact, Pq.probeIvfPqIndex(spark, rebuilt, probes,
        "vec_id", "embedding", 5, nprobe = 6,
        refineWith = Some((emb, "vec_id", "embedding"))))
      println(f"REG ivfpq-append appended=$app%.3f rebuilt=$reb%.3f " +
        f"drift=${reb - app}%.3f")
    }
    // registered q145 config: OPQ vs PQ recall + reconstruction error
    {
      import graft.operators.Pq
      val opq = Pq.trainOpq(emb, "vec_id", "embedding", nSub = 16,
        nCodes = 16, iters = 3, opqIters = 6)
      val pqm = Pq.train(emb, "vec_id", "embedding", 16, 16, 3)
      val rec = recallOf(exact, Pq.searchWithOpqModel(emb, "vec_id",
        "embedding", probes, "vec_id", "embedding", 5, opq, refine = 16))
      def me(df: DataFrame) = df.agg(avg("sq_err")).head().getDouble(0)
      val eo = me(Pq.opqReconstructionError(emb, "vec_id", "embedding", opq))
      val ep = me(Pq.reconstructionError(emb, "vec_id", "embedding", pqm))
      println(f"REG opq nSub=16 nCodes=16 refined_recall=$rec%.3f " +
        f"err_opq=$eo%.4f err_pq=$ep%.4f ratio=${eo / ep}%.3f")
    }
    spark.stop()
  }
}
