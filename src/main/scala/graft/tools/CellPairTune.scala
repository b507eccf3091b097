package graft.tools

import graft.{Session, Tables}
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Recall/cost tuner for the cell-partitioned near-dup pair path (q88's
  * registered operator): for each (nCells, spill) config, measures pair
  * recall vs the exact all-pairs set at cos ≥ 0.45 plus the candidate
  * workload, at a given SF dir. Run:
  *
  *   sbt "runMain graft.tools.CellPairTune /root/testdata/sf0.01"
  */
object CellPairTune {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Session.local(Session.cpus)
    val emb = Tables.embeddings(spark, dir).localCheckpoint()
    val n = emb.count()
    val exact = Dedup.embeddingNearDup(emb, "vec_id", "embedding", 0.45)
      .select(col("id_a"), col("id_b")).localCheckpoint()
    val nExact = exact.count()
    println(s"n=$n exact_pairs=$nExact")
    val cells = if (args.length > 1) args(1).split(",").toSeq.map(_.toInt)
      else Seq(8, 16, 32)
    val spills = if (args.length > 2) args(2).split(",").toSeq.map(_.toInt)
      else Seq(2, 3)
    for (nCells <- cells; spill <- spills) {
      val t0 = System.nanoTime()
      val pairs = Dedup.cellNearDupPairs(emb, "vec_id", "embedding",
        nCells, 0.45, spill).select(col("id_a"), col("id_b"))
      val hit = exact.intersect(pairs).count()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"nCells=$nCells%3d spill=$spill recall=${hit.toDouble / math.max(1, nExact)}%.3f hits=$hit/$nExact wall=$wall%.1f s")
    }
    spark.stop()
  }
}
