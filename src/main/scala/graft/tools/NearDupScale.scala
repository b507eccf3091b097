package graft.tools

import graft.{Session, Tables}
import graft.operators.Dedup

/** Scale demonstration for embedding near-dup at a MODERATE cosine
  * threshold (0.45) — the round-12 second sweep decade (sf1 → sf10)
  * measured the then-registered q88 banding (4 bits/band × 16 bands,
  * fixture-tuned for recall 1.0) degenerating toward all-pairs: 2⁴ = 16
  * buckets per band, a count that does NOT grow with the corpus, so at
  * 200 k vectors each bucket held ~12.5 k vectors (measured slope 3.0;
  * the then-quadratic exact ground-truth arm measured 6.1).
  *
  * The scale-appropriate shape for this threshold regime is the
  * CELL-PARTITIONED path: trained k-means cells confine the pairwise
  * scan to within-cell, so with nCells grown ∝ corpus the within-cell
  * work n²/nCells stays LINEAR in n. This tool first measured that
  * claim (slope 0.58 over the decade at nCells = n/1000, spill 2);
  * since round 13 the measurement became the shipped config — q88
  * registers Dedup.cellNearDupPairsAuto and q97/q133 certify it
  * against the anchored exact arm:
  *
  *   sbt "runMain graft.tools.NearDupScale target/sf1"
  *   sbt "runMain graft.tools.NearDupScale target/sf10"
  *
  * (Banding remains the right tool for the HIGH-threshold regime — at
  * J ≥ 0.9 a long band keeps per-bit agreement high, which is exactly
  * where q62's MinHash banding lives; Similarity.lshNearDupPairsAuto
  * sizes bands to the corpus there and refuses regimes it cannot hold.)
  */
object NearDupScale {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus)
    val emb = Tables.embeddings(spark, dir).localCheckpoint()
    val n = emb.count()
    val nCells = math.max(16, (n / 1000).toInt)
    val t0 = System.nanoTime()
    val c = Dedup.semanticDedup(emb, "vec_id", "embedding", nCells,
      tau = 0.45).count()
    println(f"RESULT cells_scaled_nOver1k n=$n count=$c wall=${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
