package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-mitigation building blocks (SURVEY.md §8 scale notes).
  *
  * Salting splits a hot group key across `saltFactor` sub-keys so no
  * single task owns the whole group; a second aggregation merges the
  * partials. Works for any algebraic aggregate; results are identical to
  * the direct aggregation (tested), only the shuffle distribution changes.
  */
object Scale {

  /** Two-phase salted sum/count aggregation over a (possibly skewed) key.
    * Phase 1 groups by (key, salt) — salt derived deterministically from a
    * row-unique column so re-runs are stable; phase 2 merges partials by
    * key. */
  def saltedSumCount(df: DataFrame, key: Column, value: Column,
      saltSource: Column, saltFactor: Int): DataFrame =
    df.withColumn("_salt", pmod(xxhash64(saltSource), lit(saltFactor)))
      .groupBy(key.as("key"), col("_salt"))
      .agg(sum(value).as("_psum"), count(lit(1)).as("_pcnt"))
      .groupBy(col("key"))
      .agg(sum(col("_psum")).as("sum_value"), sum(col("_pcnt")).as("n"))

  /** Widen an unsplittably-narrow input before CPU-heavy per-row work
    * (optimization guide §2.5, input skew: "one huge unsplittable file …
    * repartition immediately after the read"; §8: shuffle the NARROW
    * decision columns, synthesize/decode heavy payloads after).
    *
    * A single-row-group parquet file is ONE scan task no matter the core
    * count — measured 3 % parallel efficiency on the 32-core bench box
    * for the per-row codec queries. This repartitions by hash of `key`
    * (deterministic under task retry — never `rand()`, SPARK-38388) into
    * the session's default parallelism, ONLY when the input has fewer
    * partitions: at cluster scale, where scans already carry more
    * partitions than cores, it is a plan-level no-op and nothing is
    * shuffled. The explicit partition count keeps AQE from coalescing the
    * exchange back to one partition (tiny shuffle BYTES — the coalescing
    * heuristic's metric — is exactly the profile of narrow columns whose
    * per-row CPU is still expensive). Callers fan out projections of
    * scalar columns, so the exchange carries bytes-per-row in the tens. */
  def fanOut(df: DataFrame, key: String): DataFrame = {
    // streaming relations have no static partitioning to inspect;
    // micro-batch sources parallelize by files/offsets instead, so pass
    // them through untouched
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (staticPartitionFloor(df) >= target) df
    else df.repartition(target, col(key))
  }

  /** `localCheckpoint()` unless `df` already IS a materialized leaf: an
    * RDD leaf whose RDD is checkpointed or persisted, like the handle a
    * prior localCheckpoint returned. Re-checkpointing that would only copy
    * the same blocks through one more eager job. A lazy
    * `createDataFrame(rdd, schema)` is an RDD leaf too, but it recomputes
    * on every read, so it is pinned. */
  def pinOnce(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.analyzed match {
      case r: LogicalRDD if r.rdd.isCheckpointed ||
          r.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE => df
      case _ => df.localCheckpoint()
    }
  }

  /** Lower bound on the partition count `df` would scan with, derived from
    * the ANALYZED logical plan — never from `df.rdd`, which under AQE
    * materializes every upstream shuffle stage (real Spark jobs whose
    * results the later execution does not reuse) just to report a
    * partition count, and which made fanOut over a post-aggregation input
    * run the whole upstream pipeline twice (round-15 ADVICE).
    *
    * Narrow chains (projections/filters/typed maps) over file scans
    * estimate from the file listing: split packing charges each file
    * `openCostInBytes` and packs into bins of at most `maxPartitionBytes`,
    * so `ceil(charged / (maxPartitionBytes + openCost))` never exceeds the
    * scan's true task count — the no-op branch (input already ≥ session
    * parallelism) only fires when the real scan is at least that wide.
    * Fixture single-file tables floor to 1 (→ fan out, same plan as
    * before); a 100 TB table floors to thousands (→ plan-level no-op,
    * nothing shuffled). Plans containing a shuffle-inducing or
    * unrecognized operator return 0 — those inputs repartition
    * unconditionally, which at fixture scale is the identical plan the
    * .rdd probe produced (AQE coalesces small post-shuffle outputs below
    * core count) and at cluster scale costs one bounded exchange of an
    * already-aggregated table instead of an eager double execution. */
  private def staticPartitionFloor(df: DataFrame): Long = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.ExternalRDD
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val conf = df.sparkSession.sessionState.conf
    def floor(p: LogicalPlan): Long = p match {
      case Project(_, c) => floor(c)
      case Filter(_, c) => floor(c)
      case SubqueryAlias(_, c) => floor(c)
      case SerializeFromObject(_, c) => floor(c)
      case DeserializeToObject(_, _, c) => floor(c)
      case m: MapPartitions => floor(m.child)
      case m: MapElements => floor(m.child)
      case t: TypedFilter => floor(t.child)
      case u: Union => u.children.map(floor).sum
      case r: Repartition => r.numPartitions.toLong
      case r: RepartitionByExpression =>
        r.optNumPartitions.map(_.toLong)
          .getOrElse(conf.numShufflePartitions.toLong)
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          val open = math.max(0L, conf.filesOpenCostInBytes)
          val maxSplit = math.max(1L, conf.filesMaxPartitionBytes)
          val nFiles = fs.location.inputFiles.length.toLong
          val charged = math.max(0L, fs.location.sizeInBytes) + nFiles * open
          math.max(if (nFiles > 0) 1L else 0L,
            (charged + maxSplit + open - 1) / (maxSplit + open))
        case _ => 0L
      }
      case r: LogicalRDD => r.rdd.getNumPartitions.toLong
      case r: ExternalRDD[_] => r.rdd.getNumPartitions.toLong
      case _ => 0L
    }
    floor(df.queryExecution.analyzed)
  }
}
