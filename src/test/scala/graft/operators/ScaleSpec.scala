package graft.operators


import graft.SparkSpec
import org.apache.spark.sql.functions._

class SaltedAggSpec extends SparkSpec {
  import spark.implicits._

  test("salted two-phase aggregate equals direct aggregation on skewed keys") {
    // one hot key owning 90% of rows
    val rows = (1 to 10000).map { i =>
      val k = if (i % 10 != 0) "hot" else s"cold_${i % 7}"
      (i.toLong, k, (i % 100).toDouble)
    }
    val df = rows.toDF("id", "k", "v")
    val direct = df.groupBy($"k").agg(sum($"v").as("sum_value"), count(lit(1)).as("n"))
      .as[(String, Double, Long)].collect()
      .map { case (k, s, n) => k -> ((s, n)) }.toMap
    val salted = Scale.saltedSumCount(df, $"k", $"v", $"id", 16)
      .as[(String, Double, Long)].collect()
      .map { case (k, s, n) => k -> ((s, n)) }.toMap
    assert(salted.keySet === direct.keySet)
    direct.foreach { case (k, (s, n)) =>
      assert(salted(k)._2 === n)
      assert(math.abs(salted(k)._1 - s) < 1e-6)
    }
  }
}

/** fanOut derives input width from the logical plan, never from `.rdd` —
  * constructing the fanned-out DataFrame must run ZERO Spark jobs even
  * over a post-aggregation input (under AQE, `Dataset.rdd` materializes
  * every upstream shuffle stage just to report a partition count, so the
  * round-15 form executed the whole upstream pipeline twice). */
class FanOutSpec extends SparkSpec {
  import spark.implicits._

  test("fanOut is plan-time lazy: zero jobs to construct, even " +
      "over a post-aggregation input") {
    val base = (1L to 5000L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val agg = base.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val (fanned, jobs) = jobsDuring {
      Scale.fanOut(agg, "doc_id")
    }
    assert(jobs === 0, s"fanOut ran $jobs jobs at plan-construction time")
    // and the result still computes correctly when an action runs
    assert(fanned.count() === 5000)
  }

  test("fanOut widens a single-file scan and no-ops an already-wide input") {
    val dir = graft.TempDirs.create("fanout_narrow")
    (1L to 200L).map(i => (i, i * 2.0)).toDF("doc_id", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val narrow = spark.read.parquet(dir)
    val target = spark.sparkContext.defaultParallelism
    val fanned = Scale.fanOut(narrow, "doc_id")
    assert(fanned.rdd.getNumPartitions === target,
      "single-file scan must widen to session parallelism")
    assert(fanned.queryExecution.analyzed.toString
      .contains("RepartitionByExpression"))
    // an input provably at-or-above parallelism passes through untouched
    val wide = narrow.repartition(target + 4, col("doc_id"))
    val untouched = Scale.fanOut(wide, "doc_id")
    assert(untouched.queryExecution.analyzed eq
      wide.queryExecution.analyzed,
      "already-wide input must be a plan-level no-op")
  }
}

class PinOnceSpec extends SparkSpec {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  test("pinOnce pins a lazy RDD-backed frame and passes a checkpoint through") {
    // a nondeterministic source: every evaluation draws new values
    val rdd = spark.sparkContext.parallelize(1L to 200L, 2)
      .map(i => Row(i, scala.util.Random.nextDouble()))
    val lazyDf = spark.createDataFrame(rdd,
      StructType(Seq(StructField("id", LongType), StructField("v", DoubleType))))
    val pinned = Scale.pinOnce(lazyDf)
    assert(pinned.collect().toSeq === pinned.collect().toSeq,
      "two reads of a pinned frame must see the same rows")
    val (again, jobs) = jobsDuring(Scale.pinOnce(pinned))
    assert((again eq pinned) && jobs === 0,
      "a checkpoint handle is already materialized")
  }
}

/** Bucketing demo: pre-bucketed tables joined on the bucket key produce a
  * shuffle-free sort-merge join — the co-located-join technique for
  * repeated large joins at 100 TB. */
class BucketedJoinSpec extends SparkSpec {
  import spark.implicits._

  test("join of co-bucketed tables has no exchange") {
    // warehouse dir is a static conf — set via build.sbt javaOptions
    val left = (1L to 2000L).map(i => (i, i * 2.0)).toDF("key", "lv")
    val right = (1L to 2000L).map(i => (i, s"r$i")).toDF("key", "rv")
    left.write.mode("overwrite").bucketBy(8, "key").sortBy("key")
      .saveAsTable("b_left")
    right.write.mode("overwrite").bucketBy(8, "key").sortBy("key")
      .saveAsTable("b_right")
    val joined = spark.table("b_left").join(spark.table("b_right"), "key")
    // force SMJ so the bucket layout (not a broadcast) carries the join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = spark.table("b_left").join(spark.table("b_right"), "key")
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() === 2000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_left")
      spark.sql("DROP TABLE IF EXISTS b_right")
    }
  }
}

/** AQE's runtime skew mitigation — the complement to manual salting: a
  * hot join key whose shuffle partition dwarfs the advisory size gets
  * split at runtime into multiple tasks (SURVEY.md §4's AQE skew-join). */
class AqeSkewJoinSpec extends SparkSpec {
  import spark.implicits._

  test("a hot key's sort-merge join partition is split at runtime") {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 200k rows on one hot key vs a uniform dimension
      val left = spark.range(200000)
        .select(when($"id" % 100 === 0, $"id" % 7).otherwise(0L).as("key"),
          $"id".as("payload"))
      val right = (0L until 7L).map(k => (k, s"dim_$k")).toDF("key", "dim")
      val joined = left.join(right, "key")
      // execute THIS plan (count() would build and run a different one)
      assert(joined.collect().length === 200000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE to mark the skewed join:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
