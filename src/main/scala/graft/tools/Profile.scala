package graft.tools

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Session, SparkEntry}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, pmod}

/** Per-query profiling, every mode on one listener:
  *
  *   sbt "runMain graft.tools.Profile <mode> [--reps N] <query...>"
  *
  *  - `run`: one CSV row per rep — wall ms, rows, jobs, the planning
  *    phases (analysis, optimization, planning) of the query and its
  *    timed count, and summed executor run ms;
  *  - `stages`: per stage of the last (warm) rep, the task count and the
  *    summed, max, run, GC and deserialization seconds, plus the most
  *    sampled executor frames;
  *  - `show`: up to 60 rows of each query;
  *  - `explain`: the formatted physical plan of each query;
  *  - `joblat`: warm per-job latency of empty RDD jobs, a 1-row count and
  *    tiny aggregates (takes no queries).
  *
  * No query names selects every query, sorted by name. `--reps`
  * (default 2) applies to `run` and `stages`. The fixture is
  * SPARK_GRAFT_SF_DIR (default: the sf0.1 fixture, as for Bench);
  * SPARK_GRAFT_CONF="k1=v1,k2=v2" sets runtime confs for A/B runs. */
object Profile {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus)
    try {
      // set after the session exists, so only this main ever sees them
      sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",").filter(_.nonEmpty)
        .foreach { kv => kv.split("=", 2) match {
          case Array(k, v) => spark.conf.set(k, v)
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_CONF entries are k=v, got '$kv'")
        } })
      run(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        args.toSeq)
    } finally spark.stop()
  }

  private val Usage =
    "usage: Profile run|stages|show|explain|joblat [--reps N] <query...>"

  /** Runs one `<mode> [--reps N] <query...>` command against `spark` and
    * the fixture at `dir`, printing its report to stdout. */
  def run(spark: SparkSession, dir: String, args: Seq[String]): Unit = {
    require(args.nonEmpty, Usage)
    val (reps, names) = args.tail match {
      case "--reps" +: n +: rest => (n.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(s"--reps must be a positive integer, got '$n'")), rest)
      case rest => (2, rest)
    }
    if (args.head == "joblat" && names.nonEmpty)
      throw new IllegalArgumentException(
        s"joblat takes no query names, got ${names.mkString(" ")}; $Usage")
    val queries = SparkEntry.select("Profile",
      if (names.isEmpty) None else Some(names.mkString(",")))
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    try args.head match {
      case "run" =>
        println("query,rep,wall_ms,rows,jobs,analysis_ms,optimization_ms,planning_ms,task_ms")
        for ((name, q) <- queries; rep <- 1 to reps) {
          probe.reset()
          val t0 = System.nanoTime()
          val df = q(spark, dir)
          val counted = df.groupBy().count() // what Dataset.count runs
          val rows = counted.collect().head.getLong(0)
          val wall = (System.nanoTime() - t0) / 1e6
          drain()
          def ms(phase: String): Long = Seq(df, counted)
            .flatMap(_.queryExecution.tracker.phases.get(phase))
            .map(_.durationMs).sum
          println(f"$name,$rep,$wall%.0f,$rows,${probe.jobs.get},${ms("analysis")}," +
            f"${ms("optimization")},${ms("planning")},${probe.total(_.runMs)}")
        }
      case "stages" =>
        for ((name, q) <- queries; rep <- 1 to reps) {
          probe.reset()
          val t0 = System.nanoTime()
          val (rows, frames) =
            if (rep < reps) (q(spark, dir).count(), Nil)
            else sampled(q(spark, dir).count())
          val wall = (System.nanoTime() - t0) / 1e9
          println(f"== $name rep $rep: $wall%.2f s ($rows rows)")
          if (rep == reps) printStages(probe, wall,
            spark.sparkContext.defaultParallelism, frames)
        }
      case "show" => queries.foreach { case (name, q) =>
        println(s"== $name @ $dir")
        q(spark, dir).show(60, false)
      }
      case "explain" => queries.foreach { case (name, q) =>
        println(s"== $name")
        q(spark, dir).explain("formatted")
      }
      case "joblat" => jobLatency(spark)
      case mode => throw new IllegalArgumentException(s"unknown mode '$mode'; $Usage")
    } finally spark.sparkContext.removeSparkListener(probe)
  }

  private final class StageStats(var name: String = "", var tasks: Int = 0,
      var totalMs: Long = 0, var maxMs: Long = 0, var runMs: Long = 0,
      var gcMs: Long = 0, var deserMs: Long = 0)

  /** Jobs started and per-stage task totals since the last [[reset]]. */
  private final class Probe extends SparkListener {
    val jobs = new AtomicInteger
    val stages = mutable.LinkedHashMap.empty[Int, StageStats]
    def reset(): Unit = synchronized { jobs.set(0); stages.clear() }
    def total(f: StageStats => Long): Long = synchronized(stages.values.map(f).sum)
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageId, new StageStats)
      val ms = e.taskInfo.duration
      s.tasks += 1
      s.totalMs += ms
      s.maxMs = s.maxMs.max(ms)
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.deserMs += m.executorDeserializeTime
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages.getOrElseUpdate(e.stageInfo.stageId, new StageStats).name =
        e.stageInfo.name.take(90)
    }
  }

  /** The listener bus is asynchronous: let straggler events arrive. */
  private def drain(): Unit = Thread.sleep(100)

  private def printStages(probe: Probe, wall: Double, cores: Int,
      frames: Seq[(String, Int)]): Unit = {
    drain()
    println(f"${"stage"}%6s ${"tasks"}%6s ${"total_s"}%8s ${"max_s"}%7s ${"run_s"}%7s ${"gc_s"}%6s ${"deser_s"}%7s  name")
    val stages = probe.synchronized(probe.stages.toSeq)
    stages.sortBy(-_._2.totalMs).take(30).foreach { case (id, s) =>
      println(f"$id%6d ${s.tasks}%6d ${s.totalMs / 1e3}%8.2f ${s.maxMs / 1e3}%7.2f " +
        f"${s.runMs / 1e3}%7.2f ${s.gcMs / 1e3}%6.2f ${s.deserMs / 1e3}%7.2f  ${s.name}")
    }
    val taskS = probe.total(_.totalMs) / 1e3
    println(f"stages=${stages.size} total task time $taskS%.2f s " +
      f"(parallel efficiency ${taskS / wall / cores * 100}%.0f%% of $cores cores)")
    println("top sampled executor frames:")
    frames.take(15).foreach { case (f, c) => println(f"  $c%5d  $f") }
  }

  /** Runs `f` while sampling, every 50 ms, the first non-JDK frame of each
    * busy executor task thread (idle pool threads wait in `getTask`);
    * returns the frames by descending count. */
  private def sampled[T](f: => T): (T, Seq[(String, Int)]) = {
    val counts = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val on = new AtomicBoolean(true)
    val sampler = new Thread(() => while (on.get) {
      Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
        if (t.getName.startsWith("Executor task launch") && st.nonEmpty &&
            !st.exists(_.getMethodName == "getTask")) {
          val e = st.take(25).find(e => !e.getClassName.startsWith("java.") &&
            !e.getClassName.startsWith("scala.")).getOrElse(st.head)
          counts(s"${e.getClassName.split('.').takeRight(2).mkString(".")}.${e.getMethodName}") += 1
        }
      }
      Thread.sleep(50)
    })
    sampler.setDaemon(true)
    sampler.start()
    val r = try f finally { on.set(false); sampler.join() }
    (r, counts.toSeq.sortBy(-_._2))
  }

  /** Warm per-job fixed latency in this session's shape: scheduling vs
    * task count vs SQL execution overhead. */
  private def jobLatency(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    def bench(label: String)(f: => Unit): Unit = {
      (1 to 10).foreach(_ => f)
      val n = 60
      val t0 = System.nanoTime()
      (1 to n).foreach(_ => f)
      println(f"$label%-34s ${(System.nanoTime() - t0) / 1e6 / n}%8.2f ms/op")
    }
    val rdd1 = sc.parallelize(Seq(1), 1).cache()
    val rdd32 = sc.parallelize(1 to 32, 32).cache()
    bench("rdd 1-partition count")(rdd1.count())
    bench("rdd 32-partition count")(rdd32.count())
    val one = spark.range(1)
    bench("df range(1) count")(one.count())
    val global = spark.range(64).groupBy().sum("id")
    bench("df tiny global agg")(global.collect())
    val shuffled = spark.range(64).withColumn("k", pmod(col("id"), lit(8L)))
      .groupBy("k").count()
    bench("df tiny shuffle agg (AQE)")(shuffled.collect())
    rdd1.unpersist()
    rdd32.unpersist()
  }
}
