package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.pipeline.FilePipeline
import graft.queries.SharedAnn
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one closed-loop client (this thread) issues
  * one unit after another, in one `local[cores]` session. It writes raw
  * measurements to `<work>/result.json`; `perfbench/run.py` turns them
  * into metrics and checks the outputs.
  *
  * Arguments are `--key value` pairs: workload, seed, seconds, trace,
  * work, cores, and either sf + queries (suite_stream) or inputs + frame +
  * sets (epoch_frame). */
object Harness {

  private val SettleMs = 500L

  final case class UnitRec(pass: Int, idx: Int, name: String, family: String,
      ms: Double, ok: Boolean, err: String, jobs: Long)
  final case class PassRec(pass: Int, traced: Boolean, wallS: Double,
      jobs: Long, gcCount: Long, gcMs: Long, heapMb: Double)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val work = o("work")
    val cores = o("cores").toInt
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, traced)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val units = ArrayBuffer.empty[UnitRec]
    val passes = ArrayBuffer.empty[PassRec]
    val setup = scala.collection.mutable.LinkedHashMap[String, Double](
      "jvm_start_s" -> (ManagementFactory.getRuntimeMXBean.getUptime / 1e3 - sessionS),
      "session_s" -> sessionS)

    /** Run `one` per unit over `names`; record each unit. */
    def runPass(pass: Int, names: Seq[String], family: String => String,
        layer: String)(one: String => Unit): Unit = {
      names.zipWithIndex.foreach { case (name, i) =>
        val j0 = tracer.jobs.get()
        val u = tracer.begin(name, layer, pass, i)
        val err = try { one(name); "" } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $name failed: $e")
            Option(e.getMessage).getOrElse(e.toString).take(300)
        }
        tracer.finish(u)
        if (tracer.tracing) tracer.drain()
        units += UnitRec(pass, i, name, family(name), u.end - u.start,
          err.isEmpty, err, tracer.jobs.get() - j0)
      }
    }

    /** Timed passes until they add up to `seconds`. A traced run
      * alternates untraced and traced passes so it measures its own
      * overhead. */
    def timedLoop(minPasses: Int)(pass: (Int, Boolean) => Unit): Unit = {
      var p = 0
      while (p < minPasses || passes.map(_.wallS).sum < seconds) {
        val tracedPass = traced && p % 2 == 1
        // settle before timing: the JIT's compile queue and the context
        // cleaner's deletions from the previous pass run in the background
        System.gc()
        Thread.sleep(SettleMs)
        tracer.drain()
        val (gc0, gcMs0) = tracer.gcTotals()
        val j0 = tracer.jobs.get()
        tracer.tracing = tracedPass
        val ps = tracer.begin("pass", "bench", p, -1)
        pass(p, tracedPass)
        tracer.finish(ps)
        tracer.drain()
        tracer.tracing = false
        val (gc1, gcMs1) = tracer.gcTotals()
        // live heap: collect, let the context cleaner drop the blocks of
        // unreachable checkpoints, collect again
        System.gc()
        Thread.sleep(200)
        System.gc()
        val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
        passes += PassRec(p, tracedPass, (ps.end - ps.start) / 1e3,
          tracer.jobs.get() - j0, gc1 - gc0, gcMs1 - gcMs0, heap / 1048576.0)
        p += 1
      }
    }

    val extra = scala.collection.mutable.LinkedHashMap[String, String]()
    workload match {
      case "epoch_frame" =>
        val inputs = o("inputs")
        val frame = o("frame").toInt
        val sets = o("sets").toInt
        val minStars = 5
        // pass p runs on image set (p + 1) % sets and writes out/p<p>
        def unitOn(pass: Int, staged: Boolean): Unit = {
          val set = s"$inputs/set_${(pass + 1) % sets}"
          val out = s"$work/out/p$pass"
          val status =
            if (staged) EpochStages.run(spark, tracer, pass, 0,
              s"$set/meta.csv", s"$set/*.fits", frame, frame, minStars, out)
            else FilePipeline.run(spark, s"$set/meta.csv", s"$set/*.fits",
              frame, frame, minStars = minStars, resultsDir = Some(out))
              .statuses.values.mkString(",")
          if (status != "ok") throw new IllegalStateException(s"epoch status $status")
        }
        val w0 = System.nanoTime()
        runPass(-1, Seq("epoch"), _ => "epoch", "pipeline")(_ =>
          unitOn(-1, staged = false))
        setup("warmup_s") = (System.nanoTime() - w0) / 1e9
        // one epoch is one unit, and one pass is one epoch
        timedLoop(if (traced) 2 else 1) { (p, tracedPass) =>
          runPass(p, Seq("epoch"), _ => "epoch", "pipeline")(_ =>
            unitOn(p, tracedPass))
        }
        extra("pixels_per_unit") = (3L * frame * frame).toString

      case "suite_stream" =>
        val sf = o("sf")
        val names = o("queries").split(",").toSeq
        val known = SparkEntry.queries
        val unknown = names.filterNot(known.contains)
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
        val fam = SparkEntry.family
        // a unit is one registered query call; micro-batches nest below it
        val layer = "queries"
        // untimed dump in Verify's layout; it is also the warm-up pass
        val dump = s"$work/dump"
        val w0 = System.nanoTime()
        SharedAnn.evict(spark.sparkContext)
        runPass(-1, names, fam, layer) { n =>
          known(n)(spark, sf).coalesce(1).write.mode("overwrite")
            .parquet(s"$dump/$n")
        }
        setup("warmup_s") = (System.nanoTime() - w0) / 1e9
        val oracle = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
        Files.writeString(Paths.get(s"$dump/oracle_sql.json"), Json.obj(
          oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
        // three passes at least: the first still warms up, and the
        // median of three leaves it out
        timedLoop(3) { (p, _) =>
          // each pass pays the same memo builds as one graft.Bench pass
          SharedAnn.evict(spark.sparkContext)
          val order = new scala.util.Random(seed * 1000003L + p).shuffle(names)
          runPass(p, order, fam, layer)(n => known(n)(spark, sf).count())
        }
    }

    val conf = spark.sparkContext.getConf
    val rt = ManagementFactory.getRuntimeMXBean
    val env = Seq(
      "cores" -> cores.toString,
      "heap_flags" -> rt.getInputArguments.asScala
        .filter(a => a.startsWith("-Xm")).mkString(" "),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "java_io_tmpdir" -> System.getProperty("java.io.tmpdir"),
      "spark_local_dir" -> conf.get("spark.local.dir", ""),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version")) ++ extra

    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "setup" -> Json.obj(setup.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "env" -> Json.obj(env.map { case (k, v) => k -> Json.str(v) }),
      "passes" -> Json.arr(passes.toSeq.map(p => Json.obj(Seq(
        "pass" -> Json.num(p.pass), "traced" -> Json.bool(p.traced),
        "wall_s" -> Json.num(p.wallS), "jobs" -> Json.num(p.jobs),
        "gc_count" -> Json.num(p.gcCount), "gc_ms" -> Json.num(p.gcMs),
        "heap_after_gc_mb" -> Json.num(p.heapMb))))),
      "units" -> Json.arr(units.toSeq.map(u => Json.obj(Seq(
        "pass" -> Json.num(u.pass), "idx" -> Json.num(u.idx),
        "name" -> Json.str(u.name), "family" -> Json.str(u.family),
        "ms" -> Json.num(u.ms), "ok" -> Json.bool(u.ok),
        "error" -> Json.str(u.err), "jobs" -> Json.num(u.jobs))))),
      "spans" -> Json.arr(tracer.allSpans.map(s => Json.obj(Seq(
        "id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "pass" -> Json.num(s.pass), "unit" -> Json.num(s.unit),
        "start" -> Json.num(s.start), "end" -> Json.num(s.end),
        "attrs" -> Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.num(v) })))))))
    Files.writeString(Paths.get(s"$work/result.json"), json)

    // stop streams and the state-store maintenance pool before the
    // context, as graft.Bench does
    spark.streams.active.foreach { q =>
      try { q.stop(); q.awaitTermination() } catch { case _: Exception => () }
    }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.stop()
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
