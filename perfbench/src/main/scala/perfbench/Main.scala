package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
                val tracer: Tracer, val work: Path, val data: Path,
                val cores: Int) {
  val record = new Record
  var spark: SparkSession = _

  def traced: Boolean = tracer.enabled

  // per-layer totals over a workload's measured phase (traced runs)
  private val planMs = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
  private var mark: Map[String, Double] = Map.empty
  var delta: Map[String, Double] = Map.empty
  /** Timed operations of the measured phase: the per-op denominator. */
  private var ops = 1L

  private def snapshot: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val c = graft.Caches.counters.values
    val base = Map("wall_ms" -> System.nanoTime() / 1e6, "gc_ms" -> gcMs.toDouble,
      "cache_hits" -> c.map(_._1).sum.toDouble, "cache_misses" -> c.map(_._2).sum.toDouble)
    val plans = planMs.asScala.map { case (k, v) => s"plan_$k" -> v.sum().toDouble }
    val exec = Option(tracer.stageStats).map { l =>
      val t = l.total
      Map("task_ms" -> t.taskMs.sum(), "task_gc_ms" -> t.gcMs.sum(),
        "shuffle_read" -> t.shuffleRead.sum(), "shuffle_write" -> t.shuffleWrite.sum(),
        "spill" -> t.spill.sum(), "stages" -> t.stages.sum(), "jobs" -> t.jobs.sum())
        .map { case (k, v) => k -> v.toDouble }
    }.getOrElse(Map.empty)
    base ++ plans ++ exec
  }

  def measureBegin(): Unit = { tracer.drain(); mark = snapshot }

  def measureEnd(ops: Long): Unit = {
    tracer.drain()
    val now = snapshot
    delta = now.map { case (k, v) => k -> (v - mark.getOrElse(k, 0.0)) }
    this.ops = math.max(1L, ops)
  }

  /** Engine-wide layers every workload loads: Spark execution, the JVM,
    * `graft.Caches` and Catalyst planning (via `QueryExecution.tracker`).
    */
  def putCommonLayers(): Unit = {
    def d(k: String) = delta.getOrElse(k, 0.0)
    def perOp(k: String) = d(k) / ops
    record.put("exec.jobs_per_op", perOp("jobs"), "count")
    record.put("exec.stages_per_op", perOp("stages"), "count")
    record.put("exec.task_ms_per_op", perOp("task_ms"), "ms")
    record.put("exec.busy_ratio", d("task_ms") / (d("wall_ms") * cores), "ratio")
    record.put("exec.shuffle_read_bytes_per_op", perOp("shuffle_read"), "bytes")
    record.put("exec.shuffle_write_bytes_per_op", perOp("shuffle_write"), "bytes")
    record.put("exec.spill_bytes_per_op", perOp("spill"), "bytes")
    record.put("exec.task_gc_ms_per_op", perOp("task_gc_ms"), "ms")
    record.put("jvm.gc_ms_per_op", perOp("gc_ms"), "ms")
    for (ph <- Seq("analysis", "optimization", "planning"))
      record.put(s"plans.${ph}_ms_per_op", perOp(s"plan_$ph"), "ms")
    record.put("caches.hits", d("cache_hits"), "count")
    record.put("caches.misses", d("cache_misses"), "count")
    val lookups = d("cache_hits") + d("cache_misses")
    record.put("caches.hit_ratio", if (lookups == 0) 1.0 else d("cache_hits") / lookups, "ratio")
  }

  /** (Re)start the Spark session at `local[n]`; returns its start-up s. */
  def startSpark(n: Int): Double = {
    val t0 = System.nanoTime()
    spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark.sparkContext)
    if (traced) spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                               ns: Long): Unit =
          qe.tracker.phases.foreach { case (ph, p) =>
            planMs.computeIfAbsent(ph, _ => new java.util.concurrent.atomic.LongAdder)
              .add(p.durationMs)
          }
        override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                               e: Exception): Unit = ()
      })
    (System.nanoTime() - t0) / 1e9
  }

  def stopSpark(): Unit = if (spark != null) {
    tracer.detach()
    graft.Caches.clear()
    spark.stop()
    spark = null
  }

  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }
}

/** Entry point: `perfbench.Main --workload <ship|analytics>
  * --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir>
  * --out <file>`.
  *
  * Runs one workload and writes its record (metrics, attempted, failed,
  * failure list) as JSON to `--out`. `perfbench/run.py` builds this
  * program, runs it, adds the checks that run outside the JVM and prints
  * the result line.
  */
object Main {
  def main(args: Array[String]): Unit =
    try run(args)
    catch { case e: Throwable =>
      // streaming and Spark threads would keep a failed JVM alive
      e.printStackTrace()
      System.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    // JVM start to here: class loading and runtime start-up, part of set-up
    val launchS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors))
    val ctx = new Ctx(opts("workload"), opts("seed").toLong, opts("seconds").toInt,
      new Tracer(opts("trace") == "1"), work, Paths.get(opts("data")).toAbsolutePath,
      cores)
    val canary = Canary.run()
    val workload: Workload = ctx.tracer.span("phase", "inputs") {
      ctx.workload match {
        case "ship" => new ShipWorkload(ctx)
        case "analytics" => new AnalyticsWorkload(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }
    val sessionS = ctx.tracer.span("phase", "session")(ctx.startSpark(cores))
    ctx.tracer.span("workload", ctx.workload) {
      workload.run()
    }
    val rec = ctx.record
    // set-up time, process start to the first timed operation: JVM launch,
    // Spark session start and the workload's set-up from a cold engine
    // (the benchmark's own input generation and CPU canary are left out)
    rec.put("setup_s", launchS + sessionS + workload.setupS, "s")
    if (ctx.traced) {
      rec.put("env.canary_ms", canary, "ms")
      rec.put("env.session_s", sessionS, "s")
      // the traced run's end-to-end values: their distance from an
      // untraced run of the same workload is the tracing overhead
      rec.put("traced.op_p50_ms", rec.metrics("op_p50_ms")._1, "ms")
      rec.put("traced.work_s", rec.metrics("work_s")._1, "s")
      ctx.putCommonLayers()
      workload.traced()
      // a layer the workload bypasses did no work: it reads 0
      for ((n, u) <- PerLayer.all if !rec.metrics.contains(n)) rec.put(n, 0.0, u)
    }
    rec.put("peak_rss_mb", Canary.peakRssMb, "MB")
    ctx.stopSpark()
    ctx.tracer.write(work.resolve(s"trace-${ctx.workload}-${ctx.seed}.json"))
    rec.notes("canary_ms") = Json.num(canary)
    val metrics = rec.metrics.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }.toSeq
    val out = Json.obj(Seq(
      "attempted" -> rec.attempted.toString,
      "failed" -> rec.failures.size.toString,
      "failures" -> rec.failures.take(50).map(Json.str).mkString("[", ",", "]"),
      "notes" -> Json.obj(rec.notes.toSeq),
      "metrics" -> Json.obj(metrics)))
    Files.write(Paths.get(opts("out")), (out + "\n").getBytes("UTF-8"))
    // streaming and Spark leave non-daemon threads behind; the record is
    // written, so end the JVM here
    System.exit(0)
  }
}

/** A workload: inputs made when it is constructed, before Spark starts,
  * then [[run]]; [[traced]] adds the per-layer metrics of a traced run.
  */
trait Workload {
  def run(): Unit
  /** Seconds of the workload's set-up, run once from a cold engine. */
  def setupS: Double
  def traced(): Unit
}

/** Every per-layer metric, with its unit. A traced run reports all of them;
  * layers the workload does not load read 0.
  */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "env.canary_ms" -> "ms", "env.session_s" -> "s",
    "traced.op_p50_ms" -> "ms", "traced.work_s" -> "s",
    "exec.jobs_per_op" -> "count", "exec.stages_per_op" -> "count",
    "exec.task_ms_per_op" -> "ms", "exec.busy_ratio" -> "ratio",
    "exec.shuffle_read_bytes_per_op" -> "bytes", "exec.shuffle_write_bytes_per_op" -> "bytes",
    "exec.spill_bytes_per_op" -> "bytes", "exec.task_gc_ms_per_op" -> "ms",
    "jvm.gc_ms_per_op" -> "ms",
    "plans.analysis_ms_per_op" -> "ms", "plans.optimization_ms_per_op" -> "ms",
    "plans.planning_ms_per_op" -> "ms",
    "caches.hits" -> "count", "caches.misses" -> "count", "caches.hit_ratio" -> "ratio",
    "streaming.batches" -> "count", "streaming.rows_per_batch_p50" -> "count",
    "streaming.trigger_ms_p50" -> "ms", "streaming.add_batch_ms_p50" -> "ms",
    "streaming.query_planning_ms_p50" -> "ms", "streaming.wal_commit_ms_p50" -> "ms",
    "streaming.commit_offsets_ms_p50" -> "ms", "streaming.burst_trigger_ms_p50" -> "ms",
    "streaming.burst_add_batch_ms_p50" -> "ms", "streaming.backlog_files_max" -> "count",
    "sink.posts" -> "count", "sink.send_ms_p50" -> "ms", "sink.dup_docs" -> "count",
    "generator.late_ms_max" -> "ms", "ship.lat_p99_ms" -> "ms", "ship.docs_per_s" -> "1/s",
    "logpipeline.decode_us_per_record" -> "us", "logpipeline.parse_us_per_doc" -> "us",
    "logpipeline.wire_us_per_doc" -> "us", "logpipeline.docs_per_record" -> "ratio",
    "scaling.ship_burst_1core_ratio" -> "ratio",
    "queries.construct_ms" -> "ms", "queries.construct_jobs" -> "count",
    "queries.exec_ms" -> "ms", "queries.exec_jobs" -> "count",
    "queries.stages" -> "count", "queries.driver_self_ms" -> "ms",
    "scaling.analytics_1core_ratio" -> "ratio",
    "analytics.rounds" -> "count") ++ Sources.metrics
}

object Canary {
  /** Fixed single-threaded CPU work (SHA-256 over 32 MiB), in ms. Recorded
    * in every run so a slow machine shows as a fact, not a regression.
    */
  def run(): Double = {
    val buf = new Array[Byte](1 << 20)
    new java.util.SplittableRandom(1).nextBytes(buf)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(buf) // warm the digest path once
    val t0 = System.nanoTime()
    for (_ <- 0 until 32) md.update(buf)
    md.digest()
    (System.nanoTime() - t0) / 1e6
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb: Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)
  }
}
