package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

/** `analytics`: log-analytics and relational entries of
  * `graft.SparkEntry.queries`, run by one closed-loop client over the
  * sf0.01 tables vendored in perfbench/data.
  *
  * Set-up is one pass over the query set from a cold engine; it writes
  * every result as parquet for the DuckDB oracle check that `run.py` makes
  * after the JVM exits. After four untimed warm rounds, timed rounds rerun
  * the set, in an order shuffled per round by the seed (order moves
  * `Caches` LRU eviction and GC placement).
  *
  * These sub-second queries are dominated by per-query fixed overhead:
  * plan-time driver jobs, planning and job scheduling.
  */
final class AnalyticsWorkload(ctx: Ctx) extends Workload {
  import AnalyticsWorkload._

  private var setup = 0.0
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var roundTotals = Seq.empty[Double]

  private def sf: String = ctx.data.toString
  private val fns = graft.SparkEntry.queries.filter { case (n, _) => Queries.contains(n) }
  require(fns.size == Queries.size, s"unknown query names: ${Queries.filterNot(fns.contains)}")

  override def setupS: Double = setup

  /** One query: construct the DataFrame, then execute it through `out`. */
  private def runOne(name: String, out: DataFrame => Unit): Unit = {
    val tr = ctx.tracer
    tr.span("call", name) {
      val df = tr.span("call", s"$name/construct")(fns(name)(ctx.spark, sf))
      tr.span("call", s"$name/execute")(out(df))
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One round in the seed's order for `round`; returns (query, ms) pairs. */
  private def round(r: Int): Seq[(String, Double)] = {
    val order = new scala.util.Random(ctx.seed * 1000 + r).shuffle(Queries)
    order.flatMap { name =>
      ctx.record.attempted += 1
      val t0 = System.nanoTime()
      try {
        runOne(name, noop)
        Some(name -> (System.nanoTime() - t0) / 1e6)
      } catch { case e: Throwable => ctx.record.fail(s"analytics: $name failed: $e"); None }
    }
  }

  override def run(): Unit = {
    val tr = ctx.tracer
    val rec = ctx.record
    val results = ctx.dir("analytics/results")
    tr.span("phase", "setup") {
      val t0 = System.nanoTime()
      for (name <- Queries) {
        rec.attempted += 1
        try runOne(name, df => df.write.mode("overwrite").parquet(results.resolve(name).toString))
        catch { case e: Throwable => rec.fail(s"analytics: $name failed in set-up: $e") }
      }
      setup = (System.nanoTime() - t0) / 1e9
    }
    val oracle = Queries.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _))
    Files.write(ctx.work.resolve("analytics/oracle_sql.json"),
      Json.obj(oracle.map { case (n, s) => n -> Json.str(s) }).getBytes("UTF-8"))

    // untimed warm rounds: the first warm rounds still run 30-50 % slow
    // while the JIT settles (after only three, timed rounds still fell by
    // 10-20 %), which would tie a run's figures to how many timed rounds
    // fit in its window
    for (w <- 1 to WarmupRounds) tr.span("phase", s"warmup-$w")(round(-w))
    ctx.measureBegin()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val totals = mutable.ArrayBuffer.empty[Double]
    var r = 0
    while (r < MinRounds || System.nanoTime() < deadline) {
      val xs = tr.span("phase", s"round-$r")(round(r))
      xs.foreach { case (n, ms) => samples.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += ms }
      totals += xs.map(_._2).sum
      r += 1
    }
    ctx.measureEnd(samples.values.map(_.size).sum)
    roundTotals = totals.toSeq

    rec.put("op_p50_ms", Stats.median(samples.values.flatten.toSeq), "ms")
    rec.put("work_s", samples.values.map(s => Stats.median(s.toSeq)).sum / 1000, "s")
    rec.notes("rounds") = r.toString
    rec.notes("query_ms") = Json.obj(samples.toSeq.map { case (n, xs) =>
      n -> xs.map(x => Json.num(math.rint(x))).mkString("[", ",", "]") })
  }

  override def traced(): Unit = {
    val rec = ctx.record
    val tr = ctx.tracer
    val rounds = roundTotals.size.toDouble
    // warm calls only: children of the query spans under a round phase
    val spans = tr.all
    val byId = spans.map(s => s.id -> s).toMap
    def phaseOf(s: Span): Option[Span] =
      Iterator.iterate(byId.get(s.parent))(_.flatMap(p => byId.get(p.parent)))
        .takeWhile(_.isDefined).map(_.get).find(_.kind == "phase")
    val warm = spans.filter(s => s.kind == "call" && s.name.contains("/") &&
      phaseOf(s).exists(_.name.startsWith("round-")))
    def of(suffix: String) = warm.filter(_.name.endsWith(suffix))
    rec.put("queries.construct_ms", of("/construct").map(tr.durationMs).sum / rounds, "ms")
    rec.put("queries.construct_jobs", of("/construct").map(tr.jobsUnder(_).size).sum / rounds, "count")
    rec.put("queries.exec_ms", of("/execute").map(tr.durationMs).sum / rounds, "ms")
    rec.put("queries.exec_jobs", of("/execute").map(tr.jobsUnder(_).size).sum / rounds, "count")
    rec.put("queries.stages", ctx.delta.getOrElse("stages", 0.0) / rounds, "count")
    // driver-side time of execution: the part of each execute call not
    // covered by one of its Spark jobs
    rec.put("queries.driver_self_ms", of("/execute").map(tr.selfMs).sum / rounds, "ms")
    rec.put("analytics.rounds", rounds, "count")
    // the stored-index lifecycle of graft.sources, which the query set
    // reaches only through q_aggview: build, serve, churn, serve, check
    new Sources(ctx).run()
    // single-core reading: one priming and one timed round at local[1]
    tr.span("phase", "round-1core") {
      ctx.stopSpark()
      ctx.startSpark(1)
      round(-WarmupRounds - 1)
      val one = round(-WarmupRounds - 2).map(_._2).sum
      rec.put("scaling.analytics_1core_ratio", one / Stats.median(roundTotals), "ratio")
    }
  }
}

object AnalyticsWorkload {
  /** A fixed cut across five analytics families of `SparkEntry.queries`
    * (relational, grouping, join, function, analytics), with `q_aggview`
    * reaching stored state and the engine caches. The pipeline family
    * (`pipe_*`) is left to `ship`, which loads `LogPipeline` itself: its
    * cold code generation alone doubled this workload's set-up.
    */
  val Queries: Seq[String] = Seq(
    "q6_filter_sum", "q1_agg", "q_semi_join", "q_aggview",
    "q_rollup", "q_range_join", "q_string_funcs", "q_seq_pattern")
  val MinRounds = 2
  val WarmupRounds = 4
}
