package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded interval: workload, phase, call or Spark job. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startNs: Long, var endNs: Long = -1L)

/** Spans are recorded only from the benchmark's own code, around its calls
  * into the engine. A call span sets a Spark job group naming it, so the
  * listener can hang every Spark job the call starts under that span. All
  * spans stay in memory until [[write]] at the end of the run.
  *
  * With tracing off, [[span]] only runs its body (and logs phase times to
  * stderr): no spans, no job groups, no listener.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile private var sc: SparkContext = _
  @volatile private var listener: JobListener = _

  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    listener = new JobListener(this)
    context.addSparkListener(listener)
  }

  def detach(): Unit = if (enabled && sc != null) {
    drain()
    sc.removeSparkListener(listener)
    sc = null
  }

  def span[A](kind: String, name: String)(body: => A): A =
    if (kind == "phase") {
      // phase timings go to the log in every run, traced or not
      val t0 = System.nanoTime()
      try record(kind, name)(body)
      finally System.err.println(f"[perfbench] phase $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    } else record(kind, name)(body)

  private def record[A](kind: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.get.headOption.getOrElse(0L)
      val s = Span(ids.incrementAndGet(), parent, kind, name, System.nanoTime())
      spans.put(s.id, s)
      stack.set(s.id :: stack.get)
      val group = if (kind == "call" && sc != null) {
        sc.setJobGroup(s"pb:${s.id}", name); true
      } else false
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.set(stack.get.tail)
        if (group) stack.get.headOption.flatMap(p => Option(spans.get(p)))
          .filter(_.kind == "call") match {
            case Some(outer) => sc.setJobGroup(s"pb:${outer.id}", outer.name)
            case None => sc.clearJobGroup()
          }
      }
    }

  private[perfbench] def addJob(parent: Long, jobId: Int, startNs: Long): Span = {
    val s = Span(ids.incrementAndGet(), parent, "job", s"job-$jobId", startNs)
    spans.put(s.id, s)
    s
  }

  /** Wait (bounded) until the asynchronous listener bus has delivered
    * every event posted so far.
    */
  def drain(): Unit = if (enabled && listener != null) {
    var last = -1L; var waited = 0
    while (listener.events.sum() != last && waited < 3000) {
      last = listener.events.sum(); Thread.sleep(50); waited += 50
    }
  }

  def all: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.id)

  def children(id: Long): Seq[Span] = all.filter(_.parent == id)

  def durationMs(s: Span): Double = (s.endNs - s.startNs) / 1e6

  /** Duration minus the part of it covered by child spans. */
  def selfMs(s: Span): Double = {
    val covered = Tracer.union(children(s.id).filter(_.endNs >= 0)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a })
    (s.endNs - s.startNs - covered) / 1e6
  }

  def jobsUnder(s: Span): Seq[Span] =
    children(s.id).flatMap(c => if (c.kind == "job") Seq(c) else jobsUnder(c))

  def stageStats: JobListener = listener

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    drain()
    val body = all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"self_ms":${Json.num(selfMs(s))}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(path, body.getBytes("UTF-8"))
  }
}

object Tracer {
  /** Total length of the union of half-open intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((a, b) <- iv.sortBy(_._1)) {
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark listener: job spans under the call that started them, and task
  * metric totals.
  */
final class JobListener(tracer: Tracer) extends SparkListener {
  val events = new LongAdder
  private val openJobs = new ConcurrentHashMap[Int, Span]()
  final class Totals {
    val taskMs = new LongAdder; val gcMs = new LongAdder
    val shuffleRead = new LongAdder; val shuffleWrite = new LongAdder
    val spill = new LongAdder; val stages = new LongAdder
    val jobs = new LongAdder
  }
  val total = new Totals

  /** The listener bus stamps events in wall-clock ms; spans use nanoTime. */
  private def nanoAt(epochMs: Long): Long =
    System.nanoTime() - (System.currentTimeMillis() - epochMs) * 1000000L

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    events.increment()
    total.jobs.increment()
    Option(js.properties).map(_.getProperty("spark.jobGroup.id"))
      .filter(g => g != null && g.startsWith("pb:"))
      .foreach(g => openJobs.put(js.jobId,
        tracer.addJob(g.stripPrefix("pb:").toLong, js.jobId, nanoAt(js.time))))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    events.increment()
    Option(openJobs.remove(je.jobId)).foreach(_.endNs = nanoAt(je.time))
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    events.increment()
    total.stages.increment()
    Option(sc.stageInfo.taskMetrics).foreach { m =>
      total.taskMs.add(m.executorRunTime)
      total.gcMs.add(m.jvmGCTime)
      total.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      total.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      total.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = events.increment()
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = events.increment()
}

/** Minimal JSON rendering for the result records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Named per-run measurements collected by a workload. */
final class Record {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val failures = mutable.ArrayBuffer.empty[String]
  val notes = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def fail(what: String): Unit = synchronized { failures += what }
}
