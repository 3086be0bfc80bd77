package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.{BulkTransport, FileSourceAdapter, HttpBulkTransport, ShipperStream}

/** Times every `send` of the wrapped transport (traced runs only). */
final case class TimedTransport(inner: BulkTransport) extends BulkTransport {
  override def send(body: String): Unit = {
    val t0 = System.nanoTime()
    try inner.send(body)
    finally TimedTransport.sendNs.add((System.nanoTime() - t0).toDouble)
  }
}
object TimedTransport {
  val sendNs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
}

/** `ship`: the reference's own job. An open-loop generator drops seeded
  * Kinesis-shaped JSON-lines files into a directory on a fixed schedule;
  * `ShipperStream.start` decodes, parses, classifies and POSTs them through
  * `HttpBulkTransport` to the in-process [[Receiver]], with the reference
  * deployment's bulk size (100 docs) and trigger (2000 ms).
  *
  * Phases: set-up (a cold stream start whose first micro-batch, one burst
  * batch in size, also warms the per-row code), a steady phase at a fixed
  * rate well under capacity (bound by the per-batch fixed cost), then two
  * bursts, each a backlog written at once and sized so each of its
  * micro-batches runs longer than the trigger interval, so they run back
  * to back (bound by per-row decode and parse cost, not by the admission
  * cap).
  */
final class ShipWorkload(ctx: Ctx) extends Workload {
  import ShipWorkload._

  // docs of every input file in feeding order: the priming files, the
  // steady files, the bursts and, in traced runs, one more backlog for the
  // single-core reading
  private val nSteady = math.max(2, ctx.seconds * 1000 / FileEveryMs)
  private val plan: IndexedSeq[Int] =
    Vector.fill(MaxFilesPerTrigger)(BurstDocsPerFile) ++
      Vector.fill(nSteady)(SteadyRate * FileEveryMs / 1000) ++
      Vector.fill((Bursts + (if (ctx.traced) 1 else 0)) * BurstFiles)(BurstDocsPerFile)
  // each file has its own seeded generator and gseq range, so the files are
  // generated in parallel, before Spark starts
  private val bases = plan.scanLeft(0)(_ + _ + Envelopes.MaxEventsPerRecord).toArray
  private val gens = plan.indices.map(k => new Envelopes(ctx.seed * 1000003L + k, bases(k)))
  private val staging = ctx.dir("ship/staged")
  // every input file is written ahead, into the staging directory, and
  // renamed into the stream's input directory when due: no generation,
  // gzip or file write runs in a timed phase, and the input does not stay
  // on the heap
  private def stage(k: Int): Staged = {
    val f = gens(k).file(plan(k))
    val path = staging.resolve(f"$k%05d.json")
    Files.write(path, f.lines.mkString("", "\n", "\n").getBytes(UTF_8))
    Staged(path, f.gseqLo, f.gseqHi, f.records)
  }
  private val staged: IndexedSeq[Staged] = java.util.stream.IntStream.range(0, plan.size)
    .parallel().mapToObj[Staged](stage(_)).toArray(new Array[Staged](_)).toIndexedSeq
  private val prime = staged.take(MaxFilesPerTrigger)
  private val steady = staged.slice(prime.size, prime.size + nSteady)
  private val bursts = staged.drop(prime.size + nSteady).grouped(BurstFiles).toSeq.take(Bursts)
  private val burst1 = staged.drop(prime.size + nSteady + Bursts * BurstFiles)
  private val receiver = new Receiver(expectedFor, bases.last, ctx.cores)

  private def expectedFor(g: Int): Option[Expected] = {
    val i = java.util.Arrays.binarySearch(bases, g)
    val k = if (i >= 0) i else -i - 2
    if (k < gens.size && g < gens(k).size) Some(gens(k).expectedFor(g)) else None
  }

  private var setup = 0.0
  private val lateMs = mutable.ArrayBuffer.empty[Double]
  private var backlogMax = 0.0
  // micro-batches of the measured stream that read input, by phase
  private var steadyBatches: Seq[StreamingQueryProgress] = Nil
  private var burstBatches: Seq[StreamingQueryProgress] = Nil
  // (epoch ms written, records) of every file fed to the measured stream
  private val written = mutable.ArrayBuffer.empty[(Long, Int)]

  override def setupS: Double = setup

  /** Renames a staged file into `dir`, so the file source never lists a
    * partial file. Its modification time becomes the feeding time: the
    * source admits the oldest files first.
    */
  private def feed(dir: Path, name: String, f: Staged): Unit = {
    val now = System.currentTimeMillis()
    Files.setLastModifiedTime(f.path, java.nio.file.attribute.FileTime.fromMillis(now))
    Files.move(f.path, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    written += ((now, f.records))
  }

  private def arrived(f: Staged): Boolean = receiver.missing(f.gseqLo, f.gseqHi) == 0

  private def awaitArrival(fs: Seq[Staged], timeoutS: Double, what: String): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!fs.forall(arrived) && System.nanoTime() < deadline) Thread.sleep(5)
    val ok = fs.forall(arrived)
    if (!ok) ctx.record.fail(s"ship: $what did not drain within ${timeoutS}s")
    ok
  }

  private def transport: BulkTransport = {
    val http = HttpBulkTransport(receiver.url)
    if (ctx.traced) TimedTransport(http) else http
  }

  private def startStream(name: String): (StreamingQuery, Path) = {
    val in = ctx.dir(s"ship/$name/in")
    val q = ShipperStream.start(ctx.spark, FileSourceAdapter(in.toString, MaxFilesPerTrigger),
      ctx.dir(s"ship/$name/out").toString, ctx.dir(s"ship/$name/ckpt").toString,
      BulkSize, TriggerMs, Some(transport))
    (q, in)
  }

  private def drainAndStop(q: StreamingQuery): Unit = {
    // stop only after the input is drained: a mid-batch stop aborts the
    // batch's journal write, a teardown artefact rather than a failure
    q.processAllAvailable()
    q.stop()
  }

  /** Ships `files` fed at once and returns (epoch ms when the feeding
    * began, seconds until every doc arrived).
    */
  private def runBurst(q: StreamingQuery, in: Path, files: Seq[Staged], tag: String): (Long, Double) = {
    // written just before a trigger fires, so the first batch starts at once
    sleepUntil(alignedNs(TriggerMs - BurstLeadMs))
    val fedMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    files.zipWithIndex.foreach { case (f, i) => feed(in, f"$tag-$i%04d.json", f) }
    awaitArrival(files, BurstTimeoutS, s"$tag backlog")
    val last = files.flatMap(f => (f.gseqLo until f.gseqHi).map(receiver.arrivalNs.get)).max
    (fedMs, (last - t0) / 1e9)
  }

  /** nanoTime of the next wall-clock instant `offsetMs` into a trigger
    * interval, at least 100 ms ahead. Processing-time triggers fire at
    * wall-clock multiples of the interval; aligning the input schedule to
    * them keeps the wait for the next trigger the same in every run.
    */
  private def alignedNs(offsetMs: Long): Long = {
    val nowMs = System.currentTimeMillis()
    val nowNs = System.nanoTime()
    var t = nowMs / TriggerMs * TriggerMs + offsetMs
    while (t < nowMs + 100) t += TriggerMs
    nowNs + (t - nowMs) * 1000000L
  }

  private def sleepUntil(ns: Long): Unit = {
    var now = System.nanoTime()
    while (now < ns) { Thread.sleep(math.max(0L, (ns - now) / 1000000L)); now = System.nanoTime() }
  }

  override def run(): Unit = {
    val tr = ctx.tracer
    // set-up, from a cold engine: start the stream and ship the priming
    // files, placed before the start so the first trigger ships them as one
    // burst-sized batch; it warms the per-row code, which otherwise runs
    // the first burst batch 40-50 % slow
    val (q, in) = tr.span("phase", "setup") {
      tr.span("call", "ShipperStream.start") {
        val t0 = System.nanoTime()
        prime.zipWithIndex.foreach { case (f, i) => feed(ctx.dir("ship/live/in"), f"prime-$i%04d.json", f) }
        val live = startStream("live")
        awaitArrival(prime, PrimeTimeoutS, "priming files")
        setup = (System.nanoTime() - t0) / 1e9
        live
      }
    }
    val progressBefore = q.recentProgress.length
    written.clear()
    ctx.measureBegin()

    // steady phase: open loop, one file every FileEveryMs, timed from its due time
    val dueNs = mutable.Map.empty[Int, Long]
    tr.span("phase", "steady") {
      val t0 = alignedNs(FileEveryMs / 2)
      steady.zipWithIndex.foreach { case (f, i) =>
        val due = t0 + i * FileEveryMs * 1000000L
        sleepUntil(due)
        feed(in, f"steady-$i%04d.json", f)
        lateMs += (System.nanoTime() - due) / 1e6
        dueNs(i) = due
      }
      awaitArrival(steady, SteadyTimeoutS, "steady phase")
    }
    val lat = steady.zipWithIndex.flatMap { case (f, i) =>
      (f.gseqLo until f.gseqHi).map(receiver.arrivalNs.get).filter(_ != 0L)
        .map(a => (a - dueNs(i)) / 1e6)
    }
    val drains = bursts.zipWithIndex.map { case (b, i) =>
      tr.span("phase", s"burst-$i") { runBurst(q, in, b, s"burst$i") }
    }
    tr.span("phase", "teardown") { drainAndStop(q) }
    val batches = q.recentProgress.drop(progressBefore).toSeq.filter(_.numInputRows > 0)
    steadyBatches = batches.filter(startMs(_) < drains.head._1)
    burstBatches = batches.filter(startMs(_) >= drains.head._1)
    backlogMax = backlogFilesMax(written.toSeq)
    ctx.measureEnd(batches.size)

    val burstDocs = bursts.flatten.map(f => f.gseqHi - f.gseqLo).sum.toDouble / Bursts
    val burstS = Stats.median(drains.map(_._2))
    val rec = ctx.record
    rec.put("op_p50_ms", Stats.median(lat), "ms")
    rec.put("work_s", burstS, "s")
    rec.notes("burst_drain_s") = drains.map(d => Json.num(d._2)).mkString("[", ",", "]")
    rec.notes("burst_batch_ms") = burstBatches.map(b => Json.num(triggerMs(b)))
      .mkString("[", ",", "]")
    if (ctx.traced) {
      // a drain measures the pipeline only while every burst batch
      // outlasts the trigger interval; a shorter one waited for its
      // trigger, and the bursts must be made larger
      val expected = Bursts * BurstFiles / MaxFilesPerTrigger
      val short = burstBatches.filter(triggerMs(_) <= TriggerMs)
      rec.attempted += 1
      if (burstBatches.size != expected || short.nonEmpty)
        rec.fail(s"ship: the bursts ran as ${burstBatches.size} batches of " +
          s"${burstBatches.map(triggerMs).mkString(", ")} ms; they must run as " +
          s"$expected batches each above the $TriggerMs ms trigger")
      // p99 needs 1000 samples to keep ten beyond it; the steady phase
      // ships several thousand docs
      require(Stats.highestSupported(lat.size).exists(_ >= 0.99), s"${lat.size} latency samples")
      rec.put("ship.lat_p99_ms", Stats.quantile(lat, 0.99), "ms")
      rec.put("ship.docs_per_s", burstDocs / burstS, "1/s")
    }
    // every doc generated for this run must arrive exactly as expected
    val files = prime ++ steady ++ bursts.flatten
    rec.attempted += files.map(f => f.gseqHi - f.gseqLo).sum
    val missing = files.map(f => receiver.missing(f.gseqLo, f.gseqHi)).sum
    if (missing > 0) rec.fail(s"ship: $missing docs never arrived")
    receiver.failureList.foreach(rec.fail)
  }

  override def traced(): Unit = {
    val rec = ctx.record
    val tr = ctx.tracer
    def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def dur(batches: Seq[StreamingQueryProgress], k: String) =
      batches.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble))
    // the per-batch terms of the steady phase, where the fixed cost of a
    // batch sets the latency, and of the bursts, where per-row work does
    rec.put("streaming.batches", steadyBatches.size + burstBatches.size, "count")
    rec.put("streaming.rows_per_batch_p50", p50(steadyBatches.map(_.numInputRows.toDouble)), "count")
    rec.put("streaming.trigger_ms_p50", p50(dur(steadyBatches, "triggerExecution")), "ms")
    rec.put("streaming.add_batch_ms_p50", p50(dur(steadyBatches, "addBatch")), "ms")
    rec.put("streaming.query_planning_ms_p50", p50(dur(steadyBatches, "queryPlanning")), "ms")
    rec.put("streaming.wal_commit_ms_p50", p50(dur(steadyBatches, "walCommit")), "ms")
    rec.put("streaming.commit_offsets_ms_p50", p50(dur(steadyBatches, "commitOffsets")), "ms")
    rec.put("streaming.burst_trigger_ms_p50", p50(dur(burstBatches, "triggerExecution")), "ms")
    rec.put("streaming.burst_add_batch_ms_p50", p50(dur(burstBatches, "addBatch")), "ms")
    rec.put("streaming.backlog_files_max", backlogMax, "count")
    rec.put("sink.posts", receiver.posts.sum().toDouble, "count")
    rec.put("sink.send_ms_p50", p50(TimedTransport.sendNs.asScala.toSeq.map(_ / 1e6)), "ms")
    rec.put("sink.dup_docs", receiver.dups.sum().toDouble, "count")
    rec.put("generator.late_ms_max", lateMs.max, "ms")
    logPipeline()
    // single-core reading: the same backlog shape at local[1]
    tr.span("phase", "burst-1core") {
      ctx.stopSpark()
      ctx.startSpark(1)
      val (q, in) = startStream("one")
      val failuresBefore = receiver.failureList.size
      val (_, s1) = runBurst(q, in, burst1, "burst1")
      drainAndStop(q)
      rec.put("scaling.ship_burst_1core_ratio", s1 / rec.metrics("work_s")._1, "ratio")
      rec.attempted += burst1.map(f => f.gseqHi - f.gseqLo).sum
      val missing = burst1.map(f => receiver.missing(f.gseqLo, f.gseqHi)).sum
      if (missing > 0) rec.fail(s"ship: $missing single-core burst docs never arrived")
      receiver.failureList.drop(failuresBefore).foreach(rec.fail)
    }
  }

  private def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  private def triggerMs(p: StreamingQueryProgress): Long =
    Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)

  /** Files written but not yet consumed when each steady-phase batch
    * started, from the per-batch row counts (every file's record count is
    * known). The bursts are left out: each writes its whole backlog at once.
    */
  private def backlogFilesMax(files: Seq[(Long, Int)]): Double = {
    val rowsBefore = files.scanLeft(0L)(_ + _._2)
    var consumedRows = 0L
    var maxBacklog = 0
    steadyBatches.foreach { p =>
      val consumedFiles = rowsBefore.lastIndexWhere(_ <= consumedRows)
      maxBacklog = math.max(maxBacklog, files.count(_._1 <= startMs(p)) - consumedFiles)
      consumedRows += p.numInputRows
    }
    maxBacklog.toDouble
  }

  /** Layer timings of `LogPipeline` over a captured slice of this run's
    * input, in batch mode: decode, then the full pipeline, then the wire
    * JSON, each timed separately (median of three runs).
    */
  private def logPipeline(): Unit = {
    import graft.operators.LogPipeline
    val spark = ctx.spark
    // the first burst's first file, where the measured stream read it
    val raw = spark.read.schema(ShipperStream.recordSchema)
      .json(ctx.work.resolve("ship/live/in/burst0-0000.json").toString).cache()
    val records = raw.count()
    // each stage's output is hashed and reduced to one value, so every
    // column is computed
    def timeMs(df: => org.apache.spark.sql.DataFrame): Double = {
      import org.apache.spark.sql.functions.{col, map_entries, max, xxhash64}
      val xs = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        val d = df
        // maps are not hashable; their entry arrays are
        val cols = d.schema.fields.map(f => f.dataType match {
          case _: org.apache.spark.sql.types.MapType => map_entries(col(f.name))
          case _ => col(f.name)
        })
        d.select(max(xxhash64(cols.toIndexedSeq: _*))).collect()
        (System.nanoTime() - t0) / 1e6
      }
      Stats.median(xs)
    }
    val tr = ctx.tracer
    val decode = tr.span("call", "LogPipeline.decodeRecords")(timeMs(LogPipeline.decodeRecords(raw)))
    val full = tr.span("call", "LogPipeline.pipeline")(timeMs(LogPipeline.pipeline(raw)))
    // the wire step over materialized docs, less the scan of those docs
    val docs = LogPipeline.pipeline(raw).cache()
    val nDocs = docs.count()
    val wire = tr.span("call", "LogPipeline.wireJson")(
      timeMs(docs.select(LogPipeline.wireJson(docs).as("doc"))) - timeMs(docs))
    val rec = ctx.record
    rec.put("logpipeline.decode_us_per_record", decode * 1000 / records, "us")
    rec.put("logpipeline.parse_us_per_doc", math.max(0.0, full - decode) * 1000 / nDocs, "us")
    rec.put("logpipeline.wire_us_per_doc", math.max(0.0, wire) * 1000 / nDocs, "us")
    rec.put("logpipeline.docs_per_record", nDocs.toDouble / records, "ratio")
    docs.unpersist()
    raw.unpersist()
  }
}

/** An input file written ahead, with the `gseq` range of the docs it ships
  * and its record count.
  */
final case class Staged(path: Path, gseqLo: Int, gseqHi: Int, records: Int)

object ShipWorkload {
  val BulkSize = 100            // serverless.yml:36 of the reference
  val TriggerMs = 2000L         // serverless.yml:37 of the reference
  // eight files make four equal input splits at local[4] (two files each)
  val MaxFilesPerTrigger = 8
  val SteadyRate = 2000         // docs/s
  val FileEveryMs = 500         // four files a trigger, half the admission cap
  val Bursts = 2
  val BurstFiles = 16           // two batches of eight files
  val BurstDocsPerFile = 12500
  val BurstLeadMs = 150L
  val PrimeTimeoutS = 60.0
  val SteadyTimeoutS = 60.0
  val BurstTimeoutS = 90.0
}
