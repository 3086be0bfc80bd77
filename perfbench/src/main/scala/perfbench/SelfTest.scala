package perfbench

/** Self-tests of the benchmark's own logic (no Spark): the seeded input
  * generator, the tail-percentile rule and the `_bulk` receiver's checks.
  * Run through `python3 perfbench/run.py --selftest`; exits 1 on failure.
  */
object SelfTest {
  private var failed = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failed += 1
  }

  /** A `_bulk` body shipping `gseqs` of `gen` as the engine would. */
  private def body(gen: Envelopes, gseqs: Seq[Int],
                   severity: Int => String = null): String =
    gseqs.map { g =>
      val e = gen.expectedFor(g)
      val sev = Option(severity).map(_(g)).getOrElse(e.severity)
      val et = Option(e.errorType).map(t => s""","error.type":"$t"""").getOrElse("")
      s"""{"index":{"severity":"$sev"}}""" + "\n" +
        s"""{"function.name":"${e.function}","message":"m gseq=$g","severity":"$sev"$et}"""
    }.mkString("\n")

  def main(args: Array[String]): Unit = {
    def lines(seed: Long) = { val g = new Envelopes(seed); Seq.fill(3)(g.file(200).lines.toSeq) }
    check("generator: same seed, same records")(lines(7) == lines(7))
    check("generator: another seed, other records")(lines(7) != lines(8))
    check("generator: every kept event has an expectation") {
      val g = new Envelopes(3)
      val f = g.file(500)
      f.gseqHi - f.gseqLo >= 500 && g.size == f.gseqHi
    }
    check("generator: every record is base64(gzip(CloudWatch JSON))") {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      new Envelopes(9).file(300).lines.forall { line =>
        val data = java.util.Base64.getDecoder.decode(mapper.readTree(line).get("data").asText)
        val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(data))
        val payload = mapper.readTree(in.readAllBytes())
        payload.has("messageType") && payload.get("logEvents").isArray
      }
    }
    check("generator: the variant mix covers every class") {
      val g = new Envelopes(5)
      val f = g.file(2000)
      val kinds = (f.gseqLo until f.gseqHi).map(g.expectedFor).map(e => (e.severity, e.errorType)).toSet
      kinds == Set(("debug", null), ("error", "runtime"), ("error", "configuration"), ("error", "timeout"))
    }

    check("tail rule: p99 needs 1000 samples")(
      Stats.highestSupported(999).contains(0.95) && Stats.highestSupported(1000).contains(0.99))
    check("tail rule: p50 needs 20 samples, fewer support nothing")(
      Stats.highestSupported(20).contains(0.5) && Stats.highestSupported(19).isEmpty)
    check("tail rule: ten samples beyond the chosen rank") {
      (20 to 5000 by 7).forall { n =>
        Stats.highestSupported(n).forall(p => n - math.ceil(p * n).toLong >= 10)
      }
    }
    check("quantile: interpolates")(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5)

    val gen = new Envelopes(11)
    val f = gen.file(300)
    val all = f.gseqLo until f.gseqHi
    def receiver() = new Receiver(g => if (g < gen.size) Some(gen.expectedFor(g)) else None, gen.size, 1)
    check("receiver: a faithful delivery passes") {
      val r = receiver()
      try { r.accept(body(gen, all), 1L); r.failureList.isEmpty && r.missing(f.gseqLo, f.gseqHi) == 0 }
      finally r.stop()
    }
    check("receiver: a dropped doc is caught") {
      val r = receiver()
      try { r.accept(body(gen, all.tail), 1L); r.missing(f.gseqLo, f.gseqHi) == 1 }
      finally r.stop()
    }
    check("receiver: a wrong severity is caught") {
      val r = receiver()
      val victim = all.find(g => gen.expectedFor(g).severity == "error").get
      try {
        r.accept(body(gen, all, g => if (g == victim) "debug" else gen.expectedFor(g).severity), 1L)
        r.failureList.exists(_.contains(s"gseq $victim misclassified"))
      } finally r.stop()
    }
    check("receiver: a redelivery is a duplicate, not a failure") {
      val r = receiver()
      try {
        r.accept(body(gen, all), 1L); r.accept(body(gen, all.take(1)), 2L)
        r.failureList.isEmpty && r.dups.sum() == 1
      } finally r.stop()
    }
    check("receiver: a malformed body is caught") {
      val r = receiver()
      try { r.accept("""{"index":{}}""", 1L); r.failureList.nonEmpty } finally r.stop()
    }
    println(if (failed == 0) "selftest: all passed" else s"selftest: $failed failed")
    System.exit(if (failed == 0) 0 else 1)
  }
}
