package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

/** What the receiver must see for one kept log event. */
final case class Expected(severity: String, errorType: String,
                          function: String)

/** One input file of Kinesis-shaped JSON lines and the doc sequence numbers
  * (`gseq`) of the events it will ship.
  */
final case class EnvFile(lines: Array[String], gseqLo: Int, gseqHi: Int,
                         records: Int)

/** Seeded generator of the shipper's input: Kinesis records whose `data` is
  * base64(gzip(CloudWatch Logs payload)), carrying the full mix of message
  * variants the reference parser distinguishes (JSON, structured, raw,
  * platform lines, control messages, the error classes and the
  * `split('\t', 3)` tail quirk).
  *
  * Every event that the pipeline keeps embeds `gseq=<n>` in the text that
  * ends up as the shipped doc's `message`, so the receiver can match each
  * doc to the severity and error type it must carry. Gzip runs here, in
  * plain JVM code, before anything is timed. A generator numbers its
  * events from `base`, so generators with disjoint ranges can run in
  * parallel.
  */
final class Envelopes(seed: Long, base: Int = 0) {
  private val rnd = new SplittableRandom(seed)
  private val expected = scala.collection.mutable.ArrayBuffer.empty[Expected]

  def expectedFor(gseq: Int): Expected = expected(gseq - base)
  /** The next gseq this generator assigns. */
  def size: Int = base + expected.size

  private def hex(n: Int): String = {
    val b = new StringBuilder
    for (_ <- 0 until n) b.append(Character.forDigit(rnd.nextInt(16), 16))
    b.toString
  }
  private def uuid: String = s"${hex(8)}-${hex(4)}-${hex(4)}-${hex(4)}-${hex(12)}"
  private def iso: String =
    f"2024-0${1 + rnd.nextInt(9)}-1${rnd.nextInt(10)}T1${rnd.nextInt(10)}:" +
      f"${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d.${rnd.nextInt(1000)}%03dZ"

  /** A kept event: (message, severity, error type). */
  private def keptMessage(g: Int): (String, String, String) = {
    val tag = s"gseq=$g"
    rnd.nextInt(13) match {
      case 0 => (s"""{"timestamp":"$iso","requestId":"$uuid","message":"handled request $tag","k":${rnd.nextInt(100)}}""", "debug", null)
      case 1 => (s"""{"timestamp":"$iso","requestId":"$uuid","message":"DB error: timeout $tag"}""", "error", "runtime")
      case 2 => (s"""{"timestamp":"$iso","requestId":"$uuid","level":"info","note":"$tag"}""", "debug", null)
      case 3 => (s"$iso\t$uuid\tHello World! $tag", "debug", null)
      case 4 => (s"$iso\t$uuid\tpart $tag\terror in the tail\tc", "debug", null)
      case 5 => (s"plain text line $tag", "debug", null)
      case 6 => (s"unable to import module 'index' $tag", "error", "configuration")
      case 7 => (s"Task timed out after 3.00 seconds $tag", "error", "timeout")
      case 8 => (s"module initialization error: boom $tag", "error", "runtime")
      case 9 => (s"""{"message":5,"inner":{"message":"x"},"note":"$tag"}""", "debug", null)
      case 10 => (s"""{"message":"m $tag","ctx":{"a":1}}""", "debug", null)
      case 11 => ("{\"\\u006dessage\":\"hi \\u0065rror " + tag + "\"}", "error", "runtime")
      case _ => (s"RequestId: $uuid Process exited before completing request $tag", "error", "timeout")
    }
  }

  private def platformMessage: String = {
    val id = uuid
    rnd.nextInt(3) match {
      case 0 => s"START RequestId: $id Version: $$LATEST"
      case 1 => s"END RequestId: $id"
      case _ => s"REPORT RequestId: $id\tDuration: 1.${rnd.nextInt(100)} ms"
    }
  }

  private def record(payload: String): String = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(payload.getBytes(UTF_8)); gz.close()
    val data = java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    s"""{"data":"$data","region":"us-east-1"}"""
  }

  /** A file holding at least `docs` kept events (whole records only, so at
    * most [[Envelopes.MaxEventsPerRecord]] - 1 more).
    */
  def file(docs: Int): EnvFile = {
    val lo = size
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    while (size - lo < docs) {
      if (rnd.nextInt(50) == 0) {
        lines += record("""{"messageType":"CONTROL_MESSAGE","logGroup":"","logStream":"",""" +
          """"logEvents":[{"id":"","timestamp":0,"message":"CWL CONTROL MESSAGE: Checking health of destination"}]}""")
      } else {
        val fn = s"fn-${rnd.nextInt(8)}"
        val version = if (rnd.nextBoolean()) "$LATEST" else (1 + rnd.nextInt(9)).toString
        val n = 1 + rnd.nextInt(Envelopes.MaxEventsPerRecord)
        val events = (0 until n).map { i =>
          val msg = if (rnd.nextInt(6) == 0) platformMessage
          else {
            val (m, sev, et) = keptMessage(size)
            expected += Expected(sev, et, fn)
            m
          }
          s"""{"id":"${hex(16)}","timestamp":${1700000000000L + i},"message":${Json.str(msg)}}"""
        }
        lines += record(s"""{"messageType":"DATA_MESSAGE","logGroup":"/aws/lambda/$fn",""" +
          s""""logStream":"2024/01/01/[$version]${hex(32)}","logEvents":${events.mkString("[", ",", "]")}}""")
      }
    }
    EnvFile(lines.toArray, lo, size, lines.size)
  }
}

object Envelopes {
  val MaxEventsPerRecord = 8
  private val Gseq = "gseq=(\\d+)".r

  /** The gseq embedded in a shipped doc's message, if any. */
  def gseqOf(message: String): Option[Int] =
    if (message == null) None
    else Gseq.findFirstMatchIn(message).map(_.group(1).toInt)
}
