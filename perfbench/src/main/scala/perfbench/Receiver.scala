package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLongArray, LongAdder}

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process Elasticsearch `_bulk` endpoint on localhost, reached by the
  * engine through its public `HttpBulkTransport`.
  *
  * It checks every NDJSON (action, doc) line pair, matches each doc to its
  * generated event by `gseq`, and stamps the first arrival. A doc that is
  * malformed, unknown, or shipped with the wrong severity, error type or
  * function name is a failure; a second delivery of the same doc is a
  * duplicate (delivery is at-least-once by design), not a failure.
  */
final class Receiver(expected: Int => Option[Expected], capacity: Int,
                     threads: Int) {
  private val mapper = new ObjectMapper()
  val arrivalNs = new AtomicLongArray(capacity)
  val posts = new LongAdder
  val dups = new LongAdder
  private val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.createContext("/_bulk", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/_bulk"

  def failureList: Seq[String] = {
    import scala.jdk.CollectionConverters._
    failures.asScala.toSeq
  }

  private def fail(msg: String): Unit =
    if (failures.size < 1000) failures.add(msg)

  private def handle(ex: HttpExchange): Unit = {
    try {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val now = System.nanoTime()
      posts.increment()
      accept(body, now)
      ex.sendResponseHeaders(200, -1)
    } catch {
      case e: Throwable =>
        fail(s"receiver: ${e.getClass.getSimpleName}: ${e.getMessage}")
        ex.sendResponseHeaders(400, -1)
    } finally ex.close()
  }

  /** Check one `_bulk` body received at `now`. Public so the checker can be
    * tested without a socket.
    */
  def accept(body: String, now: Long): Unit = {
    val lines = body.split("\n", -1)
    if (lines.length % 2 != 0) { fail("odd NDJSON line count"); return }
    var i = 0
    while (i < lines.length) {
      val action = mapper.readTree(lines(i))
      val doc = mapper.readTree(lines(i + 1))
      val actionSev = Option(action.path("index").get("severity")).map(_.asText).orNull
      val msg = Option(doc.get("message")).map(_.asText).orNull
      Envelopes.gseqOf(msg) match {
        case None => fail(s"doc without gseq: ${lines(i + 1).take(120)}")
        case Some(g) if g >= capacity || expected(g).isEmpty =>
          fail(s"unknown gseq $g")
        case Some(g) =>
          val e = expected(g).get
          def field(k: String) = Option(doc.get(k)).map(_.asText).orNull
          if (field("severity") != e.severity || actionSev != e.severity ||
              field("error.type") != e.errorType ||
              field("function.name") != e.function)
            fail(s"gseq $g misclassified: severity=${field("severity")} " +
              s"error.type=${field("error.type")} expected ${e.severity}/${e.errorType}")
          if (!arrivalNs.compareAndSet(g, 0L, now)) dups.increment()
      }
      i += 2
    }
  }

  /** gseqs in [lo, hi) that never arrived. */
  def missing(lo: Int, hi: Int): Int = (lo until hi).count(g => arrivalNs.get(g) == 0L)

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
