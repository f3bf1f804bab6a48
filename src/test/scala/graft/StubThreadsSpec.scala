package graft

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.LiveQueries.{startChStub, startStub, statusJson, StubDoc}

/** The loopback doubles own their threads: `stop(0)` on a
  * [[graft.queries.LiveQueries.startStub]] or `startChStub` server also
  * releases its handler pool, so a stopped double leaves no thread
  * behind (a fuzz soak starts one per trial). No SparkSession needed.
  */
class StubThreadsSpec extends AnyFunSuite {

  private val docs = (0 until 8).map { i =>
    val tu = 1704000000000000L + i * 1000L
    StubDoc(s"d$i", "s0", tu, statusJson(s"d$i", "s0", tu, "v2.0", "{}"))
  }

  private def stubThreads(): Int = Thread.getAllStackTraces.keySet.asScala
    .count(t => t.isAlive && (t.getName == "live-es-stub" || t.getName == "live-ch-stub"))

  /** Waits up to 10 s for the stub threads to drop to `n`; the count. */
  private def awaitStubThreads(n: Int): Int = {
    val deadline = System.nanoTime() + 10000000000L
    while (stubThreads() > n && System.nanoTime() < deadline) Thread.sleep(20)
    stubThreads()
  }

  /** Starts both doubles, serves 40 concurrent requests to each, stops
    * them; the number of stub threads alive just before the stop.
    */
  private def cycle(callers: java.util.concurrent.ExecutorService, client: HttpClient): Int = {
    val es = startStub(docs)
    val (ch, _) = startChStub()
    try {
      def post(port: Int, path: String, body: String): Callable[Int] = () =>
        client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString()).statusCode()
      val calls = (0 until 40).flatMap { _ =>
        Seq(post(es.getAddress.getPort, "/device-status/_search", """{"size":2}"""),
          post(ch.getAddress.getPort, "/", "CREATE TABLE signal"))
      }
      val codes = callers.invokeAll(calls.asJava).asScala.map(_.get())
      assert(codes.forall(_ == 200), s"every request is served: $codes")
      stubThreads()
    } finally { es.stop(0); ch.stop(0) }
  }

  private def withCallers[T](body: (java.util.concurrent.ExecutorService, HttpClient) => T): T = {
    val callers = Executors.newFixedThreadPool(8)
    val clientPool = Executors.newFixedThreadPool(2)
    try body(callers, HttpClient.newBuilder().executor(clientPool).build())
    finally { callers.shutdown(); clientPool.shutdown() }
  }

  test("after stop(0) no live-es-stub or live-ch-stub thread survives") {
    val before = stubThreads()
    withCallers { (callers, client) =>
      val serving = cycle(callers, client)
      assert(serving > before, "the doubles served on their own pools")
      assert(awaitStubThreads(before) === before,
        s"stopped doubles left ${stubThreads() - before} stub threads alive")
    }
  }

  test("the JVM's thread count does not grow over 20 start/serve/stop cycles") {
    val threads = ManagementFactory.getThreadMXBean
    withCallers { (callers, client) =>
      val before = stubThreads()
      cycle(callers, client) // warm-up: the callers' and client's own threads
      awaitStubThreads(before)
      val base = threads.getThreadCount
      for (_ <- 1 to 20) { cycle(callers, client); awaitStubThreads(before) }
      val grown = threads.getThreadCount - base
      // a leaking double grows the count by up to 64 threads per cycle;
      // the slack absorbs unrelated JVM threads coming and going
      assert(grown <= 8, s"thread count grew by $grown over 20 cycles")
    }
  }

  test("statusJson renders the seeded CloudEvents envelope") {
    assert(statusJson("e7", "s1", 1704000000123456L, "v1.0", """{"speed":5}""") ===
      """{"id":"e7","subject":"s1","source":"dimo/integration/live","specversion":"1.0",""" +
        """"time":"2023-12-31T05:20:00.123456Z","dataschema":"dimo.zone.status/v1.0",""" +
        """"type":"com.dimo.device.status","data":{"speed":5}}""")
  }
}
