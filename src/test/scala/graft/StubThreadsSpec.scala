package graft

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{ChSignalStub, TlsStub}
import graft.queries.LiveQueries.{startStub, statusJson, urlOf, StubDoc}
import graft.sources.{ClickHouseDdl, SignalLiveSource}

/** The loopback doubles own their threads: `stop(0)` on a
  * [[graft.queries.LiveQueries.startStub]] server or on any form of
  * [[graft.queries.ChSignalStub.start]] (plain, gzip, TLS) also releases
  * its handler pool, so a stopped double leaves no thread behind (a fuzz
  * soak starts one per trial). No SparkSession needed.
  */
class StubThreadsSpec extends AnyFunSuite {

  private val docs = (0 until 8).map { i =>
    val tu = 1704000000000000L + i * 1000L
    StubDoc(s"d$i", "s0", tu, statusJson(s"d$i", "s0", tu, "v2.0", "{}"))
  }

  private val ddl = ClickHouseDdl.signalTableDdl(SignalLiveSource.Schema)

  private lazy val tls = TlsStub.shared

  /** Trusts the TLS double's certificate. */
  private lazy val clientTls: javax.net.ssl.SSLContext = {
    val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
      javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(TlsStub.load(tls.truststore, tls.password))
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(null, tmf.getTrustManagers, null)
    ctx
  }

  private def stubThreads(): Int = Thread.getAllStackTraces.keySet.asScala
    .count(t => t.isAlive && (t.getName == "live-es-stub" || t.getName == "live-ch-stub"))

  /** Waits up to 10 s for the stub threads to drop to `n`; the count. */
  private def awaitStubThreads(n: Int): Int = {
    val deadline = System.nanoTime() + 10000000000L
    while (stubThreads() > n && System.nanoTime() < deadline) Thread.sleep(20)
    stubThreads()
  }

  /** Starts the ES double and the plain, gzip and TLS forms of the
    * ClickHouse double, serves 40 concurrent requests to each, stops
    * them; the number of stub threads alive just before the stop.
    */
  private def cycle(callers: java.util.concurrent.ExecutorService, client: HttpClient): Int = {
    val es = startStub(docs)
    val ch = ChSignalStub.start()
    val chGzip = ChSignalStub.start(gzip = true)
    val chTls = ChSignalStub.start(TlsStub.httpsServer(tls, needClientAuth = false))
    try {
      def post(url: String, body: String): Callable[Int] = () =>
        client.send(HttpRequest.newBuilder(URI.create(url))
          .header("Accept-Encoding", "gzip")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString()).statusCode()
      val calls = (0 until 40).flatMap { _ =>
        post(s"${urlOf(es)}/device-status/_search", """{"size":2}""") +:
          Seq(ch, chGzip, chTls).map(s => post(s"${urlOf(s)}/", ddl))
      }
      val codes = callers.invokeAll(calls.asJava).asScala.map(_.get())
      assert(codes.forall(_ == 200), s"every request is served: $codes")
      stubThreads()
    } finally Seq(es, ch, chGzip, chTls).foreach(_.stop(0))
  }

  private def withCallers[T](body: (java.util.concurrent.ExecutorService, HttpClient) => T): T = {
    val callers = Executors.newFixedThreadPool(8)
    val clientPool = Executors.newFixedThreadPool(2)
    try body(callers, HttpClient.newBuilder().sslContext(clientTls).executor(clientPool).build())
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
      // a leaking double grows the count by up to 128 threads per cycle;
      // the slack absorbs unrelated JVM threads coming and going
      assert(grown <= 8, s"thread count grew by $grown over 20 cycles")
    }
  }

  test("urlOf reads https for the TLS ClickHouse double and http for the others") {
    val servers = Seq(ChSignalStub.start(), ChSignalStub.start(gzip = true),
      ChSignalStub.start(TlsStub.httpsServer(tls, needClientAuth = true)))
    try assert(servers.map(urlOf(_).takeWhile(_ != ':')) === Seq("http", "http", "https"))
    finally servers.foreach(_.stop(0))
  }

  test("in src/main only the pooled-server helper gives a stub server its executor") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val call = ".setExecutor("
    val walk = Files.walk(main)
    // (file, whether the call sits inside LiveQueries.pooledServer) per call
    val calls =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .flatMap { p =>
          val (file, text) = (main.relativize(p).toString, Files.readString(p))
          val start =
            if (file.endsWith("LiveQueries.scala")) text.indexOf("def pooledServer(") else -1
          val end = text.indexOf("\n  }\n", start)
          Iterator.iterate(text.indexOf(call))(i => text.indexOf(call, i + 1)).takeWhile(_ >= 0)
            .map(i => (file, start >= 0 && start < i && i < end))
        }.toList
      finally walk.close()
    assert(calls.exists(_._2), "pooledServer gives its server the pool")
    val outside = calls.filterNot(_._2).map(_._1)
    assert(outside.isEmpty,
      s"serve a stub through LiveQueries.pooledServer; setExecutor also in: $outside")
  }

  test("statusJson renders the seeded CloudEvents envelope") {
    assert(statusJson("e7", "s1", 1704000000123456L, "v1.0", """{"speed":5}""") ===
      """{"id":"e7","subject":"s1","source":"dimo/integration/live","specversion":"1.0",""" +
        """"time":"2023-12-31T05:20:00.123456Z","dataschema":"dimo.zone.status/v1.0",""" +
        """"type":"com.dimo.device.status","data":{"speed":5}}""")
  }
}
