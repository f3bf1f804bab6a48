package graft.perfbench

import java.io.FilterOutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import com.sun.net.httpserver.{Filter, HttpContext, HttpExchange, HttpHandler, HttpServer}
import com.sun.net.httpserver.spi.HttpServerProvider

import graft.queries.LiveQueries

/** The ES test double in its own JVM, so its CPU is not billed to the
  * engine: `LiveQueries.startStub` over the seeded corpus of one
  * workload.
  *
  * Usage: `StubMain <workload> <seed> <portFile>`. Writes the port to
  * `portFile` once serving and exits when its standard input closes
  * (the parent's end of the pipe), so the double never outlives the
  * benchmark.
  *
  * `GET /__bench/counters` answers the counts taken at the double:
  * search requests, documents served, response bytes and the process's
  * CPU time. Requests and bytes are counted by a filter on the double's
  * `/` context, installed through the JDK's `HttpServerProvider` hook
  * (requires `--add-exports jdk.httpserver/sun.net.httpserver=ALL-UNNAMED`).
  */
object StubMain {

  val requests = new LongAdder
  val bytes = new LongAdder

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, portFile) = args
    val server = serve(Gen.corpus(workload, seedArg.toLong))
    val tmp = Paths.get(portFile + ".tmp")
    Files.writeString(tmp, server.getAddress.getPort.toString)
    Files.move(tmp, Paths.get(portFile), StandardCopyOption.ATOMIC_MOVE)
    while (System.in.read() != -1) ()
    server.stop(0)
    sys.exit(0)
  }

  /** Serves `c` (the filtered projection when its shape names signals)
    * plus the counter endpoint. Must create the JVM's first HttpServer.
    */
  def serve(c: Gen.Corpus): HttpServer = {
    System.setProperty("com.sun.net.httpserver.HttpServerProvider",
      classOf[CountingProvider].getName)
    val projected = c.shape.signalNames.nonEmpty
    val docs = c.docs.map { d =>
      LiveQueries.StubDoc(d.id, d.subject, d.timeMs * 1000L, Gen.renderFull(d),
        if (projected) Some(Gen.renderProjected(d, c.shape.defs)) else None)
    }
    val served = new AtomicLong
    val server = LiveQueries.startStub(docs, requireSignalClauses = projected, served = served)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    server.createContext("/__bench/counters", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        ex.getRequestBody.readAllBytes()
        val b = (s"""{"requests":${requests.sum()},"docs":${served.get()},""" +
          s""""bytes":${bytes.sum()},"cpu_ns":${os.getProcessCpuTime}}""")
          .getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b)
        ex.close()
      }
    })
    server
  }
}

/** Counts requests and response-body bytes on the double's `/` context. */
private object CountingFilter extends Filter {
  override def description(): String = "benchmark request and byte counter"
  override def doFilter(ex: HttpExchange, chain: Filter.Chain): Unit = {
    StubMain.requests.increment()
    ex.setStreams(null, new FilterOutputStream(ex.getResponseBody) {
      override def write(b: Int): Unit = { StubMain.bytes.increment(); out.write(b) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        StubMain.bytes.add(len.toLong); out.write(b, off, len)
      }
    })
    chain.doFilter(ex)
  }
}

class CountingProvider extends HttpServerProvider {
  private val inner = new sun.net.httpserver.DefaultHttpServerProvider
  override def createHttpServer(addr: InetSocketAddress, backlog: Int): HttpServer =
    new CountingServer(inner.createHttpServer(addr, backlog))
  override def createHttpsServer(addr: InetSocketAddress, backlog: Int) =
    inner.createHttpsServer(addr, backlog)
}

/** Delegates everything; adds [[CountingFilter]] to the `/` context. */
private class CountingServer(inner: HttpServer) extends HttpServer {
  override def bind(addr: InetSocketAddress, backlog: Int): Unit = inner.bind(addr, backlog)
  override def start(): Unit = inner.start()
  override def setExecutor(e: java.util.concurrent.Executor): Unit = inner.setExecutor(e)
  override def getExecutor: java.util.concurrent.Executor = inner.getExecutor
  override def stop(delay: Int): Unit = inner.stop(delay)
  override def createContext(path: String, handler: HttpHandler): HttpContext = {
    val ctx = inner.createContext(path, handler)
    if (path == "/") ctx.getFilters.add(CountingFilter)
    ctx
  }
  override def createContext(path: String): HttpContext = inner.createContext(path)
  override def removeContext(path: String): Unit = inner.removeContext(path)
  override def removeContext(ctx: HttpContext): Unit = inner.removeContext(ctx)
  override def getAddress: InetSocketAddress = inner.getAddress
}
