package graft.queries

import java.io.FileInputStream
import java.net.InetSocketAddress
import java.security.KeyStore

import javax.net.ssl.{KeyManagerFactory, SSLContext, TrustManagerFactory}

import com.sun.net.httpserver.{HttpsConfigurator, HttpsParameters, HttpsServer}

/** Self-signed TLS material + HTTPS loopback servers for the live tier's
  * trust/mTLS surface ([[graft.sources.LiveWire]]): a private-CA
  * deployment in miniature, generated once per JVM with the JDK's own
  * `keytool` (PKCS12 keypairs, SAN `IP:127.0.0.1` so the client's
  * endpoint identification — which the JDK HttpClient always performs —
  * has something real to verify).
  *
  * Four stores:
  *   - `serverKeystore`  — the server's identity (what a real CH/ES
  *     cluster presents);
  *   - `truststore`      — the CLIENT's trust anchor holding the server
  *     cert (`tlsTruststore` option);
  *   - `clientKeystore`  — the client's OWN identity for mutual TLS
  *     (`tlsKeystore` option);
  *   - `serverTruststore` — the SERVER's trust anchor holding the client
  *     cert (what `needClientAuth` verifies against).
  */
object TlsStub {

  final case class Material(dir: java.nio.file.Path, password: String,
      serverKeystore: String, truststore: String,
      clientKeystore: String, serverTruststore: String)

  private def keytool(args: String*): Unit = {
    val cmd = (Seq("keytool") ++ args).toArray
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    val code = p.waitFor()
    require(code == 0, s"keytool ${args.headOption.getOrElse("")} failed ($code): $out")
  }

  /** Generate one keypair + exported cert; returns (keystore, cert). */
  private def identity(dir: java.nio.file.Path, alias: String, pass: String)
      : (String, String) = {
    val ks = dir.resolve(s"$alias.p12").toString
    val cer = dir.resolve(s"$alias.cer").toString
    keytool("-genkeypair", "-alias", alias, "-keyalg", "RSA", "-keysize", "2048",
      "-storetype", "PKCS12", "-keystore", ks, "-storepass", pass, "-keypass", pass,
      "-dname", "CN=localhost", "-ext", "SAN=IP:127.0.0.1,DNS:localhost",
      "-validity", "7")
    keytool("-exportcert", "-alias", alias, "-keystore", ks, "-storepass", pass,
      "-file", cer)
    (ks, cer)
  }

  private def trustOf(dir: java.nio.file.Path, name: String, alias: String,
      cert: String, pass: String): String = {
    val ts = dir.resolve(s"$name.p12").toString
    keytool("-importcert", "-alias", alias, "-file", cert, "-keystore", ts,
      "-storetype", "PKCS12", "-storepass", pass, "-noprompt")
    ts
  }

  /** One generation per JVM (two RSA keypairs ≈ a second of CPU); the
    * spec suite and every gate entry share it.
    */
  lazy val shared: Material = {
    val dir = java.nio.file.Files.createTempDirectory("graft-tls")
    dir.toFile.deleteOnExit()
    val pass = "graft-test-pass"
    val (serverKs, serverCer) = identity(dir, "server", pass)
    val (clientKs, clientCer) = identity(dir, "client", pass)
    val m = Material(dir, pass,
      serverKeystore = serverKs,
      truststore = trustOf(dir, "trust", "server", serverCer, pass),
      clientKeystore = clientKs,
      serverTruststore = trustOf(dir, "servertrust", "client", clientCer, pass))
    // exit-time deletes run in reverse registration order: the files go
    // first, so the directory is empty when its own delete runs
    val files = java.nio.file.Files.list(dir)
    try files.forEach(_.toFile.deleteOnExit()) finally files.close()
    m
  }

  private[graft] def load(path: String, pass: String): KeyStore = {
    val ks = KeyStore.getInstance("PKCS12")
    val in = new FileInputStream(path)
    try ks.load(in, pass.toCharArray) finally in.close()
    ks
  }

  /** The server side of the handshake: its own identity, plus — under
    * `needClientAuth` — trust in the client's certificate.
    */
  def serverContext(m: Material, needClientAuth: Boolean): SSLContext = {
    val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(load(m.serverKeystore, m.password), m.password.toCharArray)
    val tms = if (needClientAuth) {
      val tmf = TrustManagerFactory.getInstance(TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(load(m.serverTruststore, m.password))
      tmf.getTrustManagers
    } else null
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, tms, null)
    ctx
  }

  /** An HTTPS loopback server ready for a stub's `createContext` —
    * `HttpsServer` IS an `HttpServer`, so [[ChSignalStub.start]] attaches
    * its grammar unchanged and the whole DSv2 read/write path runs over a
    * real handshake.
    */
  def httpsServer(m: Material, needClientAuth: Boolean): HttpsServer = {
    val ctx = serverContext(m, needClientAuth)
    val server = HttpsServer.create(new InetSocketAddress("127.0.0.1", 0), 1024)
    server.setHttpsConfigurator(new HttpsConfigurator(ctx) {
      override def configure(params: HttpsParameters): Unit = {
        val p = ctx.getDefaultSSLParameters
        p.setNeedClientAuth(needClientAuth)
        params.setSSLParameters(p)
      }
    })
    server
  }

  /** The client-side wire spec for [[shared]] — what a user passes as the
    * `tlsTruststore`/`tlsKeystore` options.
    */
  def clientWire(m: Material, mtls: Boolean): graft.sources.LiveWire =
    graft.sources.LiveWire(
      truststore = Some(m.truststore),
      truststorePassword = Some(m.password),
      keystore = if (mtls) Some(m.clientKeystore) else None,
      keystorePassword = if (mtls) Some(m.password) else None)
}
