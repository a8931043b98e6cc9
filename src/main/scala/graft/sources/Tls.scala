package graft.sources

import java.net.Socket
import java.security.KeyStore
import javax.net.ssl.{KeyManagerFactory, SSLContext, SSLServerSocket, SSLSocket, TrustManagerFactory}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** TLS plumbing shared by the wire transports (Kafka, Mongo, MySQL
  * binlog, ES REST). Production listeners for all four protocols are
  * TLS in any security-conscious deployment — Kafka's SSL listener and
  * mongod's tlsMode speak TLS from byte zero, MySQL upgrades mid-
  * handshake (client sends SSLRequest, then the channel switches), and
  * ES 8 serves HTTPS by default. The reference gets this layer from its
  * client libraries (go-mysql/mgo/sarama/olivere all take tls.Config);
  * here it is explicit: an `SSLContext` built from PKCS12 stores, with
  * HTTPS-style endpoint identification ON for client sockets (a client
  * that skips hostname verification trusts any certificate holder —
  * the MITM posture the SCRAM layer already refuses).
  */
object Tls {

  /** Server-side context: private key + cert chain from a PKCS12 store. */
  def serverContext(keystorePath: String, password: Array[Char]): SSLContext = {
    val ks = KeyStore.getInstance("PKCS12")
    val in = new java.io.FileInputStream(keystorePath)
    try ks.load(in, password) finally in.close()
    val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, password)
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    ctx
  }

  /** Client-side context trusting the certificates in `storePath` — the
    * store may hold trusted-cert entries OR private-key entries (their
    * chains are lifted into an in-memory truststore, so the same PKCS12
    * file works for both sides of a test or a self-signed deployment).
    */
  def clientContext(storePath: String, password: Array[Char]): SSLContext = {
    val src = KeyStore.getInstance("PKCS12")
    val in = new java.io.FileInputStream(storePath)
    try src.load(in, password) finally in.close()
    val trust = KeyStore.getInstance(KeyStore.getDefaultType)
    trust.load(null, null)
    val aliases = src.aliases()
    var n = 0
    while (aliases.hasMoreElements) {
      val alias = aliases.nextElement()
      if (src.isCertificateEntry(alias)) {
        trust.setCertificateEntry(alias, src.getCertificate(alias)); n += 1
      } else {
        val chain = src.getCertificateChain(alias)
        if (chain != null) chain.zipWithIndex.foreach { case (c, i) =>
          trust.setCertificateEntry(s"$alias-$i", c); n += 1
        }
      }
    }
    require(n > 0, s"tls: no certificates found in $storePath")
    val tmf = TrustManagerFactory.getInstance(TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(trust)
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(null, tmf.getTrustManagers, null)
    ctx
  }

  /** The client context a source's `tlsTruststore` / `tlsPassword`
    * options name; None when no truststore is set (plain transport).
    */
  def fromOptions(options: CaseInsensitiveStringMap): Option[SSLContext] =
    Option(options.get("tlsTruststore")).filter(_.nonEmpty).map(p =>
      clientContext(p, Option(options.get("tlsPassword")).getOrElse("").toCharArray))

  /** Fresh client connection with SNI + HTTPS endpoint identification
    * (hostname must match the certificate's SAN — `localhost` or an IP
    * entry in tests, the broker's DNS name in production).
    */
  def clientSocket(ctx: SSLContext, host: String, port: Int): SSLSocket = {
    val s = ctx.getSocketFactory.createSocket(host, port).asInstanceOf[SSLSocket]
    identify(s)
    s.startHandshake()
    s
  }

  /** STARTTLS upgrade of an already-connected plain socket (the MySQL
    * shape: plain handshake, SSLRequest, then this).
    */
  def upgradeClient(ctx: SSLContext, plain: Socket, host: String, port: Int): SSLSocket = {
    val s = ctx.getSocketFactory
      .createSocket(plain, host, port, true).asInstanceOf[SSLSocket]
    identify(s)
    s.startHandshake()
    s
  }

  private def identify(s: SSLSocket): Unit = {
    val p = s.getSSLParameters
    p.setEndpointIdentificationAlgorithm("HTTPS")
    s.setSSLParameters(p)
  }

  /** Loopback TLS listener (stub servers). */
  def serverSocket(ctx: SSLContext): SSLServerSocket =
    ctx.getServerSocketFactory.createServerSocket(0, 16,
      java.net.InetAddress.getLoopbackAddress).asInstanceOf[SSLServerSocket]

  /** Server-side STARTTLS upgrade of an accepted plain socket. `consumed`
    * holds bytes a buffered reader already took off the socket after the
    * plaintext upgrade request (a ClientHello that arrived in the same
    * read); the handshake reads them before the socket.
    */
  def upgradeServer(ctx: SSLContext, plain: Socket,
      consumed: Array[Byte] = Array.emptyByteArray): SSLSocket = {
    val s = ctx.getSocketFactory
      .createSocket(plain, new java.io.ByteArrayInputStream(consumed), true)
      .asInstanceOf[SSLSocket]
    s.startHandshake()
    s
  }
}
