package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** The go-plugin session around [[GrpcWire]]: gravity launches a filter
  * plugin binary and speaks gRPC to the address the binary prints
  * (hashicorp go-plugin handshake, pinned by the reference at
  * go-plugin v0.0.0-20190220 — go.mod:16; pkg/filters/grpc/shared.go
  * fixes the magic cookie BASIC_PLUGIN=hello and protocol version 1).
  *
  * Host side: [[GrpcPluginClient]] — launch, read `1|1|tcp|addr|grpc`,
  * connect h2c, health-check the `plugin` service, Configure once, then
  * one synchronous Filter rpc per row (pkg/filters/grpc/client.go).
  * Plugin side: [[MsgPbGrpcSidecar]] — a standalone JVM main that
  * refuses direct execution (cookie check), serves the msgpb
  * FilterPlugin methods plus go-plugin's health and controller
  * services, and exits on the controller Shutdown rpc or stdin EOF.
  */
object PluginHandshake {
  /** pkg/filters/grpc/shared.go:31-36 — gravity's HandshakeConfig. */
  val CookieKey = "BASIC_PLUGIN"
  val CookieValue = "hello"
  val CoreProtocolVersion = 1
  val AppProtocolVersion = 1

  val FilterConfigurePath = "/msgpb.FilterPlugin/Configure"
  val FilterPath = "/msgpb.FilterPlugin/Filter"
  /** go-plugin's own services, registered on every grpc plugin server. */
  val HealthCheckPath = "/grpc.health.v1.Health/Check"
  val ControllerShutdownPath = "/plugin.GRPCController/Shutdown"

  /** grpc.health.v1.HealthCheckRequest{ string service = 1 }. */
  def encodeHealthCheckRequest(service: String): Array[Byte] = {
    val b = service.getBytes("UTF-8")
    val out = new java.io.ByteArrayOutputStream(b.length + 2)
    out.write(0x0a); out.write(b.length); out.write(b, 0, b.length)
    out.toByteArray
  }

  /** grpc.health.v1.HealthCheckResponse{ ServingStatus status = 1 };
    * SERVING = 1.
    */
  def encodeHealthServing(): Array[Byte] = Array[Byte](0x08, 0x01)

  def decodeHealthStatus(b: Array[Byte]): Int =
    if (b.length >= 2 && b(0) == 0x08) b(1) & 0xff else 0
}

/** Host-role launcher mirroring hplugin.NewClient + Dispense
  * (pkg/filters/grpc_sidecar_filter.go:92-115): start the binary with
  * the magic cookie in env, parse the handshake line it prints, dial
  * the advertised address with [[GrpcWire.GrpcWireClient]].
  */
final class GrpcPluginClient(command: Seq[String]) extends AutoCloseable {
  import PluginHandshake._

  private val proc = {
    val pb = new ProcessBuilder(command: _*)
    pb.environment().put(CookieKey, CookieValue)
    pb.environment().put("PLUGIN_PROTOCOL_VERSIONS", AppProtocolVersion.toString)
    pb.environment().put("PLUGIN_MIN_PORT", "10000")
    pb.environment().put("PLUGIN_MAX_PORT", "25000")
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    pb.start()
  }

  val client: GrpcWire.GrpcWireClient = {
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream, "UTF-8"))
    val fut = java.util.concurrent.CompletableFuture.supplyAsync(() => reader.readLine())
    val line =
      try fut.get(20, java.util.concurrent.TimeUnit.SECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          proc.destroyForcibly()
          sys.error(s"plugin ${command.head} printed no handshake line within 20s")
      }
    if (line == null) {
      val rc = if (proc.waitFor(2, java.util.concurrent.TimeUnit.SECONDS))
        proc.exitValue().toString else "?"
      sys.error(s"plugin ${command.head} exited (rc=$rc) before the handshake line")
    }
    // anything the plugin prints after the handshake is log noise; drain
    // it so a chatty plugin can't block on a full pipe
    val drain = new Thread(() => {
      try { while (reader.readLine() != null) () } catch { case _: Exception => () }
    })
    drain.setDaemon(true)
    drain.start()
    // CORE-VERSION | APP-VERSION | NETWORK | ADDR | PROTOCOL
    val parts = line.trim.split('|')
    require(parts.length >= 4, s"plugin handshake malformed: '$line'")
    require(parts(0) == CoreProtocolVersion.toString,
      s"plugin core protocol ${parts(0)}, host speaks $CoreProtocolVersion")
    require(parts(1) == AppProtocolVersion.toString,
      s"plugin app protocol ${parts(1)}, host speaks $AppProtocolVersion")
    val protocol = if (parts.length >= 5) parts(4) else "netrpc"
    require(protocol == "grpc",
      s"plugin advertised '$protocol' transport; only grpc is supported " +
        "(gravity's AllowedProtocols is grpc-only, grpc_sidecar_filter.go:98-100)")
    require(parts(2) == "tcp",
      s"plugin advertised '${parts(2)}' network; this host dials tcp only")
    val addr = parts(3)
    val colon = addr.lastIndexOf(':')
    require(colon > 0, s"plugin address malformed: '$addr'")
    new GrpcWire.GrpcWireClient(addr.substring(0, colon),
      addr.substring(colon + 1).toInt).connect()
  }

  /** go-plugin's liveness probe: Health/Check on service "plugin". */
  def healthCheck(): Boolean = {
    val rsp = client.call(HealthCheckPath, encodeHealthCheckRequest("plugin"))
    PluginHandshake.decodeHealthStatus(rsp) == 1
  }

  /** Configure rpc; a response error fails loudly (client.go:35-50). */
  def configure(data: MsgPb.PbMap): Unit = {
    val rsp = client.call(FilterConfigurePath, MsgPb.encodeConfigureRequest(data))
    MsgPb.decodeConfigureResponse(rsp).foreach(e =>
      sys.error(s"grpc sidecar Configure failed: $e"))
  }

  def filter(msg: MsgPb.Msg): MsgPb.FilterResponse =
    MsgPb.decodeFilterResponse(
      client.call(FilterPath, MsgPb.encodeFilterRequest(msg)))

  /** Graceful then forceful stop — the controller Shutdown rpc is what
    * go-plugin's Kill sends before SIGKILL.
    */
  def close(): Unit = {
    try client.call(ControllerShutdownPath, Array.emptyByteArray)
    catch { case _: Exception => () }
    try client.close() catch { case _: Exception => () }
    if (!proc.waitFor(3, java.util.concurrent.TimeUnit.SECONDS)) proc.destroyForcibly()
  }

  /** Hard kill for task-failure paths where no rpc should be attempted. */
  def destroy(): Unit = {
    try client.close() catch { case _: Exception => () }
    proc.destroyForcibly()
  }

  def exitValue(timeoutMs: Long): Option[Int] =
    if (proc.waitFor(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS))
      Some(proc.exitValue())
    else None
}

/** A REAL grpc filter plugin: a standalone JVM process serving gravity's
  * filter contract over gRPC/h2c the way a go-plugin binary does —
  * same behavior as [[MsgPbStatusSidecar]] (o_orderstatus O→OPEN,
  * deletes dropped), reachable through the full handshake instead of
  * stdin/stdout frames. Exits 1 with go-plugin's complaint when run
  * without the magic cookie; exits 0 on the controller Shutdown rpc or
  * when its stdin closes (orphan protection).
  */
object MsgPbGrpcSidecar {
  import PluginHandshake._

  def filterHandler(req: Array[Byte]): Array[Byte] = {
    val msg = MsgPb.decodeFilterRequest(req)
    val dml = msg.dml.getOrElse(sys.error("grpc status sidecar: no DmlMsg"))
    val newData = dml.data.map {
      case ("o_orderstatus", MsgPb.PbValue.Str("O")) =>
        "o_orderstatus" -> MsgPb.PbValue.Str("OPEN")
      case kv => kv
    }
    MsgPb.encodeFilterResponse(MsgPb.FilterResponse(
      msg = Some(msg.copy(dml = Some(dml.copy(data = newData)))),
      continueNext = dml.op != "delete",
      error = None))
  }

  def main(args: Array[String]): Unit = {
    if (!sys.env.get(CookieKey).contains(CookieValue)) {
      System.err.println("This binary is a plugin. These are not meant to be " +
        "executed directly.\nPlease execute the program that consumes these " +
        "plugins, which will load any plugins automatically")
      sys.exit(1)
    }
    val shutdown = new java.util.concurrent.CountDownLatch(1)
    @volatile var configured: MsgPb.PbMap = Seq.empty
    val server = new GrpcWire.GrpcWireServer(Map(
      FilterConfigurePath -> { req =>
        configured = MsgPb.decodeConfigureRequest(req)
        MsgPb.encodeConfigureResponse(None)
      },
      FilterPath -> filterHandler,
      HealthCheckPath -> { _ => encodeHealthServing() },
      ControllerShutdownPath -> { _ => shutdown.countDown(); Array.emptyByteArray }
    ))
    // a dead host must not leave the plugin orphaned: stdin EOF = exit
    val stdinWatch = new Thread(() => {
      try { while (System.in.read() != -1) () } catch { case _: Exception => () }
      shutdown.countDown()
    })
    stdinWatch.setDaemon(true)
    stdinWatch.start()
    println(s"$CoreProtocolVersion|$AppProtocolVersion|tcp|127.0.0.1:${server.port}|grpc")
    System.out.flush()
    shutdown.await()
    // let the in-flight Shutdown response flush before the socket dies
    Thread.sleep(100)
    server.close()
  }
}

// GrpcSidecarFilter (the TransformOp over this transport) lives in
// Filters.scala with the rest of the sealed filter family.
