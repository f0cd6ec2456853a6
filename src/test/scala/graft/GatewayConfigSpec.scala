package graft

import graft.streaming.GatewayConfig
import org.scalatest.funsuite.AnyFunSuite

/** A realistic oemgateway.conf (the reference's documented ConfigObj
  * shape) must assemble the equivalent GatewayConf: listener types map
  * to dialects/ports, buffer runtime settings map to the active flag
  * and send period, inactive and active buffers both survive parsing.
  */
class GatewayConfigSpec extends AnyFunSuite {

  private val ini =
    """# oemgateway.conf — reference-shaped ConfigObj INI
      |[gateway]
      |loglevel = DEBUG
      |
      |[listeners]
      |    [[RFM2Pi]]
      |        type = OemGatewayRFM2PiListener
      |        [[[init_settings]]]
      |            com_port = /dev/ttyAMA0
      |            bridge_port = 50012
      |        [[[runtime_settings]]]
      |            frequency = 433
      |            group = 210
      |    [[Socket]]
      |        type = OemGatewaySocketListener
      |        [[[init_settings]]]
      |            port_nb = 50011
      |        [[[runtime_settings]]]
      |
      |[buffers]
      |    [[emoncms_local]]
      |        type = OemGatewayEmoncmsBuffer
      |        [[[init_settings]]]
      |        [[[runtime_settings]]]
      |            domain = localhost
      |            active = True
      |            period = 0
      |    [[emoncms_remote]]
      |        type = OemGatewayEmoncmsBuffer
      |        [[[init_settings]]]
      |        [[[runtime_settings]]]
      |            domain = emoncms.org
      |            active = False
      |            period = 30
      |""".stripMargin

  test("reference-shaped INI assembles the equivalent GatewayConf") {
    val c = GatewayConfig.parse(ini, sinkRoot = "/tmp/sinks", checkpointRoot = "/tmp/ckpt")

    assert(c.listeners.map(_.name) === Seq("RFM2Pi", "Socket"))
    val rfm = c.listeners.head
    assert(rfm.dialect === "rfm2pi" && rfm.port === 50012)
    val sock = c.listeners(1)
    assert(sock.dialect === "socket" && sock.port === 50011)

    assert(c.buffers.map(_.name) === Seq("emoncms_local", "emoncms_remote"))
    val local = c.buffers.head
    assert(local.active && local.periodSeconds === 0L && local.outDir === "/tmp/sinks/emoncms_local")
    val remote = c.buffers(1)
    assert(!remote.active && remote.periodSeconds === 30L)
  }

  private def bufferIni(settings: String): String =
    s"""[buffers]
       |    [[b]]
       |        type = OemGatewayEmoncmsBuffer
       |        [[[runtime_settings]]]
       |$settings
       |""".stripMargin

  private def parseBuffer(settings: String) =
    GatewayConfig.parse(bufferIni(settings), "/tmp/s", "/tmp/c").buffers.head

  test("postUrl: {protocol}{domain}/{path}/input/bulk.json with slash normalization") {
    // the common emoncms install prefix, spelled every way ConfigObj
    // deployments spell it — all must assemble the same URL
    for (path <- Seq("emoncms", "/emoncms", "emoncms/", "/emoncms/")) {
      val b = parseBuffer(
        s"""            domain = example.org
           |            path = $path
           |            apikey = abc""".stripMargin)
      assert(b.postUrl === Some("http://example.org/emoncms/input/bulk.json?apikey=abc"),
        s"for path spelling '$path'")
    }
    // empty path: no double slash
    val bare = parseBuffer("            domain = example.org\n            apikey = abc")
    assert(bare.postUrl === Some("http://example.org/input/bulk.json?apikey=abc"))
    // protocol honored as written (https deployments keep TLS)
    val tls = parseBuffer(
      """            protocol = https://
        |            domain = emoncms.org
        |            path = site""".stripMargin)
    assert(tls.postUrl === Some("https://emoncms.org/site/input/bulk.json"))
    // no domain → parquet stand-in, no URL
    assert(parseBuffer("            period = 5").postUrl === None)
  }

  test("active accepts the full ConfigObj truthy set") {
    for (v <- Seq("True", "true", "YES", "on", "1"))
      assert(parseBuffer(s"            active = $v").active, s"'$v' must activate")
    for (v <- Seq("False", "no", "OFF", "0"))
      assert(!parseBuffer(s"            active = $v").active, s"'$v' must deactivate")
    assert(parseBuffer("            period = 5").active, "missing 'active' defaults on")
    val bad = intercept[IllegalArgumentException] {
      parseBuffer("            active = maybe")
    }
    assert(bad.getMessage.contains("[buffers][b]") && bad.getMessage.contains("maybe"))
  }

  test("[settings] dedup_frames parses with ConfigObj boolean spellings, defaults off") {
    def parse(extra: String) = GatewayConfig.parse(
      s"""$extra[listeners]
         |    [[sock]]
         |        type = OemGatewaySocketListener
         |""".stripMargin, "/tmp/out", "/tmp/ckpt")
    assert(!parse("").dedupFrames, "must default off: the reference's serial port delivers once")
    assert(parse("[settings]\ndedup_frames = yes\n").dedupFrames)
    assert(!parse("[settings]\ndedup_frames = off\n").dedupFrames)
    val bad = intercept[IllegalArgumentException] {
      parse("[settings]\ndedup_frames = maybe\n")
    }
    assert(bad.getMessage.contains("dedup_frames") && bad.getMessage.contains("maybe"))
  }

  test("malformed numeric settings fail naming their section and key") {
    val badPeriod = intercept[IllegalArgumentException] {
      parseBuffer("            period = ten")
    }
    assert(badPeriod.getMessage.contains("[buffers][b]")
      && badPeriod.getMessage.contains("period")
      && badPeriod.getMessage.contains("ten"))

    val badPort = intercept[IllegalArgumentException] {
      GatewayConfig.parse(
        """[listeners]
          |    [[sock]]
          |        type = OemGatewaySocketListener
          |        [[[init_settings]]]
          |            port_nb = 50O11
          |""".stripMargin, "/tmp/s", "/tmp/c")
    }
    assert(badPort.getMessage.contains("[listeners][sock]")
      && badPort.getMessage.contains("port_nb")
      && badPort.getMessage.contains("50O11"))
  }
}
