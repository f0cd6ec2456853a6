package graft.streaming

import graft.streaming.Gateway.{BufferConf, GatewayConf, ListenerConf}

/** Reads the reference's ConfigObj-style INI (※ oemgateway.conf[.dist]
  * — nested sections `[listeners]` / `[buffers]`, one `[[name]]` block
  * per component with `type` and `[[[init_settings]]]` /
  * `[[[runtime_settings]]]` sub-blocks) and assembles a [[GatewayConf]],
  * so an existing gateway deployment's config file drives this engine
  * unchanged. No dependency — ConfigObj INI is line-oriented and ~40
  * lines to read.
  *
  * Type mapping (reflective class names → Spark sources):
  *  - OemGatewaySocketListener            → socket dialect, `port_nb`
  *  - OemGatewayRFM2PiListener / Serial…  → rfm2pi dialect over the
  *    serial→TCP bridge port (`bridge_port`, default 50011) — see
  *    the S1/S2 note on [[Gateway]]
  *  - OemGatewayEmoncmsBuffer             → BufferConf; `domain`+`path`
  *    become the sink identity (out dir under `sinkRoot`), `active` and
  *    `period` map 1:1.
  */
object GatewayConfig {

  def parse(ini: String, sinkRoot: String, checkpointRoot: String): GatewayConf = {
    // section path tracking by bracket depth: [a] → depth 1, [[b]] → 2…
    var path = List.empty[String]
    val sections = scala.collection.mutable.LinkedHashMap.empty[List[String], scala.collection.mutable.LinkedHashMap[String, String]]
    val secRe = """^(\[+)([^\[\]]+)(\]+)\s*$""".r
    val kvRe = """^([^=#\s][^=]*)=(.*)$""".r
    ini.linesIterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).foreach {
      case secRe(open, name, close) if open.length == close.length =>
        path = path.take(open.length - 1) :+ name.trim
        sections.getOrElseUpdate(path, scala.collection.mutable.LinkedHashMap.empty)
      case kvRe(k, v) =>
        sections.getOrElseUpdate(path, scala.collection.mutable.LinkedHashMap.empty)
          .update(k.trim, v.trim.stripPrefix("\"").stripSuffix("\""))
      case _ => () // tolerate stray lines, as ConfigObj does
    }

    def setting(component: List[String], key: String): Option[String] =
      Seq("init_settings", "runtime_settings")
        .flatMap(sub => sections.get(component :+ sub).flatMap(_.get(key)))
        .headOption

    // Numeric settings fail with the section/key/value in the message —
    // a malformed `port_nb = 50O11` must name itself, not surface as a
    // bare NumberFormatException (ConfigObj validation parity).
    def numSetting(component: List[String], key: String, default: Long): Long =
      setting(component, key).map { v =>
        try v.trim.toDouble.toLong
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"[${component.mkString("][")}] $key = '$v' is not a number")
        }
      }.getOrElse(default)

    // ConfigObj's boolean spellings (as_bool): true/yes/on/1 ⇄ false/no/off/0,
    // case-insensitive. Anything else is a config error, named as such.
    def parseBool(raw: Option[String], where: String, default: Boolean): Boolean =
      raw.map(_.trim.toLowerCase) match {
        case None                              => default
        case Some("true" | "yes" | "on" | "1") => true
        case Some("false" | "no" | "off" | "0") => false
        case Some(v) =>
          throw new IllegalArgumentException(
            s"$where = '$v' is not a boolean (true/yes/on/1 or false/no/off/0)")
      }

    def boolSetting(component: List[String], key: String, default: Boolean): Boolean =
      parseBool(setting(component, key), s"[${component.mkString("][")}] $key", default)

    def componentsOf(group: String): Seq[List[String]] =
      sections.keys.toSeq.filter(p => p.length == 2 && p.head == group)

    val listeners = componentsOf("listeners").map { p =>
      val name = p(1)
      val tpe = sections(p).getOrElse("type", "")
      tpe match {
        case "OemGatewaySocketListener" =>
          ListenerConf(name, dialect = "socket",
            port = numSetting(p, "port_nb", 50011L).toInt)
        case _ => // RFM2Pi / Serial listeners arrive via the TCP bridge
          ListenerConf(name, dialect = "rfm2pi",
            port = numSetting(p, "bridge_port", 50011L).toInt)
      }
    }

    val buffers = componentsOf("buffers").map { p =>
      val name = p(1)
      // ※ OemGatewayEmoncmsBuffer: protocol+domain+path+apikey form the
      // bulk endpoint `{protocol}{domain}/{path}/input/bulk.json?apikey=…`
      // with exactly one '/' at each seam regardless of how the conf
      // spells `path` (ConfigObj deployments write `emoncms`, `/emoncms`
      // and `emoncms/` interchangeably). `protocol` defaults to http://
      // and is honored as written (https:// deployments keep TLS).
      // When the conf names a domain the buffer POSTs for real (S5);
      // without one it falls back to the parquet stand-in sink.
      val postUrl = setting(p, "domain").map { domain =>
        val protocol = setting(p, "protocol").getOrElse("http://")
        val base = (domain.stripSuffix("/") +:
          setting(p, "path").map(_.stripPrefix("/").stripSuffix("/")).filter(_.nonEmpty).toSeq)
          .mkString("/")
        val key = setting(p, "apikey").map(k => s"?apikey=$k").getOrElse("")
        s"$protocol$base/input/bulk.json$key"
      }
      BufferConf(
        name,
        outDir = s"$sinkRoot/$name",
        active = boolSetting(p, "active", default = true),
        periodSeconds = numSetting(p, "period", 10L),
        postUrl = postUrl)
    }

    // top-level [settings]: gateway-wide knobs with no reference
    // counterpart (the reference's serial port delivers bytes once;
    // an at-least-once TCP bridge is OUR deployment reality)
    val dedupFrames = parseBool(
      sections.get(List("settings")).flatMap(_.get("dedup_frames")),
      "[settings] dedup_frames", default = false)

    GatewayConf(listeners, buffers, checkpointRoot, dedupFrames = dedupFrames)
  }
}
