package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The line codec of every `*Feed` dial in [[Gateway]]: one parser
  * for the `epoch_sec tok… [rest]` feed format, written as pure column
  * expressions like [[graft.operators.FrameCodec]] is for the sensor
  * frames, so the drop rule exists once.
  *
  * A feed declares its fields after the epoch as one space-separated
  * spec string:
  * {{{
  *   spec  := field { ' ' field } [ ' [' name ']' ]
  *   field := name | name ':long' | name ':double'
  * }}}
  * and a line of the input's `value` column is read as follows.
  *  - It is split on single spaces into at most 1 + (number of fields)
  *    tokens, so the LAST field takes the rest of the line, spaces and
  *    all (document text, JSON props, a trailing token to ignore).
  *  - Token 0 is the epoch in integer seconds; it lands as the
  *    TIMESTAMP column `time` (default `ts`).
  *  - `name:long` / `name:double` tokens must parse as that type and
  *    their column has it; a plain `name` stays a STRING.
  *  - A trailing `[name]` field is optional: its column is NULL when
  *    the line ends before it.
  *  - The line is DROPPED when its token count is wrong (every field
  *    present, or every field but the optional one) or when the epoch
  *    or a typed token does not parse.
  *
  * The numeric test is `try_cast` and tokens are read with `get`, so a
  * malformed line is dropped, never thrown on, and the rule is the
  * same with `spark.sql.ansi.enabled` on (Spark 4's default) or off.
  * Watermarks stay with each feed, which knows where its event-time
  * column is final.
  */
object FeedLine {

  def parse(lines: DataFrame, spec: String, time: String = "ts"): DataFrame = {
    val fields = spec.split(" ").toSeq
    val optional = fields.last.startsWith("[")
    val limit = fields.size + 1
    def tok(i: Int): Column = get(col("p"), lit(i))
    val epoch = tok(0).try_cast("long")
    val parsed = fields.zipWithIndex.map { case (f, i) =>
      f.stripPrefix("[").stripSuffix("]").split(":") match {
        case Array(name) => (name, tok(i + 1), false)
        case Array(name, t @ ("long" | "double")) if !f.startsWith("[") =>
          (name, tok(i + 1).try_cast(t), true)
        case _ => throw new IllegalArgumentException(s"bad feed field '$f' in '$spec'")
      }
    }
    val arity = if (optional) size(col("p")) >= limit - 1 else size(col("p")) === limit
    val numeric = epoch +: parsed.collect { case (_, c, true) => c }
    lines
      .select(split(col("value"), " ", limit).as("p"))
      .filter(numeric.foldLeft(arity)(_ && _.isNotNull))
      .select(timestamp_seconds(epoch).as(time) +: parsed.map { case (n, c, _) => c.as(n) }: _*)
  }
}
