package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine hash helpers. The oracle-parity contract depends on
  * Spark and DuckDB computing these identically, so there is exactly
  * ONE definition shared by every operator (Dedup, TextAnalysis,
  * Curation, Packing, the Extensions manifest) and every Gateway feed.
  */
object Hashing {
  /** 32-bit hash both engines compute identically: first 8 hex chars
    * of md5, read as an integer — DuckDB side:
    * `('0x' || substr(md5(x), 1, 8))::BIGINT`.
    */
  def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** 60-bit hash (first 15 hex chars of md5 — the widest prefix that
    * stays inside signed BIGINT on both engines) — DuckDB side:
    * `('0x' || substr(md5(x), 1, 15))::BIGINT`.
    */
  def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** 2⁵²: an [[h60]] hash is an 8-bit HLL bucket over a 52-bit word. */
  private val hllWord = 4503599627370496L

  /** HLL register coordinates of an [[h60]] hash, shared by every
    * register-max sketch (batch X157/X160 and both streaming dials):
    * the bucket is j = h DIV 2⁵², the top 8 of the 60 bits.
    */
  def hllBucket(h: Column): Column = call_function("div", h, lit(hllWord))

  /** The register rank ρ = 53 − bitlen(h mod 2⁵²) via `length(bin(w))`
    * — integer bit arithmetic both engines compute identically;
    * 53 when the low word is 0.
    */
  def hllRank(h: Column): Column = {
    val w = h % lit(hllWord)
    when(w === 0, lit(53L)).otherwise(lit(53L) - length(bin(w)))
  }
}
