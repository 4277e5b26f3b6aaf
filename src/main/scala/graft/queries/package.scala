package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

package object queries {

  /** Driver contract: a named query takes (session, sf-dir) → result. */
  type Q = (SparkSession, String) => DataFrame

  /** One registry module: named queries plus the DuckDB oracle SQL of
    * each, under the same names (SparkEntry checks the pairing). */
  trait Module {
    def queries: Map[String, Q]
    def oracle: Map[String, String]
  }

  /** Order-independent exact money sum: accumulate in DECIMAL(18,4) (exact,
    * commutative) then cast to double — bit-identical across engines and
    * partitionings, unlike a raw double sum. */
  def dsum(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")

  /** Deterministic 'yyyy-MM-dd' rendering (oracle twin: strftime). */
  def iso(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** Integer division on Columns (SQL `div`; oracle twin: DuckDB `//`).
    * Exact on longs — unlike floor(a/b), whose double division loses
    * bits past 2⁵³. */
  def idiv(a: Column, b: Column): Column = call_function("div", a, b)

  /** ⌊log2 c⌋ of a positive long, exact: the length of its binary
    * string minus one (the integer entropy surrogate of the text, events
    * and sim entropy queries). */
  def ilog2(c: Column): Column = (length(bin(c)) - 1).cast("long")

  /** DuckDB tokenizer fragment — the oracle twin of TextAnalysis.tokens.
    * Single definition so the Spark and SQL sides can't drift. */
  val toksSql: String = "string_split(trim(text), ' ')"

  /** Oracle stopword IN-list derived from the Scala source of truth. */
  val stopInSql: String =
    graft.ops.TextAnalysis.stopwords.map(s => s"'$s'").mkString("(", ", ", ")")
}
