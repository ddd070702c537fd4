package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level scalar library re-expressing the reference's Python helpers
  * (SURVEY §2.8) as pure `Column => Column` combinators — native, codegen'd
  * Catalyst expressions, zero UDFs. Each function cites the reference
  * behavior it reproduces (paths relative to /root/reference).
  *
  * Scale note: everything here stays inside whole-stage codegen, so these
  * compose freely in 100 TB scans without breaking the codegen span or
  * forcing row-by-row JVM⇄interpreter transitions.
  */
object money {

  /** pt-BR money string → double.
    *
    * Reference: `brl_to_float` (spark/src/fintrack_etl/extractors/bb_bill.py:28-40
    * and clones at bb_statement.py:16-25, bradesco_bill.py:16-24,
    * etls_raw/forms_main.py:182-204): strip "R$"/spaces, drop thousands '.',
    * ','→'.', float. Also folds in the Bradesco trailing-minus form
    * ("1.234,56-" → -1234.56, bradesco_bill.py:262-266). Unparseable or
    * blank input → NULL (never throws, even under ANSI mode: the cast is
    * guarded by a regex match).
    */
  def brlToDouble(c: Column): Column = {
    val cleaned = regexp_replace(c, "R\\$|[\\s\\u00A0]", "")
    val canon   = regexp_replace(regexp_replace(cleaned, "\\.", ""), ",", ".")
    val num     = regexp_extract(canon, "^(-?\\d+(?:\\.\\d+)?)-?$", 1)
    val parsed  = when(length(num) > 0, num.cast("double")).otherwise(lit(null).cast("double"))
    when(canon.rlike("-$"), -parsed).otherwise(parsed)
  }
}

object textnorm {

  /** Blank/whitespace-only → NULL (helpers.py:26-34). */
  def blankToNull(c: Column): Column =
    when(trim(c) === "", lit(null).cast("string")).otherwise(c)
}

object dates {

  /** Date patterns the reference normalizes late
    * (datatrack_utils/scripts/transform/helpers.py:39-82). */
  val datePatterns: Seq[String] =
    Seq("dd/MM/yyyy", "yyyy-MM-dd", "dd-MM-yyyy", "yyyyMMdd")

  val timestampPatterns: Seq[String] =
    Seq("dd/MM/yyyy HH:mm:ss", "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss",
        "dd/MM/yyyy HH:mm", "yyyy/MM/dd HH:mm:ss")

  /** First-success multi-pattern date parse — `coalesce` over per-pattern
    * `try_to_timestamp` so a mismatch yields NULL for that pattern instead
    * of an ANSI error (helpers.py:39-60 semantics). */
  def toDateMulti(c: Column, patterns: Seq[String] = datePatterns): Column =
    coalesce(patterns.map(p => to_date(try_to_timestamp(c, lit(p)))): _*)

  /** Multi-pattern timestamp parse (helpers.py:62-82). */
  def toTimestampMulti(c: Column, patterns: Seq[String] = timestampPatterns): Column =
    coalesce(patterns.map(p => try_to_timestamp(c, lit(p))): _*)
}
