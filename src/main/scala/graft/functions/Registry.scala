package graft.functions

import org.apache.spark.SPARK_DOC_ROOT
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL-name registration of the Snowflake dialect surface, so Snowflake
  * function names resolve directly in `spark.sql` text (the reference
  * instead rewrites them away before execution — transpiler.py:81-364).
  *
  * Spark 4 already ships `nvl, nvl2, ifnull, zeroifnull, nullifzero,
  * listagg, convert_timezone, to_varchar, split_part, try_to_timestamp`
  * as built-ins; this registry adds only the genuinely missing names.
  * Builders construct raw Catalyst expressions (NOT Column-bridge
  * wrappers, which stay unresolved inside SQL analysis), so registered
  * functions codegen exactly like built-ins.
  */
object Registry {

  private def tryCast(x: Expression, dt: DataType): Expression =
    Cast(x, dt, None, EvalMode.TRY)

  private def strLit(e: Expression, fn: String): String = e match {
    case Literal(s: UTF8String, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal string argument, got: $other")
  }

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal int argument, got: $other")
  }

  /** JSON-encode any value: to_json of a 1-element array, brackets
    * stripped — correct JSON scalar encoding from codegen'd built-ins
    * only (the CAST(x AS JSON) form of transpiler.py:304-313). */
  private def toVariantExpr(x: Expression): Expression = {
    val arrJson = StructsToJson(Map.empty[String, String], CreateArray(Seq(x)))
    Substring(arrJson, Literal(2), Subtract(Length(arrJson), Literal(2)))
  }

  /** Snowflake DATEDIFF boundary-crossing semantics (see
    * Dialect.datediffSf). */
  private def datediffExpr(unit: String, a: Expression, b: Expression): Expression =
    unit match {
      case "YEAR" => Subtract(Year(b), Year(a))
      case "QUARTER" => Add(
        Multiply(Subtract(Year(b), Year(a)), Literal(4)),
        Subtract(Quarter(b), Quarter(a)))
      case "MONTH" => Add(
        Multiply(Subtract(Year(b), Year(a)), Literal(12)),
        Subtract(Month(b), Month(a)))
      case u =>
        val fmt = Literal(u)
        TimestampDiff(u, TruncTimestamp(fmt, a), TruncTimestamp(fmt, b))
    }

  private val unitMap: Map[String, String] = {
    val base = Map(
      "year" -> "YEAR", "yy" -> "YEAR", "yyyy" -> "YEAR", "yr" -> "YEAR",
      "quarter" -> "QUARTER", "qtr" -> "QUARTER", "q" -> "QUARTER",
      "month" -> "MONTH", "mm" -> "MONTH", "mon" -> "MONTH",
      "week" -> "WEEK", "wk" -> "WEEK", "w" -> "WEEK",
      "day" -> "DAY", "dd" -> "DAY", "d" -> "DAY",
      "hour" -> "HOUR", "hh" -> "HOUR", "hr" -> "HOUR",
      "minute" -> "MINUTE", "mi" -> "MINUTE", "min" -> "MINUTE",
      "second" -> "SECOND", "ss" -> "SECOND", "sec" -> "SECOND",
      "millisecond" -> "MILLISECOND", "ms" -> "MILLISECOND",
      "microsecond" -> "MICROSECOND", "us" -> "MICROSECOND")
    base ++ base.map { case (k, v) => (k + "s") -> v }
  }

  private def canonUnit(u: String): String =
    unitMap.getOrElse(u.toLowerCase,
      throw new IllegalArgumentException(s"unknown date part: $u"))

  private type Builder = PartialFunction[Seq[Expression], Expression]

  /** Each registered name, the argument counts graft defines for it, and
    * its builder over exactly those counts. */
  private val builders: Seq[(String, String, Builder)] = Seq(
    ("iff", "3", { case Seq(p, t, f) => If(p, t, f) }),
    ("try_to_number", "1 or 3", {
      case Seq(x) => tryCast(x, DecimalType(38, 0))
      case Seq(x, p, s) => tryCast(x,
        DecimalType(intLit(p, "try_to_number"), intLit(s, "try_to_number")))
    }),
    ("try_to_numeric", "1 or 3", {
      case Seq(x) => tryCast(x, DecimalType(38, 0))
      case Seq(x, p, s) => tryCast(x,
        DecimalType(intLit(p, "try_to_numeric"), intLit(s, "try_to_numeric")))
    }),
    ("try_to_decimal", "1 or 3", {
      case Seq(x) => tryCast(x, DecimalType(38, 0))
      case Seq(x, p, s) => tryCast(x,
        DecimalType(intLit(p, "try_to_decimal"), intLit(s, "try_to_decimal")))
    }),
    ("try_to_double", "1", { case Seq(x) => tryCast(x, DoubleType) }),
    ("try_to_date", "1", { case Seq(x) => tryCast(x, DateType) }),
    ("try_to_timestamp_ntz", "1", { case Seq(x) => tryCast(x, TimestampNTZType) }),
    ("try_to_timestamp_ltz", "1", { case Seq(x) => tryCast(x, TimestampType) }),
    ("try_to_timestamp_tz", "1", { case Seq(x) => tryCast(x, TimestampType) }),
    ("try_to_boolean", "1", { case Seq(x) => tryCast(x, BooleanType) }),
    ("try_to_varchar", "1", { case Seq(x) => tryCast(x, StringType) }),
    ("object_construct", "a positive even number of", {
      case kvs if kvs.nonEmpty && kvs.length % 2 == 0 =>
        StructsToJson(Map.empty[String, String], CreateNamedStruct(kvs))
    }),
    ("array_construct", "any number of", { case exprs => CreateArray(exprs) }),
    ("to_variant", "1", { case Seq(x) => toVariantExpr(x) }),
    ("regexp_substr", "2", { case Seq(x, p) =>
      val ex = RegExpExtract(x, p, Literal(0))
      If(EqualTo(ex, Literal("")), Literal(null, StringType), ex)
    }),
    // Snowflake 3-arg date functions (unit first — SURVEY.md §7 dialect
    // drift). Registered under graft_ prefix; SnowflakeSql rewrites
    // DATEADD/DATEDIFF call sites to these so Spark's 2-arg built-ins of
    // the same names stay intact.
    ("graft_dateadd", "3", { case Seq(u, n, d) =>
      TimestampAdd(canonUnit(strLit(u, "dateadd")), n, d)
    }),
    ("graft_datediff", "3", { case Seq(u, a, b) =>
      datediffExpr(canonUnit(strLit(u, "datediff")), a, b)
    })
  )

  /** Spark's own error for a call with an argument count no builder of
    * `name` takes. */
  private def wrongNumArgs(name: String, arity: String, actual: Int) =
    new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
      "functionName" -> s"`$name`", "expectedNum" -> arity,
      "actualNum" -> actual.toString, "docroot" -> SPARK_DOC_ROOT))

  /** Once-per-session registration: the first call on a session
    * registers every builder and appends JsonPathCse. A name Spark already
    * defines (`try_to_number`, `try_to_date`, `regexp_substr`) keeps
    * Spark's builder for every argument count graft does not define, so
    * Spark's own forms such as `try_to_number(expr, fmt)` still resolve;
    * a graft-only name given another count fails analysis with
    * `WRONG_NUM_ARGS`. Later calls find the last builder's name already
    * in the session's registry and replace nothing. Temp functions and
    * extra optimizations are session-scoped, so a `newSession()`
    * registers its own. Serialized, so concurrent first calls (the
    * transpiler corpus analyzes branches in parallel) register exactly
    * once and can neither double-append JsonPathCse nor lose it. */
  def register(spark: SparkSession): Unit = Registry.synchronized {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier(builders.last._1)))
      builders.foreach { case (name, arity, b) =>
        val other: Seq[Expression] => Expression =
          reg.lookupFunctionBuilder(FunctionIdentifier(name))
            .getOrElse(args => throw wrongNumArgs(name, arity, args.size))
        reg.createOrReplaceTempFunction(name, b.applyOrElse(_, other), "built-in")
      }
    if (!spark.experimental.extraOptimizations.contains(graft.plans.JsonPathCse))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.JsonPathCse
  }
}
