package graft.transpile

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.Registry

/** Snowflake-SQL front-end: accepts the Snowflake-dialect SQL forms the
  * reference transpiles for local execution (reference
  * `transpiler.py:54-370`) and runs them on Spark.
  *
  * Function-level dialect (IFF, TRY_TO_*, OBJECT_CONSTRUCT, TO_VARIANT,
  * REGEXP_SUBSTR, ...) needs no text rewriting at all — those names are
  * registered as native expression builders ([[graft.functions.Registry]]).
  * Only *grammar-level* Snowflake syntax is rewritten here, each with a
  * string-literal-aware scanner rather than blind regex:
  *
  *   - `col:a.b` semi-structured path access → `get_json_object`
  *     (reference routes these to cloud, auto_router.py:358-364 — we close
  *     the gap natively; `::type` casts after the path survive because
  *     Spark 4 supports `::` cast syntax)
  *   - `CAST(x AS VARIANT)` / `x::VARIANT` → `to_variant(x)`
  *     (transpiler.py:104-117, 304-313)
  *   - `LATERAL FLATTEN(input => arr) f` / `TABLE(FLATTEN(arr)) f` →
  *     `LATERAL VIEW POSEXPLODE(arr) f AS index, value`
  *     (transpiler.py:326-364 — UNNEST target; posexplode also exposes the
  *     Snowflake FLATTEN `index` column)
  *   - `DATEADD/DATEDIFF(unit, ...)` (Snowflake 3-arg, unit-first) →
  *     `graft_dateadd/graft_datediff('unit', ...)` so Spark's 2-arg
  *     built-ins of the same name stay intact
  *   - `QUALIFY pred` → executed as a post-projection filter, with inline
  *     window expressions hoisted into the select list
  *     (transpiler.py:366-370 delegates this to sqlglot; Spark SQL has no
  *     QUALIFY)
  */
object SnowflakeSql {

  /** Run Snowflake-dialect SQL on Spark. Colon-path access compiles to
    * `get_json_object` (string-repr VARIANT, directly comparable with
    * the oracle); [[transpile]] with `nativeVariant = true` gives the
    * binary-VariantType form instead. */
  def run(spark: SparkSession, sql: String): DataFrame = {
    Registry.register(spark)
    val t0 = transpile(sql)
    // global-top-k QUALIFY (no PARTITION BY) would plan an
    // unpartitioned WindowExec — ALL rows through one task. ORDER BY +
    // LIMIT is the same multiset and plans as TakeOrderedAndProject
    // (per-partition partial top-k, then one k-sized merge) — the
    // distributed shape PlanGuard's bounded-window invariant demands.
    val t = rewriteGlobalTopK(t0).getOrElse(t0)
    splitQualify(t) match {
      case None => spark.sql(t)
      case Some((inner, pred, hoisted, tail)) =>
        val filtered = spark.sql(inner).filter(pred)
        val withTail =
          if (tail.trim.isEmpty) filtered
          else {
            // trailing ORDER BY / LIMIT run AFTER the qualify filter —
            // re-enter SQL via a temp view so Spark parses the clause
            val v = "graft_qualify_" +
              java.util.UUID.randomUUID().toString.replace("-", "")
            filtered.createOrReplaceTempView(v)
            val out = spark.sql(s"SELECT * FROM $v ${tail.trim}")
            spark.catalog.dropTempView(v)
            out
          }
        withTail.drop(hoisted: _*)
    }
  }

  /** Run a multi-statement script: statements split on top-level `;`
    * (outside literals and parens), each transpiled and executed in
    * order — reference `tests/test_transpiler.py:72-80` requires every
    * statement of `"SELECT 1; SELECT 2"` to survive transpilation.
    * Returns one DataFrame per non-empty statement. */
  def runAll(spark: SparkSession, sql: String): Seq[DataFrame] =
    splitStatements(sql).map(run(spark, _))

  /** Statements at paren depth 0 outside string literals and SQL
    * comments (line comments `-- …` and Snowflake's `// …` to newline,
    * and block comments star-slash-delimited — a `;` inside any is
    * text, not a separator); empty/blank segments (trailing `;`)
    * dropped. */
  private[graft] def splitStatements(sql: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var start = 0
    var depth = 0
    var i = 0
    def skipComment(s: String, at: Int): Int =
      if (s.startsWith("--", at) || s.startsWith("//", at)) {
        val nl = s.indexOf('\n', at)
        if (nl < 0) s.length else nl + 1
      } else if (s.startsWith("/*", at)) {
        val end = s.indexOf("*/", at + 2)
        if (end < 0) s.length else end + 2
      } else at
    while (i < sql.length) {
      val skipped = skipComment(sql, skipLiteral(sql, i))
      if (skipped != i) i = skipped
      else {
        sql.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case ';' if depth == 0 =>
            out += sql.substring(start, i)
            start = i + 1
          case _ =>
        }
        i += 1
      }
    }
    out += sql.substring(start)
    out.result().filter(_.trim.nonEmpty)
  }

  /** Dialect-conversion front door mirroring the reference's
    * `convert_dialect(sql, source, target)`
    * (`tests/test_transpiler.py:82-84`): only the snowflake→spark pair
    * is supported; any other source or target is rejected with
    * IllegalArgumentException (the reference raises ValueError). */
  def convertDialect(sql: String, source: String = "snowflake",
      target: String = "spark"): String = {
    require(source.equalsIgnoreCase("snowflake"),
      s"unsupported source dialect: $source")
    require(target.equalsIgnoreCase("spark"),
      s"unsupported target dialect: $target")
    transpile(sql)
  }

  /** Text-level rewrites only (QUALIFY needs the DataFrame step in
    * [[run]]; `transpile` leaves it in place). With `nativeVariant`,
    * colon paths compile to `variant_get(try_parse_json(col), path,
    * 'string')` over Spark 4's binary VariantType (same string-out
    * semantics, so downstream `::type` casts behave identically; the
    * binary form parses the JSON once into a navigable value instead
    * of re-scanning text per path). */
  def transpile(sql: String, nativeVariant: Boolean = false): String = {
    var s = sql
    s = rewriteCastVariant(s)
    s = rewriteDoubleColonVariant(s)
    s = rewriteColonPaths(s, nativeVariant)
    s = rewriteFlatten(s)
    s = rewriteDateFns(s)
    s = rewriteBareVarchar(s)
    s
  }

  /** Bare `VARCHAR` (no length) → `STRING`: Snowflake treats VARCHAR as
    * unbounded, Spark's parser demands a length parameter
    * ([DATATYPE_MISSING_SIZE]). `VARCHAR(n)` is valid Spark and passes
    * through. Literal-aware word scan, same discipline as the other
    * rewrites. */
  private[graft] def rewriteBareVarchar(s: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      val skipped = skipLiteral(s, i)
      if (skipped != i) { out.append(s.substring(i, skipped)); i = skipped }
      else if ((s.charAt(i).isLetter || s.charAt(i) == '_') &&
          (i == 0 || !(s.charAt(i - 1).isLetterOrDigit || s.charAt(i - 1) == '_'))) {
        var j = i
        while (j < s.length && (s.charAt(j).isLetterOrDigit || s.charAt(j) == '_')) j += 1
        val word = s.substring(i, j)
        var k = j
        while (k < s.length && s.charAt(k).isWhitespace) k += 1
        if (word.equalsIgnoreCase("VARCHAR") &&
            (k >= s.length || s.charAt(k) != '('))
          out.append("STRING")
        else out.append(word)
        i = j
      } else { out.append(s.charAt(i)); i += 1 }
    }
    out.toString
  }

  // ------------------------------------------------------------ scanner

  /** Index just past the string/quote literal starting at i, else i. */
  private def skipLiteral(s: String, i: Int): Int = s.charAt(i) match {
    case '\'' =>
      var j = i + 1
      while (j < s.length && s.charAt(j) != '\'') j += 1
      j + 1
    case '"' =>
      var j = i + 1
      while (j < s.length && s.charAt(j) != '"') j += 1
      j + 1
    case _ => i
  }

  /** Matching close-paren index for the open paren at `open`. */
  private def matchParen(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      val skipped = skipLiteral(s, i)
      if (skipped != i) i = skipped
      else {
        s.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) return i
          case _   =>
        }
        i += 1
      }
    }
    throw new IllegalArgumentException(s"unbalanced parens in SQL at $open")
  }

  /** Find a keyword (case-insensitive, word-bounded) at paren depth 0,
    * outside literals, starting from `from`. Returns -1 if absent. */
  private def findTopLevel(s: String, word: String, from: Int = 0): Int = {
    val lower = s.toLowerCase
    val w = word.toLowerCase
    var i = from
    var depth = 0
    while (i < s.length) {
      val skipped = skipLiteral(s, i)
      if (skipped != i) i = skipped
      else {
        s.charAt(i) match {
          case '(' => depth += 1; i += 1
          case ')' => depth -= 1; i += 1
          case _ =>
            if (depth == 0 && lower.startsWith(w, i) &&
              (i == 0 || !isWordChar(s.charAt(i - 1))) &&
              (i + w.length >= s.length || !isWordChar(s.charAt(i + w.length))))
              return i
            else i += 1
        }
      }
    }
    -1
  }

  private def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** All case-insensitive occurrences of `word` as a whole word outside
    * literals (any depth). */
  private def findWord(s: String, word: String, from: Int): Int = {
    val lower = s.toLowerCase
    val w = word.toLowerCase
    var i = from
    while (i < s.length) {
      val skipped = skipLiteral(s, i)
      if (skipped != i) i = skipped
      else {
        if (lower.startsWith(w, i) &&
          (i == 0 || !isWordChar(s.charAt(i - 1))) &&
          (i + w.length >= s.length || !isWordChar(s.charAt(i + w.length))))
          return i
        i += 1
      }
    }
    -1
  }

  // --------------------------------------------------- VARIANT rewrites

  /** CAST(x AS VARIANT) → to_variant(x), balanced-paren aware. */
  private def rewriteCastVariant(sql: String): String = {
    var s = sql
    var from = 0
    var idx = findWord(s, "cast", from)
    while (idx >= 0) {
      val open = s.indexOf('(', idx)
      if (open < 0) return s
      val close = matchParen(s, open)
      val body = s.substring(open + 1, close)
      val asVariant = "(?is).*\\bAS\\s+VARIANT\\s*$".r
      if (asVariant.matches(body)) {
        val inner = body.replaceAll("(?is)\\bAS\\s+VARIANT\\s*$", "")
        s = s.substring(0, idx) + "to_variant(" + inner + ")" +
          s.substring(close + 1)
        from = idx + 1
      } else from = close
      idx = findWord(s, "cast", from)
    }
    s
  }

  /** `x::VARIANT` → to_variant(x) for identifier / call / paren operands. */
  private def rewriteDoubleColonVariant(sql: String): String = {
    val re = "(?i)([A-Za-z_][\\w.]*(?:\\([^()]*\\))?)\\s*::\\s*variant\\b".r
    var s = sql
    var prev: String = null
    while (prev != s) { prev = s; s = re.replaceAllIn(s, m => s"to_variant(${m.group(1)})") }
    s
  }

  /** `col:a.b` (not `::`) → get_json_object(col, '$.a.b'), or the
    * VariantType form when `nativeVariant` (string target type keeps
    * `::type` cast semantics identical). */
  private def rewriteColonPaths(sql: String,
      nativeVariant: Boolean): String = {
    val re = ("(?<![:\\w'])([A-Za-z_]\\w*)\\s*:(?!:)\\s*" +
      "([A-Za-z_]\\w*(?:\\.[A-Za-z_]\\w*)*)").r
    re.replaceAllIn(sql, m => scala.util.matching.Regex.quoteReplacement(
      if (nativeVariant)
        s"variant_get(try_parse_json(${m.group(1)}), '$$.${m.group(2)}', 'string')"
      else s"get_json_object(${m.group(1)}, '$$.${m.group(2)}')"))
  }

  // --------------------------------------------------- FLATTEN rewrite

  /** `[,] [LATERAL] [TABLE(]FLATTEN(input => X)[)] [AS] alias` →
    * ` LATERAL VIEW POSEXPLODE(X) alias AS index, value`. */
  private def rewriteFlatten(sql: String): String = {
    var s = sql
    var idx = findWord(s, "flatten", 0)
    while (idx >= 0) {
      val open = s.indexOf('(', idx)
      if (open < 0) return s
      val close = matchParen(s, open)
      var arg = s.substring(open + 1, close).trim
      arg = arg.replaceAll("(?is)^input\\s*=>\\s*", "")
      // expand left over optional LATERAL / TABLE( / comma
      var start = idx
      var end = close + 1
      val before = s.substring(0, idx)
      val lateralRe = "(?is)(,?)\\s*(lateral\\s+)?(table\\s*\\(\\s*)?$".r
      val m = lateralRe.findFirstMatchIn(before).get
      start = m.start
      val hadTableWrap = m.group(3) != null
      if (hadTableWrap) {
        // consume the TABLE(...)'s close paren after FLATTEN's
        val rest = s.substring(end)
        val extra = rest.indexOf(')')
        if (extra >= 0) end = end + extra + 1
      }
      // alias after
      val aliasRe = "(?is)^\\s*(?:as\\s+)?([A-Za-z_]\\w*)".r
      val after = s.substring(end)
      val (alias, aliasLen) = aliasRe.findFirstMatchIn(after) match {
        case Some(am) if !Set("on", "where", "group", "order", "limit",
          "join", "left", "right", "inner", "cross", "union", "qualify",
          "having", "lateral").contains(am.group(1).toLowerCase) =>
          (am.group(1), am.end)
        case _ => ("_flat", 0)
      }
      s = s.substring(0, start) +
        s" LATERAL VIEW POSEXPLODE($arg) $alias AS index, value" +
        s.substring(end + aliasLen)
      idx = findWord(s, "flatten", start + 1)
    }
    s
  }

  // ------------------------------------------------- date fn arg order

  private val units = Set("year", "yy", "yyyy", "yr", "quarter", "qtr", "q",
    "month", "mm", "mon", "week", "wk", "w", "day", "dd", "d", "hour", "hh",
    "hr", "minute", "mi", "min", "second", "ss", "sec", "millisecond", "ms",
    "microsecond", "us").flatMap(u => Set(u, u + "s"))

  /** Snowflake `DATEADD(unit, n, d)` / `DATEDIFF(unit, a, b)` →
    * `graft_dateadd('unit', n, d)` / `graft_datediff('unit', a, b)`.
    * Only fires when the first argument is a bare or quoted unit keyword,
    * leaving Spark's own 2-arg `dateadd(start, days)` /
    * `datediff(end, start)` untouched. */
  private def rewriteDateFns(sql: String): String = {
    val re = "(?i)\\b(dateadd|datediff|timestampadd|timestampdiff)\\s*\\(\\s*('?)([A-Za-z]+)'?\\s*,".r
    re.replaceAllIn(sql, m => {
      val unit = m.group(3).toLowerCase
      val quoted = m.group(2) == "'"
      // a bare single letter (e.g. `dateadd(d, 5)`) is far more likely a
      // column than the Snowflake 'd' unit — require quotes for those
      if (units.contains(unit) && (quoted || unit.length > 1)) {
        val fn = if (m.group(1).toLowerCase.endsWith("add")) "graft_dateadd"
        else "graft_datediff"
        s"$fn('$unit',"
      } else m.matched
    })
  }

  // ------------------------------------------------------ QUALIFY split

  /** If the query has a top-level QUALIFY, return (inner SQL with hoisted
    * window columns, outer predicate, hoisted alias names, trailing
    * ORDER BY / LIMIT text to apply after the filter). */
  /** `QUALIFY ROW_NUMBER() OVER (ORDER BY <ord>) = 1 | <= k` with no
    * PARTITION BY, nothing else in the predicate, and no trailing
    * clauses → `<inner> ORDER BY <ord> LIMIT k`. Same multiset (the
    * window's order is total up to its tie-break; QUALIFY output is a
    * set), but the plan is a distributed top-k instead of a global
    * single-partition window. Any other shape returns None and takes
    * the general QUALIFY path. */
  private[graft] def rewriteGlobalTopK(sql: String): Option[String] = {
    val qIdx = findTopLevel(sql, "qualify")
    if (qIdx < 0) return None
    val afterQ = sql.substring(qIdx + "qualify".length)
    val stops = Seq("order", "limit").flatMap { w =>
      val i = findTopLevel(afterQ, w); if (i >= 0) Some(i) else None
    }
    // a trailing ORDER BY / LIMIT would need composing with the
    // rewritten one — punt to the general path
    if (stops.nonEmpty) return None
    val pred = afterQ.trim
    val overIdx = findWord(pred, "over", 0)
    if (overIdx < 0) return None
    // the function before OVER must be exactly ROW_NUMBER() and must
    // start the predicate (nothing conjoined on the left)
    val fn = pred.substring(0, overIdx).trim.toLowerCase
      .replaceAll("\\s+", "")
    if (fn != "row_number()") return None
    val specOpen = pred.indexOf('(', overIdx)
    if (specOpen < 0) return None
    val specClose = matchParen(pred, specOpen)
    if (specClose < 0) return None
    val spec = pred.substring(specOpen + 1, specClose).trim
    if (findWord(spec, "partition", 0) >= 0) return None
    if (!spec.toLowerCase.startsWith("order")) return None
    // an explicit frame clause can't follow the hoisted ORDER BY
    if (findWord(spec, "rows", 0) >= 0 || findWord(spec, "range", 0) >= 0)
      return None
    val ord = spec // "ORDER BY ..." verbatim
    // comparison after the window: `= 1` or `<= <int>`
    val cmp = pred.substring(specClose + 1).trim
    val k: Option[Long] =
      if (cmp.startsWith("<=")) cmp.drop(2).trim.toLongOption
      else if (cmp.startsWith("=")) cmp.drop(1).trim.toLongOption.filter(_ == 1L)
      else None
    k.filter(_ >= 1).map { kk =>
      s"${sql.substring(0, qIdx).trim} $ord LIMIT $kk"
    }
  }

  private[graft] def splitQualify(sql: String)
      : Option[(String, String, Seq[String], String)] = {
    val qIdx = findTopLevel(sql, "qualify")
    if (qIdx < 0) return None
    val afterQ = sql.substring(qIdx + "qualify".length)
    // predicate runs to the next top-level ORDER BY / LIMIT, or the end
    val stops = Seq("order", "limit").flatMap { w =>
      val i = findTopLevel(afterQ, w); if (i >= 0) Some(i) else None
    }
    val predEnd = if (stops.nonEmpty) stops.min else afterQ.length
    var pred = afterQ.substring(0, predEnd).trim
    val tail = afterQ.substring(predEnd)
    var inner = sql.substring(0, qIdx)

    // hoist inline window expressions `fn(args) OVER (spec)` from the
    // predicate into the select list
    val hoisted = scala.collection.mutable.ArrayBuffer[String]()
    var search = true
    while (search) {
      val overIdx = findWord(pred, "over", 0)
      if (overIdx < 0) search = false
      else {
        // window spec after OVER
        val specOpen = pred.indexOf('(', overIdx)
        val specClose = matchParen(pred, specOpen)
        // function call before OVER: scan back over `fn(args)`
        val fnClose = pred.lastIndexWhere(!_.isWhitespace, overIdx - 1)
        require(pred.charAt(fnClose) == ')',
          s"QUALIFY: expected fn(...) before OVER in: $pred")
        var depth = 0
        var i = fnClose
        var fnOpen = -1
        while (i >= 0 && fnOpen < 0) {
          pred.charAt(i) match {
            case ')' => depth += 1
            case '(' => depth -= 1; if (depth == 0) fnOpen = i
            case _   =>
          }
          i -= 1
        }
        var fnStart = fnOpen - 1
        while (fnStart >= 0 && isWordChar(pred.charAt(fnStart))) fnStart -= 1
        fnStart += 1
        val winExpr = pred.substring(fnStart, specClose + 1)
        val alias = s"__qualify_${hoisted.length}"
        hoisted += alias
        pred = pred.substring(0, fnStart) + alias + pred.substring(specClose + 1)
      }
    }
    if (hoisted.nonEmpty) {
      // re-extract each hoisted expr text in order (stored during scan)
      // — simpler: rebuild by re-running the scan on the original pred
      val exprs = extractWindowExprs(afterQ.substring(0, predEnd).trim)
      val fromIdx = findTopLevel(inner, "from")
      require(fromIdx > 0, s"QUALIFY: no top-level FROM in: $inner")
      val selectList = exprs.zipWithIndex
        .map { case (e, i) => s", $e AS __qualify_$i" }.mkString(" ")
      inner = inner.substring(0, fromIdx) + selectList + " " +
        inner.substring(fromIdx)
    }
    Some((inner, pred, hoisted.toSeq, tail))
  }

  /** The `fn(args) OVER (spec)` substrings of a predicate, in order. */
  private def extractWindowExprs(pred: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var from = 0
    var overIdx = findWord(pred, "over", from)
    while (overIdx >= 0) {
      val specOpen = pred.indexOf('(', overIdx)
      val specClose = matchParen(pred, specOpen)
      val fnClose = pred.lastIndexWhere(!_.isWhitespace, overIdx - 1)
      var depth = 0
      var i = fnClose
      var fnOpen = -1
      while (i >= 0 && fnOpen < 0) {
        pred.charAt(i) match {
          case ')' => depth += 1
          case '(' => depth -= 1; if (depth == 0) fnOpen = i
          case _   =>
        }
        i -= 1
      }
      var fnStart = fnOpen - 1
      while (fnStart >= 0 && isWordChar(pred.charAt(fnStart))) fnStart -= 1
      fnStart += 1
      out += pred.substring(fnStart, specClose + 1)
      from = specClose + 1
      overIdx = findWord(pred, "over", from)
    }
    out.toSeq
  }
}
