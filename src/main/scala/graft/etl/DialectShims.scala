package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.types.{BooleanType, IntegerType, StringType}

/** Redshift-dialect compatibility shims (SURVEY §7.2), so transform
  * SQL written for the reference warehouse runs unmodified. Function-
  * shaped Redshift names resolve as native builders ([[functions]],
  * installed by [[GraftExtensions]]); text passes over masked SQL
  * ([[rewriteRedshiftSql]]) remain only for syntax Spark's parser
  * rejects, or where a keyword unit or a Spark type check stands in
  * the way. Everything maps to codegen'd built-ins (no UDF). A shape a
  * builder does not translate is refused at analysis with an
  * IllegalArgumentException naming the call.
  *
  * | Redshift | Kind | Spark mapping |
  * |---|---|---|
  * | TO_CHAR, TO_DATE, TO_TIMESTAMP, CONVERT_TIMEZONE, TRUNC, JSON_ARRAY_LENGTH, REGEXP_SUBSTR/COUNT/INSTR/REPLACE | builder as `rs_<name>`, plus a text rename of the call | per-token date_format, to_date/to_timestamp patterns, from_utc/to_utc_timestamp, date_trunc, regexp built-ins |
  * | JSON_EXTRACT_PATH_TEXT, JSON_EXTRACT_ARRAY_ELEMENT_TEXT, IS_VALID_JSON(_ARRAY), CAN_JSON_PARSE, JSON_PARSE, JSON_SERIALIZE, SPLIT_TO_ARRAY, GET_ARRAY_LENGTH, SUBARRAY, CHARINDEX, STRTOL | builder | get_json_object / from_json / split / slice, instr, conv |
  * | GETDATE(), f_sha256(s) | builder ([[GraftExtensions]]) | current_timestamp(), sha2(s, 256) |
  * | DATEADD(unit, n, ts) | text (keyword unit) | timestampadd(UNIT, n, ts) |
  * | DATEDIFF(unit, a, b) | text (keyword unit) + builder | rs_datediff_<unit>(a, b) |
  * | SYSDATE | text (parenless) | current_timestamp() |
  * | SIMILAR TO, QUALIFY, SELECT TOP n, APPROXIMATE COUNT(DISTINCT), RATIO_TO_REPORT | text (syntax) | RLIKE, filtered subquery, LIMIT, approx_count_distinct, x / SUM(x) OVER |
  * | SUPER/PartiQL paths, UNNEST, comma iteration, UNPIVOT, `[*]` | text (syntax, or a path over a string column) | get_json_object, LATERAL VIEW explode(from_json), exists |
  * | NVL, LEN, LISTAGG ... WITHIN GROUP | Spark built-ins (ordering and NULL semantics included) | — |
  */
object DialectShims {

  /** Installs nothing: every function-shaped shim is a native builder
    * that [[GraftExtensions]] installs, so session start runs no SQL.
    * Kept for callers that re-arm a session built from a reported
    * conf. */
  def registerAll(spark: SparkSession): Unit = ()

  private val MaskedComment = "--\\x00\\d+\\x00|/\\*\\x00\\d+\\x00\\*/"

  /** Where the passes' patterns allow whitespace (masked text), a
    * comment is whitespace too: a comment never changes what a pass
    * accepts. */
  private val Gap = s"(?:\\s|$MaskedComment)"

  /** The masked comments in `s`, for a pass to re-emit when it drops
    * the text around them (a `--` comment keeps its line break). */
  private def commentsIn(s: String): String =
    MaskedComment.r.findAllIn(s).map(c => if (c.startsWith("--")) s" $c\n" else s" $c").mkString

  // ------------------------------------------------- DATEADD/DATEDIFF
  /** Redshift's unit spellings → the canonical unit. */
  private[etl] val UnitAliases: Map[String, String] = Map(
    "y" -> "year", "yr" -> "year", "yrs" -> "year",
    "year" -> "year", "years" -> "year",
    "qtr" -> "quarter", "qtrs" -> "quarter",
    "quarter" -> "quarter", "quarters" -> "quarter",
    "mon" -> "month", "mons" -> "month",
    "month" -> "month", "months" -> "month",
    "w" -> "week", "week" -> "week", "weeks" -> "week",
    "d" -> "day", "day" -> "day", "days" -> "day",
    "h" -> "hour", "hr" -> "hour", "hrs" -> "hour",
    "hour" -> "hour", "hours" -> "hour",
    "m" -> "minute", "min" -> "minute", "mins" -> "minute",
    "minute" -> "minute", "minutes" -> "minute",
    "s" -> "second", "sec" -> "second", "secs" -> "second",
    "second" -> "second", "seconds" -> "second",
    "ms" -> "millisecond", "msec" -> "millisecond",
    "millisecond" -> "millisecond", "milliseconds" -> "millisecond",
    "us" -> "microsecond", "usec" -> "microsecond",
    "microsecond" -> "microsecond", "microseconds" -> "microsecond")

  private[etl] val CanonicalUnits: Seq[String] = Seq("year", "quarter",
    "month", "week", "day", "hour", "minute", "second",
    "millisecond", "microsecond")

  // ------------------------------------------------ RATIO_TO_REPORT
  private val RatioToReportRe =
    s"(?i)\\bRATIO_TO_REPORT$Gap*\\($Gap*([^,()]+?)$Gap*\\)$Gap*OVER$Gap*\\(([^()]*)\\)".r

  /** Redshift's `RATIO_TO_REPORT(x) OVER (w)` → the explicit
    * `CAST(x AS DOUBLE) / SUM(x) OVER (w)` (neither Spark nor DuckDB
    * names the function; redshift.py ships it through verbatim SQL).
    * Only the paren-free argument/window shape is rewritten — anything
    * nested surfaces to the C5 dry-run as unsupported syntax. NULL semantics agree by construction:
    * a NULL x yields NULL (division by a non-null sum), and SUM
    * ignores NULLs in both engines. */
  def rewriteRatioToReport(sql: String): String =
    RatioToReportRe.replaceAllIn(sql, m =>
      java.util.regex.Matcher.quoteReplacement(
        s"(CAST(${m.group(1).trim} AS DOUBLE) / " +
          s"SUM(${m.group(1).trim}) OVER (${m.group(2)}))" +
          commentsIn(sql.substring(m.start, m.start(2)))))

  // ------------------------------------- APPROXIMATE COUNT (DISTINCT)
  private val ApproxCountRe =
    s"(?i)\\bAPPROXIMATE$Gap+COUNT$Gap*\\($Gap*DISTINCT\\b".r

  /** Redshift's `APPROXIMATE COUNT(DISTINCT x)` (HLL under the hood)
    * → Spark's `approx_count_distinct(x` — the same sketch family,
    * map-side-combinable bounded state, which is the entire point at
    * 100 TB (an exact COUNT DISTINCT shuffles every distinct value).
    * Only the prefix rewrites; the argument expression is untouched,
    * so nesting is safe. Estimates are implementation-specific, so
    * this shim is spec-gated (DialectShimsSpec pins a 2%-of-exact
    * bound), not oracle-hashed. */
  def rewriteApproxCount(sql: String): String =
    ApproxCountRe.replaceAllIn(sql, m => "approx_count_distinct(" + commentsIn(m.matched))

  private val DateAddRe = s"(?i)\\bDATEADD$Gap*\\($Gap*(\\w+)$Gap*,".r
  private val DateDiffRe = s"(?i)\\bDATEDIFF$Gap*\\($Gap*(\\w+)$Gap*,".r

  /** `DATEADD(unit, n, ts)` → `timestampadd(UNIT, n, ts)`: only the
    * function name and unit token are rewritten — the argument
    * expressions are untouched, so nesting is safe. Plain addition,
    * no boundary semantics to fix up. */
  def rewriteDateAdd(sql: String): String =
    DateAddRe.replaceAllIn(sql, m =>
      UnitAliases.get(m.group(1).toLowerCase) match {
        case Some(u) => s"timestampadd(${u.toUpperCase}," + commentsIn(m.matched)
        case None => java.util.regex.Matcher.quoteReplacement(m.matched)
      })

  /** `DATEDIFF(unit, a, b)` → `rs_datediff_<unit>(a, b)` (a
    * [[GraftExtensions]] builder, boundary-crossing semantics). A
    * first argument that is not a unit keyword — Spark's own
    * two-argument `DATEDIFF(end, start)` — is left alone. */
  def rewriteDateDiff(sql: String): String =
    DateDiffRe.replaceAllIn(sql, m =>
      UnitAliases.get(m.group(1).toLowerCase) match {
        case Some(u) => s"rs_datediff_$u(" + commentsIn(m.matched)
        case None => java.util.regex.Matcher.quoteReplacement(m.matched)
      })

  // ------------------------------------------------------ SIMILAR TO
  /** Translate a SQL-standard SIMILAR TO pattern to a Java regex.
    * SIMILAR TO matches the WHOLE string (hence the anchors); `%`/`_`
    * are the SQL wildcards; `|`, `*`, `+`, `?`, `()`, `[]`, `{}` carry
    * their regex meaning already; characters special in regex but
    * literal in SIMILAR TO (`.', `^`, `$`) are escaped. Inside a
    * bracket expression everything passes through verbatim. The
    * escape character (Postgres/Redshift default `\`) makes the next
    * character literal. */
  private[etl] def similarToRegex(pattern: String,
                                  escape: Option[Char] = Some('\\')): String = {
    val sb = new StringBuilder("^(?:")
    var inClass = false
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (escape.contains(c) && i + 1 < pattern.length) {
        val lit = pattern.charAt(i + 1)
        if (".^$*+?()[]{}|\\".indexOf(lit.toInt) >= 0) sb.append('\\')
        sb.append(lit)
        i += 2
      } else {
        if (inClass) {
          if (c == ']') inClass = false
          sb.append(c)
        } else c match {
          case '[' => inClass = true; sb.append(c)
          case '%' => sb.append(".*")
          case '_' => sb.append('.')
          case '.' | '^' | '$' | '\\' => sb.append('\\').append(c)
          case _ => sb.append(c)
        }
        i += 1
      }
    }
    sb.append(")$").toString
  }

  /** Redshift `SYSDATE` (parenless, start-of-statement timestamp) →
    * `current_timestamp()` (Spark evaluates it once per query — the
    * same stability contract). Masked text, so a literal containing
    * the word survives; an actual call `sysdate()` is left for the
    * C5 dry-run (Redshift has no such spelling). */
  def rewriteSysdate(sql: String): String =
    SysdateRe.replaceAllIn(sql, "current_timestamp()")

  private val SysdateRe =
    s"(?i)(?<![\\w.])SYSDATE\\b(?!$Gap*\\()".r

  /** PG/Redshift TO_CHAR datetime format tokens → Spark datetime
    * pattern pieces. Name tokens are CASE-SENSITIVE triples (PG's
    * pattern case controls output case: MON→JAN, Mon→Jan, mon→jan);
    * numeric tokens are case-insensitive. Longest token wins. */
  private[etl] val ToCharNameTokens: Seq[(String, String, String)] = Seq(
    // (pgToken, sparkPattern, wrap: "upper" | "" | "lower")
    ("MONTH", "MMMM", "upper"), ("Month", "MMMM", ""), ("month", "MMMM", "lower"),
    ("MON", "MMM", "upper"), ("Mon", "MMM", ""), ("mon", "MMM", "lower"),
    ("DAY", "EEEE", "upper"), ("Day", "EEEE", ""), ("day", "EEEE", "lower"),
    ("DY", "EEE", "upper"), ("Dy", "EEE", ""), ("dy", "EEE", "lower"),
    ("AM", "a", ""), ("PM", "a", ""), ("am", "a", "lower"), ("pm", "a", "lower"))

  /** (pgToken, zero-padded pattern, FM-unpadded pattern). */
  private[etl] val ToCharNumTokens: Seq[(String, String, String)] = Seq(
    ("HH24", "HH", "H"), ("HH12", "hh", "h"), ("YYYY", "yyyy", "yyyy"),
    ("DDD", "DDD", "D"), ("YY", "yy", "yy"), ("MM", "MM", "M"),
    ("MI", "mm", "m"), ("MS", "SSS", "SSS"), ("SS", "ss", "s"),
    ("DD", "dd", "d"), ("HH", "hh", "h"), ("Q", "Q", "Q"))

  /** Translate one TO_CHAR datetime format into a Spark SQL template
    * over `__0` — a concat of per-token `date_format` pieces (each
    * name token individually upper/lower-wrapped, so mixed-case
    * formats like `'Dy DD MON YYYY'` come out right, which a single
    * wrapped date_format cannot do) and quoted literal runs. PG
    * fidelity: `Month`/`Day` blank-pad to 9 chars (the longest
    * English name) and numeric tokens zero-pad; the `FM` prefix
    * suppresses padding for the NEXT token only (PG semantics —
    * Oracle's sticky FM differs). Returns None for number-mode
    * characters (9/0/$ — [[toCharNumExpr]]'s formats). */
  private[etl] def toCharExpr(format: String): Option[String] = {
    if (format.exists(c => "90$".indexOf(c.toInt) >= 0)) return None
    val pieces = scala.collection.mutable.ArrayBuffer[String]()
    val lit = new StringBuilder
    def flushLit(): Unit = if (lit.nonEmpty) {
      pieces += "'" + lit.toString.replace("\\", "\\\\").replace("'", "\\'") + "'"
      lit.clear()
    }
    var fm = false
    var i = 0
    while (i < format.length) {
      val rest = format.substring(i)
      if (rest.regionMatches(true, 0, "FM", 0, 2)) {
        fm = true; i += 2
      } else ToCharNameTokens.find { case (t, _, _) => rest.startsWith(t) } match {
        case Some((t, pat, wrap)) =>
          flushLit()
          var e = s"date_format(__0, '$pat')"
          // Month/Day blank-pad to the longest English name (9)
          if (!fm && (pat == "MMMM" || pat == "EEEE")) e = s"rpad($e, 9, ' ')"
          pieces += (wrap match {
            case "upper" => s"upper($e)"
            case "lower" => s"lower($e)"
            case _ => e
          })
          fm = false
          i += t.length
        case None =>
          ToCharNumTokens.find { case (t, _, _) =>
            rest.regionMatches(true, 0, t, 0, t.length)
          } match {
            case Some((t, padded, unpadded)) =>
              flushLit()
              pieces += s"date_format(__0, '${if (fm) unpadded else padded}')"
              fm = false
              i += t.length
            case None =>
              lit.append(format.charAt(i)); i += 1
          }
      }
    }
    flushLit()
    Some(
      if (pieces.isEmpty) "''"
      else if (pieces.size == 1) pieces.head
      else s"concat(${pieces.mkString(", ")})")
  }

  /** Redshift/Snowflake `QUALIFY <pred>` — filter on a window
    * expression without a subquery — which Spark's parser lacks.
    * Rewrite (masked text): the predicate becomes a generated boolean
    * column in a subquery and the outer query filters on it:
    *
    *   SELECT <sel> FROM ... QUALIFY <pred> [ORDER BY ...] [LIMIT n]
    *   ⇒ SELECT * EXCEPT (__qualify) FROM (
    *        SELECT <sel>, (<pred>) AS __qualify FROM ...)
    *     WHERE __qualify [ORDER BY ...] [LIMIT n]
    *
    * This keeps inline window expressions legal (they move into the
    * subquery's SELECT list) and leaves ORDER BY/LIMIT at the outer
    * level where QUALIFY semantics put them (applied AFTER the
    * filter). Only TOP-LEVEL QUALIFYs rewrite (depth-0 scan over
    * masked text, innermost-first for nested subqueries); a QUALIFY
    * inside a string literal is masked and never matches. */
  private[etl] def rewriteQualify(sql: String): String = {
    val lower = sql.toLowerCase
    // innermost-first: rewrite the LAST occurrence repeatedly
    val at = {
      var found = -1
      var i = lower.indexOf("qualify")
      while (i >= 0) {
        val beforeOk = i == 0 || !Character.isLetterOrDigit(lower.charAt(i - 1)) &&
          lower.charAt(i - 1) != '_'
        val afterOk = i + 7 >= sql.length ||
          (!Character.isLetterOrDigit(lower.charAt(i + 7)) && lower.charAt(i + 7) != '_')
        if (beforeOk && afterOk) found = i
        i = lower.indexOf("qualify", i + 7)
      }
      found
    }
    if (at < 0) return sql
    // the SELECT this QUALIFY belongs to: nearest depth-matching
    // SELECT to the left
    var depth = 0
    var selStart = -1
    var j = at - 1
    while (j >= 0 && selStart < 0) {
      sql.charAt(j) match {
        case ')' => depth += 1
        case '(' =>
          if (depth == 0) selStart = j + 1 else depth -= 1
        case _ =>
          if (depth == 0 && lower.regionMatches(j, "select", 0, 6) &&
              (j == 0 || !Character.isLetterOrDigit(lower.charAt(j - 1))) &&
              (j + 6 >= sql.length ||
                (!Character.isLetterOrDigit(lower.charAt(j + 6)) &&
                  lower.charAt(j + 6) != '_'))) {
            selStart = j
          }
      }
      j -= 1
    }
    if (selStart < 0 || !lower.regionMatches(selStart, "select", 0, 6)) return sql
    // predicate runs to the first depth-0 ORDER BY / LIMIT / closing
    // paren / end after QUALIFY
    var k = at + 7
    depth = 0
    var predEnd = -1
    while (k < sql.length && predEnd < 0) {
      sql.charAt(k) match {
        case '(' => depth += 1; k += 1
        case ')' =>
          if (depth == 0) predEnd = k else { depth -= 1; k += 1 }
        case _ =>
          if (depth == 0 && (OrderByRe.matcher(lower).region(k, lower.length).lookingAt() ||
              lower.regionMatches(k, "limit", 0, 5)))
            predEnd = k
          else k += 1
      }
    }
    if (predEnd < 0) predEnd = sql.length
    // strip, not trim: trim would also eat the NUL that closes a
    // masked `--` comment's placeholder
    val pred = keepLineEnd(sql.substring(at + 7, predEnd).strip)
    val inner = sql.substring(selStart + 6, at).strip   // sans SELECT keyword
    val tail = sql.substring(predEnd)
    // split the select list from FROM...: find depth-0 FROM
    val innerLower = inner.toLowerCase
    var f = 0; depth = 0; var fromAt = -1
    while (f < inner.length && fromAt < 0) {
      inner.charAt(f) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && innerLower.regionMatches(f, "from", 0, 4) &&
              (f == 0 || !Character.isLetterOrDigit(innerLower.charAt(f - 1))) &&
              (f + 4 >= inner.length || !Character.isLetterOrDigit(innerLower.charAt(f + 4))))
            fromAt = f
      }
      f += 1
    }
    if (fromAt < 0) return sql
    val selList = keepLineEnd(inner.substring(0, fromAt).strip)
    val fromRest = keepLineEnd(inner.substring(fromAt))
    val rewritten = sql.substring(0, selStart) +
      s"SELECT * EXCEPT (__qualify) FROM (SELECT $selList, ($pred) AS __qualify $fromRest) WHERE __qualify " +
      tail
    rewriteQualify(rewritten)   // handle remaining (outer) QUALIFYs
  }

  private val OrderByRe = java.util.regex.Pattern.compile(s"order$Gap+by\\b")

  /** `s` with a line break after it when it ends in a `--` comment:
    * text spliced in after `s` would otherwise become comment text. */
  private def keepLineEnd(s: String): String =
    if (s.matches("(?s).*--[^\n]*")) s + "\n" else s

  /** PARSE tokens safe to translate for TO_DATE/TO_TIMESTAMP: the
    * numeric tokens whose Java pattern both formats AND parses the
    * same digits. Name tokens (MON/Day/AM) parse case-sensitively in
    * Java but case-insensitively in PG — translating them would
    * accept different inputs, so such a format is refused. */
  private val ParseTokens: Seq[(String, String)] = Seq(
    ("HH24", "HH"), ("HH12", "hh"), ("YYYY", "yyyy"), ("YY", "yy"),
    ("MM", "MM"), ("MI", "mm"), ("MS", "SSS"), ("SS", "ss"),
    ("DD", "dd"), ("HH", "hh"))

  /** Translate a PG/Redshift PARSE format (`TO_DATE`'s second
    * argument) into a Java datetime parse pattern. Tokens match
    * case-insensitively (PG parse formats are case-blind); any
    * letter/digit outside a known token — including name tokens —
    * aborts (None → the call is refused). Punctuation
    * separators pass through verbatim. */
  private[etl] def toParsePattern(format: String): Option[String] = {
    val sb = new StringBuilder
    var i = 0
    while (i < format.length) {
      val rest = format.substring(i)
      ParseTokens.find { case (t, _) =>
        rest.regionMatches(true, 0, t, 0, t.length)
      } match {
        case Some((t, pat)) => sb.append(pat); i += t.length
        case None =>
          val c = format.charAt(i)
          if (Character.isLetterOrDigit(c) || c == '\'') return None
          sb.append(c); i += 1
      }
    }
    Some(sb.toString)
  }

  // ------------------------------------------------- datepart TRUNC
  /** Oracle-style datepart spellings accepted by `TRUNC(ts, 'fmt')`.
    * Distinct from [[UnitAliases]] on purpose: in TRUNC formats 'MM'
    * is MONTH and 'MI' is MINUTE (DATEADD's 'm' means minute). */
  private[etl] val TruncUnits: Map[String, String] = Map(
    "year" -> "year", "yyyy" -> "year", "yy" -> "year",
    "quarter" -> "quarter", "q" -> "quarter",
    "month" -> "month", "mon" -> "month", "mm" -> "month",
    "week" -> "week", "iw" -> "week",   // ISO (Monday-start) week
    // Oracle's DAY truncations: 'DDD'/'DD'/'J' are the day formats;
    // 'DAY'/'DY'/'D' are WEEK-start formats (the TRUNC builder)
    "dd" -> "day", "ddd" -> "day", "j" -> "day",
    "hour" -> "hour", "hh" -> "hour", "hh12" -> "hour", "hh24" -> "hour",
    "minute" -> "minute", "mi" -> "minute",
    "second" -> "second", "ss" -> "second")

  /** Numeric-mode TO_CHAR — `TO_CHAR(number, '$S999,999.00')` — the
    * formatting half of the pair with TO_NUMBER, as a Spark SQL
    * template over `__0`. Supported pattern subset (anything else is
    * None, so the call is refused):
    *
    *   [FM] [S] [$] int-digits('9'/'0', ',' grouping) ['.' dec-digits]
    *
    * Semantics implemented (documented contract — neither Spark nor
    * DuckDB names the function):
    *   - value is rounded HALF-UP to the decimal digit count (via a
    *     decimal cast, exact — no float drift);
    *   - '0' positions force zero padding of the integer part ('0999'
    *     pads to 4), '9' positions do not;
    *   - ',' in the pattern turns on thousands grouping;
    *   - decimal digits always print at fixed scale;
    *   - default mode prefixes ONE sign slot (' ' positive, '-'
    *     negative, PG's `to_char(485,'999') = ' 485'` shape); FM
    *     drops the slot ('-' only when negative); S anchors an
    *     explicit '+'/'-';
    *   - an integer part wider than the pattern's digit positions
    *     prints all '#'s, the PG/Redshift overflow marker.
    *
    * Every emitted piece is a codegen'd builtin (decimal casts,
    * floor, lpad, a lookahead regexp_replace for grouping). */
  private[etl] def toCharNumExpr(format: String): Option[String] = {
    var f = format
    var fm = false
    if (f.regionMatches(true, 0, "FM", 0, 2)) { fm = true; f = f.substring(2) }
    var sign = false
    if (f.startsWith("S")) { sign = true; f = f.substring(1) }
    var dollar = false
    if (f.startsWith("$")) { dollar = true; f = f.substring(1) }
    val parts = f.split("\\.", -1)
    if (parts.length > 2) return None
    val intPat = parts(0)
    val decPat = if (parts.length == 2) parts(1) else ""
    if (intPat.isEmpty || !intPat.matches("[90,]+") ||
        !decPat.matches("[90]*")) return None
    val grouping = intPat.contains(',')
    val digitsOnly = intPat.filter(c => c == '9' || c == '0')
    val intDigits = digitsOnly.length
    val minIntDigits = {
      val i = digitsOnly.indexOf('0')
      if (i < 0) 1 else digitsOnly.length - i
    }
    val scale = decPat.length
    val v = s"CAST((__0) AS DECIMAL(38, $scale))"
    val absV = s"abs($v)"
    // DECIMAL(38,0), not BIGINT: a pattern wide enough for a 19+-
    // digit integer part would otherwise overflow the cast and print
    // garbage instead of the value (or the '#' overflow marker)
    val intRaw = s"CAST(CAST(floor($absV) AS DECIMAL(38, 0)) AS STRING)"
    val intPadded =
      if (minIntDigits > 1) s"lpad($intRaw, $minIntDigits, '0')" else intRaw
    val intGrouped =
      if (grouping)
        s"regexp_replace($intPadded, '(\\\\d)(?=(\\\\d{3})+$$)', '$$1,')"
      else intPadded
    val decPart =
      if (scale == 0) "''"
      else s"concat('.', lpad(CAST(CAST(($absV - floor($absV)) * ${math.pow(10, scale).toLong} AS BIGINT) AS STRING), $scale, '0'))"
    val signPart =
      if (sign) s"CASE WHEN $v < 0 THEN '-' ELSE '+' END"
      else if (fm) s"CASE WHEN $v < 0 THEN '-' ELSE '' END"
      else s"CASE WHEN $v < 0 THEN '-' ELSE ' ' END"
    val dollarPart = if (dollar) "'$'" else "''"
    val width = intDigits + (if (scale > 0) scale + 1 else 0) +
      (if (grouping) (intDigits - 1) / 3 else 0)
    Some(
      s"CASE WHEN length($intRaw) > $intDigits THEN repeat('#', $width) " +
        s"ELSE concat($signPart, $dollarPart, $intGrouped, $decPart) END")
  }

  // --------------------------------------------- function-shaped shims
  /** A string literal argument's value. */
  private object Str {
    def unapply(e: Expression): Option[String] = e match {
      case Literal(v, _: StringType) if v != null => Some(v.toString)
      case _ => None
    }
  }

  private def isOne(e: Expression): Boolean = e == Literal(1)

  /** The expression of SQL template `sql`, with `__0`, `__1`, ...
    * standing for `args`. Parsed per call under the session's conf,
    * as the query text around it was; its functions resolve as in any
    * query (Spark's built-ins, not the `rs_` builders). */
  private def expand(sql: String, args: Expression*): Expression =
    CatalystSqlParser.parseExpression(sql).transform {
      case UnresolvedAttribute(Seq(p)) if p.startsWith("__") => args(p.drop(2).toInt)
    }

  /** The builder of Redshift function `name`: `translate` maps the
    * call's resolved arguments to a Spark expression, or to None for a
    * shape it does not translate, which is refused at analysis (the
    * C5 dry-run reports it) rather than left to a Spark built-in of
    * the same name. */
  private def shim(name: String, usage: String)(
      translate: Seq[Expression] => Option[Expression]): (String, Seq[Expression] => Expression) =
    name -> (args => translate(args).getOrElse(throw new IllegalArgumentException(
      s"${name.toUpperCase}(${args.map(_.sql).mkString(", ")}) has no Spark " +
        s"translation; the dialect supports $usage")))

  /** A shim of fixed arity over one template (which casts the
    * arguments where a typed SQL signature would). */
  private def fixed(name: String, arity: Int, template: String) =
    shim(name, s"${name.toUpperCase} with $arity argument(s)") {
      case args if args.size == arity => Some(expand(template, args: _*))
      case _ => None
    }

  /** A trailing `null_if_invalid` flag, accepted and dropped: Spark's
    * JSON readers already return NULL on malformed input (Redshift
    * WITHOUT the flag errors on bad JSON — the shim is the lenient
    * form, documented deviation). */
  private def dropFlag(args: Seq[Expression]): Seq[Expression] = args match {
    case init :+ Literal(_: Boolean, BooleanType) if init.nonEmpty => init
    case _ => args
  }

  // array_size (not size): NULL for malformed/non-array input
  // regardless of spark.sql.legacy.sizeOfNull
  private val ArrayLength = "array_size(from_json(__0, 'array<string>'))"

  // the json literal `null` is VALID json but get_json_object returns
  // SQL NULL for it — test it explicitly
  private val ValidJson = "(trim(__0) = 'null' OR get_json_object(__0, '$') IS NOT NULL)"

  /** A REGEXP_* builder. Redshift's regex functions take POSITION (a
    * 1-based search start), OCCURRENCE (the n-th match) and a trailing
    * PARAMETERS string that Spark's regexp built-ins lack
    * (dialect/redshift.py:218-229 ships transform SQL full of them).
    * `f` gets the text, the pattern and up to `positional - 2` more
    * arguments, and the parameter letters: 'c' (case-sensitive, the
    * default) changes nothing and 'i' prefixes `(?i)` to a literal
    * pattern (both engines take inline flags). A non-literal
    * parameter string, a letter outside `allowed` (the 'p' PCRE mode)
    * or 'i' over a non-literal pattern is refused. */
  private def regexp(name: String, usage: String, positional: Int, allowed: String)(
      f: (Seq[Expression], String) => Option[Expression]) =
    shim(name, usage) { args =>
      val (core, params) =
        if (args.length == positional + 1) (args.init, Some(args.last)) else (args, None)
      val letters = params.fold(Option("")) {
        case Str(l) => Some(l).filter(_.forall(allowed.contains(_)))
        case _ => None
      }
      (core.lift(1), letters) match {
        case (Some(_), Some(l)) if core.length <= positional && !l.contains('i') => f(core, l)
        case (Some(Str(p)), Some(l)) if core.length <= positional =>
          f(core.updated(1, Literal(if (p.startsWith("(?i)")) p else "(?i)" + p)), l)
        case _ => None
      }
    }

  /** The searched text from 1-based position `__2` on. */
  private def searched(pos: Expression): String =
    if (isOne(pos)) "__0" else "substring(__0, __2)"

  /** Every function-shaped Redshift shim, by its Redshift name. Each
    * builder reads its literal arguments (formats, JSON keys, regex
    * parameters) from the resolved call and emits codegen'd Spark
    * built-ins. [[GraftExtensions]] installs them, a name Spark
    * already has under `rs_` (see [[sqlName]]). */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // the TWO-argument form's source zone is UTC BY DEFINITION in
    // Redshift (not the session zone, which Spark's own 2-arg
    // convert_timezone would use); three arguments pivot through UTC
    shim("convert_timezone", "CONVERT_TIMEZONE([source,] target, timestamp)") {
      case Seq(tgt, ts) => Some(expand("from_utc_timestamp(__0, __1)", ts, tgt))
      case Seq(src, tgt, ts) =>
        Some(expand("from_utc_timestamp(to_utc_timestamp(__0, __1), __2)", ts, src, tgt))
      case _ => None
    },
    shim("to_char", "TO_CHAR(value, 'format') with a datetime or number format literal") {
      case Seq(x, Str(f)) => toCharExpr(f).orElse(toCharNumExpr(f)).map(expand(_, x))
      case _ => None
    }) ++
    // the INVERSE of TO_CHAR, token for token: Redshift SQL full of
    // TO_DATE(s, 'MM/DD/YYYY') ships verbatim (relation.py:279-293)
    Seq("to_date", "to_timestamp").map(name =>
      shim(name, s"${name.toUpperCase}(text, 'format') with numeric format tokens") {
        case Seq(e, Str(f)) => toParsePattern(f).map(p => expand(s"$name(__0, __1)", e, Literal(p)))
        case _ => None
      }) ++ Seq(
    shim("json_extract_path_text",
        "JSON_EXTRACT_PATH_TEXT(json, 'key', ...[, null_if_invalid]) with word-character key literals") { args =>
      dropFlag(args) match {
        case j +: keys if keys.nonEmpty =>
          val words = keys.collect {
            case Str(k) if k.nonEmpty && k.forall(c => c.isLetterOrDigit || c == '_') => k
          }
          if (words.size < keys.size) None
          else Some(expand("get_json_object(__0, __1)", j, Literal("$" + words.map("." + _).mkString)))
        case _ => None
      }
    },
    shim("json_extract_array_element_text",
        "JSON_EXTRACT_ARRAY_ELEMENT_TEXT(json, index[, null_if_invalid]) with a literal index") { args =>
      dropFlag(args) match {
        case Seq(j, Literal(i: Int, IntegerType)) if i >= 0 =>
          Some(expand("get_json_object(__0, __1)", j, Literal(s"$$[$i]")))
        case _ => None
      }
    },
    shim("json_array_length", "JSON_ARRAY_LENGTH(json[, null_if_invalid])") { args =>
      dropFlag(args) match {
        case Seq(j) => Some(expand(ArrayLength, j))
        case _ => None
      }
    },
    fixed("get_array_length", 1, ArrayLength),
    // false for arrays, as Redshift documents (that is
    // IS_VALID_JSON_ARRAY's job): from_json with an array schema
    // parses ONLY arrays, so its non-nullity is the array discriminator
    fixed("is_valid_json", 1, s"($ValidJson AND from_json(__0, 'array<string>') IS NULL)"),
    fixed("can_json_parse", 1, ValidJson),
    fixed("is_valid_json_array", 1, "(from_json(__0, 'array<string>') IS NOT NULL)"),
    // SUPER is json TEXT on this tier, so parse and serialize are identities
    fixed("json_parse", 1, "__0"),
    fixed("json_serialize", 1, "__0"),
    // a SUPER array as json text; \Q..\E quotes the delimiter, since
    // Spark's split takes a REGEX and Redshift's a literal (the comma
    // is Redshift's default)
    shim("split_to_array", "SPLIT_TO_ARRAY(text[, delimiter])") {
      case Seq(s) => Some(expand("to_json(split(__0, ','))", s))
      case Seq(s, d) => Some(expand("to_json(split(__0, concat('\\\\Q', __1, '\\\\E')))", s, d))
      case _ => None
    },
    // 0-based start (Spark's slice is 1-based)
    fixed("subarray", 3, "to_json(slice(from_json(__0, 'array<string>'), (__1) + 1, __2))"),
    // '' on no match, NULL on NULL input; 'e' returns the first
    // SUBEXPRESSION: group 1 when the literal pattern declares a group,
    // the whole match (Redshift semantics) when it declares none
    regexp("regexp_substr",
        "REGEXP_SUBSTR(text, pattern[, position[, occurrence[, 'c'|'i'|'e']]])", 4, "cie") {
      (core, letters) =>
        val group = if (!letters.contains('e')) Some(0) else core(1) match {
          case Str(p) => Some(if (p.stripPrefix("(?i)").contains("(")) 1 else 0)
          case _ => None
        }
        val Seq(s, p, pos, occ) = core.padTo(4, Literal(1))
        group.map(g => expand("CASE WHEN __0 IS NULL OR __1 IS NULL THEN NULL ELSE " +
          s"coalesce(get(regexp_extract_all(${searched(pos)}, __1, $g), (__3) - 1), '') END",
          s, p, pos, occ))
    },
    regexp("regexp_count", "REGEXP_COUNT(text, pattern[, position[, 'c'|'i']])", 3, "ci") {
      (core, _) =>
        val Seq(s, p, pos) = core.padTo(3, Literal(1))
        Some(expand(s"regexp_count(${searched(pos)}, __1)", s, p, pos))
    },
    // the n-th match start (option 0) or end+1 (option 1) from split
    // parts and match lengths, 0 on no match; zero-width patterns are
    // out of contract (split- and match-lists disagree there)
    regexp("regexp_instr",
        "REGEXP_INSTR(text, pattern[, position[, occurrence[, 0|1[, 'c'|'i']]]])", 5, "ci") {
      (core, _) =>
        val Seq(s, p, pos, occ, option) = core.padTo(4, Literal(1)).padTo(5, Literal(0))
        val text = searched(pos)
        val posAdj = if (isOne(pos)) "" else " + (__2) - 1"
        val ms = s"regexp_extract_all($text, __1, 0)"
        val nth = "CASE WHEN __0 IS NULL OR __1 IS NULL THEN NULL " +
          s"WHEN size($ms) < (__3) THEN 0 ELSE " +
          s"aggregate(slice(split($text, __1, -1), 1, __3), 0, (a, x) -> a + length(x)) + " +
          s"aggregate(slice($ms, 1, (__3) - 1), 0, (a, x) -> a + length(x)) + 1"
        (option match {
          case Literal(0, IntegerType) if isOne(occ) => Some(s"CASE WHEN regexp_instr($text, __1) = 0 " +
            s"THEN 0 ELSE regexp_instr($text, __1)$posAdj END")
          case Literal(0, IntegerType) => Some(s"$nth$posAdj END")
          case Literal(1, IntegerType) => Some(s"$nth + length(get($ms, (__3) - 1))$posAdj END")
          case _ => None
        }).map(expand(_, s, p, pos, occ))
    },
    // the 2-argument form deletes matches; Spark's 4-argument
    // regexp_replace has the position
    regexp("regexp_replace",
        "REGEXP_REPLACE(text, pattern[, replacement[, position[, 'c'|'i']]])", 4, "ci") {
      (core, _) =>
        val Seq(s, p, rep, pos) = core.padTo(3, Literal("")).padTo(4, Literal(1))
        Some(if (isOne(pos)) expand("regexp_replace(__0, __1, __2)", s, p, rep)
          else expand("regexp_replace(__0, __1, __2, __3)", s, p, rep, pos))
    },
    // TRUNC returns a DATE for day-or-coarser units; sub-day units
    // keep the time component. Oracle's one-letter formats do NOT
    // abbreviate the word they resemble: 'D' (like 'DY' and 'DAY')
    // truncates to the start of the WEEK, Sunday under the default US
    // NLS territory (dayofweek is 1 for Sunday), and 'W'/'WW' to the
    // start of the value's 7-day chunk of its month/year. Those three
    // reference the argument twice, so a NON-DETERMINISTIC argument
    // could disagree with itself.
    shim("trunc", "TRUNC(timestamp, 'datepart')") {
      case Seq(e, Str(f)) =>
        (f.toLowerCase match {
          case "d" | "dy" | "day" => Some("date_sub(CAST((__0) AS DATE), dayofweek(__0) - 1)")
          case "w" => Some("date_add(CAST(date_trunc('MONTH', __0) AS DATE), " +
            "7 * CAST(floor((dayofmonth(__0) - 1) / 7) AS INT))")
          case "ww" => Some("date_add(CAST(date_trunc('YEAR', __0) AS DATE), " +
            "7 * CAST(floor((dayofyear(__0) - 1) / 7) AS INT))")
          case unit => TruncUnits.get(unit).map {
            case u @ ("year" | "quarter" | "month" | "week" | "day") =>
              s"CAST(date_trunc('${u.toUpperCase}', __0) AS DATE)"
            case u => s"date_trunc('${u.toUpperCase}', __0)"
          }
        }).map(expand(_, e))
      case _ => None
    },
    // CHARINDEX's argument order is (needle, haystack), the REVERSE of
    // instr; both are 1-based with 0 for an absent needle
    fixed("charindex", 2, "instr(CAST(__1 AS STRING), CAST(__0 AS STRING))"),
    fixed("strtol", 2, "CAST(conv(CAST(__0 AS STRING), CAST(__1 AS INT), 10) AS BIGINT)")) ++
    // Redshift DATEDIFF counts BOUNDARY CROSSINGS, not complete
    // intervals: datediff(day, 23:00, next 01:00) = 1. Truncating both
    // sides to the unit first makes Spark's complete-interval
    // timestampdiff count exactly the crossings. One function per unit:
    // [[rewriteDateDiff]] folds the unit into the name.
    CanonicalUnits.map { unit =>
      val u = unit.toUpperCase
      fixed(s"rs_datediff_$unit", 2, s"timestampdiff($u, date_trunc('$u', CAST(__0 AS TIMESTAMP)), " +
        s"date_trunc('$u', CAST(__1 AS TIMESTAMP)))")
    }

  /** The names in [[functions]] that Spark also has as built-ins. */
  private lazy val SparkNamed: Set[String] = functions.map(_._1)
    .filter(n => FunctionRegistry.builtin.functionExists(FunctionIdentifier(n))).toSet

  /** The SQL name [[GraftExtensions]] installs `name`'s builder under:
    * `rs_<name>` where Spark has a built-in `name`, so SQL that skips
    * the dialect pass keeps Spark's meaning. Computed, not listed: a
    * Spark upgrade that adds a same-named built-in cannot take a
    * Redshift call over. */
  def sqlName(name: String): String = if (SparkNamed(name)) s"rs_$name" else name

  private lazy val SparkNamedCallRe =
    s"(?i)(?<![\\w.])(${SparkNamed.mkString("|")})(?=$Gap*\\()".r

  /** `name(` → `rs_name(` for the [[SparkNamed]] functions (masked
    * text). Idempotent: `rs_name(` does not match again. */
  private def renameSparkNamed(sql: String): String =
    SparkNamedCallRe.replaceAllIn(sql, "rs_$1")

  /** Register a literal INJECTED by a rewrite pass and return its
    * placeholder. Injected literals must never appear raw in masked
    * text: a json path such as '$.a.b.c' holds a dotted run the SUPER
    * path pass would match inside the literal. */
  private def maskLit(saved: scala.collection.mutable.ArrayBuffer[String],
                      content: String): String = {
    saved += content
    s"'\u0000${saved.size - 1}\u0000'"
  }

  // ------------------------------------- literal/comment-safe rewriting
  /** Mask string literals, double-quoted identifiers, and comments
    * with indexed placeholders (`NUL idx NUL`, delimiters kept) so the
    * regex passes above can never fire inside them — a literal such as
    * `'uses DATEADD(day, ...)'` survives the dialect pass verbatim.
    * Returns the masked text and the saved contents; [[unmask]]
    * restores by index, so passes may reorder or duplicate
    * placeholders freely. */
  private[etl] def mask(sql: String): (String, IndexedSeq[String]) = {
    // The placeholders are NUL-delimited indices; a NUL already in the
    // input would misalign placeholder parsing in unmask (or index
    // into the wrong saved slot). NUL has no meaning in SQL text, so
    // reject it outright rather than corrupt the rewrite.
    require(sql.indexOf('\u0000') < 0,
      "SQL text contains a NUL (U+0000) character; cannot rewrite")
    val sb = new StringBuilder(sql.length)
    val saved = scala.collection.mutable.ArrayBuffer[String]()
    def save(content: String): String = {
      saved += content; s"\u0000${saved.size - 1}\u0000"
    }
    var i = 0
    val n = sql.length
    while (i < n) {
      val c = sql.charAt(i)
      if (c == '\'' || c == '"') {
        // quoted run; doubled quotes ('' / "") are escapes
        var j = i + 1
        while (j < n && !(sql.charAt(j) == c &&
            !(j + 1 < n && sql.charAt(j + 1) == c))) {
          j += (if (sql.charAt(j) == c) 2 else 1)
        }
        val end = math.min(j, n)
        sb.append(c).append(save(sql.substring(i + 1, end)))
        if (end < n) sb.append(c)
        i = end + 1
      } else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        val e = sql.indexOf('\n', i)
        val end = if (e < 0) n else e
        val text = sql.substring(i + 2, end)
        // Spark's lexer continues a `--` comment over a backslash-
        // newline and Redshift's does not: a space keeps the next line
        sb.append("--").append(save(if (e >= 0 && text.endsWith("\\")) text + " " else text))
        i = end
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        val e = sql.indexOf("*/", i + 2)
        val end = if (e < 0) n else e
        sb.append("/*").append(save(sql.substring(i + 2, end)))
        if (e >= 0) { sb.append("*/"); i = end + 2 } else i = n
      } else {
        sb.append(c); i += 1
      }
    }
    (sb.toString, saved.toIndexedSeq)
  }

  private val Placeholder = "\u0000(\\d+)\u0000".r


  private[etl] def unmask(sql: String, saved: IndexedSeq[String]): String =
    Placeholder.replaceAllIn(sql, m =>
      java.util.regex.Matcher.quoteReplacement(saved(m.group(1).toInt)))

  /** `expr [NOT] SIMILAR TO 'pattern' [ESCAPE 'e']` → `expr [NOT]
    * RLIKE '<anchored regex>'` (SURVEY §7.3's last Redshift delta).
    * Operates on MASKED text: the pattern literal is a placeholder
    * whose saved content gets translated in place, so quoting inside
    * the pattern needs no special handling at this layer. Non-literal
    * patterns (column refs) are left for the C5 dry-run to surface. */
  private val SimilarToRe =
    (s"(?i)\\b(NOT$Gap+)?SIMILAR$Gap+TO$Gap+'\\x00(\\d+)\\x00'" +
      s"(?:$Gap+ESCAPE$Gap+'\\x00(\\d+)\\x00')?").r

  private def rewriteSimilarTo(sql: String, saved: scala.collection.mutable.ArrayBuffer[String]): String =
    SimilarToRe.replaceAllIn(sql, m => {
      val patIdx = m.group(2).toInt
      val escape = Option(m.group(3)).map(_.toInt)
        .map(saved(_).replace("''", "'"))
        .map(e => if (e.isEmpty) None else Some(e.charAt(0)))
        .getOrElse(Some('\\'))
      val regex = similarToRegex(saved(patIdx).replace("''", "'"), escape)
      // Re-encode for Spark's string-literal lexer (C-style escapes
      // active by default): backslashes double, quotes get \'.
      saved(patIdx) = regex.replace("\\", "\\\\").replace("'", "\\'")
      val not = if (m.group(1) != null) "NOT " else ""
      java.util.regex.Matcher.quoteReplacement(
        s"${not}RLIKE '\u0000$patIdx\u0000'" + commentsIn(m.matched))
    })

  // ------------------------------------------------------ SELECT TOP
  private val TopRe =
    java.util.regex.Pattern.compile(
      s"(?i)\\bSELECT($Gap+DISTINCT)?$Gap+TOP$Gap+(\\d+)\\b")

  /** Redshift's `SELECT TOP n` (equivalent to LIMIT, allowed in any
    * query block) → remove the TOP clause and append `LIMIT n` at the
    * end of ITS query block, located by parenthesis depth on the
    * masked text: depth-0 blocks limit at end-of-query, a nested
    * block just before its closing `)`. Expects MASKED sql (literals
    * cannot fake a TOP). A TOP in one branch of a set operation is
    * rejected rather than silently mis-scoped. */
  private[etl] def rewriteSelectTop(sql: String): String = {
    val m = TopRe.matcher(sql)
    if (!m.find()) return sql
    val start = m.start
    val n = m.group(2).toLong
    val distinct = if (m.group(1) == null) "" else " DISTINCT"
    // depth of the SELECT, then the block end at that depth
    def depthAt(pos: Int): Int =
      sql.substring(0, pos).count(_ == '(') - sql.substring(0, pos).count(_ == ')')
    val d = depthAt(start)
    var i = m.end
    var depth = d
    var end = sql.length
    var found = d == 0
    while (!found && i < sql.length) {
      sql.charAt(i) match {
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth < d) { end = i; found = true }
        case _ => ()
      }
      i += 1
    }
    // the whole block at this depth — text BEFORE the TOP included,
    // or `SELECT a FROM t UNION SELECT TOP 5 ...` (set-op keyword
    // ahead of the match) would slip past the guard and mis-scope the
    // LIMIT over the entire set operation
    var j = start - 1
    var backDepth = 0
    var blockStart = 0
    while (j >= 0 && blockStart == 0) {
      sql.charAt(j) match {
        case ')' => backDepth += 1
        case '(' =>
          if (backDepth == 0) blockStart = j + 1 else backDepth -= 1
        case _ => ()
      }
      j -= 1
    }
    val block = sql.substring(blockStart, start) + sql.substring(m.end, end)
    require(!"(?i)\\b(UNION|INTERSECT|EXCEPT|MINUS)\\b".r
        .findFirstIn(stripBalancedParens(block)).isDefined,
      s"SELECT TOP $n in a set-operation branch is ambiguous — use LIMIT")
    val rewritten = sql.substring(0, start) + "SELECT" + commentsIn(m.group) + distinct +
      sql.substring(m.end, end) + s" LIMIT $n" + sql.substring(end)
    rewriteSelectTop(rewritten)   // next TOP, if any
  }

  // ------------------------------------------------ SUPER / PartiQL
  /** Redshift SUPER / PartiQL navigation over json-varchar columns.
    * The reference flattens `json`/`hstore` sources to varchar
    * (config/default_settings.yaml:97-118), and modern Redshift
    * transform SQL navigates such data with dot paths and UNNEST:
    *
    *   - `alias.col.a.b[0].c` → `get_json_object(alias.col, '$.a.b[0].c')`
    *   - `FROM t, UNNEST(expr) [AS] x` / `CROSS JOIN UNNEST(expr) x`
    *     → `FROM t LATERAL VIEW explode(from_json(expr,
    *       'array<string>')) x_lv AS x`
    *   - `x.field` on an UNNEST alias → `get_json_object(x, '$.field')`
    *
    * Contract of the syntax-only rewrite (no catalog is consulted):
    * a dotted reference with ≥ 3 components — or ≥ 2 plus a `[n]`
    * index — is a PartiQL path ONLY when its head is a relation
    * alias (or single-part relation name, or UNNEST/iteration
    * element alias) bound by a FROM/JOIN item of the statement —
    * the same scope rule Redshift uses to tell `s.doc.lines` from a
    * three-part catalog name. A fully-qualified column reference
    * whose head is a SCHEMA (`SELECT sch.t.col FROM sch.t`) binds no
    * single-part alias, so it stays a qualified reference; relation
    * positions (after FROM/JOIN) are excluded outright. Paths
    * yield STRINGS (scalar json values unquoted, nested values as
    * their json text — both Redshift's `::text` behavior and
    * Spark's `get_json_object`); numeric use casts explicitly, as
    * SUPER queries do. Array elements from UNNEST arrive as json
    * TEXT (Spark's JSON parser serializes non-scalar elements back
    * to json when the target type is string), so element paths
    * compose. */
  private val UnnestRe = java.util.regex.Pattern.compile(
    s"(?i)(,|\\bCROSS$Gap+JOIN\\b)$Gap*UNNEST$Gap*\\(")

  private[etl] def rewriteUnnest(sql: String): (String, Set[String]) = {
    val m = UnnestRe.matcher(sql)
    if (!m.find()) return (sql, Set.empty)
    var depth = 1
    var i = m.end
    while (depth > 0 && i < sql.length) {
      sql.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ => ()
      }
      i += 1
    }
    require(depth == 0, "UNNEST(...): unbalanced parentheses")
    val arg = sql.substring(m.end, i - 1)
    // two spellings: `UNNEST(x) [AS] t` (t is the element) and the
    // Trino/Athena column-alias form `UNNEST(x) [AS] t(col)` (col is
    // the element, t names the lateral relation). Without the second
    // branch the leftover `(col)` spliced into the output as corrupt
    // SQL with a baffling downstream parse error.
    val aliasM = java.util.regex.Pattern
      .compile(s"(?i)^$Gap*(?:AS$Gap+)?([A-Za-z_]\\w*)" +
        s"($Gap*\\($Gap*([A-Za-z_]\\w*(?:\\s*,[^)]*)?)$Gap*\\))?")
      .matcher(sql.substring(i))
    require(aliasM.find() && !ReservedAfterAlias(aliasM.group(1).toUpperCase),
      "UNNEST(...) requires an alias (UNNEST(expr) AS x)")
    val colList = Option(aliasM.group(3)).map(_.trim)
    require(colList.forall(!_.contains(",")),
      "UNNEST(expr) AS t(a, b, ...) multi-column form is not supported " +
        "over json-varchar arrays — iterate a single element alias")
    val alias = colList.getOrElse(aliasM.group(1))
    val viewName = if (colList.isDefined) aliasM.group(1) else alias + "_lv"
    val replaced = sql.substring(0, m.start) +
      s" LATERAL VIEW explode(from_json($arg, 'array<string>')) " +
      s"$viewName AS $alias" + commentsIn(m.group + aliasM.group) +
      sql.substring(i + aliasM.end)
    val (s2, more) = rewriteUnnest(replaced)
    (s2, more + alias)
  }

  private val SuperPathRe = java.util.regex.Pattern.compile(
    "\\b([A-Za-z_]\\w*)\\.([A-Za-z_]\\w*)((?:\\.[A-Za-z_]\\w*|\\[\\d+\\])+)")

  /** Statement text VISIBLE from `pos` under SQL scoping: the
    * position's own paren scope plus every enclosing scope, with
    * sibling (balanced) sub-scopes blanked to `()`. An alias bound
    * only INSIDE an unrelated subquery must not leak out — `SELECT
    * d.v FROM (SELECT 1 FROM events) q, events.doc AS d` binds
    * `events` in the inner scope only, and treating the outer
    * `events.doc` as a PartiQL head because of it would corrupt a
    * valid schema-qualified relation. Enclosing scopes stay visible,
    * so correlated references (an outer alias used inside a
    * subquery) still resolve. */
  private def visibleScopeText(sql: String, pos: Int): String = {
    val chain = scala.collection.mutable.Set.empty[Int]
    val pre = scala.collection.mutable.Stack[Int]()
    var i = 0
    while (i < pos && i < sql.length) {
      sql.charAt(i) match {
        case '(' => pre.push(i)
        case ')' => if (pre.nonEmpty) pre.pop()
        case _ => ()
      }
      i += 1
    }
    pre.foreach(chain += _)
    val sb = new java.lang.StringBuilder(sql.length)
    val cur = scala.collection.mutable.Stack[Int]()
    i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      // sibling scopes are blanked to literally `()` — the parens must
      // SURVIVE (only the contents go) because fromBoundAliases binds
      // derived tables via `\)\s*(AS)?\s*alias`: dropping them entirely
      // would unbind `FROM (SELECT ...) AS d` and silently skip the
      // path rewrite of `d.payload.kind`. The '(' of a directly-nested
      // sibling is visible iff all ENCLOSING scopes are on the chain
      // (chain is a nesting path, so top∈chain ⊆ tail∈chain); the ')'
      // is popped BEFORE its visibility check so a sibling's closer is
      // judged by the parent scope it returns to.
      c match {
        case '(' =>
          cur.push(i)
          if (cur.drop(1).forall(chain.contains)) sb.append(c)
        case ')' =>
          if (cur.nonEmpty) cur.pop()
          if (cur.forall(chain.contains)) sb.append(c)
        case _ =>
          if (cur.forall(chain.contains)) sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Single-part relation aliases and names bound by FROM/JOIN items
    * anywhere in the (masked) statement — the scope a PartiQL path
    * head must resolve in. Multi-part names (`FROM sch.t`) bind no
    * single-part head, which is exactly what keeps a fully-qualified
    * `sch.t.col` column reference out of the path rewrite. Returned
    * UPPERCASED: SQL identifier resolution is case-insensitive, so
    * `FROM src AS S` must bind the head of `s.doc.title`. Callers
    * pass [[visibleScopeText]] of the reference position, never the
    * raw statement, so sibling-subquery bindings cannot leak. */
  private def fromBoundAliases(sql: String): Set[String] = {
    val acc = scala.collection.mutable.Set.empty[String]
    // the alias capture must REJECT keywords via lookahead, not
    // post-filter: a greedy `(\w+)` would consume the FROM in
    // `SELECT a, b FROM t x` as b's "alias" and the real FROM item
    // would never match at all
    val notKw = "(?!(?i:" + (ReservedAfterAlias ++ Set(
      "FROM", "SELECT", "SET", "VALUES", "BY", "AND", "OR", "NOT",
      "CASE", "WHEN", "THEN", "ELSE", "END")).mkString("|") + ")\\b)"
    val item = java.util.regex.Pattern.compile(
      s"(?i)(\\bFROM|\\bJOIN|,)$Gap+" + notKw + "([A-Za-z_][\\w.]*)" +
        s"(?:$Gap+(?:AS$Gap+)?" + notKw + "([A-Za-z_]\\w*))?").matcher(sql)
    while (item.find()) {
      // comma-anchored matches are FROM items only inside a FROM/JOIN
      // clause (ON: a comma item can directly follow a join's ON
      // condition) — a SELECT-list comma binds nothing
      val inFrom = item.group(1) != "," ||
        (clauseBefore(sql, item.start) match {
          case "FROM" | "JOIN" | "ON" => true
          case _ => false
        })
      if (inFrom) Option(item.group(3)) match {
        case Some(a) => acc += a.toUpperCase
        case None if !item.group(2).contains('.') =>
          acc += item.group(2).toUpperCase
        case None => ()
      }
    }
    // derived tables: `FROM ( ... ) [AS] x`
    val derived = java.util.regex.Pattern.compile(
      s"\\)$Gap*(?:(?i:AS)$Gap+)?([A-Za-z_]\\w*)").matcher(sql)
    while (derived.find()) {
      val a = derived.group(1)
      // position just past the ')': the subquery parens are balanced
      // there, so clauseBefore reports the OUTER clause (a SELECT-list
      // scalar subquery's alias is not a relation alias)
      if (!ReservedAfterAlias(a.toUpperCase) &&
          (clauseBefore(sql, derived.start + 1) match {
            case "FROM" | "JOIN" => true
            case _ => false
          })) acc += a.toUpperCase
    }
    acc.toSet
  }

  private[etl] def rewriteSuperPaths(sql: String,
                                     unnestAliases: Set[String],
                                     saved: scala.collection.mutable.ArrayBuffer[String]): String = {
    val elemUpper = unnestAliases.map(_.toUpperCase)
    // per-position scope: aliases bound in sibling subqueries must
    // not make an outer schema.table.column look like a path
    def bound(pos: Int): Set[String] =
      fromBoundAliases(visibleScopeText(sql, pos)) ++ elemUpper
    val m = SuperPathRe.matcher(sql)
    val out = new java.lang.StringBuilder
    var last = 0
    while (m.find()) {
      val followedByParen = {
        var i = m.end
        while (i < sql.length && sql.charAt(i).isWhitespace) i += 1
        i < sql.length && sql.charAt(i) == '('
      }
      val prevWord = {
        var i = m.start - 1
        while (i >= 0 && sql.charAt(i).isWhitespace) i -= 1
        val end = i
        while (i >= 0 && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')) i -= 1
        sql.substring(i + 1, end + 1).toUpperCase
      }
      // `schema.fn(...)` stays a call; `FROM db.schema.table` stays a
      // catalog name
      // three-part names in RELATION positions are catalog names, not
      // paths: directly after FROM/JOIN/INTO/TABLE, and — the comma-
      // listed FROM item case (`FROM sch.t a, db.sch2.t2 b`) — any
      // position whose nearest clause keyword in its own paren scope
      // is FROM or JOIN (a genuine PartiQL iteration item there was
      // consumed by rewritePartiqlIteration, which runs first)
      val relationPosition =
        prevWord == "FROM" || prevWord == "JOIN" ||
        prevWord == "INTO" || prevWord == "TABLE" ||
        (clauseBefore(sql, m.start) match {
          case "FROM" | "JOIN" => true
          case _ => false
        })
      val head = m.group(1)
      if (!followedByParen && !relationPosition &&
          bound(m.start)(head.toUpperCase)) {
        val (base, path) =
          if (elemUpper(head.toUpperCase)) (head, "." + m.group(2) + m.group(3))
          else (head + "." + m.group(2), m.group(3))
        out.append(sql, last, m.start)
        out.append(s"get_json_object($base, ${maskLit(saved, s"$$$path")})")
        last = m.end
      }
    }
    out.append(sql, last, sql.length)
    out.toString
  }

  /** PartiQL `[*]` wildcard array paths inside comparison predicates:
    * `WHERE s.doc.lines[*].q > 3`. Redshift's SUPER tier accepts a
    * wildcard step in a path expression (PartiQL path syntax); in a
    * predicate position the collection-valued path holds when ANY
    * element satisfies the comparison — the SQL/JSON path-exists
    * semantics (`JSON_EXISTS`-style) every json-path engine gives a
    * filter over an array step. Rewritten to a codegen'd higher-order
    * function over the parsed array, so the predicate evaluates
    * per-row with NO lateral explode (a wildcard filter must not
    * change the query's cardinality the way FROM-iteration does):
    *
    *   `s.doc.lines[*].q > 3` →
    *   `exists(from_json(get_json_object(s.doc, '$.lines'),
    *           'array<string>'), wc_e -> get_json_object(wc_e, '$.q') > 3)`
    *
    * Scope guards are [[rewriteSuperPaths]]'s: the head must be a
    * FROM-bound alias (or UNNEST/iteration element alias) visible at
    * the reference, relation positions are excluded. The wildcard is
    * supported ONLY in a simple comparison (`path <op> literal/number/
    * column`) — anything else (SELECT-list wildcard, function-wrapped
    * path, path on the comparison's right) is REFUSED loudly rather
    * than rewritten wrong. One wildcard step per path. */
  private val WildcardPathRe = java.util.regex.Pattern.compile(
    "\\b([A-Za-z_]\\w*)\\.([A-Za-z_]\\w*)((?:\\.[A-Za-z_]\\w*|\\[\\d+\\]|\\[\\*\\])+)")

  private val WildcardCmpRe = java.util.regex.Pattern.compile(
    s"^$Gap*(<=|>=|<>|!=|=|<|>)$Gap*('\\x00\\d+\\x00'|-?\\d+(?:\\.\\d+)?|[A-Za-z_][\\w.]*)")

  private[etl] def rewriteWildcardPaths(sql: String,
                                        unnestAliases: Set[String],
                                        saved: scala.collection.mutable.ArrayBuffer[String]): String = {
    if (!sql.contains("[*]")) return sql
    val elemUpper = unnestAliases.map(_.toUpperCase)
    def bound(pos: Int): Set[String] =
      fromBoundAliases(visibleScopeText(sql, pos)) ++ elemUpper
    val m = WildcardPathRe.matcher(sql)
    val out = new java.lang.StringBuilder
    var last = 0
    while (m.find()) {
      val comps = m.group(3)
      // m.start >= last: a dotted identifier consumed as a previous
      // match's comparison operand must not re-match as a path
      if (m.start >= last && comps.contains("[*]")) {
        val head = m.group(1)
        val relationPosition = clauseBefore(sql, m.start) match {
          case "FROM" | "JOIN" => true
          case _ => false
        }
        if (!relationPosition && bound(m.start)(head.toUpperCase)) {
          val star = comps.indexOf("[*]")
          require(comps.indexOf("[*]", star + 3) < 0,
            s"nested [*] wildcards are not supported: ${m.group(0)}")
          val pre = comps.substring(0, star)
          val post = comps.substring(star + 3)
          val cm = WildcardCmpRe.matcher(sql.substring(m.end))
          require(cm.find(),
            s"PartiQL [*] wildcard paths are supported only in a simple " +
              s"comparison predicate (path <op> operand): ${m.group(0)}")
          // the operand must be the WHOLE right-hand side: an operand
          // followed by '(' is a function call whose argument list
          // would be stranded, and one followed by an arithmetic/
          // concat/subscript/cast continuation ('+', '-', '*', '/',
          // '|', '%', '[', ':' for '::type', '^' exponentiation,
          // '&' bitwise AND, '#' bitwise XOR, '<'/'>' shifts) is a
          // compound expression this pass would silently truncate
          // (e.g. `> s.doc.y[*].r` consuming only `s.doc.y`, or
          // `> 3::int` re-attaching '::int' to the generated
          // boolean). Refuse loudly — the documented contract —
          // instead of rewriting wrong.
          val afterCmp = sql.substring(m.end + cm.end).replaceFirst(s"^$Gap*", "")
          val compound = afterCmp.nonEmpty &&
            "(+-*/|%[:^&#<>".contains(afterCmp.charAt(0))
          require(!compound,
            s"PartiQL [*] wildcard comparison operand must be a single " +
              s"literal, number, or column — not a compound expression " +
              s"or function call: ${m.group(0)} ${cm.group(1)} ${cm.group(2)}$afterCmp"
                .take(120))
          val (base, prePath) =
            if (elemUpper(head.toUpperCase)) (head, "." + m.group(2) + pre)
            else (head + "." + m.group(2), pre)
          val arrayText =
            if (prePath.isEmpty) base
            else s"get_json_object($base, ${maskLit(saved, "$" + prePath)})"
          val inner =
            if (post.isEmpty) "wc_e"
            else s"get_json_object(wc_e, ${maskLit(saved, "$" + post)})"
          out.append(sql, last, m.start)
          // the comparison as written, comments included
          out.append(s"exists(from_json($arrayText, 'array<string>'), " +
            s"wc_e -> $inner${cm.group})")
          last = m.end + cm.end
        }
      }
    }
    out.append(sql, last, sql.length)
    out.toString
  }

  /** Redshift's NATIVE PartiQL iteration syntax: the SUPER array is a
    * FROM-clause item whose head is an earlier relation alias —
    *
    *   `FROM src s, s.doc.lines AS elem [AT i]`
    *
    * (`UNNEST` is the Athena/Trino spelling; the Redshift SUPER docs
    * spell iteration with this comma form). Rewritten to
    * `LATERAL VIEW [pos]explode(from_json(<array json text>,
    * 'array<string>')) elem_lv AS [i,] elem`; `AT` ordinals are
    * 0-based on both sides (posexplode's pos matches Redshift's
    * array indexing). Two guards keep catalog names and SELECT-list
    * items safe: the rewrite fires only (a) inside a FROM clause of
    * the CURRENT paren scope, and (b) when the path head is a
    * relation alias already bound earlier in the statement — the
    * same scope rule Redshift itself uses to tell `s.doc.lines`
    * from a three-part catalog name. */
  private val PartiqlIterRe = java.util.regex.Pattern.compile(
    s",$Gap*([A-Za-z_]\\w*)((?:\\.[A-Za-z_]\\w*|\\[\\d+\\])+)$Gap+" +
    s"(?:(?i:AS)$Gap+)?([A-Za-z_]\\w*)(?:$Gap+(?i:AT)$Gap+([A-Za-z_]\\w*))?")

  /** Words that can follow a FROM item and must never be mistaken for
    * an element alias (`FROM t, UNNEST(x) WHERE ...` swallowing WHERE
    * produced a baffling downstream parse error, not the loud
    * missing-alias require). */
  private val ReservedAfterAlias: Set[String] = Set(
    "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "UNION", "INTERSECT",
    "EXCEPT", "JOIN", "ON", "LATERAL", "CROSS", "INNER", "LEFT", "RIGHT",
    "FULL", "QUALIFY", "WINDOW", "AS", "AT")

  /** The last clause keyword before `pos` in its own paren scope —
    * complete subqueries are dropped, an enclosing one is entered. */
  private def clauseBefore(sql: String, pos: Int): String = {
    val before = sql.substring(0, pos)
    var scopeStart = 0
    val opens = scala.collection.mutable.Stack[Int]()
    var i = 0
    while (i < before.length) {
      before.charAt(i) match {
        case '(' => opens.push(i + 1)
        case ')' => if (opens.nonEmpty) opens.pop()
        case _ => ()
      }
      i += 1
    }
    if (opens.nonEmpty) scopeStart = opens.top   // INNERMOST open paren
    val scope = stripBalancedParens(before.substring(scopeStart))
    // LATERAL is tracked so text INSIDE an already-rewritten
    // `LATERAL VIEW ... AS i, ln` clause (our own output) reads as
    // clause "LATERAL", never as a FROM item — without it the
    // posexplode form's `, ln` would bind the element alias as a fake
    // relation and the shadowing guard in rewriteUnnestFieldRefs
    // would skip its field refs
    val kw = java.util.regex.Pattern.compile(
      "(?i)\\b(FROM|SELECT|WHERE|HAVING|GROUP|ORDER|JOIN|ON|LATERAL)\\b")
      .matcher(scope)
    var lastKw = ""
    while (kw.find()) lastKw = kw.group(1).toUpperCase
    lastKw
  }

  private[etl] def rewritePartiqlIteration(sql: String,
                                           saved: scala.collection.mutable.ArrayBuffer[String]): (String, Set[String]) = {
    val m = PartiqlIterRe.matcher(sql)
    val out = new java.lang.StringBuilder
    var last = 0
    var aliases = Set.empty[String]
    while (m.find()) {
      val head = m.group(1)
      // scope guard shared with UNPIVOT ([[partiqlFromItemBound]]):
      // aliases AND bare single-part relation names bound BEFORE this
      // item (`FROM events, events.doc.lines AS l` iterates over the
      // events table's column — an alias-only rule would silently
      // leave the raw PartiQL item for Spark to choke on).
      // Prefix-scoped (binding must precede use in a FROM list) AND
      // scope-visible: a name bound only inside an earlier sibling
      // subquery must not turn a schema-qualified comma item into
      // iteration.
      val aliasOk = !ReservedAfterAlias(m.group(3).toUpperCase) &&
        Option(m.group(4)).forall(a => !ReservedAfterAlias(a.toUpperCase))
      if (partiqlFromItemBound(sql, m.start, head) && aliasOk) {
        // comps: ".doc.lines" / ".tags[0].x"
        val arrayText = partiqlJsonText(head, m.group(2),
          "PartiQL iteration", saved)
        val elem = m.group(3)
        val lateral = Option(m.group(4)) match {
          case Some(ord) =>
            s" LATERAL VIEW posexplode(from_json($arrayText, " +
              s"'array<string>')) ${elem}_lv AS $ord, $elem"
          case None =>
            s" LATERAL VIEW explode(from_json($arrayText, " +
              s"'array<string>')) ${elem}_lv AS $elem"
        }
        out.append(sql, last, m.start).append(lateral).append(commentsIn(m.group))
        last = m.end
        aliases += elem
      }
    }
    out.append(sql, last, sql.length)
    (out.toString, aliases)
  }

  /** Redshift SUPER OBJECT-attribute iteration — `UNPIVOT` as a
    * FROM-clause item (Redshift's PartiQL spelling for walking an
    * object's attributes, the dual of array comma-iteration):
    *
    *   `FROM src s, UNPIVOT s.doc AS v AT k`
    *
    * yields one row per attribute with `k` = attribute name and `v`
    * = attribute value. Rewritten to an explode over the parsed
    * MAP — `LATERAL VIEW explode(from_json(<object json text>,
    * 'map<string,string>')) k_lv AS k, v` — one codegen'd per-row
    * expansion, no join. Values arrive as text exactly like the
    * array-iteration elements (Spark's JSON parser serializes
    * non-scalar map values back to json when the value type is
    * string), so nested field refs on `v` compose through the same
    * element-alias path pass. Guards are [[rewritePartiqlIteration]]'s:
    * head bound earlier in a FROM clause; reserved words never read
    * as aliases. (This is DISTINCT from relational `UNPIVOT(col IN
    * (...))`, which q31 covers via Spark's native UNPIVOT — the
    * SUPER form iterates a json object column.) */
  private val PartiqlUnpivotRe = java.util.regex.Pattern.compile(
    s",$Gap*(?i:UNPIVOT)$Gap+([A-Za-z_]\\w*)((?:\\.[A-Za-z_]\\w*|\\[\\d+\\])*)$Gap+" +
    s"(?:(?i:AS)$Gap+)?([A-Za-z_]\\w*)$Gap+(?i:AT)$Gap+([A-Za-z_]\\w*)")

  /** Shared guard for PartiQL FROM-item rewrites (comma iteration,
    * SUPER UNPIVOT): the item's path head must be a relation alias —
    * or bare single-part relation name — bound EARLIER in a FROM/JOIN
    * clause visible at the item's position, and the item itself must
    * sit in a FROM context. One implementation so the two passes'
    * scoping can never silently diverge. */
  private def partiqlFromItemBound(sql: String, start: Int,
                                   head: String): Boolean = {
    val boundEarlier = fromBoundAliases(
      visibleScopeText(sql.substring(0, start), start))
      .contains(head.toUpperCase)
    val inFrom = clauseBefore(sql, start) match {
      case "FROM" | "JOIN" | "ON" => true
      case _ => false
    }
    boundEarlier && inFrom
  }

  /** Shared head+path → json-text extraction for the two PartiQL
    * FROM-item forms: `alias.column` is the navigated value itself;
    * deeper components ride a masked `get_json_object` path. */
  private def partiqlJsonText(head: String, comps: String, what: String,
                              saved: scala.collection.mutable.ArrayBuffer[String]): String = {
    val colM = java.util.regex.Pattern
      .compile("^\\.([A-Za-z_]\\w*)").matcher(comps)
    require(colM.find(), s"$what needs alias.column...: $head$comps")
    val base = s"$head.${colM.group(1)}"
    val path = comps.substring(colM.end)
    if (path.isEmpty) base
    else s"get_json_object($base, ${maskLit(saved, s"$$$path")})"
  }

  private[etl] def rewritePartiqlUnpivot(sql: String,
                                         saved: scala.collection.mutable.ArrayBuffer[String]): (String, Set[String]) = {
    val m = PartiqlUnpivotRe.matcher(sql)
    val out = new java.lang.StringBuilder
    var last = 0
    var aliases = Set.empty[String]
    while (m.find()) {
      val head = m.group(1)
      val aliasOk = !ReservedAfterAlias(m.group(3).toUpperCase) &&
        !ReservedAfterAlias(m.group(4).toUpperCase)
      // no other reading of this item parses, so an unbound head is refused
      require(!aliasOk || partiqlFromItemBound(sql, m.start, head),
        s"UNPIVOT $head${m.group(2)}: a SUPER UNPIVOT item's head must be " +
          "a relation alias bound earlier in the FROM clause")
      if (aliasOk) {
        val objText = partiqlJsonText(head, m.group(2), "SUPER UNPIVOT", saved)
        val valAlias = m.group(3)
        val keyAlias = m.group(4)
        out.append(sql, last, m.start)
        out.append(s" LATERAL VIEW explode(from_json($objText, " +
          s"'map<string,string>')) ${keyAlias}_lv AS $keyAlias, $valAlias" +
          commentsIn(m.group))
        last = m.end
        aliases += valAlias
      }
    }
    out.append(sql, last, sql.length)
    (out.toString, aliases)
  }

  /** 2-part `x.field` refs on an UNNEST element alias (the ≥3-part
    * form is handled by [[rewriteSuperPaths]]; the guard against
    * `get_json_object(x, '...')`'s own interior is the dot — the
    * rewritten form never has `alias.` inside). */
  private def rewriteUnnestFieldRefs(sql: String,
                                     aliases: Set[String]): String =
    aliases.foldLeft(sql) { (s, a) =>
      java.util.regex.Pattern
        // the (?<![.$]) lookbehind keeps the alias from matching
        // inside an already-rewritten json path literal ('$.items.qty'
        // when the element alias is also named items) or as the tail
        // of a longer dotted ref; (?i:) on the alias itself because
        // identifier resolution is case-insensitive (`... AS Ln` then
        // `SELECT ln.p`) — the base keeps the text AS WRITTEN at the
        // reference so the output stays recognizable
        .compile(s"(?<![.$$])\\b((?i:${java.util.regex.Pattern.quote(a)}))\\.([A-Za-z_]\\w*)\\b(?![\\w.\\[(])")
        .matcher(s)
        // quoteReplacement: the functional replaceAll still expands
        // $-group references in the computed string, and json paths
        // are full of literal '$'. SHADOWING guard: a case-variant of
        // the element alias that is itself a relation alias bound in
        // the reference's visible scope (`... FROM emp E WHERE
        // E.dept = 'x'` inside a subquery, element alias `e` outside)
        // is a normal column reference — rewriting it would produce
        // an unresolvable get_json_object base.
        .replaceAll { r =>
          val shadowed = fromBoundAliases(visibleScopeText(s, r.start))
            .contains(r.group(1).toUpperCase)
          java.util.regex.Matcher.quoteReplacement(
            if (shadowed) r.group(0)
            else s"get_json_object(${r.group(1)}, '$$.${r.group(2)}')")
        }
    }

  /** Remove balanced parenthesized spans (so set-op keywords inside
    * subqueries don't trip the TOP scope check). */
  private def stripBalancedParens(s: String): String = {
    val sb = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1
      case ')' => if (depth > 0) depth -= 1
      case c => if (depth == 0) sb.append(c)
    }
    sb.toString
  }

  /** The full dialect pass for a transform query as loaded from its
    * `.sql` file (relation.py:279-293 loads query text; the rewrite
    * happens once here, never at run time). String literals,
    * double-quoted identifiers, and comments are masked first, so no
    * pass can corrupt their contents. */
  def rewriteRedshiftSql(sql: String): String = {
    val (masked, saved) = mask(sql)
    val arr = scala.collection.mutable.ArrayBuffer(saved: _*)
    val step1 = renameSparkNamed(rewriteQualify(rewriteSimilarTo(rewriteSysdate(rewriteDateDiff(
      rewriteDateAdd(rewriteRatioToReport(rewriteApproxCount(rewriteSelectTop(masked)))))), arr)))
    // SUPER/PartiQL last: UNNEST and comma-iteration introduce
    // element aliases whose field refs the path pass then rewrites
    val (step2, unnestAliases) = rewriteUnnest(step1)
    // SUPER UNPIVOT first: its `, UNPIVOT x.y AS v AT k` form must not
    // be half-consumed by the comma-iteration pass
    val (step3, unpivotAliases) = rewritePartiqlUnpivot(step2, arr)
    val (step4, iterAliases) = rewritePartiqlIteration(step3, arr)
    val elemAliases = unnestAliases ++ unpivotAliases ++ iterAliases
    // wildcard paths BEFORE the scalar path pass: SuperPathRe would
    // otherwise match the `s.doc.lines` prefix of `s.doc.lines[*].q`
    // and leave a dangling `[*].q` in the output
    val step5 = rewriteWildcardPaths(step4, elemAliases, arr)
    val rewritten = rewriteUnnestFieldRefs(
      rewriteSuperPaths(step5, elemAliases, arr), elemAliases)
    unmask(rewritten, arr.toIndexedSeq)
  }
}
