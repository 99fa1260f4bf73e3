package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.parser.{CatalystSqlParser, ParseException}
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
  * | UNNEST, SUPER `UNPIVOT ... AT k`, `AS e AT i`, `[*]` | text (syntax) | in-place LATERAL explode(from_json), exists |
  * | SUPER/PartiQL paths, comma iteration `FROM s, s.path AS e` | Spark's parse (scope per query block) | get_json_object, in-place LATERAL explode(from_json) |
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
    * filter); a set operation's next branch ends the predicate too.
    * Only TOP-LEVEL QUALIFYs rewrite (depth-0 scan over
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
    // predicate runs to the first depth-0 ORDER BY / LIMIT / set operation / closing
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
          if (depth == 0 &&
              PredicateEndRe.matcher(lower).useTransparentBounds(true).region(k, lower.length).lookingAt())
            predEnd = k
          else k += 1
      }
    }
    if (predEnd < 0) predEnd = sql.length
    // the spacing before what follows stays with it
    while (predEnd > at + 7 && sql.charAt(predEnd - 1).isWhitespace) predEnd -= 1
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

  /** What ends a QUALIFY predicate: ORDER BY, LIMIT or a set operation,
    * each a whole word (`rank_limit` and `limits` are names). */
  private val PredicateEndRe = java.util.regex.Pattern.compile(
    s"(?<!\\w)(?:order$Gap+by|limit|union|intersect|except|minus)\\b")

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
    // NULL for NULL, as IS_VALID_JSON and CAN_JSON_PARSE answer
    fixed("is_valid_json_array", 1, "CASE WHEN __0 IS NOT NULL THEN from_json(__0, 'array<string>') IS NOT NULL END"),
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
    *     → `FROM t, LATERAL explode(from_json(expr,
    *       'array<string>')) AS x_lv(x)`
    *   - `x.field` on an element alias → `get_json_object(x, '$.field')`
    *
    * Two stages. Text passes rewrite only the syntax Spark's parser
    * rejects — UNNEST, SUPER `UNPIVOT ... AT k`, `AS e AT i` and `[*]`
    * — into lateral generators where each item stands and `exists()`
    * over the paths as written. Scope
    * then comes from Spark's parse ([[resolvePaths]]): a dotted
    * reference with ≥ 3 components — or ≥ 2 plus a `[n]` index — is a
    * PartiQL path ONLY when its head binds, in its own query block or
    * an enclosing one, to a relation alias, a single-part relation or
    * CTE name, or an element alias a text pass emitted (where 2
    * components suffice) — the same scope rule Redshift uses to tell
    * `s.doc.lines` from a three-part catalog name. A two-part relation
    * name (`FROM sch.t`) binds no head, so `sch.t.col` stays a column
    * reference; UNION branches and CTE bodies are blocks of their own;
    * a lambda's arguments shadow other heads in its body. The parse is
    * `spark.sql`'s, and a statement a text pass translated but Spark
    * cannot parse is refused. A comma-listed FROM item
    * `s.path [AS] e` whose head binds earlier is iteration. An
    * unaliased SELECT-list path keeps the name Redshift gives it, its
    * last attribute. Paths yield STRINGS (scalar json values unquoted, nested values as their
    * json text — both Redshift's `::text` behavior and Spark's
    * `get_json_object`); numeric use casts explicitly, as SUPER queries
    * do. Array elements arrive as json TEXT (Spark's JSON parser
    * serializes non-scalar elements back to json when the target type
    * is string), so element paths compose. */
  private val Name = "[A-Za-z_]\\w*"
  private val PathSyntax = s"$Name(?:\\.$Name|\\[\\d+\\])*"

  /** The PartiQL FROM items Spark's parser rejects: `, UNNEST(x) [AS]
    * e` (or `CROSS JOIN UNNEST`), SUPER `, UNPIVOT s.doc AS v AT k`
    * (one row per object attribute) and `, s.path [AS] e AT i`
    * (iteration with a 0-based ordinal, Redshift's native spelling).
    * Group `item` is the item after its `,` or `CROSS JOIN`. */
  private val FromItemRe = java.util.regex.Pattern.compile(
    s"(?i)(?:,|\\bCROSS$Gap+JOIN\\b(?=$Gap*UNNEST$Gap*\\())$Gap*(?<item>UNNEST$Gap*(\\()|" +
      s"(UNPIVOT$Gap+)?($PathSyntax)$Gap+(?:AS$Gap+)?($Name)$Gap+AT$Gap+($Name))")

  /** A PartiQL item a text pass emitted as a lateral join: its element
    * alias, and the refusal for a path head that binds nothing (None
    * where any expression may stand, as in UNNEST). */
  private final case class Emitted(element: String, refusal: Option[String])

  /** Rewrite the FROM items of [[FromItemRe]], left to right (masked
    * text), each where it stands to a lateral generator, `LATERAL
    * explode(...) AS e_lv(e)`; the paths stay as written for
    * [[resolvePaths]]. Returns the emitted items by relation name. */
  private def rewriteFromItems(sql: String): (String, Map[String, Emitted]) = {
    val out = new java.lang.StringBuilder
    var last = 0
    val emitted = Map.newBuilder[String, Emitted]
    val m = FromItemRe.matcher(sql)
    while (m.find(last)) {
      val (itemEnd, lateral, view, item, dropped) =
        if (m.group(2) != null) {
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
          // the element, t names the lateral relation)
          val aliasM = java.util.regex.Pattern
            .compile(s"(?i)^$Gap*(?:AS$Gap+)?($Name)" +
              s"($Gap*\\($Gap*($Name(?:\\s*,[^)]*)?)$Gap*\\))?")
            .matcher(sql.substring(i))
          require(aliasM.find() && !ReservedAfterAlias(aliasM.group(1).toUpperCase),
            "UNNEST(...) requires an alias (UNNEST(expr) AS x)")
          val colList = Option(aliasM.group(3)).map(_.trim)
          require(colList.forall(!_.contains(",")),
            "UNNEST(expr) AS t(a, b, ...) multi-column form is not supported " +
              "over json-varchar arrays — iterate a single element alias")
          val alias = colList.getOrElse(aliasM.group(1))
          val view = if (colList.isDefined) aliasM.group(1) else alias + "_lv"
          (i + aliasM.end, s"LATERAL explode(from_json($arg, 'array<string>')) AS $view($alias)",
            view, Emitted(alias, None), sql.substring(m.start("item"), m.end) + aliasM.group)
        } else {
          val (path, elem, at) = (m.group(4), m.group(5), m.group(6))
          if (m.group(3) != null)
            (m.end, s"LATERAL explode(from_json($path, 'map<string,string>')) AS ${at}_lv($at, $elem)",
              s"${at}_lv", Emitted(elem, Some(s"UNPIVOT $path: a SUPER UNPIVOT item's " +
                "head must be a relation alias bound earlier in the FROM clause")), m.group("item"))
          else
            (m.end, s"LATERAL posexplode(from_json($path, 'array<string>')) AS ${elem}_lv($at, $elem)",
              s"${elem}_lv", Emitted(elem, Some(s"$path AS $elem AT $at: a PartiQL iteration " +
                "item's head must be a relation alias bound earlier in the FROM clause")), m.group("item"))
        }
      emitted += view.toLowerCase -> item
      out.append(sql, last, m.start("item")).append(lateral).append(commentsIn(dropped))
      last = itemEnd
    }
    out.append(sql, last, sql.length)
    (out.toString, emitted.result())
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
    *   `exists(from_json(s.doc.lines, 'array<string>'),
    *           wc_e -> get_json_object(wc_e, '$.q') > 3)`
    *
    * and [[resolvePaths]] then reads `s.doc.lines` in scope (a head
    * that binds nothing is refused, naming the path). The wildcard is
    * supported ONLY in a simple comparison (`path <op> literal/number/
    * column`) — anything else (SELECT-list wildcard, function-wrapped
    * path, path on the comparison's right) is REFUSED loudly rather
    * than rewritten wrong. One wildcard step per path. Returns each
    * emitted array path's text with its refusal. */
  private val WildcardPathRe = java.util.regex.Pattern.compile(
    "\\b([A-Za-z_]\\w*)\\.([A-Za-z_]\\w*)((?:\\.[A-Za-z_]\\w*|\\[\\d+\\]|\\[\\*\\])+)")

  private val WildcardCmpRe = java.util.regex.Pattern.compile(
    s"^$Gap*(<=|>=|<>|!=|=|<|>)$Gap*('\\x00\\d+\\x00'|-?\\d+(?:\\.\\d+)?|[A-Za-z_][\\w.]*)")

  private def rewriteWildcardPaths(sql: String): (String, Map[String, String]) = {
    if (!sql.contains("[*]")) return (sql, Map.empty)
    val m = WildcardPathRe.matcher(sql)
    val out = new java.lang.StringBuilder
    val owned = Map.newBuilder[String, String]
    var last = 0
    while (m.find()) {
      val comps = m.group(3)
      // m.start >= last: a dotted identifier consumed as a previous
      // match's comparison operand must not re-match as a path
      if (m.start >= last && comps.contains("[*]")) {
        val star = comps.indexOf("[*]")
        require(comps.indexOf("[*]", star + 3) < 0,
          s"nested [*] wildcards are not supported: ${m.group(0)}")
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
        val inner =
          if (post.isEmpty) "wc_e"
          else s"get_json_object(wc_e, '$$$post')"
        val array = s"${m.group(1)}.${m.group(2)}${comps.substring(0, star)}"
        owned += array -> (s"PartiQL path ${m.group(0)}: its head must be a relation " +
          "alias or element bound in the FROM clause")
        // the comparison as written, comments included
        out.append(sql, last, m.start).append(s"exists(from_json($array, " +
          s"'array<string>'), wc_e -> $inner${cm.group})")
        last = m.end + cm.end
      }
    }
    out.append(sql, last, sql.length)
    (out.toString, owned.result())
  }

  /** Words that can follow a FROM item and must never be mistaken for
    * an element alias (`FROM t, UNNEST(x) WHERE ...` swallowing WHERE
    * produced a baffling downstream parse error, not the loud
    * missing-alias require). */
  private val ReservedAfterAlias: Set[String] = Set(
    "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "UNION", "INTERSECT",
    "EXCEPT", "JOIN", "ON", "LATERAL", "CROSS", "INNER", "LEFT", "RIGHT",
    "FULL", "QUALIFY", "WINDOW", "AS", "AT")

  /** Masked text that may hold a PartiQL path: a dotted run of three or
    * more parts, a dotted reference with an index, or a comma before a
    * two-part name and an alias (an iteration item). Only such a
    * statement is parsed. */
  private val PathCandidateRe =
    (s"\\b$Name\\.$Name(?:\\.$Name|\\[\\d+\\])|,$Gap*$Name\\.$Name$Gap+(?:(?i:AS)$Gap+)?$Name").r

  /** A dotted reference as written: head, first component, the rest. */
  private val PathRe = s"($Name)(\\.$Name)?((?:\\.$Name|\\[\\d+\\])*)".r

  private val LastNameRe = s"\\.($Name)$$".r

  /** The parser `spark.sql` uses (no extension replaces it). */
  private lazy val SessionParser = new org.apache.spark.sql.execution.SparkSqlParser

  /** `path` as json text when its head binds as an element (`elem`) or
    * as a relation: `get_json_object(base, '$rest')`, with the element
    * or the relation's column as base; None where it names a column or
    * element itself, or is not a plain dotted reference. */
  private def jsonText(path: String, elem: Boolean): Option[String] = path match {
    case PathRe(head, col, rest) =>
      val base = if (elem || col == null) head else head + col
      Option(path.drop(base.length)).filter(_.nonEmpty)
        .map(p => s"get_json_object($base, '$$$p')")
    case _ => None
  }

  /** Rewrite the PartiQL paths of `sql` (unmasked) from Spark's parse:
    * one walk over the parsed plan decides each query block's scope
    * once, and each path goes in at its parser origin through
    * [[Bootstrap.splice]]. A comma-listed `s.path [AS] e` whose head
    * binds becomes a lateral `explode` where it stands. `emitted` are
    * the text passes' lateral items by relation name, `owned` the
    * refusals of their `[*]` array paths by path text: a head in either
    * that binds nothing is refused. The parse is the one `spark.sql`
    * makes; SQL it rejects is left as it is, or refused when a text
    * pass translated part of it. */
  private def resolvePaths(sql: String, emitted: Map[String, Emitted],
                           owned: Map[String, String]): String = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedExtractValue, UnresolvedRelation, UnresolvedTVFAliases}
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, SubqueryExpression, UnresolvedNamedLambdaVariable}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.catalyst.trees.TreeNode
    val plan =
      try SessionParser.parsePlan(sql)
      catch {
        case e: ParseException if emitted.nonEmpty || owned.nonEmpty =>
          throw new IllegalArgumentException("PartiQL items were translated, but Spark " +
            s"cannot parse the result: ${e.getMessage.linesIterator.next()}", e)
        case _: ParseException => return sql
      }
    type Scope = List[Map[String, Boolean]]   // per block: name → binds an element
    def lookup(scope: Scope, name: String): Option[Boolean] =
      scope.iterator.flatMap(_.get(name.toLowerCase)).nextOption()
    def span(n: TreeNode[_]): Option[(Int, Int)] =
      for (s <- n.origin.startIndex; e <- n.origin.stopIndex) yield (s, e)
    val edits = scala.collection.mutable.ArrayBuffer[(Int, Int, String)]()

    /** The head of a dotted reference. The parser makes every name in a
      * lambda body a lambda variable; only the `lambdas` arguments are. */
    def head(e: Expression, lambdas: Set[String]): Option[String] = e match {
      case a: UnresolvedAttribute => a.nameParts.headOption
      case v: UnresolvedNamedLambdaVariable => v.nameParts.headOption.filterNot(h => lambdas(h.toLowerCase))
      case UnresolvedExtractValue(child, Literal(_, IntegerType | StringType)) => head(child, lambdas)
      case _ => None
    }
    /** `named`: a SELECT-list item without an alias, which keeps the
      * name Redshift gives a path, its last attribute. */
    def expr(e: Expression, scope: Scope, refusal: Option[String], named: Boolean = false,
             lambdas: Set[String] = Set.empty): Unit = e match {
      case sq: SubqueryExpression => block(sq.plan, scope)
      case LambdaFunction(body, args, _) =>
        expr(body, scope, refusal, lambdas = lambdas ++ args.map(_.name.toLowerCase))
      case _ => (head(e, lambdas), span(e)) match {
        case (Some(h), Some((s, stop))) =>
          val path = sql.substring(s, stop + 1)
          lookup(scope, h) match {
            case Some(elem) => jsonText(path, elem) match {
              case Some(json) =>
                val name = LastNameRe.findFirstMatchIn(path).filter(_ => named)
                edits += ((s, stop, json + name.fold("")(n => s" AS `${n.group(1)}`")))
              case None => e.children.foreach(expr(_, scope, None, lambdas = lambdas))
            }
            case None =>
              refusal.orElse(owned.get(path)).foreach(r => throw new IllegalArgumentException(r))
          }
        case _ => e.children.foreach(expr(_, scope, refusal, lambdas = lambdas))
      }
    }

    /** A comma join's origin is the whole FROM clause, an explicit
      * join's its JOIN ... ON. */
    def commaJoin(j: Join): Boolean = span(j).exists(s => span(j.left).exists(s._1 < _._1))

    def block(root: LogicalPlan, outer: Scope): Unit = {
      val names = scala.collection.mutable.Map[String, Boolean]()
      val members = scala.collection.mutable.ArrayBuffer[LogicalPlan]()
      val generators = scala.collection.mutable.ArrayBuffer[(Expression, Option[String])]()
      val nested = scala.collection.mutable.ArrayBuffer[LogicalPlan]()
      def visit(p: LogicalPlan): Unit = p match {
        case _: Union | _: SetOperation => nested ++= p.children
        case w: UnresolvedWith => nested ++= w.cteRelations.map(_._2); visit(w.child)
        case j: Join if commaJoin(j) =>
          visit(j.left)
          j.right match {
            // comma iteration: `, s.doc.lines AS ln` over a head bound earlier
            case a @ SubqueryAlias(id, r: UnresolvedRelation) if r.multipartIdentifier.size > 1 &&
                lookup(names.toMap :: outer, r.multipartIdentifier.head).isDefined =>
              val elem = lookup(names.toMap :: outer, r.multipartIdentifier.head).contains(true)
              for ((s, stop) <- span(r); (_, end) <- span(a)) {
                val path = sql.substring(s, stop + 1)
                val (cut, saved) = mask(sql.substring(stop + 1, end + 1))
                edits += ((s, end, s"LATERAL explode(from_json(${jsonText(path, elem).getOrElse(path)}, " +
                  s"'array<string>')) AS ${id.name}_lv(${id.name})" + unmask(commentsIn(cut), saved)))
              }
              names(id.name.toLowerCase) = true
            case right => visit(right)
          }
        // an item a text pass emitted: `LATERAL explode(...) AS e_lv(e)`
        case j: LateralJoin => j.right.plan match {
          case SubqueryAlias(id, UnresolvedTVFAliases(_, tvf, _)) if emitted.contains(id.name.toLowerCase) =>
            visit(j.left)
            val item = emitted(id.name.toLowerCase)
            names(item.element.toLowerCase) = true
            tvf.expressions.foreach(g => generators += ((g, item.refusal)))
          case _ => members += p; p.children.foreach(visit)
        }
        case SubqueryAlias(id, child) =>
          names(id.name.toLowerCase) = false
          if (!child.isInstanceOf[UnresolvedRelation]) nested += child
        case r: UnresolvedRelation =>
          if (r.multipartIdentifier.size == 1) names(r.multipartIdentifier.head.toLowerCase) = false
        case _ => members += p; p.children.foreach(visit)
      }
      visit(root)
      val scope = names.toMap :: outer
      def selected(items: Seq[Expression]): Unit = items.foreach {
        case UnresolvedAlias(item, _) => expr(item, scope, None, named = true)
        case item => expr(item, scope, None, named = item.isInstanceOf[UnresolvedAttribute])
      }
      members.foreach {
        case p: Project => selected(p.projectList)
        case a: Aggregate =>
          a.groupingExpressions.foreach(expr(_, scope, None))
          selected(a.aggregateExpressions)
        // a named window's spec sits in a map, outside `expressions`
        case w: WithWindowDefinition => w.windowDefinitions.values.foreach(expr(_, scope, None))
        case p => p.expressions.foreach(expr(_, scope, None))
      }
      generators.foreach { case (g, refusal) => expr(g, scope, refusal) }
      nested.foreach(block(_, outer))
    }

    block(plan, Nil)
    Bootstrap.splice(sql, edits.toSeq)
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
    // SUPER/PartiQL last: the syntax Spark rejects, then the paths from
    // Spark's parse of the result
    val (step2, emitted) = rewriteFromItems(step1)
    val (step3, wildcards) = rewriteWildcardPaths(step2)
    val text = unmask(step3, arr.toIndexedSeq)
    if (emitted.isEmpty && wildcards.isEmpty && PathCandidateRe.findFirstIn(step3).isEmpty) text
    else resolvePaths(text, emitted, wildcards)
  }

  /** The one door from authored SQL to Spark: `run_query`, `run_sql`,
    * `explain --sql`, the bootstrap of a `.sql` file and the dialect
    * entries run each statement through here, rewritten once. Spark-
    * native statements pass unchanged. Design queries are rewritten
    * once at design load ([[FileSets.discover]]) instead, because views
    * and query rewrites keep that text. */
  def sql(spark: SparkSession, text: String): DataFrame = spark.sql(rewriteRedshiftSql(text))
}
