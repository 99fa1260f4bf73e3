package graft.etl

import org.apache.spark.sql.SparkSession

/** Redshift-dialect compatibility shims (SURVEY §7.2): transform SQL
  * written for the reference warehouse uses a handful of functions
  * Spark names differently. Text passes here rename them, and the
  * function-shaped ones resolve to native builders in
  * [[GraftExtensions]], so existing `.sql` files run unmodified; each
  * maps to a codegen'd built-in (no UDF in the hot path).
  *
  * | Redshift | Spark mapping |
  * |---|---|
  * | GETDATE() | current_timestamp() ([[GraftExtensions]]) |
  * | DATEADD(unit, n, ts) | ts + make_interval/n unit |
  * | DATEDIFF(unit, a, b) | timestampdiff(unit, a, b) |
  * | NVL(a, b) | coalesce — already a Spark builtin |
  * | f_sha256(s) | sha2(s, 256) ([[GraftExtensions]]) |
  * | SYSDATE | current_timestamp() |
  * | CONVERT_TIMEZONE([src,] tgt, ts) | from_utc_timestamp/to_utc_timestamp |
  * | TO_CHAR(ts, 'fmt') | per-token date_format concat |
  */
object DialectShims {

  /** Installs nothing: every function-shaped shim (`dateadd_days`,
    * `datediff_days`, `rs_datediff_<unit>`, `charindex`, `strtol`) is
    * a native builder in [[GraftExtensions.functions]], so session
    * start runs no SQL. Kept for callers that re-arm a session built
    * from a reported conf. */
  def registerAll(spark: SparkSession): Unit = ()

  // LEN (Redshift's LENGTH alias) needs no shim: Spark 4 ships it as a
  // built-in alias of length, and it runs `LISTAGG(x, sep) WITHIN GROUP
  // (ORDER BY ...)` natively, ordering and NULL semantics included.

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
    raw"(?i)\bRATIO_TO_REPORT\s*\(\s*([^,()]+?)\s*\)\s*OVER\s*\(([^()]*)\)".r

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
          s"SUM(${m.group(1).trim}) OVER (${m.group(2)}))"))

  // ------------------------------------- APPROXIMATE COUNT (DISTINCT)
  private val ApproxCountRe =
    raw"(?i)\bAPPROXIMATE\s+COUNT\s*\(\s*DISTINCT\b".r

  /** Redshift's `APPROXIMATE COUNT(DISTINCT x)` (HLL under the hood)
    * → Spark's `approx_count_distinct(x` — the same sketch family,
    * map-side-combinable bounded state, which is the entire point at
    * 100 TB (an exact COUNT DISTINCT shuffles every distinct value).
    * Only the prefix rewrites; the argument expression is untouched,
    * so nesting is safe. Estimates are implementation-specific, so
    * this shim is spec-gated (DialectShimsSpec pins a 2%-of-exact
    * bound), not oracle-hashed. */
  def rewriteApproxCount(sql: String): String =
    ApproxCountRe.replaceAllIn(sql, _ => "approx_count_distinct(")

  private val DateAddRe = raw"(?i)\bDATEADD\s*\(\s*(\w+)\s*,".r
  private val DateDiffRe = raw"(?i)\bDATEDIFF\s*\(\s*(\w+)\s*,".r

  /** `DATEADD(unit, n, ts)` → `timestampadd(UNIT, n, ts)`: only the
    * function name and unit token are rewritten — the argument
    * expressions are untouched, so nesting is safe. Plain addition,
    * no boundary semantics to fix up. */
  def rewriteDateAdd(sql: String): String =
    DateAddRe.replaceAllIn(sql, m =>
      UnitAliases.get(m.group(1).toLowerCase) match {
        case Some(u) => s"timestampadd(${u.toUpperCase},"
        case None => java.util.regex.Matcher.quoteReplacement(m.matched)
      })

  /** `DATEDIFF(unit, a, b)` → `rs_datediff_<unit>(a, b)` (a
    * [[GraftExtensions]] builder, boundary-crossing semantics). A
    * first argument that is not a unit keyword — Spark's own
    * two-argument `DATEDIFF(end, start)` — is left alone. */
  def rewriteDateDiff(sql: String): String =
    DateDiffRe.replaceAllIn(sql, m =>
      UnitAliases.get(m.group(1).toLowerCase) match {
        case Some(u) => s"rs_datediff_$u("
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

  // ---------------------------- CONVERT_TIMEZONE / TO_CHAR / SYSDATE
  /** Rewrite every `name(...)` call in MASKED text via `f(args)`,
    * where `args` are the call's top-level comma-split argument texts
    * (string literals are masked to placeholders, so paren balancing
    * and comma splitting see only real syntax). Arguments are
    * rewritten recursively FIRST, so nested calls compose inside-out.
    * `f` returning None keeps the call itself untranslated but emits
    * the rewritten arguments, so a translatable nested call inside an
    * unsupported outer shape still translates (the C5 dry-run
    * surfaces the unsupported outer call, the shim never corrupts
    * it). */
  private[etl] def rewriteCalls(sql: String, name: String)(
      f: Seq[String] => Option[String]): String = {
    val lower = sql.toLowerCase
    val nm = name.toLowerCase
    val sb = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val at = lower.indexOf(nm, i)
      if (at < 0) { sb.append(sql.substring(i)); i = sql.length }
      else {
        val beforeOk = at == 0 || {
          val c = sql.charAt(at - 1)
          !Character.isLetterOrDigit(c) && c != '_' && c != '.'
        }
        var j = at + nm.length
        while (j < sql.length && Character.isWhitespace(sql.charAt(j))) j += 1
        val afterIdent = at + nm.length < sql.length && {
          val c = sql.charAt(at + nm.length)
          Character.isLetterOrDigit(c) || c == '_'
        }
        if (!beforeOk || afterIdent || j >= sql.length || sql.charAt(j) != '(') {
          sb.append(sql.substring(i, at + nm.length)); i = at + nm.length
        } else {
          var depth = 1
          var k = j + 1
          var start = k
          val args = scala.collection.mutable.ArrayBuffer[String]()
          while (k < sql.length && depth > 0) {
            sql.charAt(k) match {
              case '(' => depth += 1
              case ')' =>
                depth -= 1
                if (depth == 0) args += sql.substring(start, k)
              case ',' if depth == 1 =>
                args += sql.substring(start, k); start = k + 1
              case _ =>
            }
            k += 1
          }
          if (depth != 0) {
            sb.append(sql.substring(i, at + nm.length)); i = at + nm.length
          } else {
            val inner = args.map(a => rewriteCalls(a, name)(f).trim).toSeq
            f(inner) match {
              case Some(rep) => sb.append(sql.substring(i, at)).append(rep)
              case None =>
                // keep the unsupported OUTER call but emit the
                // recursively REWRITTEN argument texts — re-emitting
                // the raw substring would discard translations of
                // nested same-name calls inside the arguments
                sb.append(sql.substring(i, at))
                  .append(sql.substring(at, at + nm.length))
                  .append('(').append(inner.mkString(", ")).append(')')
            }
            i = k
          }
        }
      }
    }
    sb.toString
  }

  /** Redshift `CONVERT_TIMEZONE(['src',] 'tgt', ts)` → Spark's
    * from_utc/to_utc composition. The TWO-argument form's source zone
    * is UTC BY DEFINITION in Redshift (not the session zone, which is
    * what Spark's own 2-arg convert_timezone would use) — hence the
    * explicit `from_utc_timestamp`. Three-argument form pivots
    * through UTC: `to_utc_timestamp(ts, src)` then out to `tgt`.
    * Zone expressions pass through untouched (named zones, fixed
    * offsets, column refs all work — they reach codegen'd
    * built-ins). */
  def rewriteConvertTimezone(sql: String): String =
    rewriteCalls(sql, "convert_timezone") {
      case Seq(tgt, ts) => Some(s"from_utc_timestamp($ts, $tgt)")
      case Seq(src, tgt, ts) =>
        Some(s"from_utc_timestamp(to_utc_timestamp($ts, $src), $tgt)")
      case _ => None
    }

  /** Redshift `SYSDATE` (parenless, start-of-statement timestamp) →
    * `current_timestamp()` (Spark evaluates it once per query — the
    * same stability contract). Masked text, so a literal containing
    * the word survives; an actual call `sysdate()` is left for the
    * C5 dry-run (Redshift has no such spelling). */
  def rewriteSysdate(sql: String): String =
    SysdateRe.replaceAllIn(sql, "current_timestamp()")

  private val SysdateRe =
    raw"(?i)(?<![\w.])SYSDATE\b(?!\s*\()".r

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

  /** Translate one TO_CHAR datetime format into a Spark SQL
    * expression over `ts` — a concat of per-token `date_format`
    * pieces (each name token individually upper/lower-wrapped, so
    * mixed-case formats like `'Dy DD MON YYYY'` come out right,
    * which a single wrapped date_format cannot do) and quoted
    * literal runs. PG fidelity: `Month`/`Day` blank-pad to 9 chars
    * (the longest English name) and numeric tokens zero-pad; the
    * `FM` prefix suppresses padding for the NEXT token only (PG
    * semantics — Oracle's sticky FM differs). Returns None for
    * number-mode characters (9/0/$ — TO_CHAR's numeric formatting,
    * out of scope). */
  private[etl] def toCharExpr(ts: String, format: String,
      saved: scala.collection.mutable.ArrayBuffer[String]): Option[String] = {
    if (format.exists(c => "90$".indexOf(c.toInt) >= 0)) return None
    val pieces = scala.collection.mutable.ArrayBuffer[String]()
    val lit = new StringBuilder
    def flushLit(): Unit = if (lit.nonEmpty) {
      // literal runs can contain commas/parens — placeholder them so
      // later passes' call parsing never sees them raw
      pieces += maskLit(saved,
        lit.toString.replace("\\", "\\\\").replace("'", "\\'"))
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
          var e = s"date_format($ts, '$pat')"
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
              pieces += s"date_format($ts, '${if (fm) unpadded else padded}')"
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
          if (depth == 0 && (lower.regionMatches(k, "order by", 0, 8) ||
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

  /** `s` with a line break after it when it ends in a `--` comment:
    * text spliced in after `s` would otherwise become comment text. */
  private def keepLineEnd(s: String): String =
    if (s.matches("(?s).*--[^\n]*")) s + "\n" else s

  /** PARSE tokens safe to translate for TO_DATE/TO_TIMESTAMP: the
    * numeric tokens whose Java pattern both formats AND parses the
    * same digits. Name tokens (MON/Day/AM) parse case-sensitively in
    * Java but case-insensitively in PG — translating them would
    * accept different inputs, so they are left for the C5 dry-run. */
  private val ParseTokens: Seq[(String, String)] = Seq(
    ("HH24", "HH"), ("HH12", "hh"), ("YYYY", "yyyy"), ("YY", "yy"),
    ("MM", "MM"), ("MI", "mm"), ("MS", "SSS"), ("SS", "ss"),
    ("DD", "dd"), ("HH", "hh"))

  /** Translate a PG/Redshift PARSE format (`TO_DATE`'s second
    * argument) into a Java datetime parse pattern. Tokens match
    * case-insensitively (PG parse formats are case-blind); any
    * letter/digit outside a known token — including name tokens —
    * aborts (None → the call is left untranslated). Punctuation
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

  /** `TO_DATE(e, 'fmt')` / `TO_TIMESTAMP(e, 'fmt')` → Spark's
    * two-argument `to_date`/`to_timestamp` with the parse pattern
    * translated token-for-token — the INVERSE of the TO_CHAR shim
    * (Redshift SQL full of `TO_DATE(s, 'MM/DD/YYYY')` is the very
    * next thing a migrating warehouse hits after TO_CHAR,
    * relation.py:279-293 ships such transforms verbatim). Literal
    * formats only; other arities and untranslatable formats are left
    * for the C5 dry-run. */
  private def rewriteParseFn(sql: String, saved: scala.collection.mutable.ArrayBuffer[String],
                             name: String): String =
    rewriteCalls(sql, name) {
      case Seq(e, MaskedLiteral(idx)) =>
        toParsePattern(saved(idx.toInt).replace("''", "'"))
          .map(p => s"$name($e, ${maskLit(saved, p)})")
      case _ => None
    }

  /** Redshift's JSON accessors → `get_json_object` paths:
    * `JSON_EXTRACT_PATH_TEXT(j, 'k1', 'k2'[, null_if_invalid])` →
    * `get_json_object(j, '$.k1.k2')` and
    * `JSON_EXTRACT_ARRAY_ELEMENT_TEXT(j, i[, null_if_invalid])` →
    * `get_json_object(j, '$[i]')`. Both already return NULL on
    * malformed JSON in Spark, so the `null_if_invalid` flag is
    * accepted and dropped (Redshift WITHOUT the flag errors on bad
    * JSON — the shim is the lenient form, documented deviation).
    * Literal keys of word characters only; anything fancier (dotted
    * keys, column-ref keys, expression indexes) is left for the C5
    * dry-run rather than risking a wrong path. */
  private def rewriteJsonExtract(sql: String, saved: scala.collection.mutable.ArrayBuffer[String]): String = {
    def dropFlag(args: Seq[String]): Seq[String] =
      if (args.length > 1 && (args.last.equalsIgnoreCase("true") ||
          args.last.equalsIgnoreCase("false"))) args.init else args
    val step = rewriteCalls(sql, "json_extract_path_text") { raw =>
      val args = dropFlag(raw)
      if (args.length < 2) None
      else {
        val keys = args.tail.map {
          case MaskedLiteral(idx) =>
            val k = saved(idx.toInt).replace("''", "'")
            if (k.nonEmpty && k.forall(c =>
              Character.isLetterOrDigit(c) || c == '_')) Some(k) else None
          case _ => None
        }
        if (keys.exists(_.isEmpty)) None
        // maskLit, NOT a raw literal: a 3+-key path like '$.a.b.c'
        // contains a dotted run the later SUPER path pass would
        // match INSIDE the literal and corrupt
        else Some(s"get_json_object(${args.head}, " +
          maskLit(saved, s"$$${keys.flatten.map("." + _).mkString}") + ")")
      }
    }
    val step2 = rewriteCalls(step, "json_extract_array_element_text") { raw =>
      val args = dropFlag(raw)
      args match {
        case Seq(j, idx) if idx.matches("\\d+") =>
          Some(s"get_json_object($j, '$$[$idx]')")
        case _ => None
      }
    }
    rewriteJsonPredicates(step2)
  }

  /** The rest of Redshift's json-varchar function family. On this
    * tier SUPER is json TEXT, so JSON_PARSE / JSON_SERIALIZE are
    * identities; the validity predicates lean on Spark's lenient
    * parsers returning NULL for malformed input:
    *
    *   - `JSON_ARRAY_LENGTH(j[, flag])` → `size(from_json(j,
    *     'array<string>'))` (NULL, not an error, on bad json — the
    *     lenient form, same documented deviation as the extractors)
    *   - `CAN_JSON_PARSE(j)` → `get_json_object(j, '$') IS NOT NULL`
    *     (any valid json, arrays included)
    *   - `IS_VALID_JSON(j)` → the same MINUS arrays: Redshift's
    *     IS_VALID_JSON is documented false for a json ARRAY (that's
    *     IS_VALID_JSON_ARRAY's job) — a shim equal to CAN_JSON_PARSE
    *     would route array payloads down the wrong branch silently
    *   - `IS_VALID_JSON_ARRAY(j)` → `from_json(j, 'array<string>')
    *     IS NOT NULL`
    *   - `JSON_PARSE(x)` / `JSON_SERIALIZE(x)` → `x` */
  private def rewriteJsonPredicates(sql: String): String = {
    def dropFlag(args: Seq[String]): Seq[String] =
      if (args.length > 1 && (args.last.equalsIgnoreCase("true") ||
          args.last.equalsIgnoreCase("false"))) args.init else args
    // array_size (not size): NULL for malformed/non-array input
    // regardless of spark.sql.legacy.sizeOfNull
    val s1 = rewriteCalls(sql, "json_array_length") { raw =>
      dropFlag(raw) match {
        case Seq(j) => Some(s"array_size(from_json($j, 'array<string>'))")
        case _ => None
      }
    }
    // the json literal `null` is VALID json but get_json_object
    // returns SQL NULL for it — test it explicitly
    def validJson(j: String): String =
      s"(trim($j) = 'null' OR get_json_object($j, '$$') IS NOT NULL)"
    val s2 = rewriteCalls(s1, "is_valid_json") {
      // false for arrays: from_json with an array schema parses ONLY
      // arrays (objects/scalars → NULL), so its non-nullity is the
      // array discriminator
      case Seq(j) => Some(s"(${validJson(j)} " +
        s"AND from_json($j, 'array<string>') IS NULL)")
      case _ => None
    }
    val s3 = rewriteCalls(s2, "can_json_parse") {
      case Seq(j) => Some(validJson(j))
      case _ => None
    }
    val s4 = rewriteCalls(s3, "is_valid_json_array") {
      case Seq(j) => Some(s"(from_json($j, 'array<string>') IS NOT NULL)")
      case _ => None
    }
    val s5 = rewriteCalls(s4, "json_parse") {
      case Seq(x) => Some(s"($x)")
      case _ => None
    }
    val s6 = rewriteCalls(s5, "json_serialize") {
      case Seq(x) => Some(s"($x)")
      case _ => None
    }
    // the SUPER array helpers migrating queries lean on:
    //   SPLIT_TO_ARRAY(s, d) builds a SUPER array → json text here
    //   (\Q..\E-quote the delimiter — Spark's split takes a REGEX,
    //   Redshift's a literal);
    //   GET_ARRAY_LENGTH is JSON_ARRAY_LENGTH's SUPER twin;
    //   SUBARRAY(a, start, len) slices 0-based (Spark slice is
    //   1-based)
    val s7 = rewriteCalls(s6, "split_to_array") {
      case Seq(s, d) =>
        Some(s"to_json(split($s, concat('\\\\Q', $d, '\\\\E')))")
      case Seq(s) =>   // Redshift's default delimiter is the comma
        Some(s"to_json(split($s, ','))")
      case _ => None
    }
    val s8 = rewriteCalls(s7, "get_array_length") {
      case Seq(j) => Some(s"array_size(from_json($j, 'array<string>'))")
      case _ => None
    }
    rewriteCalls(s8, "subarray") {
      case Seq(j, start, len) =>
        Some(s"to_json(slice(from_json($j, 'array<string>'), " +
          s"($start) + 1, $len))")
      case _ => None
    }
  }

  // --------------------------------- REGEXP position/occurrence family
  /** Redshift's regex functions carry POSITION (start the search at a
    * 1-based offset), OCCURRENCE (match the n-th occurrence, not the
    * first) and PARAMETERS ('c' case-sensitive — the default — or
    * 'i') arguments that Spark's regexp builtins lack
    * (dialect/redshift.py:218-229 ships transform SQL full of them):
    *
    *   REGEXP_SUBSTR(s, p [, pos [, occ [, params]]])
    *     → coalesce(get(regexp_extract_all(substring(s,pos), p, 0),
    *                    occ-1), '')    — Redshift returns '' on no
    *                                     match, NULL on NULL input
    *   REGEXP_COUNT(s, p [, pos [, params]])
    *     → regexp_count(substring(s, pos), p)
    *   REGEXP_INSTR(s, p [, pos [, occ [, opt [, params]]]])
    *     → n-th match start (opt 0) or end+1 (opt 1), computed from
    *       split parts + match lengths (both builtin collection
    *       expressions, codegen'd); 0 on no match
    *   REGEXP_REPLACE(s, p [, rep [, pos [, params]]])
    *     → Spark regexp_replace (its 4-arg form HAS position); the
    *       2-arg Redshift form deletes matches (rep = '')
    *
    * The 'i' parameter folds into a literal pattern as a `(?i)`
    * prefix (both engines accept inline flags); a non-literal pattern
    * with parameters, or the 'e'/'p' PCRE modes, are left for the C5
    * dry-run. Zero-width patterns are out of contract for the
    * occurrence arithmetic (split- and match-lists disagree there). */
  private def applyRegexFlags(pattern: String, params: Option[String],
                              saved: scala.collection.mutable.ArrayBuffer[String]): Option[String] =
    params match {
      case None => Some(pattern)
      case Some(MaskedLiteral(idx)) =>
        saved(idx.toInt).replace("''", "'") match {
          case "" | "c" => Some(pattern)
          case "i" => pattern match {
            case MaskedLiteral(p) =>
              if (!saved(p.toInt).startsWith("(?i)"))
                saved(p.toInt) = "(?i)" + saved(p.toInt)
              Some(pattern)
            case _ => None
          }
          case _ => None   // 'e' (subexpression) / 'p' (PCRE): C5 surfaces
        }
      case _ => None
    }

  private def fromPos(s: String, pos: String): String =
    if (pos.trim == "1") s else s"substring($s, $pos)"

  private def rewriteRegexpFns(sql: String, saved: scala.collection.mutable.ArrayBuffer[String]): String = {
    // REGEXP_SUBSTR additionally accepts the 'e' parameter (return
    // the first SUBEXPRESSION of the match instead of the whole
    // match) — group index 1 when the literal pattern declares a
    // group, ignored (Redshift semantics) when it declares none.
    val s1 = rewriteCalls(sql, "regexp_substr") { args =>
      val (core, params) =
        if (args.length == 5) (args.init, Some(args.last)) else (args, None)
      val shape = core match {
        case Seq(a, b) => Some((a, b, "1", "1"))
        case Seq(a, b, c) => Some((a, b, c, "1"))
        case Seq(a, b, c, d) => Some((a, b, c, d))
        case _ => None
      }
      shape.flatMap { case (s, p, pos, occ) =>
        val paramStr = params match {
          case None => Some("")
          case Some(MaskedLiteral(i)) => Some(saved(i.toInt).replace("''", "'"))
          case _ => None   // non-literal parameters: C5 surfaces
        }
        paramStr.filter(_.forall(c => c == 'c' || c == 'i' || c == 'e'))
          .flatMap { chars =>
            val flagged: Option[String] =
              if (!chars.contains('i')) Some(p)
              else p match {
                case MaskedLiteral(pi) =>
                  if (!saved(pi.toInt).startsWith("(?i)"))
                    saved(pi.toInt) = "(?i)" + saved(pi.toInt)
                  Some(p)
                case _ => None
              }
            val groupIdx: Option[Int] =
              if (!chars.contains('e')) Some(0)
              else p match {
                case MaskedLiteral(pi) =>
                  Some(if (saved(pi.toInt).contains("(")) 1 else 0)
                case _ => None   // can't verify a group exists
              }
            for (pp <- flagged; g <- groupIdx) yield
              s"CASE WHEN $s IS NULL OR $pp IS NULL THEN NULL ELSE " +
                s"coalesce(get(regexp_extract_all(${fromPos(s, pos)}, $pp, $g), " +
                s"($occ) - 1), '') END"
          }
      }
    }
    val s2 = rewriteCalls(s1, "regexp_count") { args =>
      val (core, params) =
        if (args.length == 4) (args.init, Some(args.last)) else (args, None)
      core match {
        case Seq(s, p) => applyRegexFlags(p, params, saved)
          .map(pp => s"regexp_count($s, $pp)")
        case Seq(s, p, pos) => applyRegexFlags(p, params, saved)
          .map(pp => s"regexp_count(${fromPos(s, pos)}, $pp)")
        case _ => None
      }
    }
    val s3 = rewriteCalls(s2, "regexp_instr") { args =>
      val (core, params) =
        if (args.length == 6) (args.init, Some(args.last)) else (args, None)
      val shape = core match {
        case Seq(a, b) => Some((a, b, "1", "1", "0"))
        case Seq(a, b, c) => Some((a, b, c, "1", "0"))
        case Seq(a, b, c, d) => Some((a, b, c, d, "0"))
        case Seq(a, b, c, d, e) => Some((a, b, c, d, e))
        case _ => None
      }
      shape.filter { case (_, _, _, _, opt) =>
        opt.trim == "0" || opt.trim == "1"
      }.flatMap { case (s, p, pos, occ, opt) =>
        applyRegexFlags(p, params, saved).map { pp =>
          val base = fromPos(s, pos)
          val posAdj = if (pos.trim == "1") "" else s" + ($pos) - 1"
          if (occ.trim == "1" && opt.trim == "0")
            s"CASE WHEN regexp_instr($base, $pp) = 0 THEN 0 " +
              s"ELSE regexp_instr($base, $pp)$posAdj END"
          else {
            val ms = s"regexp_extract_all($base, $pp, 0)"
            val parts = s"split($base, $pp, -1)"
            val start =
              s"aggregate(slice($parts, 1, $occ), 0, (a, x) -> a + length(x))" +
                s" + aggregate(slice($ms, 1, ($occ) - 1), 0, (a, x) -> a + length(x)) + 1"
            val endAdj =
              if (opt.trim == "1") s" + length(get($ms, ($occ) - 1))" else ""
            s"CASE WHEN $s IS NULL OR $pp IS NULL THEN NULL " +
              s"WHEN size($ms) < ($occ) THEN 0 " +
              s"ELSE $start$endAdj$posAdj END"
          }
        }
      }
    }
    rewriteCalls(s3, "regexp_replace") { args =>
      val (core, params) =
        if (args.length == 5) (args.init, Some(args.last)) else (args, None)
      val shape = core match {
        case Seq(a, b) => Some((a, b, "''", "1"))
        case Seq(a, b, c) => Some((a, b, c, "1"))
        case Seq(a, b, c, d) => Some((a, b, c, d))
        case _ => None
      }
      shape.flatMap { case (s, p, rep, pos) =>
        applyRegexFlags(p, params, saved).map { pp =>
          if (pos.trim == "1") s"regexp_replace($s, $pp, $rep)"
          else s"regexp_replace($s, $pp, $rep, $pos)"
        }
      }
    }
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
    // 'DAY'/'DY'/'D' are WEEK-start formats handled below
    "dd" -> "day", "ddd" -> "day", "j" -> "day",
    "hour" -> "hour", "hh" -> "hour", "hh12" -> "hour", "hh24" -> "hour",
    "minute" -> "minute", "mi" -> "minute",
    "second" -> "second", "ss" -> "second")

  /** `TRUNC(e, 'month')` (Oracle/Redshift datepart truncation) →
    * `CAST(date_trunc('MONTH', e) AS DATE)` for day-or-coarser units
    * (TRUNC returns a DATE there), `date_trunc` alone for sub-day
    * units (the time component survives). Spark's own `trunc(date,
    * fmt)` covers only year..week and returns DATE — this shim widens
    * the unit set and keeps one deterministic output type per unit.
    *
    * Oracle's one-letter formats do NOT abbreviate the word they
    * resemble: `'D'` truncates to the start of the WEEK (Sunday
    * under the default US NLS territory, which this shim pins — not
    * `date_trunc('WEEK')`, whose ISO weeks start Monday), and `'W'`
    * truncates to the start of the value's week-OF-MONTH chunk
    * (day 1, 8, 15, 22, or 29 of its month). Both previously aliased
    * to day/week truncation, silently wrong for any Oracle-trained
    * query. Numeric TRUNC (second argument not a string literal) is
    * left untouched.
    *
    * Known limitation: the week-start/chunk branches reference the
    * argument expression twice (no single-reference SQL form exists
    * for them) — fine for columns (codegen subexpression elimination
    * dedups), but a NON-DETERMINISTIC argument could disagree with
    * itself between the two references. */
  private def rewriteTruncDatepart(sql: String, saved: scala.collection.mutable.ArrayBuffer[String]): String =
    rewriteCalls(sql, "trunc") {
      case Seq(e, MaskedLiteral(idx)) =>
        saved(idx.toInt).replace("''", "'").toLowerCase match {
          case "d" | "dy" | "day" =>
            // ALL of Oracle's day-of-week formats truncate to the
            // start of the (Sunday-based, US NLS) week — 'DAY' does
            // NOT mean day truncation; dayofweek is 1 for Sunday
            Some(s"date_sub(CAST(($e) AS DATE), dayofweek($e) - 1)")
          case "w" =>
            Some("date_add(CAST(date_trunc('MONTH', " + e + ") AS DATE), " +
              s"7 * CAST(floor((dayofmonth($e) - 1) / 7) AS INT))")
          case "ww" =>
            // week-of-YEAR chunk: day 1, 8, 15, ... relative to Jan 1
            Some("date_add(CAST(date_trunc('YEAR', " + e + ") AS DATE), " +
              s"7 * CAST(floor((dayofyear($e) - 1) / 7) AS INT))")
          case unit => TruncUnits.get(unit).map {
            case u @ ("year" | "quarter" | "month" | "week" | "day") =>
              s"CAST(date_trunc('${u.toUpperCase}', $e) AS DATE)"
            case u => s"date_trunc('${u.toUpperCase}', $e)"
          }
        }
      case _ => None
    }

  /** Numeric-mode TO_CHAR — `TO_CHAR(number, '$S999,999.00')` — the
    * formatting half of the pair with TO_NUMBER. Supported pattern
    * subset (anything else is left for the C5 dry-run):
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
  private[etl] def toCharNumExpr(x: String, format: String,
      saved: scala.collection.mutable.ArrayBuffer[String]): Option[String] = {
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
    val v = s"CAST(($x) AS DECIMAL(38, $scale))"
    val absV = s"abs($v)"
    // DECIMAL(38,0), not BIGINT: a pattern wide enough for a 19+-
    // digit integer part would otherwise overflow the cast and print
    // garbage instead of the value (or the '#' overflow marker)
    val intRaw = s"CAST(CAST(floor($absV) AS DECIMAL(38, 0)) AS STRING)"
    val intPadded =
      if (minIntDigits > 1) s"lpad($intRaw, $minIntDigits, '0')" else intRaw
    // both regex literals are maskLit'd: raw, their comma and parens
    // would corrupt later passes' call parsing
    val intGrouped =
      if (grouping)
        s"regexp_replace($intPadded, " +
          maskLit(saved, "(\\\\d)(?=(\\\\d{3})+$)") + ", " +
          maskLit(saved, "$1,") + ")"
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

  /** `TO_CHAR(ts, 'fmt')` → the per-token concat above (datetime
    * mode) or [[toCharNumExpr]] (number mode — the format contains
    * 9/0/$). The format must be a string LITERAL (a mask
    * placeholder) — a column-ref format can't be translated at
    * rewrite time and is left for the C5 dry-run. */
  private def rewriteToChar(sql: String, saved: scala.collection.mutable.ArrayBuffer[String]): String =
    rewriteCalls(sql, "to_char") {
      case Seq(ts, MaskedLiteral(idx)) =>
        val f = saved(idx.toInt).replace("''", "'")
        toCharExpr(ts, f, saved).orElse(toCharNumExpr(ts, f, saved))
      case _ => None
    }

  private val MaskedLiteral = ("'\\u0000(\\d+)\\u0000'").r

  /** Register a literal INJECTED by a rewrite pass and return its
    * placeholder. Injected literals must never appear raw in masked
    * text: later passes' call parsing counts parentheses and splits
    * on top-level commas without tracking quotes, so a raw '$1,' or
    * '(\\d)' literal corrupts them (found via numeric TO_CHAR's
    * grouping regex being re-parsed by the REGEXP_REPLACE pass). */
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
        sb.append("--").append(save(sql.substring(i + 2, end)))
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
    raw"(?i)\b(NOT\s+)?SIMILAR\s+TO\s+'\u0000(\d+)\u0000'(?:\s+ESCAPE\s+'\u0000(\d+)\u0000')?".r

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
        s"${not}RLIKE '\u0000$patIdx\u0000'")
    })

  // ------------------------------------------------------ SELECT TOP
  private val TopRe =
    java.util.regex.Pattern.compile(
      "(?i)\\bSELECT(\\s+DISTINCT)?\\s+TOP\\s+(\\d+)\\b")

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
    val distinct = Option(m.group(1)).getOrElse("")
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
    val rewritten = sql.substring(0, start) + s"SELECT$distinct" +
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
    "(?i)(,|\\bCROSS\\s+JOIN\\b)\\s*UNNEST\\s*\\(")

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
      .compile("(?i)^\\s*(?:AS\\s+)?([A-Za-z_]\\w*)(\\s*\\(\\s*([A-Za-z_]\\w*(?:\\s*,[^)]*)?)\\s*\\))?")
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
      s"$viewName AS $alias" + sql.substring(i + aliasM.end)
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
      "(?i)(\\bFROM|\\bJOIN|,)\\s+" + notKw + "([A-Za-z_][\\w.]*)" +
        "(?:\\s+(?:AS\\s+)?" + notKw + "([A-Za-z_]\\w*))?").matcher(sql)
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
      "\\)\\s*(?:(?i:AS)\\s+)?([A-Za-z_]\\w*)").matcher(sql)
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
    "^\\s*(<=|>=|<>|!=|=|<|>)\\s*('\\x00\\d+\\x00'|-?\\d+(?:\\.\\d+)?|[A-Za-z_][\\w.]*)")

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
          val afterCmp = sql.substring(m.end + cm.end)
            .dropWhile(_.isWhitespace)
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
          out.append(s"exists(from_json($arrayText, 'array<string>'), " +
            s"wc_e -> $inner ${cm.group(1)} ${cm.group(2)})")
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
    ",\\s*([A-Za-z_]\\w*)((?:\\.[A-Za-z_]\\w*|\\[\\d+\\])+)\\s+" +
    "(?:(?i:AS)\\s+)?([A-Za-z_]\\w*)(?:\\s+(?i:AT)\\s+([A-Za-z_]\\w*))?")

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
        out.append(sql, last, m.start).append(lateral)
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
    ",\\s*(?i:UNPIVOT)\\s+([A-Za-z_]\\w*)((?:\\.[A-Za-z_]\\w*|\\[\\d+\\])*)\\s+" +
    "(?:(?i:AS)\\s+)?([A-Za-z_]\\w*)\\s+(?i:AT)\\s+([A-Za-z_]\\w*)")

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
      if (partiqlFromItemBound(sql, m.start, head) && aliasOk) {
        val objText = partiqlJsonText(head, m.group(2), "SUPER UNPIVOT", saved)
        val valAlias = m.group(3)
        val keyAlias = m.group(4)
        out.append(sql, last, m.start)
        out.append(s" LATERAL VIEW explode(from_json($objText, " +
          s"'map<string,string>')) ${keyAlias}_lv AS $keyAlias, $valAlias")
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
    val step0 = rewriteSelectTop(masked)
    val step1 = rewriteRatioToReport(rewriteApproxCount(step0))
    val step3 = rewriteDateAdd(step1)
    val step4 = rewriteDateDiff(step3)
    val step5 = rewriteSysdate(step4)
    val step6 = rewriteConvertTimezone(step5)
    val step7 = rewriteQualify(rewriteSimilarTo(step6, arr))
    val step8 = rewriteToChar(step7, arr)
    val step9 = rewriteParseFn(step8, arr, "to_date")
    val step10 = rewriteParseFn(step9, arr, "to_timestamp")
    val step11 = rewriteRegexpFns(step10, arr)
    val step12 = rewriteTruncDatepart(step11, arr)
    val step13 = rewriteJsonExtract(step12, arr)
    // SUPER/PartiQL last: UNNEST and comma-iteration introduce
    // element aliases whose field refs the path pass then rewrites
    val (step14, unnestAliases) = rewriteUnnest(step13)
    // SUPER UNPIVOT first: its `, UNPIVOT x.y AS v AT k` form must not
    // be half-consumed by the comma-iteration pass
    val (step14b, unpivotAliases) = rewritePartiqlUnpivot(step14, arr)
    val (step15, iterAliases) = rewritePartiqlIteration(step14b, arr)
    val elemAliases = unnestAliases ++ unpivotAliases ++ iterAliases
    // wildcard paths BEFORE the scalar path pass: SuperPathRe would
    // otherwise match the `s.doc.lines` prefix of `s.doc.lines[*].q`
    // and leave a dangling `[*].q` in the output
    val step16 = rewriteWildcardPaths(step15, elemAliases, arr)
    val rewritten = rewriteUnnestFieldRefs(
      rewriteSuperPaths(step16, elemAliases, arr), elemAliases)
    unmask(rewritten, arr.toIndexedSeq)
  }
}
