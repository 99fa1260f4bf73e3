package graft.etl

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DialectShimsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Session.build(2)
    spark.sparkContext.setLogLevel("ERROR")
    // the columns the refusal shapes name
    spark.sql("SELECT TIMESTAMP '2024-01-31 10:00:00' AS x, 'YYYY' AS fmt_col, " +
      "'{\"a\": {\"b\": 7}}' AS j, 'a' AS k, 1 AS i, 'abc' AS s, 'UTC' AS a")
      .createOrReplaceTempView("t")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("registerAll re-runs on an extension-configured session; getdate/f_sha256 stay native") {
    // the bench harness calls registerAll on a session rebuilt from the
    // CLI's reported conf, which carries spark.sql.extensions: a SQL
    // shim over an injected name would fail with
    // CANNOT_REPLACE_NON_SQL_UDF_WITH_SQL_UDF
    DialectShims.registerAll(spark)
    val plan = spark.sql("SELECT getdate() AS now, f_sha256('x') AS h")
      .queryExecution.analyzed.toString
    assert(plan.contains("current_timestamp") && plan.contains("sha2"), plan)
    assert(!plan.contains("UDF"), plan)
  }

  test("GETDATE / DATEADD / DATEDIFF shims resolve to built-ins") {
    val r = spark.sql("SELECT getdate() IS NOT NULL AS has_now").collect().head
    assert(r.getBoolean(0))
  }

  test("the function-shaped shims are native: no SQL function, same values and types") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val moved = Seq("charindex", "strtol") ++
      DialectShims.CanonicalUnits.map(u => s"rs_datediff_$u")
    moved.foreach { name =>
      assert(spark.sessionState.catalog.lookupFunctionInfo(FunctionIdentifier(name))
        .getClassName == classOf[GraftExtensions].getName, name)
    }
    // the SQL-bodied definitions these builders replace, under other
    // names, as the reference for values and result types
    spark.sql("""CREATE OR REPLACE TEMPORARY FUNCTION ref_charindex(needle STRING, haystack STRING)
        |RETURNS INT RETURN instr(haystack, needle)""".stripMargin)
    spark.sql("""CREATE OR REPLACE TEMPORARY FUNCTION ref_strtol(s STRING, base INT)
        |RETURNS BIGINT RETURN CAST(conv(s, base, 10) AS BIGINT)""".stripMargin)
    DialectShims.CanonicalUnits.foreach { u =>
      val U = u.toUpperCase
      spark.sql(s"""CREATE OR REPLACE TEMPORARY FUNCTION ref_rs_datediff_$u(a TIMESTAMP, b TIMESTAMP)
          |RETURNS BIGINT RETURN timestampdiff($U, date_trunc('$U', a), date_trunc('$U', b))""".stripMargin)
    }
    val pairs = Seq(
      "TIMESTAMP '2019-12-31 23:59:59.999999'" -> "TIMESTAMP '2021-03-01 00:00:00.000001'",
      "TIMESTAMP '2020-01-01 23:30:00'" -> "TIMESTAMP '2020-01-02 00:30:00'",
      "TIMESTAMP '2020-06-15 12:00:00'" -> "TIMESTAMP '2020-01-01 00:00:00'",
      "'2020-01-31 10:59:00'" -> "'2020-02-01 11:01:30.5'",
      "DATE '2020-02-28'" -> "DATE '2021-03-01'",
      "NULL" -> "TIMESTAMP '2020-01-01 00:00:00'")
    val calls = DialectShims.CanonicalUnits.map(u => s"rs_datediff_$u")
    val exprs = pairs.flatMap { case (a, b) => calls.map(f => s"$f($a, $b)") } ++ Seq(
      "charindex('dex', 'Charindex')",
      "charindex('zz', 'abc')", "charindex(5, 12345)", "strtol('ff', 16)",
      "strtol('0644', 8)", "strtol('z', '36')", "strtol(NULL, 2)")
    val native = spark.sql(exprs.mkString("SELECT ", ", ", ""))
    val reference = spark.sql(exprs.map("ref_" + _).mkString("SELECT ", ", ", ""))
    val analyzed = native.queryExecution.analyzed
    assert(analyzed.flatMap(_.expressions).forall(_.collectFirst {
      case e if e.getClass.getSimpleName.startsWith("SQLFunction") => e
    }.isEmpty), analyzed)
    assert(native.schema.map(_.dataType) == reference.schema.map(_.dataType))
    assert(native.collect().head.toSeq == reference.collect().head.toSeq)
  }

  test("LISTAGG passes through verbatim and Spark answers it natively") {
    spark.sql("SELECT * FROM VALUES (1, 1, 'c'), (1, 2, 'b'), (1, 3, 'a'), " +
      "(2, 4, CAST(NULL AS STRING)) AS t(g, id, name)").createOrReplaceTempView("la_t")
    val shapes = Seq(
      // ordered by another column than the aggregated one
      "SELECT LISTAGG(name, ',') WITHIN GROUP (ORDER BY id) FROM la_t WHERE g = 1" -> "c,b,a",
      "SELECT LISTAGG(name, ',') WITHIN GROUP (ORDER BY name DESC) FROM la_t WHERE g = 1" -> "c,b,a",
      // a group of NULLs aggregates to NULL, not ''
      "SELECT LISTAGG(name, ',') WITHIN GROUP (ORDER BY id) FROM la_t WHERE g = 2" -> null)
    shapes.foreach { case (sql, want) =>
      val out = DialectShims.rewriteRedshiftSql(sql)
      assert(out == sql)
      assert(spark.sql(out).collect().head.getString(0) == want, sql)
    }
  }

  test("DATEADD rewrite: any Redshift unit spelling, args untouched") {
    assert(DialectShims.rewriteDateAdd("DATEADD(hour, 2, ts)") ==
      "timestampadd(HOUR, 2, ts)")
    assert(DialectShims.rewriteDateAdd("dateadd(mons, f(x, y), t.c)") ==
      "timestampadd(MONTH, f(x, y), t.c)")
    // unknown first token: not a unit call — leave it alone
    assert(DialectShims.rewriteDateAdd("DATEADD(colname, 2, ts)") ==
      "DATEADD(colname, 2, ts)")
    val r = spark.sql(DialectShims.rewriteDateAdd(
      "SELECT DATEADD(hr, 25, TIMESTAMP '2020-01-01 00:00:00') AS t")).collect().head
    assert(r.getTimestamp(0).toString.startsWith("2020-01-02 01:00"))
  }

  test("DATEDIFF rewrite counts boundary crossings (Redshift semantics)") {
    // 23:30 -> next 00:30 is one DAY boundary crossed though only 1h
    val sql = DialectShims.rewriteDateDiff(
      """SELECT
        |  DATEDIFF(day,  TIMESTAMP '2020-01-01 23:30:00', TIMESTAMP '2020-01-02 00:30:00') AS dd,
        |  DATEDIFF(hour, TIMESTAMP '2020-01-01 10:59:00', TIMESTAMP '2020-01-01 11:01:00') AS dh,
        |  DATEDIFF(year, TIMESTAMP '2019-12-31 23:59:59', TIMESTAMP '2020-01-01 00:00:01') AS dy,
        |  DATEDIFF(mon,  TIMESTAMP '2020-01-31 00:00:00', TIMESTAMP '2020-02-01 00:00:00') AS dm
        |""".stripMargin)
    assert(sql.contains("rs_datediff_day(") && sql.contains("rs_datediff_hour("))
    val r = spark.sql(sql).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((1L, 1L, 1L, 1L)))
    // Spark's own two-argument DATEDIFF is not mistaken for a unit call
    assert(DialectShims.rewriteDateDiff("DATEDIFF(end_col, start_col)") ==
      "DATEDIFF(end_col, start_col)")
  }

  test("rewriteRedshiftSql composes all passes (FileSets load path)") {
    val in = "SELECT DATEADD(d, 1, t), DATEDIFF(sec, a, b), " +
      "LISTAGG(x, '|') WITHIN GROUP (ORDER BY x) FROM t GROUP BY 1, 2"
    val out = DialectShims.rewriteRedshiftSql(in)
    assert(out.contains("timestampadd(DAY, 1, t)"))
    assert(out.contains("rs_datediff_second( a, b)"))
    assert(out.contains("LISTAGG(x, '|') WITHIN GROUP (ORDER BY x)"))
  }

  test("RATIO_TO_REPORT rewrites to the explicit x/SUM-over-window form") {
    val out = DialectShims.rewriteRatioToReport(
      "SELECT RATIO_TO_REPORT(n) OVER (PARTITION BY flag) AS share FROM g")
    assert(out.contains(
      "(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY flag)) AS share"), out)
    // empty window (whole-result ratio) is legal Redshift
    val global = DialectShims.rewriteRatioToReport(
      "SELECT RATIO_TO_REPORT(v) OVER () FROM g")
    assert(global.contains("(CAST(v AS DOUBLE) / SUM(v) OVER ())"), global)
    // inside a literal the masked composition must not fire
    val lit = DialectShims.rewriteRedshiftSql(
      "SELECT 'RATIO_TO_REPORT(n) OVER (PARTITION BY f)' AS doc FROM t")
    assert(lit.contains("'RATIO_TO_REPORT(n) OVER (PARTITION BY f)'"), lit)
  }

  test("string literals and comments survive the dialect pass verbatim") {
    val in =
      """SELECT 'uses DATEADD(day, 1, x) and LISTAGG(a, ',') WITHIN GROUP (ORDER BY a)' AS doc,
        |  DATEADD(day, 1, ts) AS real_call, -- DATEDIFF(day, a, b) in a comment
        |  /* block with GETDATE() and DATEADD(hr, 2, t) */
        |  'it''s 5%' AS quoted
        |FROM t""".stripMargin
    val out = DialectShims.rewriteRedshiftSql(in)
    assert(out.contains(
      "'uses DATEADD(day, 1, x) and LISTAGG(a, ',') WITHIN GROUP (ORDER BY a)'"),
      out)
    assert(out.contains("timestampadd(DAY, 1, ts)"))
    assert(out.contains("-- DATEDIFF(day, a, b) in a comment"))
    assert(out.contains("/* block with GETDATE() and DATEADD(hr, 2, t) */"))
    assert(out.contains("'it''s 5%'"))
  }

  test("SIMILAR TO rewrites to an anchored RLIKE with Redshift semantics") {
    def eval(sql: String): Boolean =
      spark.sql(DialectShims.rewriteRedshiftSql(s"SELECT $sql AS r"))
        .collect().head.getBoolean(0)
    // % and _ wildcards; whole-string anchoring (substring must fail)
    assert(eval("'abc' SIMILAR TO 'ab%'"))
    assert(eval("'abc' SIMILAR TO 'a_c'"))
    assert(!eval("'xabcx' SIMILAR TO 'abc'"))
    // regex-style alternation/quantifiers carry over
    assert(eval("'abc' SIMILAR TO '%(b|d)%'"))
    assert(eval("'abbbc' SIMILAR TO 'ab+c'"))
    // characters literal in SIMILAR TO but special in regex
    assert(eval("'a.c' SIMILAR TO 'a.c'"))
    assert(!eval("'abc' SIMILAR TO 'a.c'"))
    // escaped wildcard: \% is a literal percent
    assert(eval("'10%' SIMILAR TO '10\\%'"))
    assert(!eval("'10x' SIMILAR TO '10\\%'"))
    // bracket expression passes through
    assert(eval("'b' SIMILAR TO '[abc]'"))
    // NOT SIMILAR TO keeps the negation
    assert(eval("'xyz' NOT SIMILAR TO 'ab%'"))
    // a SIMILAR TO mention inside a literal is NOT rewritten
    val untouched = DialectShims.rewriteRedshiftSql(
      "SELECT 'a SIMILAR TO b' AS s FROM t")
    assert(untouched.contains("'a SIMILAR TO b'"))
  }

  test("SYSDATE rewrites parenless; literals and lookalikes survive") {
    val got = DialectShims.rewriteRedshiftSql(
      "SELECT SYSDATE, sysdate AS s2, 'SYSDATE' AS lit, mysysdate, t.sysdate_col FROM t")
    // both bare spellings rewritten, case-insensitively
    assert(got.startsWith("SELECT current_timestamp(), current_timestamp() AS s2"))
    // a literal, a larger identifier, and a qualified column survive
    assert(got.contains("'SYSDATE'"))
    assert(got.contains("mysysdate"))
    assert(got.contains("t.sysdate_col"))
    // the rewritten query actually evaluates
    val r = spark.sql(DialectShims.rewriteRedshiftSql(
      "SELECT CAST(SYSDATE >= TIMESTAMP '2000-01-01 00:00:00' AS BOOLEAN) AS ok"))
      .collect().head
    assert(r.getBoolean(0))
  }

  test("CONVERT_TIMEZONE: 2-arg source is UTC, 3-arg pivots, nesting safe") {
    def one(sql: String): String =
      spark.sql(DialectShims.rewriteRedshiftSql(s"SELECT CAST($sql AS STRING) AS v"))
        .collect().head.getString(0)
    // 2-arg: source UTC by Redshift definition, whatever the session
    // zone (Spark's own 2-arg convert_timezone reads the session zone)
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try assert(one("CONVERT_TIMEZONE('America/New_York', TIMESTAMP '2024-01-01 12:00:00')")
      == "2024-01-01 07:00:00")
    finally spark.conf.set("spark.sql.session.timeZone", zone)
    // named zone with DST: Jan 1 UTC → EST (-5)
    assert(one("CONVERT_TIMEZONE('America/New_York', TIMESTAMP '2024-01-01 12:00:00')")
      == "2024-01-01 07:00:00")
    // and in July → EDT (-4)
    assert(one("CONVERT_TIMEZONE('America/New_York', TIMESTAMP '2024-07-01 12:00:00')")
      == "2024-07-01 08:00:00")
    // 3-arg: src +02:00 → tgt -03:00 nets -5h
    assert(one("CONVERT_TIMEZONE('+02:00', '-03:00', TIMESTAMP '2024-01-01 12:00:00')")
      == "2024-01-01 07:00:00")
    // nested parens/commas in the timestamp argument split correctly
    assert(one("CONVERT_TIMEZONE('+01:00', COALESCE(NULL, TIMESTAMP '2024-01-01 00:00:00'))")
      == "2024-01-01 01:00:00")
    // 1-arg / 4-arg shapes are refused at analysis
    assert(refusal("SELECT CONVERT_TIMEZONE(a) FROM t").contains("CONVERT_TIMEZONE("))
  }

  test("TO_CHAR pattern map: per-token case wraps, literals, unsupported") {
    def one(sql: String): String =
      spark.sql(DialectShims.rewriteRedshiftSql(s"SELECT $sql AS v"))
        .collect().head.getString(0)
    val ts = "TIMESTAMP '2024-02-03 13:05:09'" // Saturday
    assert(one(s"TO_CHAR($ts, 'YYYY-MM-DD')") == "2024-02-03")
    assert(one(s"TO_CHAR($ts, 'YYYY-MON-DD')") == "2024-FEB-03")
    assert(one(s"TO_CHAR($ts, 'Mon')") == "Feb")
    assert(one(s"TO_CHAR($ts, 'mon')") == "feb")
    // mixed case in ONE format — needs per-token wrapping
    assert(one(s"TO_CHAR($ts, 'Dy DD MON YYYY')") == "Sat 03 FEB 2024")
    // PG blank-pads Month/Day to 9 chars (longest English name);
    // FM suppresses it for the NEXT token only
    assert(one(s"TO_CHAR($ts, 'Day')") == "Saturday ")
    assert(one(s"TO_CHAR($ts, 'day')") == "saturday ")
    assert(one(s"TO_CHAR($ts, 'FMDay')") == "Saturday")
    assert(one(s"TO_CHAR($ts, 'Month YYYY')") == "February  2024")
    assert(one(s"TO_CHAR($ts, 'FMMonth YYYY')") == "February 2024")
    assert(one(s"TO_CHAR($ts, 'FMDD DD')") == "3 03")
    // times: HH is 12-hour in PG; HH24 is 24-hour; MI minutes
    assert(one(s"TO_CHAR($ts, 'HH24:MI:SS')") == "13:05:09")
    assert(one(s"TO_CHAR($ts, 'HH12:MI PM')") == "01:05 PM")
    assert(one(s"TO_CHAR($ts, 'hh24:mi:ss')") == "13:05:09")
    // quarter + day-of-year
    assert(one(s"TO_CHAR($ts, 'Q')") == "1")
    assert(one(s"TO_CHAR($ts, 'DDD')") == "034")
    assert(one(s"TO_CHAR($ts, 'FMDDD')") == "34")
    // unrecognized chars pass through as literals
    assert(one(s"TO_CHAR($ts, 'YYYY/MM')") == "2024/02")
    // number-mode formats go through the numeric translator
    assert(one("TO_CHAR(12.5, '999.99')") == " 12.50")
    // a non-literal format is refused at analysis
    assert(refusal("SELECT TO_CHAR(x, fmt_col) FROM t").contains("TO_CHAR("))
    // a TO_CHAR mention inside a string literal survives
    assert(DialectShims.rewriteRedshiftSql("SELECT 'uses TO_CHAR(x, y)' AS s")
      .contains("'uses TO_CHAR(x, y)'"))
    // nested call in the timestamp argument composes
    assert(one(s"TO_CHAR(COALESCE(NULL, $ts), 'YYYY')") == "2024")
    // calls of the same name nest; an unsupported outer call is
    // refused even when the inner one translates
    assert(one(s"TO_CHAR(TO_DATE(TO_CHAR($ts, 'MM/DD/YYYY'), 'MM/DD/YYYY'), 'Mon YYYY')")
      == "Feb 2024")
    assert(refusal(s"SELECT TO_CHAR(TO_CHAR($ts, 'YYYY'), fmt_col) FROM t").contains("TO_CHAR("))
  }

  test("TO_DATE / TO_TIMESTAMP parse patterns translate; unsupported stay put") {
    // pattern map: numeric tokens, any case, separators verbatim
    assert(DialectShims.toParsePattern("MM/DD/YYYY") == Some("MM/dd/yyyy"))
    assert(DialectShims.toParsePattern("yyyy-mm-dd") == Some("yyyy-MM-dd"))
    assert(DialectShims.toParsePattern("YYYY-MM-DD HH24:MI:SS") ==
      Some("yyyy-MM-dd HH:mm:ss"))
    // name tokens parse case-insensitively in PG but not in Java —
    // refuse rather than mistranslate
    assert(DialectShims.toParsePattern("DD MON YYYY").isEmpty)
    def one(sql: String): String =
      spark.sql(DialectShims.rewriteRedshiftSql(s"SELECT $sql AS v"))
        .collect().head.get(0).toString
    assert(one("TO_DATE('02/28/1996', 'MM/DD/YYYY')") == "1996-02-28")
    assert(one("TO_TIMESTAMP('1996-02-28 13:05:09', 'YYYY-MM-DD HH24:MI:SS')")
      .startsWith("1996-02-28 13:05:09"))
    // round-trip through the TO_CHAR shim (nested-call composition)
    assert(one("TO_DATE(TO_CHAR(TIMESTAMP '1996-07-04 10:00:00', 'MM/DD/YYYY'), 'MM/DD/YYYY')")
      == "1996-07-04")
    // an unsupported format is refused at analysis
    assert(refusal("SELECT TO_DATE(x, 'DD Mon YYYY') FROM t").contains("TO_DATE("))
    // a literal mentioning TO_DATE survives
    assert(DialectShims.rewriteRedshiftSql("SELECT 'call TO_DATE(a, b)' AS s")
      .contains("'call TO_DATE(a, b)'"))
  }

  test("QUALIFY rewrites to a filtered subquery; nested and literal-safe") {
    val s = spark
    import s.implicits._
    spark.range(10).selectExpr("id", "id % 3 AS g")
      .createOrReplaceTempView("qt")
    // basic: keep each group's max id; ORDER BY applies after the filter
    val basic = DialectShims.rewriteRedshiftSql(
      """SELECT g, id FROM qt
        |QUALIFY row_number() OVER (PARTITION BY g ORDER BY id DESC) = 1
        |ORDER BY g""".stripMargin)
    assert(spark.sql(basic).collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq == Seq((0L, 9L), (1L, 7L), (2L, 8L)))
    // QUALIFY inside a subquery rewrites independently of the outer query
    val nested = DialectShims.rewriteRedshiftSql(
      """SELECT COUNT(*) AS n FROM (
        |  SELECT g FROM qt QUALIFY row_number() OVER (PARTITION BY g ORDER BY id) <= 2
        |)""".stripMargin)
    assert(spark.sql(nested).collect().head.getLong(0) == 6L)
    // a LIMIT after QUALIFY limits the FILTERED rows
    val limited = DialectShims.rewriteRedshiftSql(
      """SELECT g, id FROM qt
        |QUALIFY row_number() OVER (PARTITION BY g ORDER BY id) = 1
        |ORDER BY g LIMIT 2""".stripMargin)
    assert(spark.sql(limited).count() == 2)
    // the word inside a string literal survives untouched
    assert(DialectShims.rewriteRedshiftSql("SELECT 'no QUALIFY here' AS s")
      .contains("'no QUALIFY here'"))
    // an identifier containing the word is not a keyword
    assert(DialectShims.rewriteQualify("SELECT disqualify FROM t")
      == "SELECT disqualify FROM t")
  }

  test("QUALIFY: a name containing LIMIT does not end the predicate") {
    spark.range(6).selectExpr("id AS g", "id % 3 AS rank_limit", "id AS limits")
      .createOrReplaceTempView("qt_limit")
    def gs(sql: String): Seq[Long] =
      spark.sql(DialectShims.rewriteRedshiftSql(sql)).collect().map(_.getLong(0)).toSeq.sorted
    assert(gs("SELECT g FROM qt_limit QUALIFY rank_limit = 1") == Seq(1L, 4L))
    assert(gs("SELECT g FROM qt_limit QUALIFY limits > 1") == Seq(2L, 3L, 4L, 5L))
    // the keyword itself still ends it
    assert(gs("SELECT g FROM qt_limit QUALIFY limits > 1 ORDER BY g LIMIT 2") == Seq(2L, 3L))
  }

  test("QUALIFY keeps line comments in its select list, FROM clause and predicate") {
    // the rewrite trimmed each piece, which dropped the line break
    // ending a `--` comment (and the NUL closing its mask placeholder):
    // the comment then swallowed the rest of the rewritten query
    spark.sql("SELECT * FROM VALUES (1, 1), (1, 2), (1, 3), (2, 4) AS t(g, id)")
      .createOrReplaceTempView("qc_t")
    val plain = "SELECT g, id FROM qc_t " +
      "QUALIFY row_number() OVER (PARTITION BY g ORDER BY id) <= 2"
    val commented = "SELECT g, id -- the key\nFROM qc_t -- source\n" +
      "QUALIFY row_number() OVER (PARTITION BY g ORDER BY id) <= 2 -- top two\n"
    val out = DialectShims.rewriteRedshiftSql(commented)
    assert(!out.contains('\u0000'), out)
    Seq("-- the key\n", "-- source\n", "-- top two\n").foreach(c => assert(out.contains(c), out))
    assert(DialectShims.rewriteRedshiftSql(out) == out)
    def rows(sql: String) = spark.sql(DialectShims.rewriteRedshiftSql(sql)).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted
    assert(rows(commented) == rows(plain))
    assert(rows(plain) == Seq((1, 1), (1, 2), (2, 4)))
  }

  test("JSON_EXTRACT_PATH_TEXT / ARRAY_ELEMENT_TEXT translate to get_json_object") {
    def one(sql: String): Any =
      spark.sql(DialectShims.rewriteRedshiftSql(s"SELECT $sql AS v"))
        .collect().head.get(0)
    assert(one("""JSON_EXTRACT_PATH_TEXT('{"a": {"b": 7}}', 'a', 'b')""") == "7")
    assert(one("""JSON_EXTRACT_PATH_TEXT('{"a": 1}', 'missing')""") == null)
    // the null_if_invalid flag is accepted and dropped
    assert(one("""JSON_EXTRACT_PATH_TEXT('not json', 'a', true)""") == null)
    assert(one("""JSON_EXTRACT_ARRAY_ELEMENT_TEXT('[10, 20, 30]', 1)""") == "20")
    // non-literal key, dotted key, expression index: refused at analysis
    assert(refusal("SELECT JSON_EXTRACT_PATH_TEXT(j, k) FROM t")
      .contains("JSON_EXTRACT_PATH_TEXT("))
    assert(refusal("SELECT JSON_EXTRACT_PATH_TEXT(j, 'a.b') FROM t")
      .contains("JSON_EXTRACT_PATH_TEXT("))
    assert(refusal("SELECT JSON_EXTRACT_ARRAY_ELEMENT_TEXT(j, i+1) FROM t")
      .contains("JSON_EXTRACT_ARRAY_ELEMENT_TEXT("))
  }

  test("APPROXIMATE COUNT(DISTINCT x) rewrites to approx_count_distinct; within 2%") {
    val in = "SELECT APPROXIMATE COUNT(DISTINCT o_custkey) AS u FROM rs_o"
    val out = DialectShims.rewriteRedshiftSql(in)
    assert(out.contains("approx_count_distinct(DISTINCT".replace("(DISTINCT", "(")),
      out)
    assert(!out.toUpperCase.contains("APPROXIMATE"), out)
    // a string literal mentioning the keyword is untouched (masking)
    val lit = DialectShims.rewriteRedshiftSql(
      "SELECT 'APPROXIMATE COUNT(DISTINCT x)' AS s")
    assert(lit.contains("'APPROXIMATE COUNT(DISTINCT x)'"), lit)
    // and the rewrite RUNS, landing within 2% of the exact count
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .createOrReplaceTempView("rs_o")
    val approx = spark.sql(out).collect().head.getLong(0).toDouble
    val exact = spark.sql(
      "SELECT COUNT(DISTINCT o_custkey) FROM rs_o").collect().head.getLong(0)
    assert(math.abs(approx - exact) / exact <= 0.02,
      s"approx $approx vs exact $exact")
  }

  test("CHARINDEX / LEN / STRTOL shims: argument order, absent needle, base parse") {
    val r = spark.sql(
      """SELECT charindex('dex', 'Charindex'), charindex('zz', 'abc'),
        |  len('hello'), strtol('ff', 16), strtol('0644', 8)
        |""".stripMargin).collect().head
    assert(r.getInt(0) == 7, "CHARINDEX is (needle, haystack), 1-based")
    assert(r.getInt(1) == 0, "absent needle is 0, not null")
    assert(r.getInt(2) == 5)
    assert(r.getLong(3) == 255L)
    assert(r.getLong(4) == 420L, "base-8 parse")
  }

  test("SELECT TOP n becomes LIMIT n in the right query block") {
    def rw(s: String) = DialectShims.rewriteRedshiftSql(s)
    assert(rw("SELECT TOP 5 a FROM t ORDER BY a") ==
      "SELECT a FROM t ORDER BY a LIMIT 5")
    assert(rw("SELECT DISTINCT TOP 3 a FROM t") ==
      "SELECT DISTINCT a FROM t LIMIT 3")
    // nested block: the LIMIT lands inside the subquery's parens
    assert(rw("SELECT x FROM (SELECT TOP 2 a AS x FROM t ORDER BY a) s") ==
      "SELECT x FROM (SELECT a AS x FROM t ORDER BY a LIMIT 2) s")
    // both levels at once
    assert(rw("SELECT TOP 1 x FROM (SELECT TOP 2 a AS x FROM t) s") ==
      "SELECT x FROM (SELECT a AS x FROM t LIMIT 2) s LIMIT 1")
    // a literal mentioning TOP must not trip the rewrite
    assert(rw("SELECT 'TOP 5' AS s FROM t") == "SELECT 'TOP 5' AS s FROM t")
    // TOP in a set-operation branch is ambiguous — refused loudly,
    // whether the set-op keyword FOLLOWS the TOP or PRECEDES it
    val e = intercept[IllegalArgumentException](
      rw("SELECT TOP 5 a FROM t UNION SELECT a FROM u"))
    assert(e.getMessage.contains("set-operation"))
    val e2 = intercept[IllegalArgumentException](
      rw("SELECT a FROM t UNION SELECT TOP 5 a FROM u"))
    assert(e2.getMessage.contains("set-operation"))
    // ...including inside a subquery block
    val e3 = intercept[IllegalArgumentException](
      rw("SELECT x FROM (SELECT a AS x FROM t EXCEPT SELECT TOP 2 a FROM u) s"))
    assert(e3.getMessage.contains("set-operation"))
    // ...but a UNION inside a deeper subquery does not confuse scope
    assert(rw("SELECT TOP 5 a FROM (SELECT a FROM t UNION SELECT a FROM u) s") ==
      "SELECT a FROM (SELECT a FROM t UNION SELECT a FROM u) s LIMIT 5")
  }

  test("REGEXP family: position, occurrence, flags, arg order — live eval") {
    def evalStr(redshift: String): String = {
      val out = DialectShims.rewriteRedshiftSql(s"SELECT $redshift AS v")
      spark.sql(out).collect().head.get(0).toString
    }
    // REGEXP_SUBSTR: default / position / occurrence / 'i' flag
    assert(evalStr("REGEXP_SUBSTR('ab12cd34ef', '[0-9]+')") == "12")
    // search starts AT position 4 (the '2'), so the match is '2'
    assert(evalStr("REGEXP_SUBSTR('ab12cd34ef', '[0-9]+', 4)") == "2")
    assert(evalStr("REGEXP_SUBSTR('ab12cd34ef', '[0-9]+', 1, 2)") == "34")
    assert(evalStr("REGEXP_SUBSTR('ab12cd34ef', 'CD', 1, 1, 'i')") == "cd")
    // no match → empty string, Redshift semantics (not NULL)
    assert(evalStr("REGEXP_SUBSTR('abc', '[0-9]+')") == "")
    // NULL input → NULL
    assert(spark.sql(DialectShims.rewriteRedshiftSql(
      "SELECT REGEXP_SUBSTR(CAST(NULL AS STRING), '[0-9]+') AS v"))
      .collect().head.isNullAt(0))
    // REGEXP_COUNT with position: matches before `position` don't count
    assert(evalStr("REGEXP_COUNT('ab12cd34ef56', '[0-9]{2}')") == "3")
    assert(evalStr("REGEXP_COUNT('ab12cd34ef56', '[0-9]{2}', 5)") == "2")
    assert(evalStr("REGEXP_COUNT('ABAB', 'ab', 1, 'i')") == "2")
    // REGEXP_INSTR: occurrence, end-option, position offset
    assert(evalStr("REGEXP_INSTR('ab12cd34ef', '[0-9]+')") == "3")
    assert(evalStr("REGEXP_INSTR('ab12cd34ef', '[0-9]+', 1, 2)") == "7")
    assert(evalStr("REGEXP_INSTR('ab12cd34ef', '[0-9]+', 1, 2, 1)") == "9")
    assert(evalStr("REGEXP_INSTR('ab12cd34ef', '[0-9]+', 4)") == "4")
    assert(evalStr("REGEXP_INSTR('abc', '[0-9]')") == "0")
    // REGEXP_REPLACE: 2-arg delete form, position arg keeps the prefix
    assert(evalStr("REGEXP_REPLACE('a1b2c3', '[0-9]')") == "abc")
    assert(evalStr("REGEXP_REPLACE('a1b2c3', '[0-9]', 'x')") == "axbxcx")
    assert(evalStr("REGEXP_REPLACE('a1b2c3', '[0-9]', 'x', 3)") == "a1bxcx")
    // 'e': return the first subexpression of the match
    assert(evalStr("REGEXP_SUBSTR('order id 42 shipped', 'id ([0-9]+)', 1, 1, 'e')") == "42")
    // 'e' with no subexpression in the pattern is ignored (Redshift)
    assert(evalStr("REGEXP_SUBSTR('abc 42', '[0-9]+', 1, 1, 'e')") == "42")
    // 'ie' combine
    assert(evalStr("REGEXP_SUBSTR('ID 7', 'id ([0-9]+)', 1, 1, 'ie')") == "7")
    // ...and 'ie' over a group-less pattern is the whole match: the
    // (?i) prefix 'i' adds is not a group
    assert(evalStr("REGEXP_SUBSTR('ID 7', 'id [0-9]+', 1, 1, 'ie')") == "ID 7")
    // the unsupported PCRE parameter mode is refused at analysis
    assert(refusal("SELECT REGEXP_SUBSTR(s, 'x', 1, 1, 'p') FROM t").contains("REGEXP_SUBSTR("))
  }

  test("TO_NUMBER passes through; datepart TRUNC truncates and types") {
    def evalStr(redshift: String): String = {
      val out = DialectShims.rewriteRedshiftSql(s"SELECT $redshift AS v")
      spark.sql(out).collect().head.get(0).toString
    }
    assert(evalStr("TO_NUMBER('1234', '999999')") == "1234")
    assert(evalStr("TO_NUMBER('$1,234.56', '$9,999.99')") == "1234.56")
    assert(evalStr("CAST(TRUNC(TIMESTAMP '1995-07-16 12:30:00', 'month') AS STRING)")
      == "1995-07-01")
    assert(evalStr("CAST(TRUNC(TIMESTAMP '1995-07-16 12:30:00', 'MM') AS STRING)")
      == "1995-07-01", "'MM' means MONTH in TRUNC formats, not minute")
    assert(evalStr("CAST(TRUNC(TIMESTAMP '1995-07-16 12:30:00', 'year') AS STRING)")
      == "1995-01-01")
    assert(evalStr("CAST(TRUNC(TIMESTAMP '1995-07-16 12:45:10', 'hour') AS STRING)")
      == "1995-07-16 12:00:00", "sub-day units keep the time component")
    // Oracle one-letter formats: 'D' = start of (Sunday-based) week,
    // 'W' = start of the week-of-month chunk — NOT day/week aliases.
    // 1995-07-16 is a Sunday; 1995-07-19 is a Wednesday.
    assert(evalStr("CAST(TRUNC(TIMESTAMP '1995-07-16 12:30:00', 'D') AS STRING)")
      == "1995-07-16")
    assert(evalStr("CAST(TRUNC(TIMESTAMP '1995-07-19 12:30:00', 'D') AS STRING)")
      == "1995-07-16", "'D' truncates to the Sunday week start")
    assert(evalStr("CAST(TRUNC(TIMESTAMP '1995-07-19 12:30:00', 'W') AS STRING)")
      == "1995-07-15", "'W' truncates to day 1/8/15/22/29 of the month")
    assert(evalStr("CAST(TRUNC(TIMESTAMP '1995-07-07 00:00:00', 'W') AS STRING)")
      == "1995-07-01")
    // ALL Oracle day-of-week formats ('DAY', 'DY', 'D') are week-start;
    // the actual day formats are 'DDD'/'DD'/'J'
    assert(evalStr("CAST(TRUNC(TIMESTAMP '1995-07-19 12:30:00', 'DAY') AS STRING)")
      == "1995-07-16", "'DAY' is a WEEK format in Oracle, not day truncation")
    assert(evalStr("CAST(TRUNC(TIMESTAMP '1995-07-19 12:30:00', 'DY') AS STRING)")
      == "1995-07-16")
    assert(evalStr("CAST(TRUNC(TIMESTAMP '1995-07-19 12:30:00', 'DDD') AS STRING)")
      == "1995-07-19")
    // 'IW' is the ISO (Monday-start) week; 'WW' chunks the year from
    // Jan 1 in 7-day steps (1996-01-01 is a Monday, so the two differ
    // from the Sunday-based 'D' on 1996 dates)
    assert(evalStr("CAST(TRUNC(TIMESTAMP '1996-07-19 12:30:00', 'IW') AS STRING)")
      == "1996-07-15")
    assert(evalStr("CAST(TRUNC(TIMESTAMP '1996-07-19 12:30:00', 'WW') AS STRING)")
      == "1996-07-15")
    assert(evalStr("CAST(TRUNC(TIMESTAMP '1996-07-19 12:30:00', 'D') AS STRING)")
      == "1996-07-14")
    // numeric TRUNC (non-string second arg) is refused at analysis
    assert(refusal("SELECT TRUNC(x, 2) FROM t").contains("TRUNC("))
  }

  test("numeric TO_CHAR: grouping, zero pad, sign modes, overflow, rounding") {
    def evalStr(redshift: String): String = {
      val out = DialectShims.rewriteRedshiftSql(s"SELECT $redshift AS v")
      spark.sql(out).collect().head.get(0).toString
    }
    assert(evalStr("TO_CHAR(1234567, 'FM999,999,999')") == "1,234,567")
    assert(evalStr("TO_CHAR(42, 'FM0000')") == "0042")
    assert(evalStr("TO_CHAR(0, 'FM0000')") == "0000")
    // default mode: one sign slot, PG's to_char(485,'999') = ' 485'
    assert(evalStr("TO_CHAR(485, '999')") == " 485")
    assert(evalStr("TO_CHAR(-485, '999')") == "-485")
    // S anchors an explicit sign
    assert(evalStr("TO_CHAR(3, 'S99')") == "+3")
    assert(evalStr("TO_CHAR(-3, 'S99')") == "-3")
    // money: dollar prefix, grouping, fixed scale, HALF-UP rounding
    assert(evalStr("TO_CHAR(1234.567, 'FM$9,999.00')") == "$1,234.57")
    assert(evalStr("TO_CHAR(5, 'FM$9.00')") == "$5.00")
    // integer part wider than the pattern → all '#'s
    assert(evalStr("TO_CHAR(12345, 'FM99')") == "##")
    // >18-digit values format exactly (the BIGINT intermediate would
    // have overflowed); 20 digits through a 24-position pattern
    assert(evalStr(
      "TO_CHAR(CAST('12345678901234567890' AS DECIMAL(38,0)), " +
        "'FM999999999999999999999999')") == "12345678901234567890")
    // unsupported number shapes are refused at analysis
    assert(refusal("SELECT TO_CHAR(x, '9.9.9') FROM t").contains("TO_CHAR("))
  }

  test("SUPER/PartiQL: dot paths, array indexes, UNNEST over json varchar") {
    // nested dot path + array index on an aliased column
    val r1 = DialectShims.rewriteRedshiftSql(
      "SELECT e.payload.user.name, e.payload.items[0].sku FROM events e")
    assert(r1.contains("get_json_object(e.payload, '$.user.name')"), r1)
    assert(r1.contains("get_json_object(e.payload, '$.items[0].sku')"), r1)
    // 2-part refs and FROM-position 3-part names are untouched
    val r2 = DialectShims.rewriteRedshiftSql(
      "SELECT t.a FROM db.schema.tbl t WHERE t.a > 1")
    assert(r2.contains("FROM db.schema.tbl t") && r2.contains("t.a > 1"), r2)
    // a fully-qualified schema.table.column reference (no single-part
    // alias bound) is a COLUMN reference, never a json path — valid
    // alias-free Redshift that must keep working
    val r2b = DialectShims.rewriteRedshiftSql(
      "SELECT sch.tbl.col FROM sch.tbl WHERE sch.tbl.flag = 'y'")
    assert(!r2b.contains("get_json_object"), r2b)
    // ...but the same shape with the head bound as an alias IS a path
    val r2c = DialectShims.rewriteRedshiftSql(
      "SELECT s.doc.title FROM src s")
    assert(r2c.contains("get_json_object(s.doc, '$.title')"), r2c)
    // a derived-table alias is in scope as a path head
    val r2d = DialectShims.rewriteRedshiftSql(
      "SELECT d.payload.kind FROM (SELECT payload FROM events) d")
    assert(r2d.contains("get_json_object(d.payload, '$.kind')"), r2d)
    // ...including the explicit-AS form: the reference position sits
    // OUTSIDE the subquery scope, so the derived-table binding must
    // survive sibling-scope blanking (parens blanked to `()`, not
    // removed — regression: the removal made `\)\s*AS\s*alias` never
    // match and silently skipped the rewrite)
    val r2d2 = DialectShims.rewriteRedshiftSql(
      "SELECT d.payload.kind FROM (SELECT payload FROM events) AS d")
    assert(r2d2.contains("get_json_object(d.payload, '$.kind')"), r2d2)
    // blanked siblings still must not LEAK their inner bindings: `q`'s
    // subquery binds `events` inside only, so outer `events.doc` stays
    // a schema-qualified relation, not a path head
    val r2d3 = DialectShims.rewriteRedshiftSql(
      "SELECT events.doc.kind FROM (SELECT 1 FROM events) q, events.doc AS d")
    assert(!r2d3.contains("get_json_object"), r2d3)
    // a SELECT-list scalar-subquery alias is NOT a relation alias
    val r2e = DialectShims.rewriteRedshiftSql(
      "SELECT (SELECT max(sch.x.v) FROM sch.x) peak FROM sch.tbl")
    assert(!r2e.contains("get_json_object"), r2e)
    // alias binding is case-insensitive, like SQL identifier
    // resolution (`AS S` binds the head of `s.doc.title`)
    val r2f = DialectShims.rewriteRedshiftSql(
      "SELECT s.doc.title FROM src AS S")
    assert(r2f.contains("get_json_object(s.doc, '$.title')"), r2f)
    // a comma FROM item directly after a join's ON condition binds
    val r2g = DialectShims.rewriteRedshiftSql(
      "SELECT s.doc.items[0].sku FROM a JOIN b ON a.id = b.id, src s")
    assert(r2g.contains("get_json_object(s.doc, '$.items[0].sku')"), r2g)
    // a named window's spec is in scope too
    val r2h = DialectShims.rewriteRedshiftSql(
      "SELECT s.doc.a FROM src s WINDOW w AS (PARTITION BY s.doc.k)")
    assert(r2h.contains("PARTITION BY get_json_object(s.doc, '$.k')"), r2h)
    // bare 2-part + index is a path on the column
    val r3 = DialectShims.rewriteRedshiftSql(
      "SELECT e.tags[2] FROM events e")
    assert(r3.contains("get_json_object(e.tags, '$[2]')"), r3)
    // UNNEST → LATERAL explode(from_json) in place; element field refs
    // become paths on the element's json text
    val r4 = DialectShims.rewriteRedshiftSql(
      "SELECT i.sku, i.qty FROM events e, UNNEST(e.payload.items) AS i")
    assert(r4.contains(
      ", LATERAL explode(from_json(" +
        "get_json_object(e.payload, '$.items'), 'array<string>')) AS i_lv(i)"),
      r4)
    assert(r4.contains("get_json_object(i, '$.sku')") &&
      r4.contains("get_json_object(i, '$.qty')"), r4)
    // end-to-end through Spark: paths and unnest over constructed json
    spark.sql("SELECT 1 AS id, " +
      "'{\"user\":{\"name\":\"ann\"},\"items\":[{\"sku\":\"a1\",\"qty\":2}," +
      "{\"sku\":\"b2\",\"qty\":5}],\"tags\":[\"x\",\"y\"]}' AS payload")
      .createOrReplaceTempView("sup_events")
    val rows = spark.sql(DialectShims.rewriteRedshiftSql(
      "SELECT e.payload.user.name AS uname, e.payload.tags[1] AS tag2, " +
        "i.sku AS sku, CAST(i.qty AS BIGINT) AS qty " +
        "FROM sup_events e, UNNEST(e.payload.items) AS i ORDER BY sku"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(rows == Seq(("ann", "y", "a1", 2L), ("ann", "y", "b2", 5L)), rows)
    // CROSS JOIN spelling of UNNEST
    val rows2 = spark.sql(DialectShims.rewriteRedshiftSql(
      "SELECT t AS tag FROM sup_events e CROSS JOIN UNNEST(e.payload.tags) t " +
        "ORDER BY tag")).collect().map(_.getString(0)).toSeq
    assert(rows2 == Seq("x", "y"), rows2)
    // Trino/Athena column-alias form: UNNEST(x) AS t(col) — col is the
    // element, t names the lateral relation; both col and t.col resolve
    val rows3 = spark.sql(DialectShims.rewriteRedshiftSql(
      "SELECT tag, u.tag AS tag2 FROM sup_events e " +
        "CROSS JOIN UNNEST(e.payload.tags) AS u(tag) ORDER BY tag"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows3 == Seq(("x", "x"), ("y", "y")), rows3)
    // the multi-column form is refused loudly, not spliced as corrupt SQL
    val multi = intercept[IllegalArgumentException] {
      DialectShims.rewriteRedshiftSql(
        "SELECT a FROM t CROSS JOIN UNNEST(x) AS u(a, b)")
    }
    assert(multi.getMessage.contains("multi-column"), multi)
  }

  test("JSON family: array_length, validity predicates, parse/serialize identities") {
    // per json value: both JSON_ARRAY_LENGTH forms (NULL, not an
    // error, on bad json or a non-array), the three validity
    // predicates, and JSON_PARSE/JSON_SERIALIZE as identities
    val family = spark.sql(DialectShims.rewriteRedshiftSql(
      "SELECT j, JSON_ARRAY_LENGTH(j), JSON_ARRAY_LENGTH(j, true), " +
        "IS_VALID_JSON(j), IS_VALID_JSON_ARRAY(j), CAN_JSON_PARSE(j), " +
        "JSON_PARSE(j), JSON_SERIALIZE(j) " +
        "FROM VALUES ('[1,2,3]'), ('{\"a\":1}'), ('{oops'), ('null'), (NULL) AS f(j)"))
      .collect().map(_.toSeq.map(v => if (v == null) null else v.toString)).toSeq
    assert(family == Seq(
      Seq("[1,2,3]", "3", "3", "false", "true", "true", "[1,2,3]", "[1,2,3]"),
      Seq("{\"a\":1}", null, null, "true", "false", "true", "{\"a\":1}", "{\"a\":1}"),
      Seq("{oops", null, null, "false", "false", "false", "{oops", "{oops"),
      Seq("null", null, null, "true", "false", "true", "null", "null"),
      Seq(null, null, null, null, null, null, null, null)), family)
    // live eval: lengths and validity over good, bad, and array json
    val rows = spark.sql(DialectShims.rewriteRedshiftSql(
      "SELECT JSON_ARRAY_LENGTH('[1,2,3]') AS n, " +
        "IS_VALID_JSON('{\"a\":1}') AS v1, IS_VALID_JSON('{oops') AS v2, " +
        "IS_VALID_JSON_ARRAY('[1]') AS a1, IS_VALID_JSON_ARRAY('{}') AS a2, " +
        "IS_VALID_JSON('null') AS v3, " +  // the json literal null IS valid
        // Redshift: IS_VALID_JSON is FALSE for arrays (that's
        // IS_VALID_JSON_ARRAY's job), CAN_JSON_PARSE is true for them
        "IS_VALID_JSON('[1,2]') AS v4, CAN_JSON_PARSE('[1,2]') AS c1"))
      .collect().head
    assert(rows.getInt(0) == 3 && rows.getBoolean(1) && !rows.getBoolean(2)
      && rows.getBoolean(3) && !rows.getBoolean(4) && rows.getBoolean(5), rows)
    assert(!rows.getBoolean(6) && rows.getBoolean(7),
      s"IS_VALID_JSON must reject arrays, CAN_JSON_PARSE accept them: $rows")
    // SUPER array helpers: SPLIT_TO_ARRAY (regex-meta delimiter must
    // stay literal), GET_ARRAY_LENGTH, 0-based SUBARRAY — and the
    // split result feeds UNNEST like any SUPER array
    val arr = spark.sql(DialectShims.rewriteRedshiftSql(
      "SELECT GET_ARRAY_LENGTH(SPLIT_TO_ARRAY('a|b|c', '|')) AS n, " +
        "SUBARRAY(SPLIT_TO_ARRAY('a|b|c', '|'), 1, 2) AS tail1, " +
        "GET_ARRAY_LENGTH(SPLIT_TO_ARRAY('x,y')) AS n2"))
      .collect().head
    assert(arr.getInt(0) == 3 && arr.getString(1) == """["b","c"]""" &&
      arr.getInt(2) == 2, arr)
    val split = spark.sql(DialectShims.rewriteRedshiftSql(
      "SELECT t AS tok FROM (SELECT 'p.q.r' AS s) x, " +
        "UNNEST(SPLIT_TO_ARRAY(x.s, '.')) AS t ORDER BY tok"))
      .collect().map(_.getString(0)).toSeq
    assert(split == Seq("p", "q", "r"), split)
  }

  test("PartiQL comma iteration: FROM s, s.path AS e [AT i] — Redshift's native spelling") {
    // AT ordinal → posexplode with a 0-based position column
    val r1 = DialectShims.rewriteRedshiftSql(
      "SELECT s.id, i, ln.p FROM src s, s.doc.lines AS ln AT i")
    assert(r1.contains(
      "LATERAL posexplode(from_json(" +
        "get_json_object(s.doc, '$.lines'), 'array<string>')) AS ln_lv(i, ln)"),
      r1)
    assert(r1.contains("get_json_object(ln, '$.p')"), r1)
    // no AT → plain explode; alias.column (2-part) is the array itself
    val r2 = DialectShims.rewriteRedshiftSql(
      "SELECT e FROM src s, s.tags e")
    assert(r2.contains(
      "FROM src s, LATERAL explode(from_json(s.tags, 'array<string>')) AS e_lv(e)"),
      r2)
    // SELECT-list comma items with a bound head are NOT iteration
    val r3 = DialectShims.rewriteRedshiftSql(
      "SELECT s.id, s.doc.kind AS kind FROM src s")
    assert(!r3.contains("LATERAL") &&
      r3.contains("get_json_object(s.doc, '$.kind')"), r3)
    // a comma-listed CATALOG name (head not a bound alias) is untouched
    val r4 = DialectShims.rewriteRedshiftSql(
      "SELECT * FROM src s, other.tbl t WHERE s.id = t.id")
    assert(r4.contains("FROM src s, other.tbl t"), r4)
    // iteration over a BARE single-part table name (no alias) — the
    // same scope the path pass grants (`FROM events` binds `events`)
    val r4a = DialectShims.rewriteRedshiftSql(
      "SELECT l FROM events, events.doc.lines AS l")
    assert(r4a.contains(
      "LATERAL explode(from_json(" +
        "get_json_object(events.doc, '$.lines'), 'array<string>')) AS l_lv(l)"),
      r4a)
    // a name bound only inside a SIBLING subquery must not leak out:
    // `events` here is a SCHEMA in the outer scope, and the inner
    // scope's `FROM events` must not turn `events.doc` into iteration
    val r4d = DialectShims.rewriteRedshiftSql(
      "SELECT d.v FROM (SELECT 1 AS one FROM events) q, events.doc AS d")
    assert(!r4d.contains("LATERAL") &&
      r4d.contains("events.doc AS d"), r4d)
    // ...nor make the path pass rewrite an outer schema.table.column
    val r4e = DialectShims.rewriteRedshiftSql(
      "SELECT events.doc.field FROM (SELECT 1 AS one FROM events) q")
    assert(!r4e.contains("get_json_object"), r4e)
    // a case-variant relation alias legally SHADOWING the element
    // alias inside a subquery keeps its column refs
    val r4f = DialectShims.rewriteRedshiftSql(
      "SELECT e, (SELECT max(E.sal) FROM emp E WHERE E.dept = 'x') m " +
        "FROM src s, UNNEST(s.tags) AS e")
    assert(r4f.contains("E.sal") && r4f.contains("E.dept"),
      s"inner relation alias E must shadow element alias e: $r4f")
    // THREE-part comma-listed catalog names and INSERT INTO targets
    // are relation positions, not paths
    val r4b = DialectShims.rewriteRedshiftSql(
      "SELECT * FROM sch.t1 a, db.sch2.t2 b WHERE a.x = b.y")
    assert(r4b.contains("FROM sch.t1 a, db.sch2.t2 b"), r4b)
    val r4c = DialectShims.rewriteRedshiftSql(
      "INSERT INTO db.sch.t SELECT e.payload.user.name FROM events e")
    assert(r4c.contains("INTO db.sch.t") &&
      r4c.contains("get_json_object(e.payload, '$.user.name')"), r4c)
    // UNNEST without an alias fails loudly instead of swallowing the
    // next keyword as the alias
    val noAlias = intercept[IllegalArgumentException] {
      DialectShims.rewriteRedshiftSql(
        "SELECT 1 FROM t, UNNEST(e.arr) WHERE x = 1")
    }
    assert(noAlias.getMessage.contains("requires an alias"), noAlias)
    // an element alias that collides with a path SEGMENT does not
    // corrupt already-rewritten json path literals
    val r5 = DialectShims.rewriteRedshiftSql(
      "SELECT e.doc.items.qty AS q, items FROM events e, " +
        "UNNEST(e.doc.items) AS items")
    assert(r5.contains("get_json_object(e.doc, '$.items.qty')"), r5)
    // a 3+-key JSON_EXTRACT_PATH_TEXT path (a dotted run '$.a.b.c')
    // is not a SUPER path
    val deep = spark.sql(DialectShims.rewriteRedshiftSql(
      "SELECT JSON_EXTRACT_PATH_TEXT(payload, 'a', 'b', 'c') AS v " +
        "FROM VALUES ('{\"a\":{\"b\":{\"c\":7}}}') AS p(payload)")).collect().head.getString(0)
    assert(deep == "7", deep)
    // iteration over a path nested 3+ levels below the column: the
    // inserted '$.a.b.lines' literal (a 3-component dotted run) must
    // survive the path pass too
    val r7 = DialectShims.rewriteRedshiftSql(
      "SELECT ln FROM src s, s.doc.a.b.lines AS ln")
    assert(r7.contains("get_json_object(s.doc, '$.a.b.lines')"), r7)
    // clause detection uses the INNERMOST paren scope: a CORRELATED
    // path (head bound by the outer FROM) as a function argument
    // inside a JOIN of a subquery is an expression position, not a
    // relation position
    val r8 = DialectShims.rewriteRedshiftSql(
      "SELECT 1 FROM t e WHERE x IN " +
        "(SELECT a FROM u JOIN fn(e.payload.a.b) f ON a = f.z)")
    assert(r8.contains("get_json_object(e.payload, '$.a.b')"), r8)
    // the same shape with an UNBOUND head is a catalog name, untouched
    val r8b = DialectShims.rewriteRedshiftSql(
      "SELECT 1 FROM t WHERE x IN " +
        "(SELECT a FROM u JOIN fn(e.payload.a.b) f ON a = f.z)")
    assert(!r8b.contains("get_json_object"), r8b)
    // end-to-end through Spark, object elements + ordinal filter
    spark.sql("SELECT 7 AS id, " +
      "'{\"lines\":[{\"p\":\"a\",\"n\":1},{\"p\":\"b\",\"n\":2}," +
      "{\"p\":\"c\",\"n\":3}]}' AS doc")
      .createOrReplaceTempView("iter_src")
    val rows = spark.sql(DialectShims.rewriteRedshiftSql(
      "SELECT s.id, CAST(i AS BIGINT) AS ord, ln.p AS p, " +
        "CAST(ln.n AS BIGINT) AS n " +
        "FROM iter_src s, s.doc.lines AS ln AT i WHERE i >= 1 ORDER BY i"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(rows == Seq((7, 1L, "b", 2L), (7, 2L, "c", 3L)), rows)
  }

  test("PartiQL [*] wildcard paths in filter predicates — ANY-match exists()") {
    // basic shape: wildcard step mid-path, trailing field, numeric cmp
    val r1 = DialectShims.rewriteRedshiftSql(
      "SELECT s.id FROM src s WHERE s.doc.lines[*].q > 3")
    assert(r1.contains(
      "exists(from_json(get_json_object(s.doc, '$.lines'), " +
        "'array<string>'), wc_e -> get_json_object(wc_e, '$.q') > 3)"), r1)
    // trailing wildcard: the elements THEMSELVES are compared; string
    // literal operand survives masking round-trip
    val r2 = DialectShims.rewriteRedshiftSql(
      "SELECT s.id FROM src s WHERE s.doc.tags[*] = 't1'")
    assert(r2.contains(
      "exists(from_json(get_json_object(s.doc, '$.tags'), " +
        "'array<string>'), wc_e -> wc_e = 't1')"), r2)
    // 2-part head.col[*]: the column itself is the array
    val r3 = DialectShims.rewriteRedshiftSql(
      "SELECT s.id FROM src s WHERE s.tags[*] = 'x'")
    assert(r3.contains(
      "exists(from_json(s.tags, 'array<string>'), wc_e -> wc_e = 'x')"), r3)
    // an UNBOUND head has no reading Spark parses: refused, naming the path
    val r4 = intercept[IllegalArgumentException](DialectShims.rewriteRedshiftSql(
      "SELECT 1 FROM src s WHERE nope.doc.lines[*].q > 3"))
    assert(r4.getMessage.contains("nope.doc.lines[*].q"), r4)
    // wildcard on an iteration ELEMENT alias composes
    val r5 = DialectShims.rewriteRedshiftSql(
      "SELECT e FROM src s, UNNEST(s.doc.rows) AS e WHERE e.vals[*] = 2")
    assert(r5.contains(
      "exists(from_json(get_json_object(e, '$.vals'), " +
        "'array<string>'), wc_e -> wc_e = 2)"), r5)
    // outside a comparison → refused loudly, never rewritten wrong
    val bad = intercept[IllegalArgumentException] {
      DialectShims.rewriteRedshiftSql(
        "SELECT s.doc.lines[*].q FROM src s")
    }
    assert(bad.getMessage.contains("comparison"), bad.getMessage)
    // function-call operand → refused loudly (the name alone would
    // strand its argument list)
    val bad2 = intercept[IllegalArgumentException] {
      DialectShims.rewriteRedshiftSql(
        "SELECT 1 FROM src s WHERE s.doc.lines[*].q = fn(1)")
    }
    assert(bad2.getMessage.contains("function call"), bad2.getMessage)
    // COMPOUND right-hand sides → refused, never silently truncated:
    // a second wildcard path (would strand `[*].r`), arithmetic,
    // string concat, a '::' cast suffix (would re-attach '::int' to
    // the generated exists() boolean), exponentiation ('^' in
    // Redshift), bitwise AND/XOR ('&'/'#'), and shifts ('<<'/'>>')
    for (rhs <- Seq("s.doc.y[*].r", "t.x + 1", "'a' || v", "3::int",
        "2 ^ v", "3 # 1", "4 & 2", "1 << 2", "8 >> 1")) {
      val bc = intercept[IllegalArgumentException] {
        DialectShims.rewriteRedshiftSql(
          s"SELECT 1 FROM src s WHERE s.doc.lines[*].q > $rhs")
      }
      assert(bc.getMessage.contains("compound") ||
        bc.getMessage.contains("comparison"), s"$rhs: ${bc.getMessage}")
    }
    // end-to-end through Spark: ANY-match semantics, and an INDEXED
    // path in the SELECT list coexists with the wildcard pass
    spark.sql(
      "SELECT 1 AS id, '{\"lines\":[{\"q\":1},{\"q\":5}]}' AS doc " +
        "UNION ALL SELECT 2, '{\"lines\":[{\"q\":1},{\"q\":2}]}'")
      .createOrReplaceTempView("wc_src")
    val rows = spark.sql(DialectShims.rewriteRedshiftSql(
      "SELECT s.id, CAST(s.doc.lines[0].q AS BIGINT) AS q0 " +
        "FROM wc_src s WHERE s.doc.lines[*].q > 3 ORDER BY s.id"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(rows == Seq((1, 1L)), rows)
  }

  test("SUPER UNPIVOT: object-attribute iteration — FROM s, UNPIVOT s.doc AS v AT k") {
    // basic shape: map explode with key + value aliases
    val r1 = DialectShims.rewriteRedshiftSql(
      "SELECT k, v FROM src s, UNPIVOT s.doc AS v AT k")
    assert(r1.contains(
      "LATERAL explode(from_json(s.doc, 'map<string,string>')) " +
        "AS k_lv(k, v)"), r1)
    // nested path below the column
    val r2 = DialectShims.rewriteRedshiftSql(
      "SELECT k2, v2 FROM src s, UNPIVOT s.doc.metrics AS v2 AT k2")
    assert(r2.contains(
      "LATERAL explode(from_json(" +
        "get_json_object(s.doc, '$.metrics'), 'map<string,string>')) " +
        "AS k2_lv(k2, v2)"), r2)
    // value-alias field refs compose (object attribute values are
    // json text, same as array elements)
    val r3 = DialectShims.rewriteRedshiftSql(
      "SELECT k, v.unit FROM src s, UNPIVOT s.doc AS v AT k")
    assert(r3.contains("get_json_object(v, '$.unit')"), r3)
    // an unbound head has no reading Spark parses: refused loudly
    val r4 = intercept[IllegalArgumentException](DialectShims.rewriteRedshiftSql(
      "SELECT 1 FROM src s, UNPIVOT nope.doc AS v AT k"))
    assert(r4.getMessage.contains("UNPIVOT nope.doc"), r4)
    // relational UNPIVOT (q31's form) has no `alias.path AS v AT k`
    // shape and stays untouched
    val rel = "SELECT * FROM t UNPIVOT (val FOR name IN (a, b))"
    assert(DialectShims.rewriteRedshiftSql(rel) == rel)
    // end-to-end: sparse attributes, scalar + nested values
    spark.sql(
      "SELECT 1 AS id, '{\"a\":3,\"b\":{\"unit\":\"ms\"}}' AS doc " +
        "UNION ALL SELECT 2, '{\"a\":4,\"c\":1}'")
      .createOrReplaceTempView("unp_src")
    val rows = spark.sql(DialectShims.rewriteRedshiftSql(
      "SELECT s.id, k, v FROM unp_src s, UNPIVOT s.doc AS v AT k " +
        "ORDER BY s.id, k"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(rows.map(t => (t._1, t._2)) ==
      Seq((1, "a"), (1, "b"), (2, "a"), (2, "c")), rows)
    // nested value arrives as json TEXT so paths compose downstream
    assert(rows(1)._3.contains("\"unit\""), rows(1)._3)
    val nested = spark.sql(DialectShims.rewriteRedshiftSql(
      "SELECT v.unit AS u FROM unp_src s, UNPIVOT s.doc AS v AT k " +
        "WHERE k = 'b'")).collect().map(_.getString(0)).toSeq
    assert(nested == Seq("ms"), nested)
  }

  /** The sorted first column of the rewrite of `sql`, run. */
  private def firstColumn(sql: String): Seq[String] =
    spark.sql(DialectShims.rewriteRedshiftSql(sql)).collect().map(_.getString(0)).toSeq.sorted

  private def scopeViews(): Unit = {
    spark.sql("SELECT '[{\"sku\": \"a1\"}, {\"sku\": \"b2\"}]' AS p")
      .createOrReplaceTempView("events")
    spark.sql("SELECT 'c3' AS sku").createOrReplaceTempView("inv")
  }

  test("an element alias is not shadowed by a relation alias in another UNION branch") {
    scopeViews()
    assert(firstColumn("SELECT i.sku FROM events e, UNNEST(e.p) AS i " +
      "UNION ALL SELECT i.sku FROM inv i") == Seq("a1", "b2", "c3"))
  }

  test("an element alias in a CTE body is not shadowed by the outer query's relation alias") {
    scopeViews()
    assert(firstColumn("WITH x AS (SELECT i.sku FROM events e, UNNEST(e.p) AS i) " +
      "SELECT x.sku FROM x JOIN inv i ON true") == Seq("a1", "b2"))
  }

  test("a head bound only in another UNION branch is not a path head") {
    val out = DialectShims.rewriteRedshiftSql(
      "SELECT s.doc.k FROM src s UNION ALL SELECT s.doc.k FROM sch.s")
    assert(out.startsWith("SELECT get_json_object(s.doc, '$.k')"), out)
    assert(out.endsWith(" UNION ALL SELECT s.doc.k FROM sch.s"), out)
  }

  test("an iteration item before another FROM item joins where it stands") {
    spark.sql("SELECT '{\"a\": \"x\", \"lines\": [1, 2]}' AS doc").createOrReplaceTempView("src")
    spark.sql("SELECT * FROM VALUES (10), (20) AS v(n)").createOrReplaceTempView("other")
    Seq("SELECT s.doc.a, ln, o.n FROM src s, s.doc.lines AS ln, other o",
      "SELECT s.doc.a, ln, o.n FROM src s, UNNEST(s.doc.lines) AS ln, other o").foreach { sql =>
      val out = DialectShims.rewriteRedshiftSql(sql)
      assert(out.contains("'array<string>')) AS ln_lv(ln), other o"), out)
      val rows = spark.sql(out).collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
      assert(rows.sorted == Seq(("x", "1", 10), ("x", "1", 20), ("x", "2", 10), ("x", "2", 20)), sql)
    }
  }

  test("an iteration item before JOIN ... ON binds its element for the ON") {
    spark.sql("SELECT 1 AS id, '[\"a\", \"b\", \"c\"]' AS tags").createOrReplaceTempView("src")
    spark.sql("SELECT * FROM VALUES ('a', 10), ('c', 30) AS v(k, w)").createOrReplaceTempView("u")
    val rows = spark.sql(DialectShims.rewriteRedshiftSql(
      "SELECT e, u.w FROM src s, s.tags e JOIN u ON u.k = e"))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    assert(rows == Seq(("a", 10), ("c", 30)), rows)
    // SELECT * lists the element at the item's position, as Redshift does
    val star = spark.sql(DialectShims.rewriteRedshiftSql(
      "SELECT * FROM src s, UNNEST(s.tags) AS e, u WHERE u.k = e"))
    assert(star.columns.toSeq == Seq("id", "tags", "e", "k", "w"), star.columns.toSeq)
  }

  test("Spark-native statements pass the rewrite byte for byte") {
    val settings = Settings.load()
    val templates = Templates.listTemplates("sql").map(t => Templates.renderSql(settings, t._1))
    assert(templates.size == 2, templates)
    val corpus = Seq(
      // perfbench reads the session conf through `run_query --sql SET`
      "SET",
      // what the CLI specs send through run_query and run_sql
      "select count(*) from rep.sales_by_segment",
      "SELECT 1 AS x",
      "SELECT sum(a.id * b.id) AS s FROM range(300000) a CROSS JOIN range(300000) b",
      "SELECT 21 * 2 AS answer",
      "SELECT g, sum(x) AS sx FROM mvs.sales GROUP BY g ORDER BY g",
      "CREATE OR REPLACE TEMPORARY VIEW rs_t AS SELECT 41 AS x",
      "SELECT x + 1 AS answer FROM rs_t",
      // the engine's own DDL shapes
      "CREATE DATABASE IF NOT EXISTS `rep`",
      "ALTER TABLE `rep`.`t` SET LOCATION '/wh/rep/t/_b/0001'",
      "DROP TABLE IF EXISTS `rep`.`t`",
      "ANALYZE TABLE `rep`.`t` COMPUTE STATISTICS",
      "SHOW USER FUNCTIONS",
      "SHOW PARTITIONS `rep`.`t`",
      "DESCRIBE TABLE EXTENDED `src`.`nation`") ++ templates
    corpus.foreach(sql => assert(DialectShims.rewriteRedshiftSql(sql) == sql, sql))
  }

  test("a path inside a lambda body is a path: the [*] operand and a filter() body") {
    spark.sql("SELECT 1 AS id, '{\"min\": 4, \"k\": \"b\", \"tags\": [\"a\", \"b\"], " +
        "\"lines\": [{\"q\": 1}, {\"q\": 5}]}' AS doc " +
        "UNION ALL SELECT 2, '{\"min\": 6, \"k\": \"c\", \"tags\": [\"a\"], " +
        "\"lines\": [{\"q\": 5}]}'").createOrReplaceTempView("lam_src")
    val wc = DialectShims.rewriteRedshiftSql(
      "SELECT s.id FROM lam_src s WHERE s.doc.lines[*].q > s.doc.min")
    assert(wc.contains("wc_e -> get_json_object(wc_e, '$.q') > get_json_object(s.doc, '$.min')"), wc)
    assert(spark.sql(wc).collect().map(_.getInt(0)).toSeq == Seq(1), wc)
    // the lambda's own argument and an element's field inside a lambda
    val rows = spark.sql(DialectShims.rewriteRedshiftSql(
      "SELECT s.id, size(filter(from_json(s.doc.tags, 'array<string>'), x -> x = s.doc.k)), " +
        "size(filter(array(1), x -> ln.q > x)) FROM lam_src s, s.doc.lines AS ln"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq.sorted
    assert(rows == Seq((1, 1, 0), (1, 1, 1), (2, 0, 1)), rows)
    // a lambda argument named like a relation alias is not a path head
    val shadow = "SELECT transform(array(named_struct('a', named_struct('b', 1))), s -> s.a.b) FROM src s"
    assert(DialectShims.rewriteRedshiftSql(shadow) == shadow)
  }

  test("the paths of SQL only the session parser accepts are rewritten; a translated item Spark rejects is refused") {
    val view = DialectShims.rewriteRedshiftSql("CREATE TEMPORARY VIEW v AS SELECT s.doc.k FROM src s")
    assert(view == "CREATE TEMPORARY VIEW v AS SELECT get_json_object(s.doc, '$.k') AS `k` FROM src s", view)
    val e = intercept[IllegalArgumentException](DialectShims.rewriteRedshiftSql(
      "SELECT i FROM src s, UNNEST(s.doc.a) AS i WHERE ("))
    assert(e.getMessage.contains("cannot parse"), e.getMessage)
  }

  test("SQL containing a NUL character is rejected, not silently corrupted") {
    // NUL is the mask placeholder delimiter: input NULs could misindex
    // the saved-literal table. The shim must refuse up front.
    val e = intercept[IllegalArgumentException](
      DialectShims.rewriteRedshiftSql("SELECT 'a\u0000b' AS s FROM t"))
    assert(e.getMessage.contains("NUL"))
    // NUL-free SQL still passes through the same entry point
    assert(DialectShims.rewriteRedshiftSql("SELECT 'ab' AS s FROM t")
      .contains("'ab'"))
  }

  /** The message of the IllegalArgumentException analysis raises for
    * the rewrite of `sql`: a shape no builder translates. */
  private def refusal(sql: String): String =
    intercept[IllegalArgumentException](
      spark.sql(DialectShims.rewriteRedshiftSql(sql))).getMessage

  /** `sql` without comments, whitespace collapsed. */
  private def uncommented(sql: String): String =
    sql.replaceAll("--[^\n]*\n|/\\*.*?\\*/", " ").replaceAll("\\s+", " ").trim

  test("a comment beside a literal argument gives the comment-free answer") {
    def value(expr: String): Any =
      spark.sql(DialectShims.rewriteRedshiftSql(s"SELECT $expr AS v")).collect().head.get(0)
    val ts = "TIMESTAMP '2024-01-31 10:00:00'"
    Seq(
      s"CAST(TRUNC($ts, /*u*/ 'D') AS STRING)" -> "2024-01-28",
      s"TO_CHAR($ts, -- f\n'YYYY-MM')" -> "2024-01",
      "CAST(TO_DATE('02/28/1996', /*f*/ 'MM/DD/YYYY') AS STRING)" -> "1996-02-28",
      """JSON_EXTRACT_PATH_TEXT('{"a": {"b": 7}}', 'a' /* k */, 'b')""" -> "7"
    ).foreach { case (commented, want) =>
      assert(value(commented) == want, commented)
      assert(value(uncommented(commented)) == want, commented)
    }
  }

  test("UNNEST takes its alias after a comment") {
    spark.sql("SELECT 1 AS id, '{\"rows\": [\"p\", \"q\"]}' AS doc, '[\"x\"]' AS tags")
      .createOrReplaceTempView("src")
    val commented = "SELECT e FROM src s, UNNEST(s.doc.rows) -- c\nAS e"
    val out = DialectShims.rewriteRedshiftSql(commented)
    assert(out.contains("-- c\n"), out)
    assert(uncommented(out) == uncommented(DialectShims.rewriteRedshiftSql(uncommented(commented))))
    assert(spark.sql(out).collect().map(_.getString(0)).toSeq.sorted == Seq("p", "q"))
  }

  test("a [*] comparison takes its operand after a comment") {
    spark.sql("SELECT 1 AS id, '{}' AS doc, '[\"x\", \"y\"]' AS tags " +
      "UNION ALL SELECT 2, '{}', '[\"z\"]'").createOrReplaceTempView("src")
    val commented = "SELECT s.id FROM src s WHERE s.tags[*] = /* c */ 'x'"
    val out = DialectShims.rewriteRedshiftSql(commented)
    assert(out.contains("/* c */"), out)
    assert(uncommented(out) == uncommented(DialectShims.rewriteRedshiftSql(uncommented(commented))))
    assert(spark.sql(out).collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("every text pass takes a comment where it takes whitespace") {
    Seq("SELECT /*c*/ TOP 5 a FROM t", "SELECT -- c\nTOP 5 a FROM t",
      "SELECT APPROXIMATE /*c*/ COUNT(DISTINCT a) FROM t",
      "SELECT RATIO_TO_REPORT(n) /*c*/ OVER (PARTITION BY f) FROM g",
      "SELECT DATEADD( /*c*/ day, 1, ts), DATEDIFF(day /*c*/, a, b) FROM t",
      "SELECT a FROM t WHERE a SIMILAR /*c*/ TO 'x%'",
      "SELECT g FROM qt QUALIFY row_number() OVER (ORDER BY id) = 1 ORDER /*c*/ BY g",
      "SELECT ln FROM src s, /*c*/ s.doc.lines AS ln",
      "SELECT k, v FROM src s, UNPIVOT /*c*/ s.doc AS v AT k",
      "SELECT s.doc.title FROM src /*c*/ s"
    ).foreach { sql =>
      val out = DialectShims.rewriteRedshiftSql(sql)
      assert(out.contains("/*c*/") || out.contains("-- c\n"), out)
      assert(uncommented(out) == uncommented(DialectShims.rewriteRedshiftSql(uncommented(sql))), sql)
    }
  }

  test("a line comment ending in a backslash does not swallow the next line") {
    // Spark's lexer continues a `--` comment over a backslash-newline;
    // Redshift's ends it at the newline
    val sql = "SELECT id -- see C:\\tmp\\\nFROM VALUES (1), (2) AS v(id)\nWHERE id > 1"
    val out = DialectShims.rewriteRedshiftSql(sql)
    assert(out.contains("-- see C:\\tmp\\ \n"), out)
    assert(spark.sql(out).collect().map(_.getInt(0)).toSeq == Seq(2))
    assert(DialectShims.rewriteRedshiftSql(out) == out)
  }

  test("every dialect function resolves to the extension's builder through the rewrite") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, UnresolvedFunction}
    DialectShims.functions.map(_._1).foreach { name =>
      val plan = spark.sessionState.sqlParser.parsePlan(
        DialectShims.rewriteRedshiftSql(s"SELECT ${name.toUpperCase}(x) FROM t"))
      val called = plan.expressions.flatMap(_.collect {
        case f: UnresolvedFunction => f.nameParts.mkString(".").toLowerCase
      })
      // where Spark has a built-in of the name, through rs_
      val builtin = FunctionRegistry.builtin.functionExists(FunctionIdentifier(name))
      assert(called == Seq(if (builtin) s"rs_$name" else name), name)
      assert(spark.sessionState.catalog.lookupFunctionInfo(FunctionIdentifier(called.head))
        .getClassName == classOf[GraftExtensions].getName, name)
    }
  }

  // ------------------------------------------------------- properties
  // The corpus: every SQL statement in this spec's string literals
  // (concatenated literals joined; test names and interpolation
  // templates such as "SELECT $sql" are not statements), plus the
  // Redshift-dialect oracle entries q21, q22, q24 and q25.
  private def source(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), UTF_8)

  private val TripleQuoted = "(?s)\"\"\"(.*?)\"\"\"".r

  private def margin(raw: String): String =
    if (raw.contains("\n") && raw.linesIterator.drop(1).forall(_.trim.startsWith("|")))
      raw.stripMargin
    else raw

  private lazy val corpus: Seq[String] = {
    val spec = source("src/test/scala/graft/etl/DialectShimsSpec.scala")
      .replaceAll("\\btest\\(\"[^\"]*\"", "")
      .replaceAll("\"\\s*\\+\\s*(?://[^\n]*\\s*)*s?\"", "")
    val triple = TripleQuoted.findAllMatchIn(spec).map(m => margin(m.group(1))).toSeq
    val plain = "\"((?:[^\"\\\\\n]|\\\\.)*)\"".r
      .findAllMatchIn(TripleQuoted.replaceAllIn(spec, "")).flatMap(m =>
        scala.util.Try(StringContext.processEscapes(m.group(1))).toOption).toSeq
    val surface = source("src/main/scala/graft/queries/SqlSurface.scala")
    val dialect = Seq("q21RedshiftDialect", "q22SimilarTo", "q24AnalyticDialect",
      "q25TimeDialect").map { q =>
      margin(TripleQuoted.findFirstMatchIn(
        surface.substring(surface.indexOf(s"def $q("))).get.group(1))
    }
    (triple ++ plain ++ dialect).distinct
      .filter(sql => "(?is)\\s*(select|with)\\s.*\\S.*".r.matches(sql) && !sql.contains('\u0000') &&
        "\\$\\{?[A-Za-z]".r.findFirstIn(sql).isEmpty)
  }

  /** The corpus entries the rewriter accepts: the rest are refused
    * with an IllegalArgumentException on purpose (TOP in a set
    * operation, for one). */
  private lazy val accepted: Seq[String] =
    corpus.filter(sql => scala.util.Try(DialectShims.rewriteRedshiftSql(sql)).isSuccess)

  /** Offsets of the whitespace characters outside literals, quoted
    * identifiers and comments: the boundaries a piece may go in at. */
  private def codeSpaces(sql: String): IndexedSeq[Int] = {
    val out = IndexedSeq.newBuilder[Int]
    var i = 0
    while (i < sql.length) sql.charAt(i) match {
      case q @ ('\'' | '"') =>
        i += 1
        while (i < sql.length && !(sql.charAt(i) == q &&
            !(i + 1 < sql.length && sql.charAt(i + 1) == q)))
          i += (if (sql.charAt(i) == q) 2 else 1)
        i += 1
      case '-' if sql.startsWith("--", i) =>
        i = Some(sql.indexOf('\n', i)).filter(_ >= 0).getOrElse(sql.length)
      case '/' if sql.startsWith("/*", i) =>
        i = Some(sql.indexOf("*/", i + 2)).filter(_ >= 0).map(_ + 2).getOrElse(sql.length)
      case c =>
        if (c.isWhitespace) out += i
        i += 1
    }
    out.result()
  }

  private val wordGen: Gen[String] = Gen.oneOf("DATEADD(day, 1, x)", "GETDATE()",
    "SYSDATE", "SELECT TOP 5 a", "QUALIFY", "s.doc[0].k", "SIMILAR TO 'a%'",
    "LISTAGG(a, ',') WITHIN GROUP (ORDER BY b)", "TO_CHAR(ts, 'YYYY')", "%", "_",
    "$1", "\\", "é", "x", "1", "(", ")", ",")

  /** A string literal, `--` comment or block comment holding
    * dialect-looking text. */
  private val pieceGen: Gen[String] = for {
    words <- Gen.listOf(wordGen).map(_.mkString(" "))
    kind <- Gen.oneOf("literal", "line", "block")
  } yield kind match {
    case "literal" => s"'${words.replace("'", "''")}'"
    case "line" => s"-- $words\n"
    case _ => s"/* $words */"
  }

  /** A corpus entry with a piece inserted at one of its boundaries. A
    * literal does not go right after `SIMILAR TO` or `ESCAPE`, comments
    * between or after them included: there it becomes the pattern
    * operand, which the rewriter owns. */
  private lazy val insertedGen: Gen[(String, String)] = for {
    sql <- Gen.oneOf(accepted)
    piece <- pieceGen
    operandSlot = (at: Int) => piece.startsWith("'") &&
      "(?is).*\\b(similar\\s+to|escape)".r.matches(uncommented(sql.substring(0, at) + "\n"))
    at <- Gen.oneOf(codeSpaces(sql).filterNot(operandSlot) :+ sql.length)
  } yield (sql.substring(0, at) + " " + piece + sql.substring(at), piece)

  private def checkProp(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, s"property failed: ${res.status}")
  }

  /** The rewrite of `sql`, or None where the rewriter refuses it
    * loudly; any other exception fails the property. */
  private def rewritten(sql: String): Option[String] =
    try Some(DialectShims.rewriteRedshiftSql(sql))
    catch { case _: IllegalArgumentException => None }

  test("property: rewriteRedshiftSql is idempotent") {
    assert(corpus.size > 100, corpus.size)
    assert(accepted.size > corpus.size * 9 / 10, corpus.diff(accepted))
    assert(corpus.exists(_.contains("SIMILAR TO 'Customer#0000000[0-9][0-9]'")))
    assert(corpus.exists(_.contains("RATIO_TO_REPORT(n_items) OVER")))
    accepted.foreach { sql =>
      val once = DialectShims.rewriteRedshiftSql(sql)
      assert(DialectShims.rewriteRedshiftSql(once) == once, sql)
    }
    checkProp(Prop.forAllNoShrink(insertedGen) { case (sql, _) =>
      Prop(rewritten(sql).forall(once => rewritten(once).contains(once))) :| sql
    })
  }

  test("property: an inserted literal or comment comes out verbatim") {
    checkProp(Prop.forAllNoShrink(insertedGen) { case (sql, piece) =>
      // but for the space a line comment ending in a backslash gains
      val out = if (piece.startsWith("--") && piece.endsWith("\\\n")) piece.init + " \n" else piece
      Prop(rewritten(sql).forall(_.contains(out))) :| sql
    })
  }

  test("property: a UNION ALL branch is rewritten as it would be alone") {
    // binds i, e and s only as plain relation aliases or two-part names
    val q2 = "SELECT i.sku, e.doc.k, s.doc.k FROM inv i JOIN sch.e ON i.id = e.id " +
      "JOIN sch.s ON s.id = i.id"
    assert(DialectShims.rewriteRedshiftSql(q2) == q2)
    // a depth-0 ORDER BY, LIMIT or TOP would take the appended branch in
    val trailing = "(?i)\\b(order\\s+by|limit|top)\\b".r
    def depthZero(sql: String): String = {
      val once = "\\([^()]*\\)".r.replaceAllIn(sql, "")
      if (once == sql) sql else depthZero(once)
    }
    val single = accepted.filter(q => trailing.findFirstIn(depthZero(DialectShims.mask(q)._1)).isEmpty)
    assert(single.size > 30, single.size)
    single.foreach { q =>
      val joined = DialectShims.rewriteRedshiftSql(q + " UNION ALL " + q2)
      val apart = DialectShims.rewriteRedshiftSql(q) + " UNION ALL " + DialectShims.rewriteRedshiftSql(q2)
      assert(joined == apart, s"$q\n$joined\n$apart")
    }
  }

  test("property: every rewrite parses") {
    def parses(sql: String): Boolean =
      scala.util.Try(spark.sessionState.sqlParser.parsePlan(sql)).isSuccess
    val unparsed = accepted.filterNot(sql => parses(DialectShims.rewriteRedshiftSql(sql)))
    assert(unparsed.isEmpty, unparsed.mkString("\n---\n"))
    // a comment changes nothing a parser sees (an inserted literal
    // mostly makes invalid SQL, so only comments go in here)
    checkProp(Prop.forAllNoShrink(insertedGen.suchThat(!_._2.startsWith("'"))) {
      case (sql, _) => Prop(rewritten(sql).forall(parses)) :| sql
    })
  }
}
