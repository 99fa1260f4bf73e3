package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Integration tests of the load lifecycle over sf0.001 test data:
  * staging build + publish, isolation of the standard schema from a
  * failing staging build, skip-copy propagation, required aborts,
  * restore from backup. */
class WarehouseSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Session.build(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def freshWarehouse(): Warehouse =
    new Warehouse(spark, Files.createTempDirectory("graft_wh_test_").toString, sfDir)

  private def rel(yaml: String): Relation = Relation(TableDesign.load(yaml))

  private val srcNation = rel(
    """name: src.nation
      |source_name: src
      |columns:
      |  - name: n_nationkey
      |    type: int
      |    not_null: true
      |  - name: n_name
      |    type: string
      |constraints:
      |  - primary_key: [n_nationkey]
      |""".stripMargin)

  private def ctasTop(query: String): Relation = rel(
    s"""name: rep.top_nations
       |source_name: CTAS
       |depends_on: [src.nation]
       |columns:
       |  - name: n_name
       |    type: string
       |query: $query
       |""".stripMargin)

  test("staging build publishes to standard; staging entries are dropped") {
    val wh = freshWarehouse()
    val rels = Seq(srcNation, ctasTop("SELECT n_name FROM src.nation WHERE n_nationkey < 5"))
    val results = wh.loadWithStagingAndPublish(rels)
    assert(results.size == 2 && results.forall(!_.skipped))
    assert(spark.table("`rep`.`top_nations`").count() == 5)
    assert(spark.table("`src`.`nation`").count() == 25)
    assert(!spark.catalog.tableExists("`etl_staging__rep`.`top_nations`"))
    // Monitor captured one finish event per relation (Q7).
    assert(wh.monitor.events.count(e => e.step == "load" && e.event == "finish") == 2)
  }

  test("build ids stay unique across Warehouse instances on the same dir") {
    // The cross-JVM-run hazard: a second CLI run whose counter restarts
    // at 0 would overwrite the versioned locations the PUBLISHED tables
    // still point at. A new instance must seed past builds on disk.
    val dir = Files.createTempDirectory("graft_wh_seed_").toString
    val wh1 = new Warehouse(spark, dir, sfDir)
    wh1.loadWithStagingAndPublish(Seq(srcNation,
      ctasTop("SELECT n_name FROM src.nation WHERE n_nationkey < 5")))
    assert(spark.table("`rep`.`top_nations`").count() == 5)
    val locBefore = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("nation", Some("src")))
      .location.toString
    // Fresh instance = fresh JVM run. Rebuild the source table only.
    val wh2 = new Warehouse(spark, dir, sfDir)
    wh2.buildOneRelation(srcNation)
    val locAfter = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("nation", Some("src")))
      .location.toString
    assert(locBefore != locAfter,
      s"second run reused a live build location: $locAfter")
    // Both the re-pointed source and the untouched dependent stay intact.
    assert(spark.table("`src`.`nation`").count() == 25)
    assert(spark.table("`rep`.`top_nations`").count() == 5)
  }

  test("S11: build finish events carry files/bytes read and rows written") {
    val wh = freshWarehouse()
    wh.loadRelations(Seq(srcNation,
      ctasTop("SELECT n_name FROM src.nation WHERE n_nationkey < 5")))
    val finishes = wh.monitor.events.filter(e =>
      e.step == "load" && e.event == "finish")
    assert(finishes.size == 2)
    val metrics = finishes.flatMap(_.metrics)
    assert(metrics.size == 2, s"expected metrics on both builds: $finishes")
    // the source load scans nation.parquet: bytes+files read > 0,
    // 25 rows written; the CTAS scans the built table
    metrics.foreach { m =>
      assert(m.filesRead > 0 && m.bytesRead > 0,
        s"scan metrics missing: $m")
      assert(m.filesWritten > 0 && m.bytesWritten > 0 && m.rowsWritten > 0,
        s"write metrics missing: $m")
    }
    assert(metrics.map(_.rowsWritten).toSet == Set(25L, 5L))
    // and the JSON-lines serialization round-trips them
    val line = Monitor.toJson(finishes.head)
    assert(line.contains("\"metrics\":{\"files_read\":"))
  }

  test("staging rewrite is plan-based: string literals survive, CTEs shadow") {
    val wh = freshWarehouse()
    val deps = Seq(TableName("src", "nation"), TableName("src", "orders"))
    val q = "WITH src AS (SELECT 1 AS x FROM src.nation) " +
      "SELECT x, 'see src.nation docs' AS note FROM src " +
      "WHERE x IN (SELECT o_orderkey FROM src.orders WHERE o_comment <> 'src.orders')"
    val out = wh.rewriteQuery(q, deps, SchemaPosition.Staging)
    assert(out.contains("`etl_staging__src`.`nation`"))
    assert(out.contains("`etl_staging__src`.`orders`"))
    // literals untouched — the regex rewrite corrupted exactly these
    assert(out.contains("'see src.nation docs'"))
    assert(out.contains("'src.orders'"))
    // the CTE reference `FROM src` is not a dependency reference
    assert(out.contains("FROM src "))
    // a CTE named like a dependency shadows it (never rewritten)
    val q2 = "WITH `src.nation` AS (SELECT 1) SELECT * FROM `src.nation`"
    assert(wh.rewriteQuery(q2, deps, SchemaPosition.Staging) == q2)
  }

  test("failing staging build leaves the published standard schema untouched") {
    val wh = freshWarehouse()
    wh.loadWithStagingAndPublish(Seq(srcNation,
      ctasTop("SELECT n_name FROM src.nation WHERE n_nationkey < 5")))
    assert(spark.table("`rep`.`top_nations`").count() == 5)
    // Second build: the CTAS query is broken mid-DAG. Build into
    // staging, expect the failure, standard stays intact (L1 isolation).
    val wh2 = freshWarehouse()
    try wh2.loadWithStagingAndPublish(Seq(srcNation,
      ctasTop("SELECT no_such_column FROM src.nation")))
    catch { case _: Exception => () }
    assert(spark.table("`rep`.`top_nations`").count() == 5,
      "standard table must be untouched by the failed staging build")
  }

  test("failed relation marks dependents skip-copy (empty), load continues") {
    val wh = freshWarehouse()
    val badMid = rel(
      """name: rep.mid
        |source_name: CTAS
        |depends_on: [src.nation]
        |columns:
        |  - name: x
        |    type: long
        |query: SELECT does_not_exist FROM src.nation
        |""".stripMargin)
    val dependent = rel(
      """name: rep.final
        |source_name: CTAS
        |depends_on: [rep.mid]
        |columns:
        |  - name: x
        |    type: long
        |query: SELECT x FROM rep.mid
        |""".stripMargin)
    val results = wh.loadRelations(Seq(srcNation, badMid, dependent))
    // nation built, mid failed (absent), final present but skip-copy.
    assert(results.map(_.identifier).toSet == Set("src.nation", "rep.final"))
    assert(results.find(_.identifier == "rep.final").get.skipped)
    assert(spark.table("`rep`.`final`").count() == 0)
  }

  test("required relation failure aborts the whole load") {
    val wh = freshWarehouse()
    val badRequired = rel(
      """name: rep.vital
        |source_name: CTAS
        |depends_on: [src.nation]
        |columns:
        |  - name: x
        |    type: long
        |query: SELECT boom FROM src.nation
        |""".stripMargin).copy(isRequired = true)
    intercept[RequiredRelationLoadError] {
      wh.loadRelations(Seq(srcNation, badRequired))
    }
  }

  test("constraint violation fails the build with sample keys") {
    val wh = freshWarehouse()
    val dupKey = rel(
      """name: rep.dup
        |source_name: CTAS
        |depends_on: [src.nation]
        |columns:
        |  - name: k
        |    type: int
        |    not_null: true
        |constraints:
        |  - primary_key: [k]
        |query: SELECT CAST(n_nationkey % 5 AS INT) AS k FROM src.nation
        |""".stripMargin)
    val e = intercept[FailedConstraintError] {
      wh.buildOneRelation(dupKey)
    }
    assert(e.getMessage.contains("primary_key"))
    // the failed build must not leave a registered table behind —
    // verification runs post-write, so the registration is undone
    assert(!spark.catalog.tableExists("`rep`.`dup`"))
  }

  /** The profile of `body`'s jobs, and the description of every SQL
    * execution started while it ran. */
  private def traced(body: => Unit): (Telemetry.Profile, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import org.apache.spark.sql.graft.Bus
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => seen.add(s.description)
        case _ =>
      }
    }
    assert(Bus.drain(spark.sparkContext, 10000))
    spark.sparkContext.addSparkListener(listener)
    try {
      val profile = Telemetry.scoped(spark) { scope => body; scope.profile() }
      (profile.getOrElse(fail("the listener bus did not drain")), seen.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a small COPY build runs two jobs: its write and a one-stage key check") {
    // an extract's artifact, as the nightly load COPYs it
    val src = Files.createTempDirectory("graft_copy_src_").toString
    Artifact.write(spark.read.parquet(s"$sfDir/nation.parquet"), srcNation.design,
      s"$src/src.nation")
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_wh_test_").toString, src)
    val (profile, _) = traced(wh.buildOneRelation(srcNation))
    assert(profile.jobs == 2 && profile.stages.size == 2, profile)
    assert(spark.table("`src`.`nation`").count() == 25)
  }

  test("a CTAS build over a join runs its query once: no rdd execution") {
    val wh = freshWarehouse()
    wh.buildOneRelation(srcNation)
    val joined = ctasTop("SELECT a.n_name FROM src.nation a JOIN src.nation b " +
      "ON a.n_nationkey = b.n_nationkey WHERE b.n_nationkey < 5")
    val (_, executions) = traced(wh.buildOneRelation(joined))
    assert(!executions.exists(_.startsWith("rdd at")), executions)
    assert(spark.table("`rep`.`top_nations`").count() == 5)
  }

  test("an identity-less dim build is checked over what it wrote: its join runs once") {
    val wh = freshWarehouse()
    wh.buildOneRelation(srcNation)
    def joined(name: String) = rel(
      s"""name: rep.$name
         |source_name: CTAS
         |depends_on: [src.nation]
         |columns:
         |  - name: k
         |    type: int
         |    not_null: true
         |  - name: n_name
         |    type: string
         |constraints:
         |  - primary_key: [k]
         |query: SELECT a.n_nationkey AS k, b.n_name FROM src.nation a JOIN src.nation b
         |  ON a.n_nationkey = b.n_nationkey
         |""".stripMargin)
    // the same build without the NA row: its write and a one-stage check
    val (plain, _) = traced(wh.buildOneRelation(joined("nat_join")))
    val (dim, _) = traced(wh.buildOneRelation(joined("dim_nat_join")))
    assert(dim.jobs == plain.jobs && dim.stages.size == plain.stages.size,
      s"dim: $dim\nplain: $plain")
    assert(spark.table("`rep`.`dim_nat_join`").count() == 26)
  }

  test("a real key equal to the NA row's key: one passes, two fail the build and the audit") {
    val wh = freshWarehouse()
    wh.buildOneRelation(srcNation)
    // nation keys run 0..24, and the NA row of a dim_* table keys 0 too
    def dim(key: String) = rel(
      s"""name: rep.dim_nat
         |source_name: CTAS
         |depends_on: [src.nation]
         |columns:
         |  - name: k
         |    type: long
         |    not_null: true
         |  - name: n_name
         |    type: string
         |constraints:
         |  - primary_key: [k]
         |query: SELECT CAST($key AS BIGINT) AS k, n_name FROM src.nation
         |""".stripMargin)
    val one = dim("n_nationkey")
    wh.buildOneRelation(one)
    assert(spark.table("`rep`.`dim_nat`").filter("k = 0").count() == 2)
    assert(wh.checkConstraints(Seq(one), TableSelector.all).isEmpty)
    // nations 0 and 1 both key 0
    val two = dim("IF(n_nationkey = 1, 0, n_nationkey)")
    val built = intercept[FailedConstraintError](wh.buildOneRelation(two)).getMessage
    assert(built.endsWith("examples: (0,2)"), built)
    // the same rows at rest, written past the build's check
    wh.writeTable(two.name, wh.withNaRow(two.design,
      spark.sql("SELECT CAST(IF(n_nationkey = 1, 0, n_nationkey) AS BIGINT) AS k, n_name " +
        "FROM src.nation")))
    val audited = wh.checkConstraints(Seq(two), TableSelector.all)
    assert(audited.map(_._1) == Seq("rep.dim_nat"), audited)
    assert(audited.head._2.endsWith("examples: (0,2)"), audited)
  }

  test("a duplicate key fails the same way in the one-task check and the shuffled one") {
    val wh = freshWarehouse()
    wh.buildOneRelation(srcNation)
    val dup = rel(
      """name: rep.dup_one
        |source_name: CTAS
        |depends_on: [src.nation]
        |columns:
        |  - name: k
        |    type: int
        |constraints:
        |  - primary_key: [k]
        |query: SELECT CAST(LEAST(n_nationkey, 1) AS INT) AS k FROM src.nation
        |""".stripMargin)
    def failed(): (Telemetry.Profile, String) = {
      var message = ""
      val (profile, _) = traced {
        message = intercept[FailedConstraintError](wh.buildOneRelation(dup)).getMessage
      }
      (profile, message)
    }
    val (oneTask, small) = failed()
    // a build larger than AQE's advisory partition size is checked
    // through a shuffle
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(key, "1")
    val (shuffled, large) = try failed() finally spark.conf.unset(key)
    assert(small.endsWith("examples: (1,24)"), small)
    assert(large == small)
    assert(oneTask.jobs == 2 && oneTask.stages.size == 2, oneTask)
    assert(shuffled.stages.size > oneTask.stages.size, shuffled)
    assert(!spark.catalog.tableExists("`rep`.`dup_one`"))
  }

  test("constraint-violating staged build is NOT published; prior data survives") {
    val wh = freshWarehouse()
    // v1: clean build of rep.counts publishes 5 rows
    val clean = rel(
      """name: rep.counts
        |source_name: CTAS
        |depends_on: [src.nation]
        |columns:
        |  - name: k
        |    type: int
        |    not_null: true
        |constraints:
        |  - primary_key: [k]
        |query: SELECT CAST(n_nationkey AS INT) AS k FROM src.nation WHERE n_nationkey < 5
        |""".stripMargin)
    wh.loadWithStagingAndPublish(Seq(srcNation, clean))
    assert(spark.table("`rep`.`counts`").count() == 5)
    // v2: same relation now violates its PK; it is NOT required, so
    // the load completes — but publish must keep promoting v1
    val violating = rel(
      """name: rep.counts
        |source_name: CTAS
        |depends_on: [src.nation]
        |columns:
        |  - name: k
        |    type: int
        |    not_null: true
        |constraints:
        |  - primary_key: [k]
        |query: SELECT CAST(n_nationkey % 5 AS INT) AS k FROM src.nation
        |""".stripMargin)
    wh.loadWithStagingAndPublish(Seq(srcNation, violating))
    // published table still holds the clean v1 rows, not 25 dup rows
    assert(spark.table("`rep`.`counts`").count() == 5)
  }

  test("publish only swaps pointers: no Spark job, no failed view lookup") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val wh = freshWarehouse()
    val view = rel(
      """name: rep.small_nations
        |source_name: VIEW
        |depends_on: [src.nation]
        |columns:
        |  - name: n_name
        |query: SELECT n_name FROM src.nation WHERE n_nationkey < 5
        |""".stripMargin)
    val rels = Seq(srcNation, view)
    wh.loadRelations(rels, SchemaPosition.Staging)
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("publish-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          warnings.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = classOf[org.apache.spark.sql.execution.command.DropTableCommand].getName
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    // the spec runs at ERROR; open this one logger to WARN for the call
    Configurator.setLevel(logger, Level.WARN)
    val config = ctx.getConfiguration.getLoggerConfig(logger)
    config.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    val profile = try Telemetry.scoped(spark) { scope =>
      wh.publish(rels)
      scope.profile()
    } finally {
      config.removeAppender(appender.getName)
      Configurator.setLevel(logger, Level.ERROR)
      appender.stop()
    }
    assert(profile.map(_.jobs).contains(0), s"publish ran Spark jobs: $profile")
    assert(warnings.isEmpty, warnings.toArray.mkString("\n"))
    assert(spark.table("`rep`.`small_nations`").count() == 5)
    assert(!spark.catalog.tableExists("`etl_staging__rep`.`small_nations`"))
  }

  test("registering a partitioned build reads no layout record as a partition: no repair warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val wh = freshWarehouse()
    val t = TableName.parse("rep.parted_nations")
    val parted = rel(
      """name: rep.parted_nations
        |source_name: CTAS
        |depends_on: [src.nation]
        |columns:
        |  - name: n_name
        |    type: string
        |  - name: region
        |    type: int
        |attributes:
        |  partition_by: [region]
        |query: SELECT n_name, CAST(n_nationkey % 3 AS INT) AS region FROM src.nation
        |""".stripMargin)
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("repair-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          warnings.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = classOf[org.apache.spark.sql.execution.command.RepairTableCommand].getName
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    // the spec runs at ERROR; open this one logger to WARN for the calls
    Configurator.setLevel(logger, Level.WARN)
    val config = ctx.getConfiguration.getLoggerConfig(logger)
    config.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try {
      // a partitioned build and its publish, a rebuild re-pointing the
      // published name, then a rollback to the first build
      wh.loadWithStagingAndPublish(Seq(srcNation, parted))
      wh.createSnapshot("parted-v1", Seq(t))
      wh.loadWithStagingAndPublish(Seq(srcNation, parted))
      wh.restoreSnapshot("parted-v1", t)
    } finally {
      config.removeAppender(appender.getName)
      Configurator.setLevel(logger, Level.ERROR)
      appender.stop()
    }
    assert(warnings.isEmpty, warnings.toArray.mkString("\n"))
    assert(spark.sql(s"SHOW PARTITIONS ${t.quoted}").count() == 3)
    assert(spark.table(t.quoted).count() == 25)
    assert(spark.table(t.quoted).where("region = 1").count() == 8)
  }

  test("a declared table schema equals the schema inferred from its files") {
    val wh = freshWarehouse()
    val design = TableDesign.load(
      """name: rep.every_type
        |source_name: CTAS
        |columns:
        |  - name: b
        |    type: boolean
        |    not_null: true
        |  - name: d
        |    type: date
        |  - name: f8
        |    type: double
        |  - name: f4
        |    type: float
        |  - name: i
        |    type: int
        |    not_null: true
        |  - name: l
        |    type: long
        |  - name: s
        |    type: string
        |  - name: ts
        |    type: timestamp
        |  - name: u
        |    type: uuid
        |  - name: n
        |    type: decimal
        |    sql_type: numeric(12,2)
        |  - name: "seg.code"
        |    type: string
        |query: SELECT 1
        |""".stripMargin)
    val df = spark.sql(
      """SELECT true, DATE '2020-01-02', 1.5, 2.5, 3, 4, 'x',
        |  TIMESTAMP '2020-01-02 03:04:05.123456', 'u-1', 6.75, 'a.b'""".stripMargin)
      .toDF(design.activeColumns.map(_.name): _*)
    val typed = df.select(design.activeColumns.map(c =>
      org.apache.spark.sql.functions.col(s"`${c.name}`").cast(c.dataType).as(c.name)): _*)
    def roundTrip(t: TableName, df: org.apache.spark.sql.DataFrame): Unit = {
      assert(wh.writeTable(t, df, Some(design)) == 1L)
      val location = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t.table, Some(t.schema))).location.toString
      assert(spark.table(t.quoted).schema == spark.read.parquet(location).schema)
      assert(spark.table(t.quoted).collect().head.getAs[String]("seg.code") == "a.b")
    }
    roundTrip(TableName("rep", "every_type"), typed)
    // field metadata, which a DDL column list cannot carry, still
    // reaches the catalog (an index version rides there)
    val md = new org.apache.spark.sql.types.MetadataBuilder().putLong("version", 3L).build()
    roundTrip(TableName("rep", "every_type_md"),
      typed.withColumn("l", org.apache.spark.sql.functions.col("l").as("l", md)))
  }

  test("a constraint rollback serves the previous build's columns, not the new design's") {
    val wh = freshWarehouse()
    def grow(extra: String, key: String) = rel(
      s"""name: rep.grow
         |source_name: CTAS
         |depends_on: [src.nation]
         |columns:
         |  - name: k
         |    type: int
         |    not_null: true
         |$extra
         |constraints:
         |  - primary_key: [k]
         |query: SELECT $key AS k${if (extra.isEmpty) "" else ", n_name AS tag"} FROM src.nation
         |""".stripMargin)
    wh.buildOneRelation(grow("", "CAST(n_nationkey AS INT)"))
    // the design gains a column, and its build violates the key
    intercept[FailedConstraintError] {
      wh.buildOneRelation(grow("  - name: tag\n    type: string", "CAST(n_nationkey % 5 AS INT)"))
    }
    val back = spark.table("`rep`.`grow`")
    assert(back.columns.toSeq == Seq("k"))
    assert(back.count() == 25)
  }

  test("a rollback serves the old build's recorded layout, with no Spark job") {
    val s = spark
    import s.implicits._
    val wh = freshWarehouse()
    val t = TableName.parse("rep.grown")
    def design(extra: String) = TableDesign.load(
      s"""name: rep.grown
         |source_name: CTAS
         |columns:
         |  - name: k
         |    type: int
         |  - name: v
         |    type: string
         |$extra
         |query: SELECT 1
         |""".stripMargin)
    def layout() = {
      val m = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t.table, Some(t.schema)))
      (m.schema, m.partitionColumnNames, m.bucketSpec)
    }
    wh.writeTable(t, Seq((1, "a"), (2, "b")).toDF("k", "v"), Some(design("")))
    val v1 = layout()
    wh.createSnapshot("v1", Seq(t))
    // the design gains a column and a distribution key; then, instead,
    // the column and a partition column (the two do not combine)
    Seq("attributes:\n  distribution: [k]", "attributes:\n  partition_by: [p]").foreach { attrs =>
      wh.writeTable(t, Seq((1, "a", 7), (2, "b", 8), (3, "c", 9)).toDF("k", "v", "p"),
        Some(design(s"  - name: p\n    type: int\n$attrs")))
      assert(layout() != v1)
      val profile = Telemetry.scoped(spark) { scope =>
        wh.restoreSnapshot("v1", t)
        scope.profile()
      }
      assert(profile.map(_.jobs).contains(0), s"rollback ran Spark jobs: $profile")
      assert(layout() == v1)
      assert(spark.table(t.quoted).orderBy("k").as[(Int, String)].collect().toSeq ==
        Seq((1, "a"), (2, "b")))
    }
  }

  test("opening a warehouse serves its pointers and views; what it cannot serve is named") {
    val dir = Files.createTempDirectory("graft_open_").toString
    val view = rel(
      """name: rep.v_top
        |source_name: VIEW
        |depends_on: [rep.top_nations]
        |columns:
        |  - name: n_name
        |query: SELECT n_name FROM rep.top_nations
        |""".stripMargin)
    val rels = Seq(srcNation, ctasTop("SELECT n_name FROM src.nation WHERE n_nationkey < 5"), view)
    new Warehouse(spark, dir, sfDir).loadWithStagingAndPublish(rels)
    assert(new java.io.File(s"$dir/views/rep.v_top.sql").exists())
    assert(!new java.io.File(s"$dir/views/etl_staging__rep.v_top.sql").exists(),
      "publish drops the staging view and its recorded query")
    // a later process: nothing in the session catalog
    Seq("`rep`.`v_top`").foreach(v => spark.sql(s"DROP VIEW $v"))
    Seq("`src`.`nation`", "`rep`.`top_nations`").foreach(t => spark.sql(s"DROP TABLE $t"))
    val wh = new Warehouse(spark, dir, sfDir)
    assert(spark.table("`rep`.`v_top`").count() == 5)
    assert(spark.table("`src`.`nation`").count() == 25)
    // a torn pointer and a build without a layout record are skipped at
    // open, each with a line naming it; vacuum still refuses the torn one
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/pointers/src.nation"),
      Array.emptyByteArray)
    val top = TableName.parse("rep.top_nations")
    val topLoc = wh.readPointer(top).get
    assert(new java.io.File(new org.apache.hadoop.fs.Path(topLoc).toUri.getPath,
      "_layout.json").delete())
    Seq("`src`.`nation`", "`rep`.`top_nations`").foreach(t => spark.sql(s"DROP TABLE $t"))
    val err = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val reopened = try new Warehouse(spark, dir, sfDir) finally System.setErr(realErr)
    val lines = err.toString("UTF-8")
    assert(lines.contains("not serving src.nation") && lines.contains("torn"), lines)
    assert(lines.contains("not serving rep.top_nations") && lines.contains(topLoc) &&
      lines.contains("rebuild"), lines)
    assert(!spark.catalog.tableExists("`rep`.`top_nations`"))
    assert(reopened.vacuum(rels).refused == Seq("src.nation"))
    // re-pointing at a build without a record is refused, not guessed at
    reopened.createSnapshot("no-record", Seq(top))
    val e = intercept[IllegalStateException](reopened.restoreSnapshot("no-record", top))
    assert(e.getMessage.contains("rebuild") && e.getMessage.contains(topLoc), e.getMessage)
  }

  test("only Warehouse names the pointers, views and layout-record paths") {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(java.nio.file.Paths.get("src/main"))
    val sources =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.exists(_.getFileName.toString == "Warehouse.scala"))
    val offenders = for {
      p <- sources if p.getFileName.toString != "Warehouse.scala"
      text = new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
      token <- Seq("pointers/", "/pointers", "views/", "/views", "_layout", "LayoutRecord")
      if text.contains(token)
    } yield s"${p.getFileName}: $token"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("restore from backup brings back the pre-publish table") {
    val wh = freshWarehouse()
    val v1 = Seq(srcNation, ctasTop("SELECT n_name FROM src.nation WHERE n_nationkey < 5"))
    wh.loadWithStagingAndPublish(v1)
    val v2 = Seq(srcNation, ctasTop("SELECT n_name FROM src.nation WHERE n_nationkey < 3"))
    wh.loadWithStagingAndPublish(v2)
    assert(spark.table("`rep`.`top_nations`").count() == 3)
    wh.restoreFromBackup(v2)
    assert(spark.table("`rep`.`top_nations`").count() == 5)
  }

  test("distkey designs produce bucketed tables; co-located join skips the shuffle") {
    val wh = freshWarehouse()
    // same logical key on both sides: customer keys and order custkeys
    val cust = rel(
      """name: srcb.cust_b
        |source_name: src
        |columns:
        |  - name: c_custkey
        |    type: long
        |    not_null: true
        |  - name: c_acctbal
        |    type: double
        |attributes:
        |  distribution: [c_custkey]
        |""".stripMargin)
    val ord = rel(
      """name: srcb.orders_b
        |source_name: src
        |columns:
        |  - name: o_custkey
        |    type: long
        |    not_null: true
        |  - name: o_totalprice
        |    type: double
        |attributes:
        |  distribution: [o_custkey]
        |""".stripMargin)
    // source files: customer.parquet / orders.parquet (table name after '.')
    val custRel = cust.copy(design = cust.design.copy(
      name = TableName.parse("srcb.customer")))
    val ordRel = ord.copy(design = ord.design.copy(
      name = TableName.parse("srcb.orders")))
    wh.loadRelations(Seq(custRel, ordRel))
    val meta = spark.sql("DESCRIBE TABLE EXTENDED `srcb`.`customer`")
      .collect().map(r => r.getString(0) + ":" + r.getString(1)).mkString("\n")
    assert(meta.contains("Num Buckets") && meta.contains("c_custkey"),
      s"table must be bucketed, got:\n$meta")
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("`srcb`.`customer`")
        .join(spark.table("`srcb`.`orders`"),
          org.apache.spark.sql.functions.col("c_custkey") ===
            org.apache.spark.sql.functions.col("o_custkey"))
      val exchanges = joined.queryExecution.sparkPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        "bucketed-on-key join must not shuffle either side:\n" +
          joined.queryExecution.sparkPlan.toString)
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("DISTSTYLE ALL lands one replicated file and broadcasts; EVEN spreads round-robin") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val wh = freshWarehouse()
    def styleDesign(table: String, style: String) = TableDesign.load(
      s"""name: $table
         |source_name: CTAS
         |depends_on: [src.t]
         |columns:
         |  - name: k
         |    type: long
         |    not_null: true
         |  - name: x
         |    type: long
         |attributes:
         |  distribution: $style
         |query: SELECT 1
         |""".stripMargin)
    val dim = styleDesign("dsty.dim_all", "ALL")
    assert(dim.distStyle.contains("all") && dim.distribution.isEmpty)
    // a deliberately multi-partition input must still land as ONE file
    wh.writeTable(TableName.parse("dsty.dim_all"),
      spark.range(0, 50, 1, 4).select($"id".as("k"), ($"id" * 7).as("x")),
      Some(dim))
    val allFiles = spark.table("`dsty`.`dim_all`")
      .select(input_file_name()).distinct().count()
    assert(allFiles == 1, s"ALL must land one replicable file, got $allFiles")
    // ...and the join side replicates: Redshift's copy-on-every-slice
    // becomes a broadcast build side under the default threshold
    val fact = spark.range(1000).select(($"id" % 50).as("k"), $"id".as("f"))
    val joined = fact.join(spark.table("`dsty`.`dim_all`"), "k")
    val bcast = joined.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bcast.nonEmpty,
      s"ALL table must broadcast:\n${joined.queryExecution.sparkPlan}")
    // EVEN: a skewed one-partition input spreads across output files
    val even = styleDesign("dsty.fact_even", "even")
    wh.writeTable(TableName.parse("dsty.fact_even"),
      spark.range(1000).coalesce(1).select($"id".as("k"), ($"id" * 2).as("x")),
      Some(even))
    val evenFiles = spark.table("`dsty`.`fact_even`")
      .select(input_file_name()).distinct().count()
    assert(evenFiles > 1, s"EVEN must spread a skewed input, got $evenFiles file(s)")
    // show_ddl carries the style
    assert(Ddl.createTableSql(dim).contains("'graft.diststyle' = 'all'"))
  }

  test("vacuum deletes superseded builds; standard, backup, restore survive") {
    val dir = Files.createTempDirectory("graft_vac_").toString
    val wh = new Warehouse(spark, dir, sfDir)
    def gen(n: Int) =
      Seq(srcNation, ctasTop(s"SELECT n_name FROM src.nation WHERE n_nationkey < $n"))
    // Three publishes -> three build dirs per table; live = standard
    // (v3) + backup (v2); v1 is the leaked superseded build.
    wh.loadWithStagingAndPublish(gen(5))
    wh.loadWithStagingAndPublish(gen(3))
    wh.loadWithStagingAndPublish(gen(7))
    // Staged builds land under the STAGING position's data dir
    // (writeTable keys the location by the build-position name);
    // publish only re-points catalog names at those locations.
    def buildDirs(table: String): Seq[String] = {
      val d = new java.io.File(s"$dir/data/etl_staging__$table")
      if (!d.exists()) Seq.empty
      else d.listFiles().filter(_.isDirectory).map(_.getName).toSeq.sorted
    }
    assert(buildDirs("rep.top_nations").size == 3)
    val deleted = wh.vacuum(gen(7)).deleted
    // exactly the one unreferenced build per table is gone
    assert(buildDirs("rep.top_nations").size == 2,
      s"expected 2 live builds, got ${buildDirs("rep.top_nations")}; deleted=$deleted")
    assert(buildDirs("src.nation").size == 2)
    assert(deleted.size == 2)
    // standard and backup still read correctly after the deletes
    assert(spark.table("`rep`.`top_nations`").count() == 7)
    assert(spark.table("`etl_backup__rep`.`top_nations`").count() == 3)
    // idempotent: a second vacuum finds nothing to delete (and nothing
    // was refused — this is a genuine "nothing to reclaim")
    val second = wh.vacuum(gen(7))
    assert(second.deleted.isEmpty && second.refused.isEmpty)
    // and restore still works (backup location was kept)
    wh.restoreFromBackup(gen(7))
    assert(spark.table("`rep`.`top_nations`").count() == 3)
    // restore re-points standard at the backup location, orphaning the
    // v3 builds — the next vacuum reclaims exactly those
    assert(wh.vacuum(gen(7)).deleted.size == 2)
    assert(spark.table("`rep`.`top_nations`").count() == 3)
  }

  test("vacuum dry run reports the dead builds without deleting them") {
    val dir = Files.createTempDirectory("graft_vac_dry_").toString
    val wh = new Warehouse(spark, dir, sfDir)
    def gen(n: Int) =
      Seq(srcNation, ctasTop(s"SELECT n_name FROM src.nation WHERE n_nationkey < $n"))
    wh.loadWithStagingAndPublish(gen(5))
    wh.loadWithStagingAndPublish(gen(3))
    wh.loadWithStagingAndPublish(gen(7))
    val dry = wh.vacuum(gen(7), dryRun = true)
    assert(dry.deleted.size == 2 && dry.refused.isEmpty)
    // nothing actually deleted: the real pass still finds both
    val real = wh.vacuum(gen(7))
    assert(real.deleted.toSet == dry.deleted.toSet)
    // and now they are gone
    assert(wh.vacuum(gen(7)).deleted.isEmpty)
  }

  test("vacuum is fail-safe without a session catalog (fresh-JVM Cli vacuum)") {
    val dir = Files.createTempDirectory("graft_vac_safe_").toString
    val wh = new Warehouse(spark, dir, sfDir)
    def gen(n: Int) =
      Seq(srcNation, ctasTop(s"SELECT n_name FROM src.nation WHERE n_nationkey < $n"))
    wh.loadWithStagingAndPublish(gen(5))
    wh.loadWithStagingAndPublish(gen(3))   // standard=v2, backup=v1: all live
    def buildDirs(table: String): Seq[String] = {
      val d = new java.io.File(s"$dir/data/etl_staging__$table")
      if (!d.exists()) Seq.empty
      else d.listFiles().filter(_.isDirectory).map(_.getName).toSeq.sorted
    }
    assert(buildDirs("rep.top_nations").size == 2)
    // Simulate a fresh JVM: the in-memory catalog knows nothing about
    // this warehouse. (Dropping the tables is the closest a shared
    // test session can get — a real fresh JVM starts with none.)
    Seq("`src`.`nation`", "`rep`.`top_nations`",
      "`etl_backup__src`.`nation`", "`etl_backup__rep`.`top_nations`")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // The pointers manifest keeps the live set non-empty: vacuum from a
    // catalog-less JVM must delete NOTHING (both builds are live).
    val res = new Warehouse(spark, dir, sfDir).vacuum(gen(3))
    assert(res.deleted.isEmpty, s"fresh-JVM vacuum deleted live data: ${res.deleted}")
    assert(res.refused.isEmpty)
    assert(buildDirs("rep.top_nations").size == 2)
    assert(buildDirs("src.nation").size == 2)
    // A TORN pointer write (file present but empty) makes the relation's
    // live set unresolvable: vacuum must refuse that relation even though
    // the other positions' pointers survive — else the build whose
    // pointer was lost looks dead and gets deleted.
    val nationPtr = new java.io.File(s"$dir/pointers/src.nation")
    assert(nationPtr.exists())
    java.nio.file.Files.write(nationPtr.toPath, Array.emptyByteArray)
    val torn = new Warehouse(spark, dir, sfDir).vacuum(gen(3))
    assert(torn.refused == Seq("src.nation"),
      s"empty pointer must refuse src.nation, got $torn")
    assert(buildDirs("src.nation").size == 2,
      "refusal must leave every build in place")
    // Without the manifest either (pre-manifest warehouse): the live
    // set resolves empty over existing data — vacuum must REFUSE, not
    // treat everything as dead.
    val pointers = new java.io.File(s"$dir/pointers")
    pointers.listFiles().foreach(_.delete())
    assert(pointers.delete())
    val res2 = new Warehouse(spark, dir, sfDir).vacuum(gen(3))
    assert(res2.deleted.isEmpty, s"pointer-less vacuum deleted data: ${res2.deleted}")
    assert(res2.refused.sorted == Seq("rep.top_nations", "src.nation"),
      s"pointer-less vacuum over existing data must surface refusals, got $res2")
    assert(buildDirs("rep.top_nations").size == 2)
    assert(buildDirs("src.nation").size == 2)
  }

  test("pointer writes are temp+rename (no truncate-in-place window)") {
    val dir = Files.createTempDirectory("graft_ptr_").toString
    val wh = new Warehouse(spark, dir, sfDir)
    wh.loadRelations(Seq(srcNation))
    val pointers = new java.io.File(s"$dir/pointers")
    // the rename cleaned up every temp file and the pointer is readable
    assert(pointers.listFiles().map(_.getName).toSeq == Seq("src.nation"),
      s"stray files in pointers dir: ${pointers.listFiles().map(_.getName).toSeq}")
    assert(wh.readPointer(TableName.parse("src.nation")).exists(_.nonEmpty))
    // overwrite (second build) goes through the same rename path
    wh.loadRelations(Seq(srcNation))
    assert(pointers.listFiles().map(_.getName).toSeq == Seq("src.nation"))
  }

  test("publish drops the standard pointer when a table becomes a view") {
    val dir = Files.createTempDirectory("graft_kind_").toString
    val wh = new Warehouse(spark, dir, sfDir)
    val asTable = rel(
      """name: rep.kind_change
        |source_name: CTAS
        |depends_on: [src.nation]
        |columns:
        |  - name: n_name
        |    type: string
        |query: SELECT n_name FROM src.nation WHERE n_nationkey < 5
        |""".stripMargin)
    wh.loadWithStagingAndPublish(Seq(srcNation, asTable))
    // publish a SECOND time so a backup table + pointer exist
    wh.loadWithStagingAndPublish(Seq(srcNation, asTable))
    val ptr = new java.io.File(s"$dir/pointers/rep.kind_change")
    val bakPtr = new java.io.File(s"$dir/pointers/etl_backup__rep.kind_change")
    assert(ptr.exists(), "published table must have a pointer")
    assert(bakPtr.exists(), "second publish must have backed up the table")
    // same name re-published as a VIEW: the DROP TABLE must take the
    // stale pointer with it, else the dead build location stays "live"
    // in vacuum's set forever — and the BACKUP pointer must go too, or
    // it pins a dead build location live if the relation ever reverts
    // to a table
    val asView = asTable.copy(design = asTable.design.copy(sourceName = "VIEW",
      columns = asTable.design.columns.map(c => ColumnDef(c.name))))
    wh.loadWithStagingAndPublish(Seq(srcNation, asView))
    assert(!ptr.exists(), "table->view publish left a stale standard pointer")
    assert(!bakPtr.exists(), "table->view publish left a stale backup pointer")
    assert(spark.table("`rep`.`kind_change`").count() == 5)
  }

  test("publish replaces a view with a table when the relation kind reverts") {
    val dir = Files.createTempDirectory("graft_kindrev_").toString
    val wh = new Warehouse(spark, dir, sfDir)
    val asView = rel(
      """name: rep.kind_revert
        |source_name: VIEW
        |depends_on: [src.nation]
        |columns:
        |  - name: n_name
        |query: SELECT n_name FROM src.nation WHERE n_nationkey < 5
        |""".stripMargin)
    wh.loadWithStagingAndPublish(Seq(srcNation, asView))
    assert(spark.catalog.getTable("rep.kind_revert").tableType == "VIEW")
    // same name re-published as a TABLE: the drop-view fallback in
    // registerAt must clear the view, and the promoted table gets a
    // live pointer
    val asTable = rel(
      """name: rep.kind_revert
        |source_name: CTAS
        |depends_on: [src.nation]
        |columns:
        |  - name: n_name
        |    type: string
        |query: SELECT n_name FROM src.nation WHERE n_nationkey < 3
        |""".stripMargin)
    wh.loadWithStagingAndPublish(Seq(srcNation, asTable))
    assert(spark.catalog.getTable("rep.kind_revert").tableType != "VIEW")
    assert(new java.io.File(s"$dir/pointers/rep.kind_revert").exists(),
      "view->table publish must land a live pointer")
    assert(spark.table("`rep`.`kind_revert`").count() == 3)
  }

  test("publish re-points an existing table without dropping it (no reader gap)") {
    val wh = freshWarehouse()
    val rels = Seq(srcNation, ctasTop("SELECT n_name FROM src.nation WHERE n_nationkey < 5"))
    wh.loadWithStagingAndPublish(rels)
    val ident = org.apache.spark.sql.catalyst.TableIdentifier("top_nations", Some("rep"))
    val locBefore =
      spark.sessionState.catalog.getTableMetadata(ident).location.toString
    // A table property survives ALTER ... SET LOCATION but not a
    // DROP+CREATE: its persistence proves the swap was a single
    // metadata call with no window where the relation is missing.
    spark.sql("ALTER TABLE `rep`.`top_nations` SET TBLPROPERTIES ('graft_test_marker'='v1')")
    wh.loadWithStagingAndPublish(Seq(srcNation,
      ctasTop("SELECT n_name FROM src.nation WHERE n_nationkey < 3")))
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    assert(meta.location.toString != locBefore, "publish must re-point the location")
    assert(meta.properties.get("graft_test_marker").contains("v1"),
      "table was dropped and recreated instead of ALTER ... SET LOCATION")
    assert(spark.table("`rep`.`top_nations`").count() == 3)
  }

  test("analyzeAfter load leaves CBO stats on the published tables") {
    val wh = freshWarehouse()
    wh.loadWithStagingAndPublish(
      Seq(srcNation, ctasTop("SELECT n_name FROM src.nation WHERE n_nationkey < 5")),
      analyzeAfter = true)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("top_nations", Some("rep")))
    assert(meta.stats.isDefined, "ANALYZE must record stats post-publish")
    assert(meta.stats.get.rowCount.contains(BigInt(5)))
  }

  test("publish re-point clears stale CBO stats from a prior ANALYZE") {
    val wh = freshWarehouse()
    def gen(n: Int) =
      Seq(srcNation, ctasTop(s"SELECT n_name FROM src.nation WHERE n_nationkey < $n"))
    wh.loadWithStagingAndPublish(gen(5), analyzeAfter = true)
    val ident = org.apache.spark.sql.catalyst.TableIdentifier("top_nations", Some("rep"))
    assert(spark.sessionState.catalog.getTableMetadata(ident)
      .stats.get.rowCount.contains(BigInt(5)))
    // Re-publish WITHOUT analyze: the ALTER ... SET LOCATION swap must
    // not leave the 5-row stats describing the new 3-row data — the
    // CBO would plan (and broadcast) against last night's counts.
    wh.loadWithStagingAndPublish(gen(3))
    val after = spark.sessionState.catalog.getTableMetadata(ident)
    assert(after.stats.isEmpty,
      s"stale stats survived the re-point: ${after.stats}")
    assert(spark.table("`rep`.`top_nations`").count() == 3)
  }

  test("maxConcurrency bounds the level-parallel build fan-out") {
    val inFlight = new java.util.concurrent.atomic.AtomicInteger
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger
    Warehouse.parallelMap(spark, (1 to 12).toSeq, 3) { _ =>
      val cur = inFlight.incrementAndGet()
      maxSeen.accumulateAndGet(cur, math.max _)
      Thread.sleep(25)
      inFlight.decrementAndGet()
    }
    assert(maxSeen.get() <= 3, s"concurrency ${maxSeen.get()} exceeded the bound")
    assert(maxSeen.get() >= 2, "expected some parallelism under the bound")
  }

  test("update (delete-then-reload, T6) refreshes only selected tables in place") {
    val wh = freshWarehouse()
    val rels = Seq(srcNation, ctasTop("SELECT n_name FROM src.nation WHERE n_nationkey < 5"))
    wh.loadWithStagingAndPublish(rels)
    // Re-building a single relation standard-position = the update
    // path's overwrite semantics (staging+swap per table).
    wh.buildOneRelation(rels(1))
    assert(spark.table("`rep`.`top_nations`").count() == 5)
  }

  test("upgrade rebuilds the selection in place at the standard position") {
    val wh = freshWarehouse()
    wh.loadWithStagingAndPublish(Seq(srcNation,
      ctasTop("SELECT n_name FROM src.nation WHERE n_nationkey < 5")))
    assert(spark.table("`rep`.`top_nations`").count() == 5)
    val ident = org.apache.spark.sql.catalyst.TableIdentifier("top_nations", Some("rep"))
    val locBefore =
      spark.sessionState.catalog.getTableMetadata(ident).location.toString
    // the day-to-day "fix one transformation" workflow: edited query,
    // upgrade just that relation — no staging, standard swaps in place
    val results = wh.upgradeRelations(
      Seq(srcNation, ctasTop("SELECT n_name FROM src.nation WHERE n_nationkey < 3")),
      TableSelector(Seq("rep.top_nations")))
    assert(results.map(_.identifier) == Seq("rep.top_nations"))
    assert(spark.table("`rep`.`top_nations`").count() == 3)
    assert(spark.sessionState.catalog.getTableMetadata(ident).location.toString
      != locBefore, "upgrade must re-point the standard table at a fresh build")
    // no staging entries involved, and the step is monitored as "upgrade"
    assert(!spark.catalog.tableExists("`etl_staging__rep`.`top_nations`"))
    assert(wh.monitor.events.exists(e =>
      e.target == "rep.top_nations" && e.step == "upgrade" && e.event == "finish"))
  }

  private def midT(query: String) = rel(
    s"""name: rep.mid_t
       |source_name: CTAS
       |depends_on: [src.nation]
       |columns:
       |  - name: n_name
       |    type: string
       |query: $query
       |""".stripMargin)

  private def tailT(query: String) = rel(
    s"""name: rep.tail_t
       |source_name: CTAS
       |depends_on: [rep.mid_t]
       |columns:
       |  - name: n_name
       |    type: string
       |query: $query
       |""".stripMargin)

  /** A warehouse holding top_nations (5 rows), mid_t (4) and tail_t
    * (4), and the edited design set whose update fails: top_nations
    * and mid_t select MORE rows, but tail_t's query is broken. */
  private def brokenTailUpdate(): (Warehouse, Seq[Relation]) = {
    val wh = freshWarehouse()
    val v1 = Seq(srcNation,
      ctasTop("SELECT n_name FROM src.nation WHERE n_nationkey < 5"),
      midT("SELECT n_name FROM src.nation WHERE n_nationkey < 4"),
      tailT("SELECT n_name FROM rep.mid_t"))
    wh.loadWithStagingAndPublish(v1)
    assert(spark.table("`rep`.`top_nations`").count() == 5)
    assert(spark.table("`rep`.`mid_t`").count() == 4)
    (wh, Seq(srcNation,
      ctasTop("SELECT n_name FROM src.nation WHERE n_nationkey < 7"),
      midT("SELECT n_name FROM src.nation WHERE n_nationkey < 6"),
      tailT("SELECT no_such_column FROM rep.mid_t")))
  }

  test("update is all-or-nothing: failure mid-list restores earlier tables") {
    // the reference's single transaction would roll everything back
    // (load.py:1357-1364)
    val (wh, v2) = brokenTailUpdate()
    intercept[Exception] {
      wh.updateRelations(v2, TableSelector.all)
    }
    // every table serves its PRE-update data — not a mix
    assert(spark.table("`src`.`nation`").count() == 25)
    assert(spark.table("`rep`.`top_nations`").count() == 5,
      "top_nations must be rolled back to pre-update data")
    assert(spark.table("`rep`.`mid_t`").count() == 4,
      "mid_t must be rolled back to pre-update data")
    assert(spark.table("`rep`.`tail_t`").count() == 4)
    // and a clean update moves everything forward together
    val v3 = Seq(srcNation,
      ctasTop("SELECT n_name FROM src.nation WHERE n_nationkey < 7"),
      midT("SELECT n_name FROM src.nation WHERE n_nationkey < 6"),
      tailT("SELECT n_name FROM rep.mid_t"))
    wh.updateRelations(v3, TableSelector.all)
    assert(spark.table("`rep`.`top_nations`").count() == 7)
    assert(spark.table("`rep`.`mid_t`").count() == 6)
    assert(spark.table("`rep`.`tail_t`").count() == 6)
  }

  test("update rollback restores the FAILING bucketed table (dropped pre-write)") {
    val wh = freshWarehouse()
    // a distribution-keyed table: its build writes under a scratch
    // name and never touches the live one, so a mid-write failure
    // leaves it registered at its pre-update build, with no rollback
    def bkt(query: String) = rel(
      s"""name: rep.bkt_t
         |source_name: CTAS
         |depends_on: [src.nation]
         |columns:
         |  - name: n_nationkey
         |    type: int
         |  - name: n_name
         |    type: string
         |attributes:
         |  distribution: [n_nationkey]
         |query: $query
         |""".stripMargin)
    val good = "SELECT n_nationkey, n_name FROM src.nation WHERE n_nationkey < 5"
    wh.loadWithStagingAndPublish(Seq(srcNation, bkt(good)))
    assert(spark.table("`rep`.`bkt_t`").count() == 5)
    // analysis passes; the failure fires at EXECUTION time (inside
    // saveAsTable) — raise_error behind a non-foldable
    // predicate cannot be optimized away and throws per-row
    val bad = "SELECT n_nationkey, IF(n_nationkey > 100, n_name, " +
      "CAST(raise_error('mid-write failure') AS STRING)) AS n_name " +
      "FROM src.nation WHERE n_nationkey < 7"
    intercept[Exception] {
      wh.updateRelations(Seq(srcNation, bkt(bad)),
        TableSelector(Seq("rep.bkt_t")), onlySelected = true)
    }
    assert(spark.catalog.tableExists("`rep`.`bkt_t`"),
      "failing bucketed table must be re-registered by the rollback")
    assert(spark.table("`rep`.`bkt_t`").count() == 5,
      "failing table must serve its pre-update data")
    // the entry is still the old build's, bucket spec included
    // (shuffle elision preserved)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("bkt_t", Some("rep")))
    assert(meta.bucketSpec.isDefined,
      s"same-design restore keeps the corroborated bucketing: $meta")
  }

  test("a failed update publishes nothing: no catalog event for its tables") {
    val (wh, v2) = brokenTailUpdate()
    val names = Seq("rep.top_nations", "rep.mid_t", "rep.tail_t").map(TableName.parse)
    val events = tableEvents(names: _*) {
      intercept[Exception](wh.updateRelations(v2, TableSelector.all))
    }
    assert(events.isEmpty, s"a failed update moved a standard name: $events")
    assert(names.map(n => spark.table(n.quoted).count()) == Seq(5, 4, 4))
  }

  test("update stages the views between its tables: a CTAS over a view reads the fresh build") {
    val wh = freshWarehouse()
    val view = rel(
      """name: rep.v_top
        |source_name: VIEW
        |depends_on: [rep.top_nations]
        |columns:
        |  - name: n_name
        |query: SELECT n_name FROM rep.top_nations
        |""".stripMargin)
    val overView = rel(
      """name: rep.over_v
        |source_name: CTAS
        |depends_on: [rep.v_top]
        |columns:
        |  - name: n_name
        |    type: string
        |query: SELECT n_name FROM rep.v_top
        |""".stripMargin)
    def designs(n: Int) =
      Seq(srcNation, ctasTop(s"SELECT n_name FROM src.nation WHERE n_nationkey < $n"),
        view, overView)
    wh.loadWithStagingAndPublish(designs(5))
    assert(spark.table("`rep`.`over_v`").count() == 5)
    // the view is a dependent of the selection
    val all = wh.updateRelations(designs(7), TableSelector(Seq("rep.top_nations")))
    assert(all.map(_.identifier) == Seq("rep.top_nations", "rep.over_v"))
    assert(spark.table("`rep`.`over_v`").count() == 7)
    // the backup slot holds the pre-update build
    assert(spark.table(TableName.parse("rep.over_v").inPosition(SchemaPosition.Backup).quoted)
      .count() == 5)
    // only the two tables are selected; the view between them is not
    val only = wh.updateRelations(designs(9),
      TableSelector(Seq("rep.top_nations", "rep.over_v")), onlySelected = true)
    assert(only.map(_.identifier) == Seq("rep.top_nations", "rep.over_v"))
    assert(spark.table("`rep`.`v_top`").count() == 9)
    assert(spark.table("`rep`.`over_v`").count() == 9)
  }

  /** The table events (create, drop, alter and their pre-events) the
    * catalog posts to the listener bus for any of `ts` while `body`
    * runs. */
  private def tableEvents(ts: TableName*)(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.catalyst.catalog.TableEvent
    import org.apache.spark.sql.graft.Bus
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case te: TableEvent if ts.exists(t => te.database == t.schema && te.name == t.table) =>
          seen.add(te.getClass.getSimpleName)
        case _ =>
      }
    }
    assert(Bus.drain(spark.sparkContext, 10000))
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      assert(Bus.drain(spark.sparkContext, 10000))
      spark.sparkContext.removeSparkListener(listener)
    }
    seen.asScala.toSeq
  }

  test("a build that fails is never published: no catalog event for its name") {
    val dir = Files.createTempDirectory("graft_wh_test_").toString
    val wh = new Warehouse(spark, dir, sfDir)
    wh.loadRelations(Seq(srcNation))
    // (a) a standard-position rebuild that breaks its primary key
    def keyed(key: String) = rel(
      s"""name: rep.keyed
         |source_name: CTAS
         |depends_on: [src.nation]
         |columns:
         |  - name: k
         |    type: int
         |    not_null: true
         |constraints:
         |  - primary_key: [k]
         |query: SELECT $key AS k FROM src.nation
         |""".stripMargin)
    wh.buildOneRelation(keyed("CAST(n_nationkey AS INT)"))
    val keyedT = TableName.parse("rep.keyed")
    val pointer = java.nio.file.Paths.get(dir, "pointers", "rep.keyed")
    val before = Files.readAllBytes(pointer)
    val onKeyed = tableEvents(keyedT) {
      intercept[FailedConstraintError](
        wh.buildOneRelation(keyed("CAST(n_nationkey % 5 AS INT)")))
    }
    assert(onKeyed.isEmpty, s"a failing check moved the name: $onKeyed")
    assert(Files.readAllBytes(pointer).sameElements(before), "the pointer moved")
    assert(spark.table(keyedT.quoted).count() == 25)
    // (b) a bucketed build that fails at execution time, inside its write
    def bkt(query: String) = rel(
      s"""name: rep.bkt_ev
         |source_name: CTAS
         |depends_on: [src.nation]
         |columns:
         |  - name: n_nationkey
         |    type: int
         |  - name: n_name
         |    type: string
         |attributes:
         |  distribution: [n_nationkey]
         |query: $query
         |""".stripMargin)
    val good = "SELECT n_nationkey, n_name FROM src.nation WHERE n_nationkey < 5"
    wh.buildOneRelation(bkt(good))
    val bktT = TableName.parse("rep.bkt_ev")
    def bucketed(): Boolean = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(bktT.table, Some(bktT.schema)))
      .bucketSpec.isDefined
    val onFailed = tableEvents(bktT) {
      intercept[Exception](wh.buildOneRelation(bkt(
        "SELECT n_nationkey, IF(n_nationkey > 100, n_name, " +
          "CAST(raise_error('mid-write failure') AS STRING)) AS n_name FROM src.nation")))
    }
    assert(onFailed.isEmpty, s"a failing bucketed write touched the name: $onFailed")
    assert(bucketed() && spark.table(bktT.quoted).count() == 5)
    // (c) a passing bucketed rebuild of the same layout re-points the
    // entry in place: the name is never missing
    val onPassed = tableEvents(bktT)(wh.buildOneRelation(bkt(good)))
    assert(!onPassed.contains("DropTableEvent"), s"the rebuild dropped the name: $onPassed")
    assert(bucketed() && spark.table(bktT.quoted).count() == 5)
  }

  test("a partitioned build is checked with its recorded partition types") {
    val wh = freshWarehouse()
    def parted(rows: String) = rel(
      s"""name: rep.parted
         |source_name: CTAS
         |columns:
         |  - name: k
         |    type: int
         |  - name: p
         |    type: string
         |constraints:
         |  - primary_key: [p, k]
         |attributes:
         |  partition_by: [p]
         |query: SELECT * FROM VALUES $rows AS t(k, p)
         |""".stripMargin)
    wh.buildOneRelation(parted("(1, '01'), (1, '02')"))
    assert(spark.table("`rep`.`parted`").select("p").collect().map(_.getString(0))
      .sorted.toSeq == Seq("01", "02"))
    // inferred from the directory names, '01' would read as the int 1
    val e = intercept[FailedConstraintError](
      wh.buildOneRelation(parted("(1, '01'), (1, '01'), (2, '02')")))
    assert(e.getMessage.contains("(01,1,"), e.getMessage)
  }

  test("writeTable's auto layout keeps a top-level column with a dot in its name") {
    val s = spark
    import s.implicits._
    val wh = freshWarehouse()
    val t = TableName.parse("rep.dotted")
    // no design: the auto layout, which writes the frame as it comes
    assert(wh.writeTable(t, Seq((1, "a"), (2, "b")).toDF("a.b", "c")) == 2L)
    val back = spark.table(t.quoted)
    assert(back.columns.toSeq == Seq("a.b", "c"))
    assert(back.select("`a.b`").as[Int].collect().sorted.toSeq == Seq(1, 2))
  }

  test("restore of a PRE-distribution build registers plain, not CLUSTERED BY") {
    val s = spark
    import s.implicits._
    val wh = freshWarehouse()
    // build v1 WITHOUT distribution keys: plain parquet files
    val t = TableName.parse("rep.gained_dist")
    wh.writeTable(t, Seq((1, "a"), (2, "b")).toDF("n_nationkey", "n_name"))
    val plainLoc = wh.readPointer(t).get
    // the design then GAINS distribution, and its bucketed rebuild
    // fails: the name must still serve the plain v1 files. Declaring
    // CLUSTERED BY over them would let bucketed joins skip their
    // required shuffle — wrong rows, no error.
    val gained = TableDesign.load(
      """name: rep.gained_dist
        |source_name: CTAS
        |columns:
        |  - name: n_nationkey
        |    type: int
        |  - name: n_name
        |    type: string
        |attributes:
        |  distribution: [n_nationkey]
        |query: SELECT 1 AS n_nationkey, CAST(raise_error('boom') AS STRING) AS n_name
        |""".stripMargin)
    intercept[Exception] {
      wh.writeTable(t, spark.sql(gained.query), Some(gained))
    }
    assert(spark.catalog.tableExists(t.quoted), "rollback must re-register")
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("gained_dist", Some("rep")))
    assert(meta.bucketSpec.isEmpty,
      s"plain v1 files must not be declared bucketed: ${meta.bucketSpec}")
    assert(spark.table(t.quoted).count() == 2, "serves the v1 data")
    // scheme-insensitive: the pointer may carry a file:// form
    def bare(p: String) = p.stripPrefix("file://")
    assert(wh.readPointer(t).map(bare).contains(bare(plainLoc)),
      s"pointer back at v1: ${wh.readPointer(t)} vs $plainLoc")
  }

  test("minhash band index is materialized; later batches see earlier batches") {
    val s = spark   // stable identifier for the implicits import
    import s.implicits._
    val wh = freshWarehouse()
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different words with no overlap at all in here"
    def docs(ids: (Long, String)*) = ids.toSeq.toDF("doc_id", "text")
    val index = TableName.parse("dedup.band_index_test")
    // day 0: index the existing corpus as a stored warehouse table
    graft.queries.DedupOps.buildBandIndex(wh, docs(1L -> dup, 2L -> other), index)
    assert(spark.table(index.quoted).count() > 0)
    // day 1: the batch's near-dup of doc 1 surfaces from the STORED index
    val p1 = graft.queries.DedupOps
      .incrementalAgainstIndex(wh, index, docs(401L -> dup))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1.contains((1L, 401L)), s"corpus x batch pair missing: $p1")
    // day 2: the new batch must ALSO pair with day 1's docs — proving
    // day 1's bands were appended to the index, not just read once
    val p2 = graft.queries.DedupOps
      .incrementalAgainstIndex(wh, index, docs(451L -> dup))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2.contains((1L, 451L)) && p2.contains((401L, 451L)),
      s"day-2 batch must see day-1 bands through the stored index: $p2")
    // the stored table accumulated all four documents' bands
    assert(spark.table(index.quoted).select("doc_id").distinct().count() == 4)
  }

  test("interleaved_sort: z-order clustered write, multi-dim clustering, validation") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // suites share one JVM-wide session (getOrCreate — first builder
    // wins), so the partition count this suite ASKED for isn't
    // guaranteed. The clustering-quality thresholds below are
    // calibrated for 4 range files over the 64×64 grid; pin it for
    // this test's writes and restore after.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
    val wh = freshWarehouse()
    // a 64x64 grid, pre-shuffled so arrival order carries no locality.
    // SEEDED shuffle + explicit parallelize slices: the range
    // boundaries the clustered write picks are a function of input
    // order and partition layout, so an unseeded shuffle (or a
    // layout inherited from whichever suite built the shared session)
    // made the measured spans drift across runs — the 3-round 0.714-
    // vs-0.7 flake. With this fixture the write is bit-reproducible.
    val rnd = new scala.util.Random(20260814L)
    val grid = spark.createDataFrame(spark.sparkContext.parallelize(
      rnd.shuffle((0 until 64).flatMap(x => (0 until 64).map(y =>
        (x.toLong * 64 + y, x.toLong, y.toLong))).toList), 4))
      .toDF("id", "x", "y")
    def design(attrs: String) = TableDesign.load(
      s"""name: rep.zgrid
         |source_name: src
         |attributes:
         |$attrs
         |columns:
         |  - name: id
         |    type: long
         |    not_null: true
         |  - name: x
         |    type: long
         |  - name: y
         |    type: long
         |""".stripMargin)
    wh.writeTable(TableName.parse("rep.zgrid"), grid,
      Some(design("  interleaved_sort: [x, y]")))
    assert(spark.table("`rep`.`zgrid`").count() == 4096)
    def spans(table: String): Seq[(Double, Double)] =
      spark.table(table)
        .groupBy(input_file_name().as("f"))
        .agg((max($"x") - min($"x")).cast("double").as("sx"),
          (max($"y") - min($"y")).cast("double").as("sy"))
        .collect().map(r => (r.getDouble(1), r.getDouble(2))).toSeq
    val zSpans = spans("`rep`.`zgrid`")
    assert(zSpans.size >= 3, s"want several files, got ${zSpans.size}")
    // z-clustering: files cover a NARROW band of BOTH dimensions on
    // average (a compound sort leaves its trailing column full-span
    // in every file; an unsorted write leaves both full-span)
    val avgX = zSpans.map(_._1).sum / zSpans.size / 63.0
    val avgY = zSpans.map(_._2).sum / zSpans.size / 63.0
    info(f"zgrid avg spans: x=$avgX%.4f y=$avgY%.4f (files=${zSpans.size})")
    // Threshold provenance (the 3-round 0.714-vs-0.7 flake): the
    // fixture is seeded, but repartitionByRange samples its range
    // boundaries with a seed derived from the JVM-global RDD id, so
    // boundary placement still shifts with suite context; a boundary
    // that lands inside a quadrant blows that file's span to ~1.0 in
    // one dimension. Observed across contexts: avgX 0.50–0.53,
    // avgY 0.62–0.74 (ideal quadrant split is 31/63≈0.49). 0.8
    // bounds that sampling noise while rejecting a compound sort
    // (trailing dim pinned at 1.0) and an unsorted write (both dims
    // ~1.0 — the control below asserts > 0.9).
    assert(avgX <= 0.8 && avgY <= 0.8,
      s"z files not clustered: avg x span $avgX, avg y span $avgY")
    // structural clustering evidence, immune to boundary placement:
    // at least one file is a clean quadrant — narrow in BOTH dims
    // (no compound-sorted or unsorted layout can produce even one)
    assert(zSpans.exists(s => s._1 / 63.0 <= 0.6 && s._2 / 63.0 <= 0.6),
      s"no file is narrow in both dims: $zSpans")
    // control: the same rows written without clustering span ~everything
    wh.writeTable(TableName.parse("rep.plaingrid"), grid, Some(design("")))
    val pSpans = spans("`rep`.`plaingrid`")
    val pAvgY = pSpans.map(_._2).sum / pSpans.size / 63.0
    assert(pAvgY > 0.9, s"control unexpectedly clustered: $pAvgY")
    // the rows themselves are untouched by the clustering
    assert(spark.table("`rep`.`zgrid`").orderBy($"id").collect().toSeq ==
      spark.table("`rep`.`plaingrid`").orderBy($"id").collect().toSeq)
    // outlier robustness: normalization clamps at P01/P99, so ONE
    // extreme row must not compress the interior into a single cell
    // (min/max scaling would put every interior row in one z-range)
    val withOutlier = grid.unionByName(
      Seq((-1L, 1000000000000L, 5L)).toDF("id", "x", "y"))
    wh.writeTable(TableName.parse("rep.zgrid_out"), withOutlier,
      Some(design("  interleaved_sort: [x, y]")))
    val interiorFiles = spark.table("`rep`.`zgrid_out`")
      .filter($"x" < 64).select(input_file_name()).distinct().count()
    assert(interiorFiles >= 3,
      s"outlier collapsed interior clustering to $interiorFiles file(s)")
    // DATE interleaved-sort columns: validation allows them, so the
    // build must too — Spark 4 cannot cast DATE to DOUBLE directly,
    // so the normalizer routes dates through unix_date. The write
    // must succeed AND still cluster both dimensions.
    val datedGrid = grid.select($"id",
      date_add(lit(java.sql.Date.valueOf("2024-01-01")), $"x".cast("int")).as("d"),
      $"y")
    val dDesign = TableDesign.load(
      """name: rep.zdated
        |source_name: src
        |attributes:
        |  interleaved_sort: [d, y]
        |columns:
        |  - name: id
        |    type: long
        |    not_null: true
        |  - name: d
        |    type: date
        |  - name: y
        |    type: long
        |""".stripMargin)
    wh.writeTable(TableName.parse("rep.zdated"), datedGrid, Some(dDesign))
    assert(spark.table("`rep`.`zdated`").count() == 4096)
    val dSpans = spark.table("`rep`.`zdated`")
      .groupBy(input_file_name().as("f"))
      .agg((max(unix_date($"d")) - min(unix_date($"d"))).cast("double").as("sx"),
        (max($"y") - min($"y")).cast("double").as("sy"))
      .collect().map(r => (r.getDouble(1), r.getDouble(2))).toSeq
    val dAvgX = dSpans.map(_._1).sum / dSpans.size / 63.0
    val dAvgY = dSpans.map(_._2).sum / dSpans.size / 63.0
    info(f"zdated avg spans: d=$dAvgX%.4f y=$dAvgY%.4f (files=${dSpans.size})")
    // same 0.8 bound + provenance as the zgrid assert above
    assert(dAvgX <= 0.8 && dAvgY <= 0.8,
      s"date z files not clustered: avg d span $dAvgX, avg y span $dAvgY")
    assert(dSpans.exists(s => s._1 / 63.0 <= 0.6 && s._2 / 63.0 <= 0.6),
      s"no date file is narrow in both dims: $dSpans")
    // show_ddl carries the attribute
    assert(Ddl.createTableSql(design("  interleaved_sort: [x, y]"))
      .contains("'graft.interleaved_sortkey' = 'x,y'"))
    // YAML round-trip keeps it
    assert(TableDesign.load(TableDesign.toYaml(
      design("  interleaved_sort: [x, y]"))).interleavedSort == Seq("x", "y"))
    // design-time rejections: the oneOf with compound_sort, the
    // engine's layout exclusivity, and non-numeric columns
    for (bad <- Seq(
      "  interleaved_sort: [x]\n  compound_sort: [y]",
      "  interleaved_sort: [x]\n  distribution: [y]",
      "  interleaved_sort: [x]\n  partition_by: [y]")) {
      val e = intercept[TableDesignError] { design(bad) }
      assert(e.getMessage.contains("cannot be combined"), e.getMessage)
    }
    val eType = intercept[TableDesignError] { TableDesign.load(
      """name: rep.badz
        |source_name: src
        |attributes:
        |  interleaved_sort: [name]
        |columns:
        |  - name: name
        |    type: string
        |""".stripMargin) }
    assert(eType.getMessage.contains("numeric/date/timestamp"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("partitioned tables: directory layout, partition pruning, re-point, guards") {
    val wh = freshWarehouse()
    val srcNation3 = rel(
      """name: src.nation
        |source_name: src
        |columns:
        |  - name: n_nationkey
        |    type: int
        |    not_null: true
        |  - name: n_name
        |    type: string
        |  - name: n_regionkey
        |    type: int
        |""".stripMargin)
    val partRel = rel(
      """name: rep.nat_part
        |source_name: CTAS
        |depends_on: [src.nation]
        |attributes:
        |  partition_by: [n_regionkey]
        |columns:
        |  - name: n_nationkey
        |    type: int
        |  - name: n_name
        |    type: string
        |  - name: n_regionkey
        |    type: int
        |query: SELECT n_nationkey, n_name, n_regionkey FROM src.nation
        |""".stripMargin)
    wh.loadWithStagingAndPublish(Seq(srcNation3, partRel))
    assert(spark.table("`rep`.`nat_part`").count() == 25)
    // partition-key predicates prune DIRECTORIES, not just rows: the
    // filter must land in PartitionFilters on the scan
    val pruned = spark.table("`rep`.`nat_part`")
      .filter(org.apache.spark.sql.functions.col("n_regionkey") === 1)
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") &&
      planStr.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("n_regionkey"),
      s"partition filter not pushed to the directory scan:\n$planStr")
    assert(pruned.count() == 5)
    // rebuild + publish re-points the SAME shape: partitions recovered
    // at the new location, counts intact
    wh.loadWithStagingAndPublish(Seq(srcNation3, partRel))
    assert(spark.table("`rep`.`nat_part`").count() == 25)
    assert(spark.table("`rep`.`nat_part`")
      .filter(org.apache.spark.sql.functions.col("n_regionkey") === 1).count() == 5)
    // rebuild with CHANGED row values: partition registration only ADDS
    // missing specs, so without dropping the stale catalog entries
    // first, scans would keep serving the OLD build's rows from the
    // old absolute partition locations (and break once vacuum
    // reclaims them). Every row — pruned reads included — must come
    // from the new build.
    val partRelUpper = rel(
      """name: rep.nat_part
        |source_name: CTAS
        |depends_on: [src.nation]
        |attributes:
        |  partition_by: [n_regionkey]
        |columns:
        |  - name: n_nationkey
        |    type: int
        |  - name: n_name
        |    type: string
        |  - name: n_regionkey
        |    type: int
        |query: SELECT n_nationkey, upper(n_name) AS n_name, n_regionkey FROM src.nation
        |""".stripMargin)
    wh.loadWithStagingAndPublish(Seq(srcNation3, partRelUpper))
    val rebuilt = spark.table("`rep`.`nat_part`")
    assert(rebuilt.count() == 25)
    val allNames = rebuilt.select("n_name").collect().map(_.getString(0))
    assert(allNames.nonEmpty && allNames.forall(n => n == n.toUpperCase),
      s"stale partition metadata served old-build rows: ${allNames.take(3).mkString(",")}")
    val prunedNames = rebuilt
      .filter(org.apache.spark.sql.functions.col("n_regionkey") === 1)
      .select("n_name").collect().map(_.getString(0))
    assert(prunedNames.length == 5 && prunedNames.forall(n => n == n.toUpperCase))
    // root-level appends would bypass the partition dirs: refused
    val s = spark
    import s.implicits._
    val e = intercept[IllegalStateException] {
      wh.appendToTable(TableName.parse("rep.nat_part"),
        Seq((99, "x", 9)).toDF("n_nationkey", "n_name", "n_regionkey"))
    }
    assert(e.getMessage.contains("partitioned"))
    // partition_by + distribution is a design error
    val err = intercept[TableDesignError] {
      TableDesign.load(
        """name: rep.bad
          |source_name: CTAS
          |attributes:
          |  partition_by: [a]
          |  distribution: [a]
          |columns:
          |  - name: a
          |    type: int
          |query: SELECT 1 AS a
          |""".stripMargin)
    }
    assert(err.getMessage.contains("cannot be combined"))
  }

  test("compactTable folds append-grown files; dedup unchanged; vacuum reclaims") {
    val s = spark
    import s.implicits._
    val wh = freshWarehouse()
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    def docs(ids: (Long, String)*) = ids.toSeq.toDF("doc_id", "text")
    val index = TableName.parse("dedup.cmp_idx")
    graft.queries.DedupOps.buildBandIndex(wh, docs(1L -> dup), index)
    // daily-batch cadence: 70 one-doc appends → 70+ file sets
    (0 until 70).foreach { i =>
      assert(wh.appendToTableIdempotent(index,
        graft.queries.DedupOps.minhashBandsOf(
          docs((100L + i) -> s"unique document number $i with its own words $i")),
        s"b$i"))
    }
    val rowsBefore = spark.table(index.quoted).count()
    val oldLoc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        index.table, Some(index.schema))).location.getPath
    // under threshold: no-op; over: rewrite + atomic re-point
    assert(wh.compactTable(index, maxDataFiles = 1000).isEmpty)
    // dry run reports the would-compact state without touching
    // anything: same location, same file set afterwards
    val Some((dryBefore, dryAfter)) = wh.compactTable(index, maxDataFiles = 64,
      dryRun = true)
    assert(dryBefore == dryAfter && dryBefore > 64)
    assert(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        index.table, Some(index.schema))).location.getPath == oldLoc,
      "dry-run compaction must not re-point the table")
    val Some((before, after)) = wh.compactTable(index, maxDataFiles = 64)
    assert(before > 64 && after < before / 4,
      s"compaction barely helped: $before -> $after")
    assert(spark.table(index.quoted).count() == rowsBefore)
    // a replayed batch tag stays a no-op: markers were carried forward
    assert(!wh.appendToTableIdempotent(index,
      graft.queries.DedupOps.minhashBandsOf(docs(100L -> "replay")), "b0"))
    // the dedup result is unchanged by compaction
    val pairs = graft.queries.DedupOps
      .incrementalAgainstIndex(wh, index, docs(451L -> dup))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 451L)), s"got $pairs")
    // the superseded build dir is now unreferenced → vacuum reclaims it
    val idxRel = rel(
      """name: dedup.cmp_idx
        |source_name: CTAS
        |columns:
        |  - name: doc_id
        |    type: long
        |query: SELECT 1 AS doc_id
        |""".stripMargin)
    val vr = wh.vacuum(Seq(idxRel))
    assert(vr.refused.isEmpty, s"vacuum refused: ${vr.refused}")
    assert(vr.deleted.exists(_.endsWith(oldLoc.split('/').takeRight(2).mkString("/"))),
      s"old build not reclaimed: deleted=${vr.deleted}, old=$oldLoc")
    // and the compacted table still reads fine afterwards (the 451
    // incremental run appended that one doc's band rows)
    val bandRows = graft.queries.DedupOps.minhashBandsOf(docs(451L -> dup)).count()
    assert(spark.table(index.quoted).count() == rowsBefore + bandRows)
  }

  test("dynamic partition pruning: a dim-side filter prunes fact partitions at runtime") {
    val s = spark
    import s.implicits._
    val wh = freshWarehouse()
    val t = TableName.parse("rep.dpp_fact")
    val design = TableDesign.load(
      """name: rep.dpp_fact
        |source_name: src
        |attributes:
        |  partition_by: [pk]
        |columns:
        |  - name: fid
        |    type: long
        |    not_null: true
        |  - name: pk
        |    type: int
        |""".stripMargin)
    val fact = spark.range(0, 2000)
      .select($"id".as("fid"), ($"id" % 8).cast("int").as("pk"))
    wh.writeTable(t, fact, Some(design))
    // the static pruning case is covered above; here the selective
    // predicate lives on the DIM side, so only DYNAMIC partition
    // pruning (runtime subquery reuse of the broadcast) can skip the
    // 7 non-matching partition directories. The dim must itself be a
    // file-source scan — Spark's PartitionPruning rule only trusts a
    // selective filter over a real scan, not a local relation.
    val dimT = TableName.parse("rep.dpp_dim")
    wh.writeTable(dimT, (0 until 8).map(k => (k, if (k == 3) "keep" else "drop"))
      .toDF("k", "tag"))
    val joined = spark.table(t.quoted)
      .join(spark.table(dimT.quoted).filter($"tag" === "keep"), $"pk" === $"k")
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.contains("dynamicpruning"),
      s"no dynamic pruning subquery in the fact scan:\n${planStr.take(2000)}")
    assert(joined.count() == 250)
  }

  test("append refuses schema drift: extra, missing, or retyped columns") {
    val s = spark
    import s.implicits._
    val wh = freshWarehouse()
    val t = TableName.parse("rep.drift")
    wh.writeTable(t, Seq((1L, "a")).toDF("id", "v"))
    // extra column: would be silently dropped on read without the guard
    val extra = intercept[IllegalArgumentException] {
      wh.appendToTableIdempotent(t,
        Seq((2L, "b", 1.0)).toDF("id", "v", "score"), "d1")
    }
    assert(extra.getMessage.contains("schema drift"), extra.getMessage)
    // missing column: would surface as nulls
    intercept[IllegalArgumentException] {
      wh.appendToTable(t, Seq(3L).toDF("id"))
    }
    // retyped column
    intercept[IllegalArgumentException] {
      wh.appendToTableIdempotent(t, Seq((4, 5)).toDF("id", "v"), "d2")
    }
    // the rejected batches left neither rows nor applied-markers behind
    assert(spark.table(t.quoted).count() == 1)
    assert(wh.appendToTableIdempotent(t, Seq((2L, "b")).toDF("id", "v"), "d1"),
      "a refused tag must remain claimable by a corrected batch")
    // column ORDER is immaterial (parquet reads by name)
    assert(wh.appendToTableIdempotent(t,
      Seq(("c", 9L)).toDF("v", "id"), "d3"))
    assert(spark.table(t.quoted).orderBy($"id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (9L, "c")))
  }

  test("clustered compaction (OPTIMIZE ZORDER) restores locality after appends") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val wh = freshWarehouse()
    val t = TableName.parse("rep.zcompact")
    // seed + appends arrive in SHUFFLED order: no file has locality.
    // Seeded shuffle + explicit parallelize slices + pinned shuffle
    // partitions make the compaction's range boundaries (and so the
    // measured spans) reproducible — see the zgrid test above.
    val rnd = new scala.util.Random(20260814L)
    val grid = rnd.shuffle(
      (0 until 64).flatMap(x => (0 until 64).map(y =>
        (x.toLong * 64 + y, x.toLong, y.toLong))).toList)
    def slices(rows: List[(Long, Long, Long)], n: Int) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, n))
        .toDF("id", "x", "y")
    wh.writeTable(t, slices(grid.take(1000), 3))
    grid.drop(1000).grouped(1000).zipWithIndex.foreach { case (b, i) =>
      assert(wh.appendToTableIdempotent(t, slices(b, 2), s"zb$i"))
    }
    val rowsBefore = spark.table(t.quoted).count()
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    // clustered rewrite runs even under the file-count threshold
    val Some((before, after)) =
      try wh.compactTable(t, maxDataFiles = 1000, clusterBy = Seq("x", "y"))
      finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    assert(before >= 5, s"fixture should have several files, got $before")
    spark.catalog.refreshTable(t.quoted)
    assert(spark.table(t.quoted).count() == rowsBefore)
    // post-optimize: files cover narrow bands of BOTH dimensions
    val spans = spark.table(t.quoted)
      .groupBy(input_file_name().as("f"))
      .agg((max($"x") - min($"x")).cast("double").as("sx"),
        (max($"y") - min($"y")).cast("double").as("sy"))
      .collect().map(r => (r.getDouble(1), r.getDouble(2))).toSeq
    assert(spans.size >= 3, s"want several files, got ${spans.size}")
    val avgX = spans.map(_._1).sum / spans.size / 63.0
    val avgY = spans.map(_._2).sum / spans.size / 63.0
    info(f"zcompact avg spans: x=$avgX%.4f y=$avgY%.4f (files=${spans.size})")
    // same 0.8 bound + RDD-id sampling-noise provenance as the
    // interleaved_sort test (observed here: x≈0.52, y 0.62–0.65)
    assert(avgX <= 0.8 && avgY <= 0.8,
      s"optimize did not cluster: avg x span $avgX, avg y span $avgY")
    assert(spans.exists(s => s._1 / 63.0 <= 0.6 && s._2 / 63.0 <= 0.6),
      s"no compacted file is narrow in both dims: $spans")
    // markers carried: a replayed append tag is still a no-op
    assert(!wh.appendToTableIdempotent(t,
      Seq((9999L, 1L, 1L)).toDF("id", "x", "y"), "zb0"))
    // a rebuilt skip index over the clustered layout prunes ranges
    FileSkipIndex.build(wh, t, Seq("x"))
    val p = FileSkipIndex.prunedScan(spark, t, "x", lit(0L), lit(7L))
    assert(!p.stale && p.filesRead < p.filesTotal,
      s"${p.filesRead}/${p.filesTotal}")
    assert(p.df.count() == spark.table(t.quoted).filter($"x" <= 7).count())
  }

  test("mergeInto: upsert and delete arms, pointer swap, column-mismatch guard") {
    val s = spark
    import s.implicits._
    val wh = freshWarehouse()
    val t = TableName.parse("mrg.dim_lc")
    wh.writeTable(t, Seq(
      (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal"))
    val locBefore = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        t.table, Some(t.schema))).location.getPath
    // upsert: key 2 updates, key 9 inserts, keys 1/3 survive untouched;
    // source columns deliberately out of order (realigned by name)
    wh.mergeInto(t, Seq(("b2", 2L, 99.0), ("i9", 9L, 90.0))
      .toDF("name", "k", "bal"), Seq("k"))
    def rows() = spark.table(t.quoted).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows() == Seq((1L, "a", 10.0), (2L, "b2", 99.0),
      (3L, "c", 30.0), (9L, "i9", 90.0)))
    // the merge is a versioned rewrite + atomic re-point, not in-place
    val locAfter = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        t.table, Some(t.schema))).location.getPath
    assert(locBefore != locAfter, "merge must re-point, never rewrite in place")
    // delete arm: matched keys DELETE, unmatched source rows still
    // INSERT (Redshift's WHEN MATCHED DELETE / WHEN NOT MATCHED INSERT)
    wh.mergeInto(t, Seq(("x", 3L, 0.0), ("i7", 7L, 70.0))
      .toDF("name", "k", "bal"), Seq("k"), matchedDelete = true)
    assert(rows() == Seq((1L, "a", 10.0), (2L, "b2", 99.0),
      (7L, "i7", 70.0), (9L, "i9", 90.0)))
    // column mismatch is refused up front
    val e = intercept[IllegalArgumentException](
      wh.mergeInto(t, Seq((1L, "z")).toDF("k", "name"), Seq("k")))
    assert(e.getMessage.contains("column mismatch"))
    // empty keys refused
    val e2 = intercept[IllegalArgumentException](
      wh.mergeInto(t, Seq((1L, "z", 0.0)).toDF("k", "name", "bal"), Nil))
    assert(e2.getMessage.contains("merge key"))
  }

  test("mergeInto preserves a bucketed layout via design; refuses silently de-bucketing") {
    val s = spark
    import s.implicits._
    val wh = freshWarehouse()
    val design = TableDesign.load(
      """name: mrgb.dim_b
        |source_name: CTAS
        |depends_on: []
        |columns:
        |  - name: k
        |    type: long
        |    not_null: true
        |  - name: v
        |    type: string
        |attributes:
        |  distribution: [k]
        |query: SELECT 1
        |""".stripMargin)
    val t = design.name
    wh.writeTable(t, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Some(design))
    def bucketed(): Boolean = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        t.table, Some(t.schema))).bucketSpec.nonEmpty
    assert(bucketed())
    // merging without the design must refuse, not silently de-bucket
    val e = intercept[IllegalArgumentException](
      wh.mergeInto(t, Seq((2L, "b2")).toDF("k", "v"), Seq("k")))
    assert(e.getMessage.contains("bucketed/partitioned"))
    assert(bucketed() && spark.table(t.quoted).count() == 2)
    // with the design the merge lands AND the layout survives
    wh.mergeInto(t, Seq((2L, "b2"), (3L, "c")).toDF("k", "v"), Seq("k"),
      design = Some(design))
    assert(bucketed(), "merge must keep the bucket spec")
    assert(spark.table(t.quoted).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("snapshots: pin survives vacuum, time-travel read, restore, drop reclaims, torn pin refuses") {
    val dir = Files.createTempDirectory("graft_snap_").toString
    val wh = new Warehouse(spark, dir, sfDir)
    def gen(n: Int) =
      Seq(srcNation, ctasTop(s"SELECT n_name FROM src.nation WHERE n_nationkey < $n"))
    val t = TableName.parse("rep.top_nations")
    wh.loadWithStagingAndPublish(gen(5))
    wh.createSnapshot("run-2026-08-13", Seq(t))
    val pinned = spark.table(t.quoted).orderBy("n_name")
      .collect().map(_.getString(0)).toSeq
    assert(pinned.size == 5)
    // a pin is immutable and tags are never sanitized
    intercept[IllegalArgumentException](
      wh.createSnapshot("run-2026-08-13", Seq(t)))
    intercept[IllegalArgumentException](wh.createSnapshot("run/evil", Seq(t)))
    assert(wh.listSnapshots() ==
      Seq(("run-2026-08-13", "rep.top_nations", wh.listSnapshots().head._3)))
    // two rebuilds: standard=v3, backup=v2, the pinned v1 is otherwise dead
    wh.loadWithStagingAndPublish(gen(3))
    wh.loadWithStagingAndPublish(gen(7))
    assert(spark.table(t.quoted).count() == 7)
    // vacuum reclaims src.nation's superseded build but NOT the pinned one
    val deleted = wh.vacuum(gen(7)).deleted
    assert(deleted.exists(_.contains("src.nation")), s"vacuum deleted: $deleted")
    assert(!deleted.exists(_.contains("rep.top_nations")),
      s"vacuum reclaimed a pinned build: $deleted")
    // time travel: the pinned build reads back exactly as at pin time
    def pinnedBuild(tag: String) = spark.read.parquet(wh.listSnapshots().collectFirst {
      case (`tag`, id, loc) if id == t.identifier => loc
    }.get)
    val snap = pinnedBuild("run-2026-08-13")
      .orderBy("n_name").collect().map(_.getString(0)).toSeq
    assert(snap == pinned)
    // diff two pins: same table, different builds -> "changed" with
    // real byte sizes on both sides; pins of the SAME build -> "same"
    wh.createSnapshot("run-b", Seq(t))   // pins the CURRENT (v3) build
    val d = wh.diffSnapshots("run-2026-08-13", "run-b")
    assert(d.map(x => (x._1, x._2)) == Seq(("rep.top_nations", "changed")), s"$d")
    assert(d.head._3 > 0 && d.head._4 > 0)
    wh.createSnapshot("run-b2", Seq(t))
    val d2 = wh.diffSnapshots("run-b", "run-b2")
    assert(d2.map(x => (x._1, x._2)) == Seq(("rep.top_nations", "same")))
    assert(d2.head._3 == d2.head._4 && d2.head._3 > 0)
    intercept[IllegalArgumentException](wh.diffSnapshots("run-b", "nope"))
    wh.dropSnapshot("run-b"); wh.dropSnapshot("run-b2")
    // rollback: the live table re-points at the pinned build
    wh.restoreSnapshot("run-2026-08-13", t)
    assert(spark.table(t.quoted).orderBy("n_name")
      .collect().map(_.getString(0)).toSeq == pinned)
    // drop the pin: v3 (orphaned by the restore) is reclaimed next
    // vacuum; the pinned v1 survives because it is now the standard
    wh.dropSnapshot("run-2026-08-13")
    assert(wh.listSnapshots().isEmpty)
    val deleted2 = wh.vacuum(gen(7)).deleted
    assert(deleted2.count(_.contains("rep.top_nations")) == 1, s"second vacuum: $deleted2")
    assert(spark.table(t.quoted).count() == 5)
    intercept[IllegalArgumentException](wh.restoreSnapshot("run-2026-08-13", t))
    // a torn pin file refuses the relation's vacuum, same as lifecycle pointers
    val tornDir = new java.io.File(s"$dir/snapshots/torn-tag")
    tornDir.mkdirs()
    new java.io.FileOutputStream(
      new java.io.File(tornDir, "src.nation")).close()
    val res = wh.vacuum(gen(7))
    assert(res.refused.contains("src.nation"), s"refused: ${res.refused}")
    intercept[IllegalStateException](
      wh.restoreSnapshot("torn-tag", TableName.parse("src.nation")))
    // ATOMIC creation: a crash mid-create leaves only the hidden
    // `.tmp_<tag>` staging dir — it is invisible to listSnapshots,
    // does not block re-creating the tag, and the retry cleans it up
    val staleTmp = new java.io.File(s"$dir/snapshots/.tmp_retry-tag")
    staleTmp.mkdirs()
    new java.io.FileOutputStream(new java.io.File(staleTmp, "src.nation")).close()
    assert(!wh.listSnapshots().exists(_._1.startsWith(".")),
      "partial .tmp staging dirs must never list as snapshots")
    wh.createSnapshot("retry-tag", Seq(t))
    assert(!staleTmp.exists(), "retry must clean the stale staging dir")
    assert(wh.listSnapshots().exists(_._1 == "retry-tag"))
    assert(pinnedBuild("retry-tag").count() == 5)
    wh.dropSnapshot("retry-tag")
  }

  test("stored rollup lifecycle: build, batch merge, idempotent replay, compact, vacuum") {
    val s = spark
    import s.implicits._
    import graft.queries.DimOps
    val wh = freshWarehouse()
    val t = TableName.parse("rollup.orders_lc")
    def orders(rows: (Long, String, String, Double)*) =
      rows.toSeq.toDF("o_orderkey", "o_orderstatus", "d", "o_totalprice")
        .withColumn("o_orderdate", org.apache.spark.sql.functions.to_timestamp($"d"))
        .drop("d")
    DimOps.rollupBuild(wh, t, orders(
      (1L, "O", "2024-01-05", 10.5), (2L, "F", "2024-01-07", 20.25),
      (3L, "O", "2024-02-01", 1.75)))
    def served() = DimOps.rollupServe(spark, t)
      .orderBy("o_orderstatus", "order_month").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(served() == Seq(("F", "2024-01", 1L, 20.25),
      ("O", "2024-01", 1L, 10.5), ("O", "2024-02", 1L, 1.75)))
    // one batch extends an existing (status, month) key and opens a
    // new one — the merge math is the monoid fold at read time
    val b1 = orders((4L, "O", "2024-01-20", 5.0), (5L, "P", "2024-03-02", 7.5))
    assert(DimOps.rollupAppend(wh, t, b1, "2024-03-02.a"))
    val afterB1 = Seq(("F", "2024-01", 1L, 20.25), ("O", "2024-01", 2L, 15.5),
      ("O", "2024-02", 1L, 1.75), ("P", "2024-03", 1L, 7.5))
    assert(served() == afterB1)
    // at-least-once replay of the SAME tag: refused, result unchanged
    assert(!DimOps.rollupAppend(wh, t, b1, "2024-03-02.a"))
    assert(served() == afterB1)
    // daily cadence grows files; compaction folds them under the same
    // pointer and the served fold is unchanged
    (0 until 40).foreach { i =>
      assert(DimOps.rollupAppend(wh, t,
        orders((10L + i, "O", "2024-04-01", 1.0)), s"g$i"))
    }
    val oldLoc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        t.table, Some(t.schema))).location.getPath
    val Some((before, after)) = wh.compactTable(t, maxDataFiles = 16)
    assert(before > 16 && after < before, s"compact: $before -> $after")
    val afterGrow = Seq(("F", "2024-01", 1L, 20.25), ("O", "2024-01", 2L, 15.5),
      ("O", "2024-02", 1L, 1.75), ("O", "2024-04", 40L, 40.0),
      ("P", "2024-03", 1L, 7.5))
    assert(served() == afterGrow)
    // replay refusal survives compaction (markers carried forward)
    assert(!DimOps.rollupAppend(wh, t, b1, "2024-03-02.a"))
    // vacuum reclaims the superseded pre-compaction build
    val rollupRel = rel(
      """name: rollup.orders_lc
        |source_name: CTAS
        |columns:
        |  - name: o_orderstatus
        |    type: string
        |query: SELECT 'x' AS o_orderstatus
        |""".stripMargin)
    val vr = wh.vacuum(Seq(rollupRel))
    assert(vr.refused.isEmpty, s"vacuum refused: ${vr.refused}")
    assert(vr.deleted.exists(_.endsWith(oldLoc.split('/').takeRight(2).mkString("/"))),
      s"old build not reclaimed: deleted=${vr.deleted}, old=$oldLoc")
    assert(served() == afterGrow)
  }

  test("appendToTable refuses bucketed tables (bucket assignments would corrupt)") {
    val s = spark
    import s.implicits._
    val wh = freshWarehouse()
    val bucketedRel = rel(
      """name: srcb.append_guard
        |source_name: src
        |columns:
        |  - name: n_nationkey
        |    type: int
        |    not_null: true
        |  - name: n_name
        |    type: string
        |attributes:
        |  distribution: [n_nationkey]
        |""".stripMargin)
    // source file resolution uses the table name; point it at nation
    val asNation = bucketedRel.copy(design = bucketedRel.design.copy(
      name = TableName.parse("srcb.nation")))
    wh.loadRelations(Seq(asNation))
    val e = intercept[IllegalStateException] {
      wh.appendToTable(TableName.parse("srcb.nation"),
        Seq((99, "x")).toDF("n_nationkey", "n_name"))
    }
    assert(e.getMessage.contains("bucketed"))
    // the unbucketed path still appends fine (covered by the band-index
    // test above; assert the guard did not break it)
    val plain = TableName.parse("dedup.append_guard_plain")
    wh.writeTable(plain, Seq((1L, "a")).toDF("id", "v"))
    wh.appendToTable(plain, Seq((2L, "b")).toDF("id", "v"))
    assert(spark.table(plain.quoted).count() == 2)
  }

  test("appendToTableIdempotent: replaying a batch tag never duplicates rows") {
    val s = spark
    import s.implicits._
    val wh = freshWarehouse()
    val t = TableName.parse("dedup.idemp_idx")
    wh.writeTable(t, Seq((1L, "a")).toDF("id", "v"))
    // first application lands the batch
    assert(wh.appendToTableIdempotent(t, Seq((2L, "b"), (3L, "c")).toDF("id", "v"), "b7"))
    assert(spark.table(t.quoted).count() == 3)
    // an at-least-once replay of the SAME tag is a no-op
    assert(!wh.appendToTableIdempotent(t, Seq((2L, "b"), (3L, "c")).toDF("id", "v"), "b7"))
    assert(spark.table(t.quoted).count() == 3,
      "replayed batch must not duplicate rows")
    // an INTERRUPTED attempt (files in, marker missing) is replaced,
    // not duplicated: drop the marker and replay
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t.table, Some(t.schema)))
        .location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(loc, "_applied_b7"), false)
    assert(wh.appendToTableIdempotent(t, Seq((2L, "b"), (3L, "c")).toDF("id", "v"), "b7"))
    assert(spark.table(t.quoted).count() == 3,
      "replay of an interrupted batch must replace its files")
    // a NEW tag appends normally
    assert(wh.appendToTableIdempotent(t, Seq((4L, "d")).toDF("id", "v"), "b8"))
    assert(spark.table(t.quoted).count() == 4)
    // DISTINCT raw tags whose sanitized forms collide ('b.1' and
    // 'b:1' both sanitize to 'b_1') must each apply — the hash suffix
    // keeps them apart instead of silently dropping the second batch
    assert(wh.appendToTableIdempotent(t, Seq((5L, "e")).toDF("id", "v"), "b.1"))
    assert(wh.appendToTableIdempotent(t, Seq((6L, "f")).toDF("id", "v"), "b:1"))
    assert(spark.table(t.quoted).count() == 6,
      "distinct tags with colliding sanitized names must both apply")
    // and each remains individually idempotent under replay
    assert(!wh.appendToTableIdempotent(t, Seq((5L, "e")).toDF("id", "v"), "b.1"))
    assert(!wh.appendToTableIdempotent(t, Seq((6L, "f")).toDF("id", "v"), "b:1"))
    assert(spark.table(t.quoted).count() == 6)
    // a plain tag and a special-char tag that sanitizes to it are
    // distinct batches too: 'b.1' must not take 'b_1's marker for its own
    val plain = TableName.parse("dedup.idemp_plain")
    wh.writeTable(plain, Seq((1L, "a")).toDF("id", "v"))
    assert(wh.appendToTableIdempotent(plain, Seq((2L, "b")).toDF("id", "v"), "b_1"))
    assert(wh.appendToTableIdempotent(plain, Seq((3L, "c")).toDF("id", "v"), "b.1"))
    assert(spark.table(plain.quoted).count() == 3,
      "a tag and its sanitized twin must both apply")
    assert(!wh.appendToTableIdempotent(plain, Seq((2L, "b")).toDF("id", "v"), "b_1"))
    assert(!wh.appendToTableIdempotent(plain, Seq((3L, "c")).toDF("id", "v"), "b.1"))
    assert(spark.table(plain.quoted).count() == 3)
  }

  test("appendToTableIdempotent: a tag that PREFIXES another must not eat its files") {
    val s = spark
    import s.implicits._
    val wh = freshWarehouse()
    val t = TableName.parse("dedup.prefix_tags")
    wh.writeTable(t, Seq((1L, "a")).toDF("id", "v"))
    // apply the LONGER tag first: its files are named batch-b1-2-*,
    // which a glob for tag "b1" (batch-b1-*) would also match — the
    // cleanup of b1's partial attempts must not delete b1-2's
    // committed data (whose own marker stands, so the loss would be
    // permanent and silent)
    assert(wh.appendToTableIdempotent(t, Seq((2L, "b")).toDF("id", "v"), "b1-2"))
    assert(wh.appendToTableIdempotent(t, Seq((3L, "c")).toDF("id", "v"), "b1"))
    assert(spark.table(t.quoted).orderBy("id").as[(Long, String)].collect().toSeq
      == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "applying tag 'b1' must not delete tag 'b1-2's committed files")
    // and the replay contract still holds for both
    assert(!wh.appendToTableIdempotent(t, Seq((2L, "b")).toDF("id", "v"), "b1-2"))
    assert(!wh.appendToTableIdempotent(t, Seq((3L, "c")).toDF("id", "v"), "b1"))
    assert(spark.table(t.quoted).count() == 3)
  }

  test("appendToTableIdempotent works from the pointers manifest alone (fresh-JVM case)") {
    val s = spark
    import s.implicits._
    val wh = freshWarehouse()
    val t = TableName.parse("dedup.pointer_only")
    wh.writeTable(t, Seq((1L, "a")).toDF("id", "v"))
    // a fresh JVM: the in-memory catalog entry is gone, the pointers
    // directory still resolves the live location — the documented
    // re-run-cron / restarted-stream case
    spark.sql(s"DROP TABLE ${t.quoted}")
    val fresh = new Warehouse(spark, wh.warehouseDir, sfDir)
    assert(fresh.appendToTableIdempotent(t, Seq((2L, "b")).toDF("id", "v"), "cron-d1"),
      "append must work via the pointer fallback without a catalog entry")
    // the data landed at the pointed location
    val loc = wh.readPointer(t).get
    assert(spark.read.parquet(loc).count() == 2)
  }

  test("pointer-only append refuses partitioned and bucketed layouts (fresh-JVM)") {
    val s = spark
    import s.implicits._
    val wh = freshWarehouse()
    // partitioned table, catalog entry dropped: the metadata guard is
    // vacuous, so the layout must be detected from the partition
    // directories — a root-level append would bypass them silently
    val pt = TableName.parse("dedup.pointer_parted")
    val pDesign = TableDesign.load(
      """name: dedup.pointer_parted
        |source_name: CTAS
        |columns:
        |  - name: id
        |    type: long
        |  - name: day
        |    type: string
        |attributes:
        |  partition_by: [day]
        |query: SELECT * FROM unused
        |""".stripMargin)
    wh.writeTable(pt, Seq((1L, "d1"), (2L, "d2")).toDF("id", "day"),
      Some(pDesign))
    spark.sql(s"DROP TABLE ${pt.quoted}")
    val pe = intercept[IllegalStateException] {
      new Warehouse(spark, wh.warehouseDir, sfDir).appendToTableIdempotent(pt,
        Seq((3L, "d3")).toDF("id", "day"), "cron-p1")
    }
    assert(pe.getMessage.contains("partition"), pe.getMessage)
    // bucketed table, same cross-JVM shape: detected from the bucket
    // id infix in the part-file names
    val bt = TableName.parse("dedup.pointer_bucketed")
    val bDesign = TableDesign.load(
      """name: dedup.pointer_bucketed
        |source_name: CTAS
        |columns:
        |  - name: id
        |    type: long
        |  - name: v
        |    type: string
        |attributes:
        |  distribution: [id]
        |query: SELECT * FROM unused
        |""".stripMargin)
    wh.writeTable(bt, Seq((1L, "a")).toDF("id", "v"), Some(bDesign))
    spark.sql(s"DROP TABLE ${bt.quoted}")
    val be = intercept[IllegalStateException] {
      new Warehouse(spark, wh.warehouseDir, sfDir).appendToTableIdempotent(bt, Seq((2L, "b")).toDF("id", "v"), "cron-b1")
    }
    assert(be.getMessage.contains("bucket"), be.getMessage)
  }

  test("copyWithMaxError quarantines malformed rows; exceeding the budget aborts cleanly") {
    val wh = freshWarehouse()
    val design = TableDesign.load(
      """name: qsrc.items
        |source_name: qsrc
        |columns:
        |  - name: id
        |    type: long
        |    not_null: true
        |  - name: name
        |    type: string
        |""".stripMargin)
    val srcRoot = Files.createTempDirectory("graft_copyq_")
    val dir = srcRoot.resolve("qsrc.items")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("part-000.csv"),
      "1,alpha\n2,beta\nnotanumber,gamma\n3,delta,extra,cols\n4,epsilon\n"
        .getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("_SUCCESS"), Array.empty[Byte])
    Artifact.writeManifest(dir.toString)
    // within budget: good rows land, bad rows quarantined with their
    // raw text and source file
    val out = Extract.copyWithMaxError(wh, srcRoot.toString, design, maxError = 5)
    assert(out.loaded == 3 && out.quarantined == 2, s"$out")
    assert(spark.table("`qsrc`.`items`").count() == 3)
    val errs = spark.table("`qsrc`.`items__loaderrors`").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(errs.length == 2)
    assert(errs.exists(_._1.contains("notanumber")))
    assert(errs.forall(_._2.contains("part-000.csv")))
    // over budget: abort BEFORE writing — the previous build and its
    // error table keep serving
    java.nio.file.Files.write(dir.resolve("part-001.csv"),
      "x,\ny,\nz,\n".getBytes("UTF-8"))
    val ex = intercept[IllegalStateException](
      Extract.copyWithMaxError(wh, srcRoot.toString, design, maxError = 3))
    assert(ex.getMessage.contains("MAXERROR"))
    assert(spark.table("`qsrc`.`items`").count() == 3,
      "aborted COPY must leave the previous build serving")
  }

  test("standalone check_constraints audits published tables without rebuilding") {
    val wh = freshWarehouse()
    wh.loadWithStagingAndPublish(Seq(srcNation,
      ctasTop("SELECT n_name FROM src.nation WHERE n_nationkey < 5")))
    // clean designs: no findings
    assert(wh.checkConstraints(Seq(srcNation), TableSelector.all).isEmpty)
    // the audit case: the design now declares a PK the data at rest
    // violates (5 distinct n_name per nationkey%5 bucket → dups)
    val drifted = rel(
      """name: src.nation
        |source_name: src
        |columns:
        |  - name: n_nationkey
        |    type: int
        |    not_null: true
        |  - name: n_name
        |    type: string
        |constraints:
        |  - primary_key: [n_nationkey]
        |  - unique: [n_name]
        |""".stripMargin)
    // n_name IS unique in nation — force a violating published table
    // instead: a CTAS of nation keyed on nationkey%5
    val dupTable = rel(
      """name: rep.dup_audit
        |source_name: CTAS
        |depends_on: [src.nation]
        |columns:
        |  - name: k
        |    type: int
        |    not_null: true
        |query: SELECT CAST(n_nationkey % 5 AS INT) AS k FROM src.nation
        |""".stripMargin)
    wh.loadWithStagingAndPublish(Seq(srcNation, dupTable))
    val auditDesign = rel(
      """name: rep.dup_audit
        |source_name: CTAS
        |depends_on: [src.nation]
        |columns:
        |  - name: k
        |    type: int
        |    not_null: true
        |constraints:
        |  - primary_key: [k]
        |query: SELECT CAST(n_nationkey % 5 AS INT) AS k FROM src.nation
        |""".stripMargin)
    val findings = wh.checkConstraints(Seq(drifted, auditDesign), TableSelector.all)
    assert(findings.map(_._1) == Seq("rep.dup_audit"), s"got $findings")
    assert(findings.head._2.contains("primary_key"))
  }

  test("standalone check_constraints does not count the engine's NA row against a real key 0") {
    val wh = freshWarehouse()
    // nation keys run 0..24, and the NA row of a dim_* table keys 0 too
    val dim = rel(
      """name: rep.dim_nat
        |source_name: CTAS
        |depends_on: [src.nation]
        |columns:
        |  - name: k
        |    type: long
        |    not_null: true
        |  - name: n_name
        |    type: string
        |constraints:
        |  - primary_key: [k]
        |query: SELECT CAST(n_nationkey AS BIGINT) AS k, n_name FROM src.nation
        |""".stripMargin)
    wh.loadWithStagingAndPublish(Seq(srcNation, dim))
    assert(spark.table("`rep`.`dim_nat`").filter("k = 0").count() == 2)
    assert(wh.checkConstraints(Seq(srcNation, dim), TableSelector.all).isEmpty)
  }

  test("identity keys do not depend on input order when sort keys tie") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_id_ties_").toString
    spark.sql("CREATE DATABASE IF NOT EXISTS id_ties")
    // 100 rows per sort-key value; the same rows, in opposite orders
    val rows = (1 to 200).map(i => (i % 2, f"v$i%03d"))
    def keys(src: String, input: Seq[(Int, String)]): Map[String, Long] = {
      input.toDF("g", "v").coalesce(1).write.mode("overwrite").parquet(s"$dir/$src")
      spark.sql(s"DROP TABLE IF EXISTS id_ties.$src")
      spark.sql(s"CREATE TABLE id_ties.$src USING parquet LOCATION '$dir/$src'")
      val design = TableDesign.load(
        s"""name: rep.tie_keys
           |source_name: CTAS
           |depends_on: [id_ties.$src]
           |columns:
           |  - name: sk
           |    type: long
           |    not_null: true
           |    identity: true
           |  - name: g
           |    type: int
           |  - name: v
           |    type: string
           |constraints:
           |  - surrogate_key: [sk]
           |attributes:
           |  compound_sort: [g]
           |query: SELECT g, v FROM id_ties.$src
           |""".stripMargin)
      val (df, cleanup) = freshWarehouse()
        .ctasDataFrameManaged(design, SchemaPosition.Standard)
      try df.collect().map(r => r.getString(2) -> r.getLong(0)).toMap
      finally cleanup()
    }
    val forward = keys("fwd", rows)
    val backward = keys("bwd", rows.reverse)
    assert(forward.values.toSet == (1L to 200L).toSet)
    assert(forward == backward,
      s"${forward.count { case (v, k) => !backward.get(v).contains(k) }} of 200 keys differ")
  }
}
