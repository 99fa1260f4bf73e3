package graft.etl

import java.sql.DriverManager

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Live partitioned-JDBC extract (S1-S5) against an embedded Derby
  * database: the real `spark.read.jdbc` path with the engine's
  * partition plan — boundary query over the split key, multiple
  * partitions, cast projection + condition pushed into the source
  * subquery. */
class JdbcExtractSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dbDir = java.nio.file.Files.createTempDirectory("graft_derby_").toString
  private val url = s"jdbc:derby:$dbDir/testdb;create=true"

  override def beforeAll(): Unit = {
    spark = graft.Session.build(4)
    spark.sparkContext.setLogLevel("ERROR")
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("CREATE TABLE upstream_orders (o_id BIGINT NOT NULL PRIMARY KEY, status VARCHAR(4), amount DOUBLE)")
    val ins = conn.prepareStatement("INSERT INTO upstream_orders VALUES (?, ?, ?)")
    (1 to 1000).foreach { i =>
      ins.setLong(1, i.toLong)
      ins.setString(2, if (i % 3 == 0) "F" else "O")
      ins.setDouble(3, i * 1.5)
      ins.addBatch()
    }
    ins.executeBatch()
    conn.close()
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val design = TableDesign.load(
    """name: src.upstream_orders
      |source_name: src
      |columns:
      |  - name: o_id
      |    type: long
      |    not_null: true
      |  - name: status
      |    type: string
      |  - name: amount
      |    type: double
      |constraints:
      |  - primary_key: [o_id]
      |extract_settings:
      |  condition: amount > 0
      |""".stripMargin)

  test("partitioned JDBC read: plan key from PK, bounds from boundary query") {
    val plan = Extract.planPartitions(design, tableSize = 200L * 1024 * 1024,
      maxPartitions = 4)
    assert(plan.partitionColumn.contains("o_id") && plan.numPartitions == 4)
    assert(plan.condition.contains("amount > 0"))
    // Boundary query through the same JDBC source (S5).
    val bounds = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", s"(${Extract.boundaryQuery(design, "o_id", "upstream_orders")}) b")
      .load().collect().head
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    assert((lo, hi) == (1L, 1000L))
    val df = Extract.jdbcReader(spark, url, design, plan, lo, hi).load()
    assert(df.rdd.getNumPartitions == 4, "read must split into 4 JDBC partitions")
    assert(df.count() == 1000)
    assert(df.schema.fieldNames.toSeq.map(_.toLowerCase) == Seq("o_id", "status", "amount"))
    // every partition carries a slice — no empty/full skew from the range split
    val sizes = df.rdd.mapPartitions(it => Iterator.single(it.size)).collect()
    assert(sizes.count(_ > 0) == 4 && sizes.sum == 1000)
  }

  test("B4: primary keys fetched from live JDBC metadata") {
    // Derby upper-cases unquoted identifiers.
    val pks = Bootstrap.fetchPrimaryKeys(url, "UPSTREAM_ORDERS")
    assert(pks == Seq("o_id"))
    assert(Bootstrap.constraintsFromJdbcMetadata(pks) ==
      Seq(Constraint("primary_key", Seq("o_id"))))
  }

  test("extract condition reaches the source: filtered subquery") {
    val cond = design.copy(extractSettings = Some(ExtractSettings(condition = "o_id <= 100")))
    val plan = Extract.planPartitions(cond, tableSize = 1L << 20)
    val df = Extract.jdbcReader(spark, url, cond, plan, 1L, 1000L).load()
    assert(df.count() == 100)
  }

  test("temporal split key: live partitioned read via source-dialect epoch expr") {
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("CREATE TABLE upstream_events (e_id BIGINT NOT NULL, ts TIMESTAMP NOT NULL)")
    val ins = conn.prepareStatement("INSERT INTO upstream_events VALUES (?, ?)")
    (0 until 400).foreach { i =>
      ins.setLong(1, i.toLong)
      // one event per hour across ~17 days
      ins.setTimestamp(2, new java.sql.Timestamp(1700000000000L + i * 3600L * 1000L))
      ins.addBatch()
    }
    ins.executeBatch()
    conn.close()
    val tsDesign = TableDesign.load(
      """name: src.upstream_events
        |source_name: src
        |columns:
        |  - name: e_id
        |    type: long
        |    not_null: true
        |  - name: ts
        |    type: timestamp
        |    not_null: true
        |extract_settings:
        |  split_by: [ts]
        |""".stripMargin)
    val plan = Extract.planPartitions(tsDesign, 200L * 1024 * 1024,
      maxPartitions = 4, dialect = "derby")
    assert(plan.partitionColumn.exists(_.contains("TIMESTAMPDIFF")),
      s"temporal key must split on the source-dialect epoch: $plan")
    // boundary query evaluated BY DERBY over the epoch expression (S5)
    val bounds = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable",
        s"(${Extract.boundaryQuery(tsDesign, plan.partitionColumn.get, "upstream_events")}) b")
      .load().collect().head
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    assert(hi - lo == 399L * 3600L)
    val df = Extract.jdbcReader(spark, url, tsDesign, plan, lo, hi).load()
      .drop("graft_split_epoch")
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 400)
    assert(df.schema.fieldNames.toSeq.map(_.toLowerCase) == Seq("e_id", "ts"))
    val sizes = df.rdd.mapPartitions(it => Iterator.single(it.size)).collect()
    assert(sizes.count(_ > 0) == 4 && sizes.sum == 400, sizes.mkString(","))
  }

  test("sampling predicate composes with the condition (S6)") {
    val es = Some(ExtractSettings(condition = "o_id <= 100", splitBy = Some("o_id")))
    val sampled = design.copy(extractSettings = es)
    // force the sampling path: table "size" 200MB with sampling on
    val plan = Extract.planPartitions(sampled, 200L * 1024 * 1024,
      maxPartitions = 4, useSampling = true)
    val df = Extract.jdbcReader(spark, url, sampled, plan, 1L, 1000L).load()
    // o_id <= 100 AND o_id % 10 = 1 → 10 rows
    assert(df.count() == 10)
  }
}
