package graft.etl

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The one telemetry listener: scoped job totals that are complete on
  * the first read, write metrics for every write shape the engine
  * uses, a bounded drain, and a source scan that keeps every other
  * listener out. Nothing here sleeps. */
class TelemetrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Session.build(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("50 back-to-back scoped actions each count every task on the first read") {
    val sc = spark.sparkContext
    (1 to 50).foreach { i =>
      val partitions = 1 + i % 7
      val profile = Telemetry.scoped(spark) { scope =>
        sc.parallelize(1 to 100, partitions).map(_ * 2).count()
        scope.profile()
      }
      assert(profile.exists(p => p.jobs == 1 && p.tasks == partitions),
        s"action $i over $partitions partitions: $profile")
    }
  }

  test("an outer scope and Qmr's own scope count the same jobs") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_tel_qmr_") + "/t"
    (1L to 320L).toDF("k").repartition(8).write.parquet(dir)
    val mon = new Monitor()
    val outer = Telemetry.scoped(spark) { scope =>
      val n = Qmr.guarded(spark.read.parquet(dir),
        Seq(Qmr.Rule("every_row", maxScanRows = Some(0L), action = Qmr.Log)), mon)(_.count())
      assert(n == 320L)
      scope.profile()
    }
    // the log rule reports Qmr's own scope's drained scan rows
    val inner = mon.events.filter(_.event == "qmr_violation").flatMap(_.rowcount)
    assert(outer.exists(_.jobs >= 1), outer)
    assert(outer.map(_.scanRows).toSeq == inner && inner == Seq(320L), s"$outer vs $inner")
  }

  test("write metrics carry the rows written for every write shape") {
    val s = spark
    import s.implicits._
    val df = (1 to 500).map(i => (i, i % 5, s"n$i")).toDF("id", "k", "name")
    def rowsOf(path: String)(write: => Unit): Option[Long] =
      Telemetry.measureWrite(spark, path)(write).map(_.rowsWritten)
    val plain = tmp("graft_tel_plain_")
    assert(rowsOf(plain)(df.write.mode("overwrite").parquet(plain)).contains(500L))
    val parted = tmp("graft_tel_parted_")
    assert(rowsOf(parted)(df.write.mode("overwrite").partitionBy("k").parquet(parted))
      .contains(500L))
    val bucketed = tmp("graft_tel_bucketed_")
    spark.sql("DROP TABLE IF EXISTS tel_bucketed")
    try assert(rowsOf(bucketed)(df.write.mode("overwrite").option("path", bucketed)
      .bucketBy(4, "id").sortBy("id").saveAsTable("tel_bucketed")).contains(500L))
    finally spark.sql("DROP TABLE IF EXISTS tel_bucketed")
    val design = TableDesign.load(
      """name: src.tel
        |source_name: src
        |columns:
        |  - name: id
        |    type: int
        |  - name: k
        |    type: int
        |  - name: name
        |    type: string
        |""".stripMargin)
    val csv = tmp("graft_tel_csv_") + "/out"
    var unloaded = -1L
    assert(rowsOf(csv) { unloaded = Artifact.write(df, design, csv) }.contains(500L))
    assert(unloaded == 500L)
  }

  test("the warehouse's finish event carries metrics for plain, partitioned and bucketed builds") {
    val s = spark
    import s.implicits._
    val df = (1 to 300).map(i => (i, i % 3)).toDF("id", "k")
    val dir = tmp("graft_tel_wh_")
    val wh = new Warehouse(spark, dir, dir)   // no source reads here
    def design(attrs: String) = TableDesign.load(
      s"""name: tel.t
         |source_name: src
         |columns:
         |  - name: id
         |    type: int
         |  - name: k
         |    type: int
         |$attrs""".stripMargin)
    Seq("", "attributes:\n  partition_by: [k]\n", "attributes:\n  distribution: [id]\n")
      .foreach { attrs =>
        val mon = wh.monitor
        val before = mon.events.size
        mon.monitored("tel.t", "load") {
          val n = wh.writeTable(TableName("tel", "t"), df, Some(design(attrs)))
          ((), Some(n))
        }
        val finish = mon.events.drop(before).filter(_.event == "finish")
        assert(finish.size == 1 && finish.head.rowcount.contains(300L), attrs)
        assert(finish.head.metrics.map(_.rowsWritten).contains(300L), s"$attrs: $finish")
      }
  }

  test("a drain that times out reads as no metrics and does not hang") {
    val s = spark
    import s.implicits._
    val out = tmp("graft_tel_stall_")
    Telemetry.scoped(spark) { scope =>
      // the scope's records are guarded by its monitor: holding it
      // stalls the bus's delivery thread at this scope's first task end
      val t0 = System.nanoTime()
      val metrics = scope.synchronized {
        Telemetry.measureWrite(spark, out, timeoutMs = 200) {
          (1 to 10).toDF("x").write.mode("overwrite").parquet(out)
        }
      }
      assert(metrics.isEmpty)
      assert((System.nanoTime() - t0) / 1e9 < 60.0)
      // released, the bus drains and the scope reads complete
      assert(scope.profile().exists(_.jobs >= 1))
    }
  }

  test("Telemetry is the only listener in the source") {
    val sources: Seq[(Path, String)] = {
      val walk = Files.walk(Paths.get("src"))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
        .map(p => p -> new String(Files.readAllBytes(p), UTF_8))
      finally walk.close()
    }
    assert(sources.exists(_._1.getFileName.toString == "Telemetry.scala"))
    // ScaleProbeSpec (env-gated) needs every task's duration, and
    // WarehouseSpec the catalog's create/drop/alter events of a build
    val allowed = Set("Telemetry.scala", "ScaleProbeSpec.scala", "TelemetrySpec.scala",
      "WarehouseSpec.scala")
    val tokens = Seq("addSparkListener", "listenerManager.register",
      "extends SparkListener", "extends QueryExecutionListener",
      "extends org.apache.spark.scheduler.SparkListener",
      "new org.apache.spark.scheduler.SparkListener", "new SparkListener")
    val offenders = for {
      (p, text) <- sources
      if !allowed(p.getFileName.toString)
      t <- tokens if text.contains(t)
    } yield s"$p: $t"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
