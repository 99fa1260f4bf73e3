package graft.etl

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class SkewSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Session.build(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // 90% of rows share one key — the aggregation/join hot-key shape.
  private def skewedDf = {
    val s = spark
    import s.implicits._
    (1 to 10000).map(i => (if (i % 10 != 0) "hot" else s"k${i % 97}", i.toDouble))
      .toDF("k", "v").repartition(8)
  }

  test("saltedCountSum equals the plain aggregation exactly") {
    val s = spark
    import s.implicits._
    val plain = skewedDf.groupBy("k")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum($"v").as("sum"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val salted = Skew.saltedCountSum(skewedDf, Seq("k"), Some("v"), factor = 8)
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(plain.map(t => (t._1, t._2)).toSeq == salted.map(t => (t._1, t._2)).toSeq)
    // double sums may differ only in accumulation order — compare tolerantly
    plain.zip(salted).foreach { case (p, q) =>
      assert(math.abs(p._3 - q._3) / math.max(1.0, math.abs(p._3)) < 1e-12)
    }
  }

  test("saltedJoin equals the plain join; join key carries the salt") {
    val s = spark
    import s.implicits._
    val dim = (0 until 97).map(i => (s"k$i", i)).toDF("k", "attr")
      .union(Seq(("hot", -1)).toDF("k", "attr"))
    val plain = skewedDf.join(dim, "k").groupBy("k").count()
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val salted = Skew.saltedJoin(skewedDf, dim, "k", factor = 8)
      .groupBy("k").count()
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(plain == salted)
  }
}
