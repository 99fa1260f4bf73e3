package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Result cache contract: hits serve WITHOUT touching the base data,
  * any input change or plan change is a miss, non-deterministic
  * queries bypass. */
class ResultCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var baseDir: String = _
  private var cache: ResultCache = _

  override def beforeAll(): Unit = {
    spark = graft.Session.build(2)
    spark.sparkContext.setLogLevel("ERROR")
    val s = spark
    import s.implicits._
    baseDir = java.nio.file.Files.createTempDirectory("rc_base_").toString
    (1 to 100).map(i => (i.toLong, s"g${i % 5}"))
      .toDF("k", "g").write.mode("overwrite").parquet(s"$baseDir/t.parquet")
    cache = new ResultCache(spark,
      java.nio.file.Files.createTempDirectory("rc_cache_").toString)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def base = spark.read.parquet(s"$baseDir/t.parquet")

  test("miss then hit; the hit survives deletion of the base data") {
    val q = base.groupBy("g").agg(sum("k").as("sk")).orderBy("g")
    val (r1, hit1) = cache.lookup(q)
    assert(!hit1)
    val want = r1.collect().map(_.toSeq).toSeq
    val (r2, hit2) = cache.lookup(
      base.groupBy("g").agg(sum("k").as("sk")).orderBy("g"))
    assert(hit2)
    assert(r2.collect().map(_.toSeq).toSeq == want)
    // the strongest no-rescan proof: move the base away — the cached
    // answer must still serve (fingerprint uses the PRE-computed df)
    val moved = s"$baseDir/moved.parquet"
    new java.io.File(s"$baseDir/t.parquet").renameTo(new java.io.File(moved))
    try assert(r2.collect().map(_.toSeq).toSeq == want)
    finally new java.io.File(moved).renameTo(new java.io.File(s"$baseDir/t.parquet"))
  }

  test("equivalent plans share a fingerprint; literal changes split it") {
    val a = base.filter(col("k") > 10).groupBy("g").count()
    val b = base.where("k > 10").groupBy("g").count()
    assert(cache.fingerprint(a) == cache.fingerprint(b),
      "same canonical plan must share the entry")
    val c = base.filter(col("k") > 11).groupBy("g").count()
    assert(cache.fingerprint(a) != cache.fingerprint(c))
  }

  test("appending a file to the input moves the fingerprint") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("rc_app_").toString
    (1 to 10).map(i => (i.toLong, "x")).toDF("k", "g")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    def q = spark.read.parquet(s"$dir/t.parquet").groupBy("g").count()
    val fp1 = cache.fingerprint(q)
    (11 to 20).map(i => (i.toLong, "x")).toDF("k", "g")
      .write.mode("append").parquet(s"$dir/t.parquet")
    assert(cache.fingerprint(q) != fp1,
      "new data files under the scan must invalidate")
  }

  test("a multi-partition ORDER BY result keeps its row order on a hit") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("rc_ord_").toString
    (1 to 500).map(i => ((i * 37) % 501).toLong)
      .toDF("k").write.mode("overwrite").parquet(s"$dir/t.parquet")
    def q = spark.read.parquet(s"$dir/t.parquet")
      .repartition(8).orderBy(col("k").desc)
    val c = new ResultCache(spark,
      java.nio.file.Files.createTempDirectory("rc_ordc_").toString)
    val (r1, hit1) = c.lookup(q)
    val want = r1.collect().map(_.getLong(0)).toSeq
    assert(!hit1 && want == want.sorted.reverse, "miss must serve sorted")
    val (r2, hit2) = c.lookup(q)
    assert(hit2)
    assert(r2.collect().map(_.getLong(0)).toSeq == want,
      "hit must serve the same rows in the same order")
    assert(r2.schema.fieldNames.toSeq == Seq("k"),
      "the order-stamp column must not leak into the served schema")
  }

  test("non-deterministic queries bypass the cache") {
    val q = base.select(col("k"), rand(7).as("r"))
    assert(!cache.deterministic(q))
    val (_, hit1) = cache.lookup(q)
    val (_, hit2) = cache.lookup(q)
    assert(!hit1 && !hit2)
  }

  test("inline VALUES with different data split the fingerprint") {
    val s = spark
    import s.implicits._
    // LocalRelation omits row data from plan strings — the stamp must
    // still distinguish these (same schema, different values).
    val a = Seq((1L, "a"), (2L, "b")).toDF("k", "v").groupBy("v").count()
    val b = Seq((1L, "a"), (3L, "c")).toDF("k", "v").groupBy("v").count()
    assert(cache.fingerprint(a) != cache.fingerprint(b),
      "different inline data must not share a cache entry")
    val a2 = Seq((1L, "a"), (2L, "b")).toDF("k", "v").groupBy("v").count()
    assert(cache.fingerprint(a) == cache.fingerprint(a2),
      "identical inline data must still share the entry")
    // end-to-end: the second dataset must NOT be served the first's rows
    val c = new ResultCache(spark,
      java.nio.file.Files.createTempDirectory("rc_lr_").toString)
    val (_, h1) = c.lookup(a)
    val (r2, h2) = c.lookup(b)
    assert(!h1 && !h2)
    assert(r2.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      == Map("a" -> 1L, "c" -> 1L))
  }
}
