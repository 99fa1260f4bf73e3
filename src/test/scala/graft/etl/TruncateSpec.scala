package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** TRUNCATECOLUMNS parity (dialect/redshift.py:348): strings are cut
  * to the declared varchar BYTE length, never splitting a UTF-8
  * codepoint, applied during the COPY stand-in. */
class TruncateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Session.build(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def trunc(s: String, n: Int): String =
    TruncateUtf8Bytes.truncate(UTF8String.fromString(s), n).toString

  test("truncate cuts at byte length, never inside a codepoint") {
    assert(trunc("abcdef", 4) == "abcd")
    assert(trunc("abc", 4) == "abc")
    assert(trunc("abc", 3) == "abc")
    // é = 2 bytes: limit 3 lands mid-é, cut backs off to 2
    assert(trunc("aéb", 3) == "aé")
    assert(trunc("aéb", 2) == "a")
    // 3-byte CJK: any limit below 3 yields empty for a single char
    assert(trunc("漢字", 5) == "漢")
    assert(trunc("漢字", 2) == "")
    // 4-byte emoji boundary
    assert(trunc("x😀y", 4) == "x")
    assert(trunc("x😀y", 5) == "x😀")
  }

  test("varcharBytes: authored varchar(n) only, strings only") {
    def cd(tpe: String, sql: String) = ColumnDef("c", tpe, sql)
    assert(Extract.varcharBytes(cd("string", "varchar(10)")) == Some(10))
    assert(Extract.varcharBytes(cd("string", "character varying(255)")) == Some(255))
    assert(Extract.varcharBytes(cd("string", "character varying(65535)")).isEmpty)
    assert(Extract.varcharBytes(cd("string", "")).isEmpty)
    assert(Extract.varcharBytes(cd("int", "varchar(10)")).isEmpty)
  }

  test("sourceDataFrame truncates to declared varchar bytes (codegen path)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_trunc_").toString
    Seq((1L, "ALGERIA"), (2L, "ARGENTINA"), (3L, "ÉÉÉ"), (4L, null))
      .toDF("k", "name").write.parquet(s"$dir/t.parquet")
    val design = TableDesign(TableName.parse("src.t"), "src", Seq(
      ColumnDef("k", "long", notNull = true),
      ColumnDef("name", "string", "character varying(6)")))
    val got = Extract.sourceDataFrame(spark, dir, design)
      .orderBy("k").collect().map(r => Option(r.getString(1)))
    // ÉÉÉ = 6 bytes: fits exactly; ARGENTINA cut to 6 bytes
    assert(got.toSeq == Seq(Some("ALGERI"), Some("ARGENT"), Some("ÉÉÉ"), None))
  }
}
