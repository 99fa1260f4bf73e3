package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Avro round-trip (the COPY format the reference supports beyond
  * CSV/JSON, dialect/redshift.py:307): write part files from a
  * multi-partition DataFrame, read back under the declared design
  * schema, values equal. */
class AvroIOSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Session.build(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("flag", BooleanType),
    StructField("ratio", DoubleType),
    StructField("small", IntegerType),
    StructField("amount", DecimalType(12, 2)),
    StructField("born", DateType),
    StructField("seen", TimestampType),
    StructField("payload", BinaryType),
    StructField("vec", ArrayType(FloatType, containsNull = false))))

  private def sampleRows: Seq[Row] = Seq(
    Row(1L, "alpha", true, 1.5, 7, BigDecimal("12345.67").bigDecimal,
      java.sql.Date.valueOf("2021-03-04"),
      java.sql.Timestamp.valueOf("2021-03-04 05:06:07.123456"),
      Array[Byte](1, 2, 3), Seq(1.0f, 2.5f)),
    Row(2L, null, null, null, null, null, null, null, null, null),
    Row(3L, "génève ’quoted’", false, -0.25, -1,
      BigDecimal("-0.01").bigDecimal,
      java.sql.Date.valueOf("1969-12-31"),
      java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999999"),
      Array.empty[Byte], Seq.empty[Float]))

  test("write/read round-trips every supported type incl. pre-epoch") {
    val dir = Files.createTempDirectory("graft_avro_").toString
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(sampleRows, 2), schema)
    val written = AvroIO.write(df, dir)
    assert(written == 3)
    assert(Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS")))
    val back = AvroIO.read(spark, dir, schema)
    val expect = df.collect().map(normalize).toSet
    val got = back.collect().map(normalize).toSet
    assert(got == expect)
  }

  test("Artifact.read of an avro artifact enforces the design schema") {
    val dir = Files.createTempDirectory("graft_avro_src_").toString
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(sampleRows, 1), schema)
    AvroIO.write(df, dir)
    Artifact.writeManifest(dir)
    val design = TableDesign(TableName.parse("src.t"), "src", Seq(
      ColumnDef("id", "long", notNull = true),
      ColumnDef("name", "string"),
      ColumnDef("extra", "int")))   // not in the files -> null
    val got = Artifact.read(spark, design, dir)
    assert(got.schema.fieldNames.toSeq == Seq("id", "name", "extra"))
    assert(got.count() == 3)
    assert(got.filter("extra IS NOT NULL").count() == 0)
    assert(got.filter("name = 'alpha'").count() == 1)
  }

  /** Binary columns compare by reference in Row equality. */
  private def normalize(r: Row): Seq[Any] =
    r.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }
}
