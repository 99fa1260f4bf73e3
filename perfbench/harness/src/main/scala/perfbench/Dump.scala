package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.etl.DialectShims

/** Records the expected results of the pack entries, for
  * `crosscheck.py`: for every entry, the same row count and hash that
  * [[Pack]] computes, plus the rows themselves as parquet and each
  * entry's DuckDB oracle SQL, so the hashes can be checked against the
  * oracle before they are trusted.
  *
  * usage: perfbench.Dump CONF DATA OUT
  */
object Dump {
  def main(args: Array[String]): Unit = {
    val Array(confFile, data, out) = args
    // parquet timestamps as the oracle reads them; results are unchanged
    val spark = Pack.session(confFile, "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    DialectShims.registerAll(spark)
    Files.createDirectories(Paths.get(out))
    val recs = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val rec = try {
        val df = fn(spark, data)
        val rows = df.collect()
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
        Seq("rows" -> Json.num(rows.length.toLong),
          "hash" -> Json.str(Pack.hash(df.schema.simpleString, rows)))
      } catch {
        case e: Throwable => Seq("error" -> Json.str(s"${e.getClass.getName}: ${e.getMessage}".take(400)))
      }
      spark.catalog.clearCache()
      name -> Json.obj(rec)
    }
    Files.write(Paths.get(s"$out/results.json"), Json.obj(recs).getBytes(UTF_8))
    Files.write(Paths.get(s"$out/oracle_sql.json"),
      Json.obj(SparkEntry.oracleSql.toSeq.sorted.map { case (k, v) => k -> Json.str(v) })
        .getBytes(UTF_8))
    spark.stop()
  }
}
