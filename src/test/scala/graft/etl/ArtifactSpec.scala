package graft.etl

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The artifact format rule, and a source scan of `src/main` that
  * guards the one-artifact-module design. */
class ArtifactSpec extends AnyFunSuite {

  test("only Artifact spells the artifact's text options and file names") {
    val walk = Files.walk(Paths.get("src/main"))
    val sources =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.nonEmpty)
    val offenders = for {
      p <- sources if p.getFileName.toString != "Artifact.scala"
      text = new String(Files.readAllBytes(p), UTF_8)
      token <- Seq("option(\"nullValue\"", "\"timestampFormat\"",
        "/manifest.json\"", "/columns.yaml\"") if text.contains(token)
    } yield s"${p.getFileName}: $token"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("format comes from the manifest's part-file extensions; mixed formats are refused") {
    def formatOf(files: String*): Option[String] = {
      val dir = Files.createTempDirectory("graft_artifact_fmt_")
      val entries = files.map(f => s"""{"url": "$dir/$f", "mandatory": true}""")
      Files.write(dir.resolve("manifest.json"),
        s"""{"entries": [${entries.mkString(", ")}]}""".getBytes(UTF_8))
      Artifact.format(dir.toString)
    }
    assert(Artifact.format(Files.createTempDirectory("graft_artifact_none_").toString).isEmpty)
    assert(formatOf("part-00000-c000.csv.gz") == Some("csv"))
    assert(formatOf("part-00000") == Some("csv"))
    assert(formatOf() == Some("csv"))
    assert(formatOf("part-00000-c000.json.gz", "part-00001-c000.json") == Some("json"))
    assert(formatOf("k=1/part-00000-c000.snappy.parquet") == Some("parquet"))
    assert(formatOf("part-00000.avro") == Some("avro"))
    val mixed = intercept[IllegalArgumentException] {
      formatOf("part-00000.csv.gz", "part-00001.snappy.parquet")
    }
    assert(mixed.getMessage.contains("mixes formats"), mixed.getMessage)
  }

  test("an avro artifact is refused a PARTITION BY layout before anything is written") {
    val spark = graft.Session.build(2)
    try {
      val design = TableDesign(TableName.parse("a.t"), "src",
        Seq(ColumnDef("id", "long"), ColumnDef("k", "long")))
      val dest = Files.createTempDirectory("graft_artifact_avro_").resolve("out")
      val e = intercept[IllegalArgumentException] {
        Artifact.write(spark.range(4).selectExpr("id", "id % 2 AS k"), design,
          dest.toString, "avro", partitionBy = Seq("k"))
      }
      assert(e.getMessage.contains("cannot be partitioned"), e.getMessage)
      assert(!Files.exists(dest))
    } finally spark.stop()
  }
}
