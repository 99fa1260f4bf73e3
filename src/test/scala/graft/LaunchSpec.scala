package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.DemoDag

/** The CLI JVM the build ships: `run / javaOptions` on the exact
  * `Runtime / fullClasspath` must map the class-data-sharing archive
  * the build dumped, and that archive must hold what an extract and a
  * load use, not only Spark's start-up. The build passes both in
  * (`graft.cds.*`). */
class LaunchSpec extends AnyFunSuite {

  test("the shipped run options map the CDS archive: ping under -Xshare:on") {
    def prop(name: String) = sys.props.getOrElse(name,
      fail(s"no -D$name: run this spec through the build (sbt test)"))
    val opts = prop("graft.cds.javaOptions").split('\t').toSeq
    val cp = prop("graft.cds.classpath")
    assert(opts.exists(_.startsWith("-XX:SharedArchiveFile=")), opts)
    // -Xshare:on turns "cannot map the archive" into exit 1
    val java = s"${sys.props("java.home")}/bin/java"
    val cwd = Files.createTempDirectory("graft_launch_")
    val log = cwd.resolve("ping.out")
    val code = new ProcessBuilder((Seq(java, "-Xshare:on") ++ opts ++
        Seq("-cp", cp, "graft.Cli", "ping")): _*)
      .directory(cwd.toFile).redirectErrorStream(true).redirectOutput(log.toFile)
      .start().waitFor()
    val out = new String(Files.readAllBytes(log), StandardCharsets.UTF_8)
    assert(code == 0, s"exit $code: $out")
    assert(out.contains("[ping] ok"), out)
    assert(!out.linesIterator.exists(_.contains("[warning][cds")), out)
  }

  test("the archive is trained on an extract and a load: both CLI JVMs map their classes") {
    def prop(name: String) = sys.props.getOrElse(name,
      fail(s"no -D$name: run this spec through the build (sbt test)"))
    val launch = Seq(s"${sys.props("java.home")}/bin/java", "-Xshare:on") ++
      prop("graft.cds.javaOptions").split('\t') ++ Seq("-cp", prop("graft.cds.classpath"))
    val cwd = Files.createTempDirectory("graft_launch_")
    def at(name: String) = cwd.resolve(name).toString
    DemoDag.writeDesigns(cwd.resolve("designs"))
    val spark = Session.build(2)
    try DemoDag.writeSources(spark, at("data")) finally spark.stop()
    // one forked CLI JVM with its class-load log; returns stdout and
    // the source of every class it loaded
    def cli(command: String, args: String*): (String, Seq[String]) = {
      val out = cwd.resolve(s"$command.out")
      val code = new ProcessBuilder((launch ++
          Seq(s"-Xlog:class+load=info:file=${at(s"$command.classes")}", "graft.Cli", command) ++
          args): _*)
        .directory(cwd.toFile).redirectErrorStream(true).redirectOutput(out.toFile)
        .start().waitFor()
      val text = new String(Files.readAllBytes(out), StandardCharsets.UTF_8)
      assert(code == 0, s"$command exited $code: ${text.takeRight(3000)}")
      val sources = new String(Files.readAllBytes(cwd.resolve(s"$command.classes")),
        StandardCharsets.UTF_8).linesIterator.toSeq
      (text, sources)
    }
    val (_, extract) = cli("extract", "--designs", at("designs"), "--data", at("data"),
      "--out", at("extract"))
    val (loaded, load) = cli("load", "--designs", at("designs"), "--data", at("extract"),
      "--warehouse", at("wh"))
    assert(loaded.contains("[load] rep.sales_by_segment: 3 rows"), loaded)
    assert(Files.exists(cwd.resolve("wh/pointers/rep.sales_by_segment")))
    for ((name, log) <- Seq("extract" -> extract, "load" -> load);
         cls <- Seq("org.apache.spark.sql.execution.datasources.csv.CSVFileFormat",
           "org.apache.parquet.hadoop.ParquetFileWriter",
           "org.apache.hadoop.io.compress.GzipCodec")) {
      val line = log.find(_.contains(s" $cls source: "))
      assert(line.exists(_.endsWith("source: shared objects file (top)")), s"$name: $line")
    }
    // janino's signed jars stay outside any archive (about 500 classes)
    val fromJars = load.count(l => l.contains(" source: file:") && l.endsWith(".jar"))
    assert(fromJars < 1000, s"the load JVM loaded $fromJars classes from jars")
    // neither JVM builds Scala's runtime-reflection universe (0.5-1.4 s
    // each): not the session builder, not MLlib's session extension
    // (its jars are off the classpath), not a TypeTag encoder
    for ((name, log) <- Seq("extract" -> extract, "load" -> load))
      assert(!log.exists(_.contains(" scala.reflect.runtime.JavaUniverse")),
        s"the $name JVM loaded scala.reflect.runtime.JavaUniverse")
    val mllib = prop("graft.cds.classpath").split(java.io.File.pathSeparator)
      .filter(_.contains("spark-mllib"))
    assert(mllib.isEmpty, mllib.mkString(", "))
  }
}
