package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The CLI JVM the build ships: `run / javaOptions` on the exact
  * `Runtime / fullClasspath` must map the class-data-sharing archive
  * the build dumped. The build passes both in (`graft.cds.*`). */
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
}
