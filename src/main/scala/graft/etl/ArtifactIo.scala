package graft.etl

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Small-file I/O for extract/unload artifacts (manifest.json,
  * columns.yaml, `_SUCCESS` probes) through the Hadoop FileSystem
  * API, so the artifact contract works on ANY scheme the cluster
  * reads — HDFS, object stores, local — not just `java.io.File`
  * paths. These are metadata-sized driver-side writes (one small
  * file per relation), never data-plane I/O. */
private[etl] object ArtifactIo {

  private def conf: Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def fsFor(p: Path): FileSystem = p.getFileSystem(conf)

  def exists(path: String): Boolean = {
    val p = new Path(path)
    fsFor(p).exists(p)
  }

  /** All FILE paths under a directory, relative to it ('/'-joined) —
    * what a manifest over a partitioned (nested `col=value/`) export
    * needs. */
  def listFilesRecursive(dir: String): Seq[String] = {
    val root = new Path(dir)
    val fs = fsFor(root)
    def walk(p: Path, prefix: String): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val name = st.getPath.getName
        val rel = if (prefix.isEmpty) name else s"$prefix/$name"
        if (st.isDirectory) walk(st.getPath, rel) else Seq(rel)
      }
    walk(root, "")
  }

  def writeText(path: String, text: String): Unit = {
    val p = new Path(path)
    val out = fsFor(p).create(p, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def readText(path: String): String = {
    val p = new Path(path)
    val in = fsFor(p).open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }
}
