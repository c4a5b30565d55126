package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Source lint over `src/main`: a per-JVM cache, a file mtime read or a
  * `/tmp` path appears only in `graft/sources/Tables.scala`, which owns
  * the one value memo (`Tables.memo`), the one source identity and the
  * artifact roots. A second memo or mtime key elsewhere would bring back
  * a freshness rule of its own. `GraftConfig`'s deployment defaults may
  * name `/tmp` paths.
  */
class SourceLintSpec extends AnyFunSuite {
  import SourceLintSpec._

  test("caches, mtime reads and /tmp paths appear only in Tables.scala") {
    val hits = violations(new File("src/main/scala"))
    assert(hits.isEmpty, "outside Tables.scala:\n" + hits.mkString("\n"))
  }

  test("the source lint flags each rule outside its exempt files") {
    val root = java.nio.file.Files.createTempDirectory("graft-lint").toFile
    def put(rel: String): Unit = {
      val f = new File(root, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, Seq(
        "val m = new java.util.concurrent.ConcurrentHashMap[String, Int]()",
        "val t = new java.io.File(p).lastModified",
        "val d = \"/tmp/graft_x\"").mkString("\n").getBytes("UTF-8"))
    }
    try {
      put("graft/operators/X.scala")
      put("graft/sources/Tables.scala")
      put("graft/etl/GraftConfig.scala")
      assert(violations(root) === Seq(
        "graft/etl/GraftConfig.scala:1: ConcurrentHashMap",
        "graft/etl/GraftConfig.scala:2: .lastModified",
        "graft/operators/X.scala:1: ConcurrentHashMap",
        "graft/operators/X.scala:2: .lastModified",
        "graft/operators/X.scala:3: \"/tmp/"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }
}

object SourceLintSpec {

  /** Each pattern with the files (relative paths) allowed to hold it. */
  private val rules: Seq[(String, Set[String])] = Seq(
    "ConcurrentHashMap" -> Set("graft/sources/Tables.scala"),
    ".lastModified" -> Set("graft/sources/Tables.scala"),
    "\"/tmp/" -> Set("graft/sources/Tables.scala", "graft/etl/GraftConfig.scala"))

  /** `path:line: pattern` for every rule broken under `root`, sorted. */
  def violations(root: File): Seq[String] = {
    val walk = java.nio.file.Files.walk(root.toPath)
    val files = try {
      import scala.jdk.CollectionConverters._
      walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
    } finally walk.close()
    files.flatMap { p =>
      val rel = root.toPath.relativize(p).toString.replace(File.separatorChar, '/')
      val lines = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .split("\n", -1).toSeq
      for {
        (line, i) <- lines.zipWithIndex
        (pattern, exempt) <- rules
        if !exempt(rel) && line.contains(pattern)
      } yield s"$rel:${i + 1}: $pattern"
    }.sorted
  }
}
