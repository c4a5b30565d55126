package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.desc

import graft.etl.{Pipeline, RetailDataGen}
import graft.sources.{GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem}

/** The graft local file system: the session's local file I/O starts no
  * `chmod` or `readlink` process, and files, directories and links look
  * the same as through Hadoop's stock `RawLocalFileSystem`.
  */
class LocalFsSpec extends SparkSpec {

  private def tmpDir(tag: String): File =
    Files.createTempDirectory(s"graft_$tag").toFile

  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff

  private def raw(fs: RawLocalFileSystem, umask: String): RawLocalFileSystem = {
    val conf = new Configuration(false)
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(new URI("file:///"), conf)
    fs
  }

  test("a streaming query, a parquet write and Pipeline.run start no chmod or readlink process") {
    val dir = tmpDir("forks")
    val jfr = new File(dir, "audit.jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      SparkEntry.queries("q124_streaming_hourly")(spark, sf0001).collect()
      spark.range(0, 1000).orderBy(desc("id"))
        .write.parquet(new File(dir, "sorted").getPath)
      RetailDataGen.writeAll(spark, s"$dir/raw", baseRows = 100)
      Pipeline.run(spark, s"$dir/raw", s"$dir/staging", s"$dir/warehouse")
    } finally {
      rec.stop()
      rec.dump(jfr.toPath)
      rec.close()
    }
    try {
      val commands = RecordingFile.readAllEvents(jfr.toPath).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
      val forks = commands.filter { c =>
        val exe = c.trim.split("\\s+").head
        Set("chmod", "readlink")(exe.substring(exe.lastIndexOf('/') + 1))
      }
      assert(forks.isEmpty,
        s"${forks.size} chmod/readlink processes, e.g. ${forks.take(3).mkString("; ")}")
      assert(spark.read.parquet(s"$dir/warehouse/fact_sales").count() === 500)
    } finally FileUtils.deleteQuietly(dir)
  }

  test("files and directories get the stock modes under the same umask") {
    val dir = tmpDir("modes")
    try Seq("022", "077", "002").foreach { umask =>
      val stock = raw(new RawLocalFileSystem, umask)
      val graft = raw(new GraftRawLocalFileSystem, umask)
      // (new directory, new file, file after chmod 750, directory after chmod 1777)
      def made(fs: RawLocalFileSystem, tag: String): Seq[Int] = {
        val d = new Path(s"file:$dir/$tag-$umask/sub")
        assert(fs.mkdirs(d))
        val f = new Path(d, "part-0")
        fs.create(f).close()
        val created = Seq(mode(fs.pathToFile(d)), mode(fs.pathToFile(f)))
        fs.setPermission(f, new FsPermission("750"))
        fs.setPermission(d, new FsPermission("1777"))
        created ++ Seq(mode(fs.pathToFile(f)), mode(fs.pathToFile(d)))
      }
      val want = made(stock, "stock")
      assert(made(graft, "graft") === want, s"umask $umask")
      assert(want.drop(2) === Seq(Integer.parseInt("750", 8), Integer.parseInt("1777", 8)))

      // the FileContext path (streaming logs, state store) hands the raw
      // file system an FsCreateModes, whose masked mode must be the one set
      def madeByContext(impl: String, tag: String): Seq[Int] = {
        val conf = new Configuration(spark.sessionState.newHadoopConf())
        conf.set("fs.AbstractFileSystem.file.impl", impl)
        conf.set("fs.permissions.umask-mode", umask)
        val fc = FileContext.getFileContext(new URI("file:///"), conf)
        val d = new Path(s"file:$dir/fc-$tag-$umask/sub")
        fc.mkdir(d, FsPermission.getDirDefault, true)
        val f = new Path(d, "offsets-0")
        fc.create(f, java.util.EnumSet.of(CreateFlag.CREATE)).close()
        Seq(mode(new File(d.toUri.getPath)), mode(new File(f.toUri.getPath)))
      }
      assert(madeByContext(classOf[GraftLocalFs].getName, "graft") ===
        madeByContext("org.apache.hadoop.fs.local.LocalFs", "stock"), s"FileContext, umask $umask")
    } finally FileUtils.deleteQuietly(dir)
  }

  test("getFileLinkStatus matches the stock file system for links, files, directories and misses") {
    val dir = tmpDir("links")
    try {
      val target = new File(dir, "target.txt")
      Files.write(target.toPath, "abc".getBytes)
      Files.createSymbolicLink(Paths.get(s"$dir/link"), target.toPath)
      new File(dir, "subdir").mkdir()
      val stock = raw(new RawLocalFileSystem, "022")
      val graft = raw(new GraftRawLocalFileSystem, "022")
      def fields(s: FileStatus) = (s.getPath, s.isSymlink, s.isDirectory, s.getLen,
        if (s.isSymlink) s.getSymlink else null, s.getModificationTime)
      for (name <- Seq("link", "target.txt", "subdir"); qualified <- Seq(true, false)) {
        val p = if (qualified) new Path(s"file:$dir/$name") else new Path(s"$dir/$name")
        assert(fields(graft.getFileLinkStatus(p)) === fields(stock.getFileLinkStatus(p)),
          s"$name qualified=$qualified")
      }
      // the link itself, not its target, when Hadoop can read it
      assert(graft.getFileLinkStatus(new Path(s"$dir/link")).isSymlink)
      val missing = new Path(s"file:$dir/missing")
      intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
      intercept[FileNotFoundException](graft.getFileLinkStatus(missing))
    } finally FileUtils.deleteQuietly(dir)
  }

  test("the session's file: scheme resolves to the graft classes, and a stock one fails the check") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(new URI("file:///"), conf).isInstanceOf[GraftLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[GraftLocalFileSystem])
    assert(FileContext.getFileContext(new URI("file:///"), conf)
      .getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    assert(FileContext.getLocalFSFileContext(conf)
      .getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    GraftLocalFs.requireResolved(conf)

    val stockContext = new Configuration(conf)
    stockContext.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    intercept[IllegalArgumentException](GraftLocalFs.requireResolved(stockContext))
    // an uncached stock FileSystem stands in for one cached before the session
    val stockFs = new Configuration(conf)
    stockFs.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    stockFs.setBoolean("fs.file.impl.disable.cache", true)
    intercept[IllegalArgumentException](GraftLocalFs.requireResolved(stockFs))
  }
}
