package graft

import java.io.File
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.Tables

/** Pins the source-identity contract of the per-JVM value memo,
  * [[Tables.memo]]: every value memoized from on-disk state (the IVF
  * quantizer and PQ codebook fits, the events ts encoding, footer row
  * counts) must refresh when a source file is rewritten at the same
  * path — testdata can be regenerated in place, and a stale entry
  * silently serves wrong centroids / the wrong timestamp branch. That
  * holds for a `file:` URI, for a directory-form table whose part file
  * is rewritten in place, and for memo computes that nest.
  * Also pins the on-disk artifact cache, [[Tables.freshStagedDir]]:
  * build-fingerprint, deleted-output, crashed-build, missing-source and
  * rewritten-part-file cases, and q187's one-pair-per-sfDir warehouse
  * cleanup.
  */
class MtimeCacheSpec extends SparkSpec with org.scalatest.BeforeAndAfterEach {

  private val made = scala.collection.mutable.ArrayBuffer.empty[File]

  /** A fresh temp dir, deleted after the test together with the
    * artifact entries keyed on it.
    */
  private def tmpDir(tag: String): File = {
    val d = File.createTempFile(s"graft-$tag", "")
    d.delete(); d.mkdirs(); made += d; d
  }

  override def afterEach(): Unit =
    try {
      val keys = made.map(d => Tables.pathKey(d.getPath)).toSet
      Seq(Tables.Stage, Tables.Index, Tables.StreamSink, Tables.Sorted)
        .flatMap(r => Option(new File(r.path).listFiles).toSeq.flatten)
        .filter(e => keys.exists(e.getName.contains))
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      made.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      made.clear()
    } finally super.afterEach()

  /** Overwrite `file`'s bytes with `from`'s in place (a truncate and
    * write: the directory entry, and so the directory's mtime, stays)
    * and force a strictly newer mtime.
    */
  private def rewriteInPlace(file: File, from: File): Unit = {
    val dirMtime = file.getParentFile.lastModified
    val prevMtime = file.lastModified
    java.nio.file.Files.write(file.toPath,
      java.nio.file.Files.readAllBytes(from.toPath))
    file.setLastModified(math.max(System.currentTimeMillis, prevMtime + 1001))
    assert(file.getParentFile.lastModified === dirMtime,
      "an in-place write must not touch the directory")
  }

  /** Overwrite a single-file parquet "table" at `dir/name.parquet` and
    * force a strictly newer mtime (fs timestamps can be coarse).
    */
  private def writeTable(dir: File, name: String,
      df: org.apache.spark.sql.DataFrame, prevMtime: Long): File = {
    val staging = new File(dir, s"_stage_$name")
    df.coalesce(1).write.mode("overwrite").parquet(staging.getPath)
    val part = staging.listFiles.filter(_.getName.endsWith(".parquet")).head
    val dest = new File(dir, s"$name.parquet")
    if (dest.exists) dest.delete()
    java.nio.file.Files.move(part.toPath, dest.toPath)
    staging.listFiles.foreach(_.delete()); staging.delete()
    dest.setLastModified(math.max(System.currentTimeMillis, prevMtime + 1001))
    dest
  }

  /** A 32-vector corpus of [[Similarity.Dim]]-wide embeddings whose
    * coordinates all lie at or above `shift`.
    */
  private def corpus(shift: Float) = {
    val s = spark
    import s.implicits._
    (0 until 32).map(i => (i.toLong,
        Array.tabulate(Similarity.Dim)(j => shift + i * 0.1f + j), i % 3))
      .toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"),
        $"label".cast("int").as("label"))
  }

  test("ivfQuantizer refreshes when embeddings.parquet is rewritten in place") {
    def refreshes(sfDir: String)(rewrite: () => Unit): Unit = {
      val seeds1 = Similarity.ivfQuantizer(spark, sfDir, 4)
      val cb1 = Similarity.trainedCodebooks(spark, sfDir, 4, 8)
      // same files -> memo hit (identity: the exact same array object)
      assert(Similarity.ivfQuantizer(spark, sfDir, 4) eq seeds1,
        s"$sfDir: unchanged source must be a cache hit")
      assert(Similarity.trainedCodebooks(spark, sfDir, 4, 8) eq cb1,
        s"$sfDir: unchanged source must be a codebook cache hit")
      rewrite()
      val seeds2 = Similarity.ivfQuantizer(spark, sfDir, 4)
      assert(!(seeds2 eq seeds1), s"$sfDir: rewrite must be a cache miss")
      assert(seeds2.head._2.head >= 100.0f, s"$sfDir: fresh centroids must " +
        s"come from the rewritten corpus, got ${seeds2.head._2.head}")
      val cb2 = Similarity.trainedCodebooks(spark, sfDir, 4, 8)
      assert(!(cb2 eq cb1) && !java.util.Arrays.deepEquals(
          cb2.asInstanceOf[Array[AnyRef]], cb1.asInstanceOf[Array[AnyRef]]),
        s"$sfDir: rewrite must refit the trained codebooks")
    }

    // a single-file table, named by a plain path and by a file: URI
    for (uri <- Seq(false, true)) {
      val dir = tmpDir("ivf")
      val f1 = writeTable(dir, "embeddings", corpus(0.0f), 0L)
      refreshes((if (uri) "file:" else "") + dir.getPath) { () =>
        writeTable(dir, "embeddings", corpus(100.0f), f1.lastModified)
      }
    }

    // a directory-form table whose part file is rewritten in place: the
    // directory's own mtime does not move
    val dir = tmpDir("ivf-dir")
    val table = new File(dir, "embeddings.parquet")
    corpus(0.0f).coalesce(1).write.parquet(table.getPath)
    // no checksum sidecars: the rewrite would leave them stale
    table.listFiles.filter(_.getName.endsWith(".crc")).foreach(_.delete())
    val part = table.listFiles.filter(_.getName.endsWith(".parquet")).head
    val regen =
      writeTable(tmpDir("ivf-regen"), "embeddings", corpus(100.0f), 0L)
    refreshes(dir.getPath)(() => rewriteInPlace(part, regen))
  }

  test("a cold trainedCodebooks call fits the quantizer it nests") {
    // the codebook fit starts from the quantizer fit, and both go
    // through the one memo: the nested miss must not be refused as a
    // recursive update
    val dir = tmpDir("cb-cold")
    writeTable(dir, "embeddings", corpus(0.0f), 0L)
    val cb = Similarity.trainedCodebooks(spark, dir.getPath, 4, 8)
    assert(cb.length === 8 && cb.forall(_.length === 4))
    assert(Similarity.trainedCodebooks(spark, dir.getPath, 4, 8) eq cb)
    val seeds = Similarity.ivfQuantizer(spark, dir.getPath, 4)
    assert(Similarity.ivfQuantizer(spark, dir.getPath, 4) eq seeds,
      "the nested quantizer fit must be memoized too")
  }

  test("q134 staging reuses the split until events.parquet is rewritten") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("stage")
    def events(base: Long) = (0 until 20).map(i =>
        (base + i, java.sql.Timestamp.from(
          java.time.Instant.parse("2024-01-01T00:00:00Z")
            .plusSeconds(i * 3600L)),
          i.toLong % 5, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val f1 = writeTable(dir, "events", events(0L), 0L)

    val staging = new File(graft.streaming.EventStreams
      .stageChronologicalEvents(spark, dir.getPath, 2))
    val staged = staging.listFiles.filter(_.getName.endsWith(".parquet"))
    assert(staged.length === 2)

    // cache hit: same source + same split must NOT rebuild (the staged
    // files keep their pinned ~1970 mtimes across the second call)
    val pinnedMtimes = staged.map(f => f.getName -> f.lastModified).toMap
    graft.streaming.EventStreams.stageChronologicalEvents(spark, dir.getPath, 2)
    staging.listFiles.filter(_.getName.endsWith(".parquet")).foreach(f =>
      assert(f.lastModified === pinnedMtimes(f.getName),
        "same source mtime must reuse the staging, not rewrite it"))

    // a staged data file lost under a still-fresh marker (an age-based
    // /tmp cleaner removes ~1970-mtime files but keeps the fresher
    // marker) must be a cache MISS: the marker alone is not proof
    staged.head.delete()
    graft.streaming.EventStreams.stageChronologicalEvents(spark, dir.getPath, 2)
    assert(new File(staging, staged.head.getName).exists,
      "missing staged file must trigger a rebuild")

    // different nFiles -> miss; rewrite source -> miss (fresh split)
    writeTable(dir, "events", events(100L), f1.lastModified)
    graft.streaming.EventStreams.stageChronologicalEvents(spark, dir.getPath, 2)
    val rebuilt = staging.listFiles.filter(_.getName.endsWith(".parquet"))
    assert(rebuilt.length === 2, "rewritten source must rebuild the staging")
    val ids = spark.read.parquet(staging.getPath + "/b0000.parquet")
      .select("event_id").collect().map(_.getLong(0))
    assert(ids.forall(_ >= 100L), "rebuilt staging must hold the new rows")
  }

  /** A scratch source plus a [[Tables.freshStagedDir]] call over it
    * whose build writes `part/_SUCCESS` and counts its runs. The source
    * is the file `src.bin`, or with `dirForm` the directory `src`
    * holding the one file `part-0.bin`.
    */
  private class Staged(tag: String, dirForm: Boolean = false) {
    val dir: File = tmpDir(tag)
    val src: File = new File(dir, if (dirForm) "src" else "src.bin")
    val srcFile: File = if (dirForm) new File(src, "part-0.bin") else src
    srcFile.getParentFile.mkdirs()
    java.nio.file.Files.write(srcFile.toPath, "v1".getBytes("UTF-8"))
    val out: File = new File(dir, "out")
    val marker: File = new File(out, "_graft_stage_key")
    val success: File = new File(out, "part/_SUCCESS")
    var builds = 0
    def stage(): String =
      Tables.freshStagedDir(spark, out.getPath, Seq(src.getPath), "dial",
          Seq("part/_SUCCESS")) { p =>
        builds += 1
        new File(p, "part").mkdirs()
        java.nio.file.Files.write(new File(p, "part/_SUCCESS").toPath,
          Array.emptyByteArray)
      }
  }

  test("freshStagedDir rebuilds a marker written under another build fingerprint") {
    val st = new Staged("fp")
    st.stage(); st.stage()
    assert(st.builds === 1, "same sources, dials and build must reuse")
    val key = new String(java.nio.file.Files.readAllBytes(st.marker.toPath), "UTF-8")
    assert(key.contains(Tables.buildFingerprint),
      s"marker key does not carry the build fingerprint: $key")
    java.nio.file.Files.write(st.marker.toPath,
      key.replace(Tables.buildFingerprint, "0" * 32).getBytes("UTF-8"))
    st.stage()
    assert(st.builds === 2, "an artifact from another build must be rebuilt")
  }

  test("freshStagedDir rebuilds when a required _SUCCESS is gone under a fresh marker") {
    val st = new Staged("req")
    st.stage()
    assert(st.success.delete())
    st.stage()
    assert(st.builds === 2 && st.success.exists,
      "a fresh marker alone must not vouch for a deleted output")
  }

  test("freshStagedDir: a build that throws leaves no marker; the next call rebuilds") {
    val st = new Staged("crash")
    intercept[IllegalStateException] {
      Tables.freshStagedDir(spark, st.out.getPath, Seq(st.src.getPath),
          "dial", Seq("part/_SUCCESS")) { p =>
        new File(p, "part").mkdirs()
        java.nio.file.Files.write(new File(p, "part/_SUCCESS").toPath,
          Array.emptyByteArray)
        throw new IllegalStateException("build died")
      }
    }
    assert(!st.marker.exists, "a failed build must not leave a marker")
    st.stage()
    assert(st.builds === 1 && st.marker.exists,
      "the call after a failed build must rebuild")
  }

  test("freshStagedDir fails on a missing source and keeps the staged dir") {
    val st = new Staged("missing")
    st.stage()
    assert(st.src.delete())
    val e = intercept[IllegalArgumentException](st.stage())
    assert(e.getMessage.contains("mtime 0 would freeze the artifact key") &&
      e.getMessage.contains(st.src.getPath), e.getMessage)
    assert(st.success.exists && st.marker.exists,
      "a missing source must fail before anything is deleted")
    assert(st.builds === 1)
  }

  test("freshStagedDir rebuilds when a directory source's part file is rewritten in place") {
    val st = new Staged("dirsrc", dirForm = true)
    st.stage(); st.stage()
    assert(st.builds === 1, "an unchanged directory source must reuse")
    val regen = new File(tmpDir("dirsrc-regen"), "part-0.bin")
    java.nio.file.Files.write(regen.toPath, "v2".getBytes("UTF-8"))
    rewriteInPlace(st.srcFile, regen)
    st.stage()
    assert(st.builds === 2,
      "a part file rewritten under an unchanged directory must rebuild")
  }

  test("codeFingerprint changes when one class file's bytes change") {
    val cls = tmpDir("classes")
    def put(rel: String, body: String): Unit = {
      val f = new File(cls, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
    }
    put("graft/A.class", "a")
    put("graft/sources/B.class", "b")
    val f1 = Tables.codeFingerprint(cls)
    assert(Tables.codeFingerprint(cls) === f1, "fingerprint must be stable")
    put("graft/sources/B.class", "c")
    val f2 = Tables.codeFingerprint(cls)
    assert(f2 !== f1, "a changed class file must change the fingerprint")
    put("graft/sources/B.class", "b")
    assert(Tables.codeFingerprint(cls) === f1)
  }

  test("q187 keeps one bucketed table pair per sfDir across a source rewrite") {
    val dir = tmpDir("bucketed")
    def copy(t: String, mtime: Long): Unit = {
      val dest = new File(dir, s"$t.parquet")
      java.nio.file.Files.copy(new File(sf0001, s"$t.parquet").toPath,
        dest.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dest.setLastModified(mtime)
    }
    val t0 = System.currentTimeMillis - 60000L
    copy("lineitem", t0)
    copy("orders", t0)
    val pk = Tables.pathKey(dir.getPath)
    val wh = new File(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    def entries(prefix: String): Seq[String] =
      Option(wh.list()).toSeq.flatten.filter(_.startsWith(s"${prefix}_${pk}_"))
    try {
      val first = graft.operators.Layout.bucketedJoinRollup(spark, dir.getPath)
        .collect().toSeq
      copy("lineitem", t0 + 10000L)
      val second = graft.operators.Layout.bucketedJoinRollup(spark, dir.getPath)
        .collect().toSeq
      assert(second === first)
      val li = entries("graft_b_li")
      val ord = entries("graft_b_ord")
      assert(li.size === 1 && ord.size === 1,
        s"warehouse holds stale bucketed tables: ${li ++ ord}")
      assert(li.head.endsWith(s"_${t0 + 10000L}_$t0"),
        s"the kept pair is not the rewritten source's: ${li.head}")
    } finally (entries("graft_b_li") ++ entries("graft_b_ord")).foreach { t =>
      graft.etl.Catalog.dropTable(spark, t)
      org.apache.commons.io.FileUtils.deleteQuietly(new File(wh, t))
    }
  }

  test("eventsTsIsNanos refreshes when events.parquet is rewritten in place") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("events-enc")
    // micros encoding: a real TimestampType column
    val micros = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        7L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val f1 = writeTable(dir, "events", micros, 0L)
    assert(!Tables.eventsTsIsNanos(spark, f1.getPath),
      "TimestampType column must sniff as micros")

    // "nanos" encoding: under nanosAsLong a NANOS column surfaces as
    // LongType; a raw INT64 column is indistinguishable at the sniff
    // layer, which is exactly what the detector keys on
    val nanos = Seq((1L, 1700000000000000000L, 7L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val f2 = writeTable(dir, "events", nanos, f1.lastModified)
    assert(Tables.eventsTsIsNanos(spark, f2.getPath),
      "rewritten LongType ts must be re-sniffed as nanos (mtime cache miss)")
  }

  test("eventsRows refreshes when events.parquet is overwritten byte-for-byte in place") {
    val s = spark
    import s.implicits._
    def events(n: Int) = (0 until n).map(i => (i.toLong,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), i % 5L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tmpDir("events-rows")
    val f = writeTable(dir, "events", events(20), 0L)
    assert(Tables.eventsRows(spark, dir.getPath) === 20)

    // regenerate elsewhere, then truncate-and-write the same file: its
    // directory entry is untouched, so only the file's own length and
    // mtime say it changed
    rewriteInPlace(f,
      writeTable(tmpDir("events-rows-regen"), "events", events(35), 0L))
    assert(Tables.eventsRows(spark, dir.getPath) === 35,
      "the regenerated file's footer must be read again")
  }
}
