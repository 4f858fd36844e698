package graft.store

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Test-only counting FileSystem: RawLocalFileSystem under the `cntfs:`
  * scheme that records every open() — the observable for "which files did
  * this read actually touch". Parquet footer reads and data reads both go
  * through open(), so a verb that sweeps footers is caught even when it
  * never reads a data page. */
class CountingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "cntfs"
  override def getUri: java.net.URI = java.net.URI.create("cntfs:///")
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    CountingLocalFs.opened.add(f.toUri.getPath)
    val in = super.open(f, bufferSize)
    if (f.toUri.getPath.endsWith(".parquet"))
      new org.apache.hadoop.fs.FSDataInputStream(
        new CountingLocalFs.CountingStream(in))
    else in
  }
}
object CountingLocalFs {
  val opened: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Bytes actually read from .parquet files — the observable for "did
    * column pruning reach the IO layer" (a pruned scan reads only its
    * columns' chunks; a full-width one reads every chunk). */
  val bytesRead = new java.util.concurrent.atomic.AtomicLong()
  def reset(): Unit = { opened.clear(); bytesRead.set(0L) }
  def openedParquet: Set[String] = {
    import scala.jdk.CollectionConverters._
    opened.asScala.toSet.filter(_.endsWith(".parquet"))
  }

  /** Delegating seekable stream that counts every byte handed out. */
  final class CountingStream(in: org.apache.hadoop.fs.FSDataInputStream)
      extends java.io.InputStream
      with org.apache.hadoop.fs.Seekable
      with org.apache.hadoop.fs.PositionedReadable {
    override def read(): Int = {
      val r = in.read(); if (r >= 0) bytesRead.incrementAndGet(); r
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val r = in.read(b, off, len); if (r > 0) bytesRead.addAndGet(r.toLong); r
    }
    override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = {
      val r = in.read(pos, b, off, len)
      if (r > 0) bytesRead.addAndGet(r.toLong)
      r
    }
    override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
      in.readFully(pos, b, off, len); bytesRead.addAndGet(len.toLong); ()
    }
    override def readFully(pos: Long, b: Array[Byte]): Unit = {
      in.readFully(pos, b); bytesRead.addAndGet(b.length.toLong); ()
    }
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(targetPos: Long): Boolean =
      in.seekToNewSource(targetPos)
    override def close(): Unit = in.close()
  }
}

/**
 * Files-opened pins for the pruned read verbs (round-15): with per-file
 * schemas recorded in the manifest, scanWhere / countWhere / topK must open
 * parquet files ONLY for admitted candidates — the union-schema derivation
 * must not sweep every footer of the version (the O(table-files)
 * object-store-GET defect the round-14 verdict named as its top item).
 */
class FileOpenAuditSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set("fs.cntfs.impl", classOf[CountingLocalFs].getName)

  /** A 12-file range-clustered table on the counting scheme. */
  private def fixture(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft-openaudit")
    val base = s"cntfs:$root/t"
    val df = (1L to 1200L).map(i => (i, s"v$i")).toDF("id", "s")
      .repartitionByRange(12, col("id"))
    Snapshots.write(df, base, statsKey = Some("id"))
    base
  }

  private def assertOpensWithin(admitted: Seq[Snapshots.ManifestEntry],
                                what: String): Unit = {
    val opened = CountingLocalFs.openedParquet
    val stray = opened.filterNot(p => admitted.exists(e => p.endsWith(e.path)))
    assert(stray.isEmpty,
      s"$what opened files outside its admitted set " +
        s"(union-schema footer sweep is back?): ${stray.mkString(", ")}")
  }

  test("scanWhere opens parquet footers ONLY for admitted files") {
    val base = fixture()
    assert(Snapshots.manifestUnionSchema(
      Snapshots.manifestLines(spark, base, 1L)).isDefined,
      "commit must have recorded per-file schemas")
    val (cand, pruned) = Snapshots.scanPlan(spark, base, col("id") === 700L)
    assert(cand.size == 1 && pruned.size == 11, s"${cand.size}/${pruned.size}")
    CountingLocalFs.reset()
    val rows = Snapshots.scanWhere(spark, base, col("id") === 700L).collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 700L)
    assertOpensWithin(cand, "scanWhere")
    assert(CountingLocalFs.openedParquet.nonEmpty, "the one candidate IS read")
  }

  test("a repeated scanWhere opens no parquet file; after an append only the appended one") {
    val base = fixture()
    val pred = col("id") >= 1150L
    Snapshots.scanWhere(spark, base, pred).collect()
    CountingLocalFs.reset()
    assert(Snapshots.scanWhere(spark, base, pred).collect().length == 51)
    assert(CountingLocalFs.openedParquet.isEmpty,
      s"a warm scanWhere opened ${CountingLocalFs.openedParquet.mkString(", ")}")
    val v = Snapshots.append((1201L to 1300L).map(i => (i, s"v$i")).toDF("id", "s").coalesce(1),
      base, statsKey = Some("id"))
    val added = Snapshots.manifestFiles(spark, base, v).filter(_.startsWith(s"v=$v/"))
    assert(added.size == 1)
    CountingLocalFs.reset()
    assert(Snapshots.scanWhere(spark, base, pred).collect().length == 151)
    assert(CountingLocalFs.openedParquet.size == 1 &&
      CountingLocalFs.openedParquet.head.endsWith(added.head),
      s"the first read after the append opened ${CountingLocalFs.openedParquet.mkString(", ")}")
  }

  test("candidates whose rows outgrow the size bound read distributed, loaded on the driver once") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    def cached(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])
    def withThreshold[T](bytes: Long)(body: => T): T = {
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, bytes.toString)
      try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    val base = s"cntfs:${java.nio.file.Files.createTempDirectory("graft-openaudit-wide")}/t"
    // two files of 1000 rows, about 530 KB of rows in memory each; the
    // repeated string dictionary-encodes, so each file is a few KB on disk
    val pad = "x" * 500
    Snapshots.write((1L to 1000L).map(i => (i, pad)).toDF("id", "s").coalesce(1), base,
      statsKey = Some("id"))
    Snapshots.append((1001L to 2000L).map(i => (i, pad)).toDF("id", "s").coalesce(1), base,
      statsKey = Some("id"))
    val onDisk = Snapshots.scanPlan(spark, base, col("id") > 0L)._1.map(_.bytes.get)
    assert(onDisk.size == 2 && onDisk.sum < 200000L, onDisk.toString)
    def ids(df: org.apache.spark.sql.DataFrame) = df.select("id").as[Long].collect().sorted.toSeq

    withThreshold(300000L) {
      // one file under the bound on disk, its rows above it: the first call
      // loads it on the driver and finds out, the next does not load it
      CountingLocalFs.reset()
      val first = Snapshots.scanWhere(spark, base, col("id") === 7L)
      assert(!cached(first) && CountingLocalFs.openedParquet.size == 1)
      assert(ids(first) == Seq(7L))
      CountingLocalFs.reset()
      val again = Snapshots.scanWhere(spark, base, col("id") === 8L)
      assert(!cached(again) && CountingLocalFs.openedParquet.isEmpty)
      assert(ids(again) == Seq(8L))
      assert(Snapshots.countWhere(spark, base, col("id") <= 500L) == 500L)
    }
    withThreshold(800000L) {
      // one file fits: served from the cache
      val one = Snapshots.scanWhere(spark, base, col("id") <= 10L)
      assert(cached(one) && ids(one) == (1L to 10L))
      // each file fits, their rows together do not: the distributed plan,
      // and a repeat loads nothing on the driver
      val both = Snapshots.scanWhere(spark, base, col("id") % 500L === 0L)
      assert(!cached(both) && ids(both) == Seq(500L, 1000L, 1500L, 2000L))
      CountingLocalFs.reset()
      val bothAgain = Snapshots.scanWhere(spark, base, col("id") % 500L === 0L)
      assert(!cached(bothAgain) && CountingLocalFs.openedParquet.isEmpty)
      assert(ids(bothAgain) == Seq(500L, 1000L, 1500L, 2000L))
    }
  }

  test("countWhere opens only boundary files; proven files stay closed") {
    val base = fixture()
    CountingLocalFs.reset()
    val n = Snapshots.countWhere(spark, base,
      col("id") >= 250L && col("id") <= 850L)
    assert(n == 601L)
    // [301,800] is proven by stats+rowcounts; only the two boundary files
    // ([201,300] and [801,900]) may be opened
    val boundary = Snapshots.scanPlan(spark, base,
      col("id") >= 250L && col("id") <= 850L)._1
      .filter(e => e.stats.exists { case (_, _, mn, mx) =>
        mn.toLong < 250L || mx.toLong > 850L })
    assert(boundary.size == 2)
    assertOpensWithin(boundary, "countWhere")
  }

  test("topK opens only the files whose bounds can reach the k-th value") {
    val base = fixture()
    CountingLocalFs.reset()
    val top = Snapshots.topK(spark, base, "id", 5).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(1200L, 1199L, 1198L, 1197L, 1196L))
    // the single best-bounded file ([1101,1200]) decides the k-th value and
    // excludes every other file; nothing else may be opened
    val best = Snapshots.scanPlan(spark, base, col("id") >= 0L)._1
      .sortBy(e => -e.stats.get._4.toLong).take(1)
    assert(best.head.stats.get._4 == "1200")
    assertOpensWithin(best, "topK")
  }

  test("pre-upgrade manifests (no recorded schemas) fall back and stay correct") {
    val base = fixture()
    // strip the schema metadata in place: a manifest written before round 15
    val mf = new java.io.File(
      s"${base.stripPrefix("cntfs:")}/v=1/_manifest")
    val stripped = scala.io.Source.fromFile(mf).getLines()
      .filterNot(_.startsWith("S:"))
      .map(_.replaceAll("\\t#s=\\d+", "")).mkString("\n") + "\n"
    java.nio.file.Files.writeString(mf.toPath, stripped)
    new java.io.File(s"${base.stripPrefix("cntfs:")}/v=1/._manifest.crc").delete()
    val lines = Snapshots.manifestLines(spark, base, 1L)
    assert(Snapshots.manifestUnionSchema(lines).isEmpty, "legacy manifest")
    // the legacy path still answers correctly (footer sweep, not a crash)
    val rows = Snapshots.scanWhere(spark, base, col("id") === 700L).collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 700L)
    assert(Snapshots.countWhere(spark, base, col("id") <= 100L) == 100L)
  }
}
