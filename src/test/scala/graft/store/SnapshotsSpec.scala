package graft.store

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Snapshot-on-write, time travel, and expiry over the versioned layout. */
class SnapshotsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Input records read by Spark while `body` runs (listener-bus settled). */
  private def recordsReadDuring(body: => Unit): Long = {
    val recs = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) recs.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var prev = -1L; var n = 0
      while (n < 100 && prev != recs.get()) { prev = recs.get(); Thread.sleep(20); n += 1 }
    } finally spark.sparkContext.removeSparkListener(l)
    recs.get()
  }

  /** Runs `body` with every point read on its distributed plan (the
    * driver-side row cache serves no file above 1 byte), where the
    * boundary scans' records show in task metrics. */
  private def distributed[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("write → time travel → expire round trip") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/t"

    val v1 = Snapshots.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), base)
    val v2 = Snapshots.write(Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("id", "s"), base)
    assert(v1 == 1L && v2 == 2L)
    assert(Snapshots.versions(spark, base) == Seq(1L, 2L))

    // latest sees the update+insert; VERSION AS OF 1 sees the original
    val latest = Snapshots.read(spark, base).as[(Long, String)].collect().toSet
    assert(latest == Set((1L, "a"), (2L, "B"), (3L, "c")))
    val asOf1 = Snapshots.read(spark, base, Some(1L)).as[(Long, String)].collect().toSet
    assert(asOf1 == Set((1L, "a"), (2L, "b")))

    // a third version, then expire to the newest 2
    Snapshots.write(Seq((9L, "z")).toDF("id", "s"), base)
    val dropped = Snapshots.expire(spark, base, keep = 2)
    assert(dropped == Seq(1L))
    assert(Snapshots.versions(spark, base) == Seq(2L, 3L))
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, base, Some(1L))
    }
  }

  test("appendStream is idempotent per (appId, batchId); other apps are independent") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/t"
    val v1 = Snapshots.appendStream(Seq((1L, "a")).toDF("id", "s"), base, "appA", 0L)
    assert(v1 == 1L && Snapshots.lastStreamBatch(spark, base, "appA").contains(0L))
    // a replay of the same (or an older) batch id is a no-op commit
    assert(Snapshots.appendStream(Seq((1L, "a")).toDF("id", "s"), base, "appA", 0L) == 1L)
    assert(Snapshots.versions(spark, base) == Seq(1L), "replay must not add a version")
    // the next batch commits and advances the marker
    val v2 = Snapshots.appendStream(Seq((2L, "b")).toDF("id", "s"), base, "appA", 1L)
    assert(v2 == 2L && Snapshots.lastStreamBatch(spark, base, "appA").contains(1L))
    assert(Snapshots.read(spark, base).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // a DIFFERENT query's batch 0 is not confused with appA's
    assert(Snapshots.lastStreamBatch(spark, base, "appB").isEmpty)
    val v3 = Snapshots.appendStream(Seq((3L, "c")).toDF("id", "s"), base, "appB", 0L)
    assert(v3 == 3L && Snapshots.lastStreamBatch(spark, base, "appA").contains(1L))
  }

  test("mergeInto upserts by key into a new snapshot; diff classifies the CDC") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-merge").toString + "/t"
    Snapshots.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), base)
    val v2 = Snapshots.mergeInto(spark, base,
      Seq((2L, "B2"), (4L, "d")).toDF("id", "s"), key = "id")
    assert(v2 == 2L)
    val merged = Snapshots.read(spark, base).as[(Long, String)].collect().toSet
    assert(merged == Set((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")))

    val cdc = Snapshots.diff(spark, base, 1L, 2L, "id")
      .as[(Long, String)].collect().toMap
    assert(cdc == Map(2L -> "update", 4L -> "insert"))

    // a delete shows up when a version drops a key
    Snapshots.write(Snapshots.read(spark, base).filter(col("id") =!= 1L), base)
    val cdc2 = Snapshots.diff(spark, base, 2L, 3L, "id")
      .as[(Long, String)].collect().toMap
    assert(cdc2 == Map(1L -> "delete"))
  }

  test("reading an empty base fails loudly, never returns an empty frame") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-empty").toString + "/t"
    intercept[IllegalArgumentException] { Snapshots.read(spark, base) }
  }

  test("append shares unchanged files: v2 write cost is proportional to the delta") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-append").toString + "/t"
    val v1 = Snapshots.write((1L to 1000L).map(i => (i, s"r$i")).toDF("id", "s"), base)
    val m1 = Snapshots.manifestFiles(spark, base, v1)
    val v2 = Snapshots.append(Seq((1001L, "x"), (1002L, "y")).toDF("id", "s"), base)
    val m2 = Snapshots.manifestFiles(spark, base, v2)
    // every v1 file is inherited by reference, not copied
    assert(m1.forall(m2.contains), s"v1 files missing from v2 manifest: $m1 vs $m2")
    // the only NEW files are under v=2 and hold only the delta rows
    val own = m2.filterNot(m1.contains)
    assert(own.nonEmpty && own.forall(_.startsWith("v=2/")), own.toString)
    val ownRows = spark.read.parquet(own.map(p => s"$base/$p"): _*).count()
    assert(ownRows == 2L, s"delta files must hold exactly the delta, got $ownRows")
    // both versions read correctly through their manifests
    assert(Snapshots.read(spark, base, Some(v1)).count() == 1000L)
    assert(Snapshots.read(spark, base).count() == 1002L)
    // expiring v1 must NOT break v2: shared files survive the expiry
    assert(Snapshots.expire(spark, base, keep = 1) == Seq(v1))
    assert(Snapshots.versions(spark, base) == Seq(v2))
    assert(Snapshots.read(spark, base).count() == 1002L)
  }

  test("mergeInto rewrites only files containing matched keys (copy-on-write)") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-cow").toString + "/t"
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "s").repartition(4, col("id"))
    Snapshots.write(df, base)
    val m1 = Snapshots.manifestFiles(spark, base, 1L)
    assert(m1.size >= 2, s"fixture needs multiple files, got $m1")
    // point-update ONE key → exactly the file holding it is rewritten
    Snapshots.mergeInto(spark, base, Seq((1L, "UPDATED")).toDF("id", "s"), "id")
    val m2 = Snapshots.manifestFiles(spark, base, 2L)
    val inherited = m1.filter(m2.contains)
    assert(m1.size - inherited.size == 1,
      s"expected exactly 1 rewritten file, got ${m1.size - inherited.size}")
    val rows = Snapshots.read(spark, base).as[(Long, String)].collect().toMap
    assert(rows.size == 100 && rows(1L) == "UPDATED" && rows(50L) == "v50")
    // insert-only merge touches no existing file: everything is inherited
    Snapshots.mergeInto(spark, base, Seq((200L, "new")).toDF("id", "s"), "id")
    val m3 = Snapshots.manifestFiles(spark, base, 3L)
    assert(m2.forall(m3.contains), "insert-only merge must inherit every file")
    assert(Snapshots.read(spark, base).count() == 101L)
  }

  test("deleteWhere rewrites only files containing matches; NULL predicate rows survive") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-del").toString + "/t"
    val df = (1L to 100L).map(i => (i, if (i == 7L) null else s"v$i"))
      .toDF("id", "s").repartition(4, col("id"))
    Snapshots.write(df, base)
    val m1 = Snapshots.manifestFiles(spark, base, 1L)
    assert(m1.size >= 2)
    // delete ONE key → exactly its file is rewritten
    Snapshots.deleteWhere(spark, base, col("id") === 1L)
    val m2 = Snapshots.manifestFiles(spark, base, 2L)
    assert(m1.count(!m2.contains(_)) == 1, s"expected 1 rewritten file: $m1 -> $m2")
    assert(Snapshots.read(spark, base).count() == 99L)
    // predicate NULL on a row (s is null for id=7) must KEEP that row
    Snapshots.deleteWhere(spark, base, col("s") === "v8")
    val rows = Snapshots.read(spark, base).select("id").as[Long].collect().toSet
    assert(!rows.contains(8L) && rows.contains(7L) && rows.size == 98)
    // delete-nothing commits a snapshot inheriting every file
    val m3 = Snapshots.manifestFiles(spark, base, 3L)
    Snapshots.deleteWhere(spark, base, col("id") === -1L)
    val m4 = Snapshots.manifestFiles(spark, base, 4L)
    assert(m3.forall(m4.contains) && Snapshots.read(spark, base).count() == 98L)
  }

  test("compact bin-packs small files, inherits big ones, content identical") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-compact").toString + "/t"
    // one big-ish file, then many small appends — the small-file problem
    Snapshots.write((1L to 2000L).map(i => (i, s"row$i")).toDF("id", "s").coalesce(1), base)
    (1 to 5).foreach { k =>
      Snapshots.append(Seq((2000L + k, s"delta$k")).toDF("id", "s").coalesce(1), base)
    }
    val before = Snapshots.manifestFiles(spark, base, 6L)
    assert(before.size == 6)
    val content = Snapshots.read(spark, base).as[(Long, String)].collect().toSet
    // threshold between the delta-file size and the 2000-row file size
    val v7 = Snapshots.compact(spark, base, smallBytes = 4096, targetBytes = 1L << 20)
    assert(v7 == 7L)
    val after = Snapshots.manifestFiles(spark, base, v7)
    assert(after.size < before.size, s"compaction must reduce file count: $before -> $after")
    assert(after.count(_.startsWith("v=1/")) == 1, "the big file is inherited, not rewritten")
    assert(Snapshots.read(spark, base).as[(Long, String)].collect().toSet == content)
    // nothing left to pack → no new version churn
    assert(Snapshots.compact(spark, base, smallBytes = 4096) == v7)
  }

  test("z-ordered compaction tiles rewritten files so range predicates skip files") {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    val base = java.nio.file.Files.createTempDirectory("graft-snap-zord").toString + "/t"
    // 8 small files with RANDOM (x, y): every file spans the full range of
    // both columns — a range predicate can skip nothing
    val df = (1 to 4000).map { i =>
      ((i * 2654435761L % 128).toInt, (i * 40503L % 128).toInt, s"payload$i")
    }.toDF("x", "y", "p").repartition(8)
    Snapshots.write(df, base)
    def overlapping(v: Long): (Long, Long) = {
      val files = Snapshots.manifestFiles(spark, base, v).map(p => s"$base/$p")
      val st = spark.read.parquet(files: _*)
        .groupBy(input_file_name()).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        .collect()
      (st.count(r => r.getInt(1) <= 24).toLong, st.length.toLong)
    }
    val (beforeHit, beforeN) = overlapping(1L)
    assert(beforeN == 8 && beforeHit == 8, s"fixture: random files all overlap x<=24, got $beforeHit/$beforeN")
    val content = Snapshots.read(spark, base).as[(Int, Int, String)].collect().toSet
    // bin-pack INTO the same file count, but z-ordered by (x, y)
    val sizes = Snapshots.manifestFiles(spark, base, 1L)
      .map(p => new java.io.File(s"$base/$p").length())
    val v2 = Snapshots.compact(spark, base, smallBytes = Long.MaxValue,
      targetBytes = math.max(1L, sizes.sum / 8), zorderBy = Some(("x", "y")), zBits = 7)
    val (afterHit, afterN) = overlapping(v2)
    assert(afterN >= 4, s"compaction should still produce several files, got $afterN")
    // x<=24 means the top x-bit is 0 — at most half the z-range tiles
    // can contain it; random layout had every file containing it
    assert(afterHit * 2 <= afterN,
      s"z-order must bound the predicate to a fraction of files: $afterHit/$afterN")
    assert(Snapshots.read(spark, base).as[(Int, Int, String)].collect().toSet == content,
      "compaction must not change content")
  }

  test("vacuum removes crash debris, never committed data") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-vac").toString + "/t"
    Snapshots.write(Seq((1L, "a")).toDF("id", "s"), base)
    // crashed in-flight write: directory without a manifest
    new java.io.File(s"$base/v=2").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/v=2/part-00000.parquet"), Array[Byte](1, 2, 3))
    val removed = Snapshots.vacuum(spark, base)
    assert(removed.exists(_.endsWith("v=2")), s"debris dir must be collected: $removed")
    assert(!new java.io.File(s"$base/v=2").exists())
    assert(Snapshots.versions(spark, base) == Seq(1L))
    assert(Snapshots.read(spark, base).count() == 1L)
    assert(Snapshots.vacuum(spark, base).isEmpty)
  }

  test("vacuum after expire spares shared files a surviving manifest references") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-expvac").toString + "/t"
    // v1 writes the bulk, v2 appends a delta inheriting v1's files
    Snapshots.write((1L to 1000L).map(i => (i, s"r$i")).toDF("id", "s"), base)
    val v2 = Snapshots.append(Seq((1001L, "x")).toDF("id", "s"), base)
    // expire v1: its manifest goes, but its data files stay (v2 references
    // them) in a now manifest-less v=1 directory — exactly what vacuum
    // must NOT mistake for crash debris
    assert(Snapshots.expire(spark, base, keep = 1) == Seq(1L))
    // plant genuine debris in the same manifest-less directory
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/v=1/part-99999-debris.parquet"), Array[Byte](1, 2, 3))
    val removed = Snapshots.vacuum(spark, base)
    assert(removed.size == 1 && removed.head.endsWith("part-99999-debris.parquet"),
      s"vacuum must remove only the unreferenced debris, got $removed")
    // the surviving snapshot still reads every row through its manifest
    assert(Snapshots.read(spark, base, Some(v2)).count() == 1001L)
    // once the last reference goes (expire of v2 after a full rewrite),
    // vacuum may clear the leftovers
    Snapshots.write(Seq((1L, "only")).toDF("id", "s"), base)
    Snapshots.expire(spark, base, keep = 1)
    Snapshots.vacuum(spark, base)
    assert(!new java.io.File(s"$base/v=1").exists(), "unreferenced leftovers are collected")
    assert(Snapshots.read(spark, base).count() == 1L)
  }

  test("vacuum spares EVERY sidecar family of live files (incl. .sums — the r17 regression)") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-sidecarvac").toString + "/t"
    Snapshots.write((1L to 200L).map(i => (i, i * 2L)).toDF("id", "v"), base,
      statsKey = Some("id"))
    val v2 = Snapshots.append(Seq((201L, 402L)).toDF("id", "v"), base)
    Snapshots.writeStatsSidecars(spark, base, Seq("v"))
    Snapshots.writeSumSidecars(spark, base, Seq("v"))
    Snapshots.writeBloomSidecars(spark, base, "id")
    Snapshots.writeNdvSidecars(spark, base, Seq("v"))
    // expire v1: its data files stay live through v2's manifest, so their
    // sidecars must survive vacuum too — a missing suffix in the
    // protection rule silently destroys pushdown evidence every cycle
    assert(Snapshots.expire(spark, base, keep = 1) == Seq(1L))
    Snapshots.vacuum(spark, base)
    val v1Dir = new java.io.File(s"$base/v=1")
    val sidecars = Option(v1Dir.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(n => n.endsWith(".sums") || n.endsWith(".stats") ||
        n.endsWith(".bloom") || n.endsWith(".ndv"))
    assert(sidecars.exists(_.endsWith(".sums")),
      s"live files' .sums sidecars must survive vacuum: ${sidecars.toSeq}")
    assert(sidecars.exists(_.endsWith(".stats")) &&
      sidecars.exists(_.endsWith(".bloom")) && sidecars.exists(_.endsWith(".ndv")))
    // ...and the evidence still answers: exact SUM from metadata
    assert(Snapshots.metaSumOf(spark, base, "v", Some(v2)).exists(
      _._1 == new java.math.BigDecimal((1L to 201L).map(_ * 2L).sum)))
  }

  test("manifest key stats prune merge discovery: point merge reads ~one file") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft-snap-prune").toString + "/t"
    val df = (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "s")
      .repartitionByRange(8, col("id"))
    Snapshots.write(df, base, statsKey = Some("id"))
    // every file's manifest line carries (key, tag, min, max) + the
    // #n= null-count, #r= row-count, #b= byte-length, and #s= schema-id
    // fields (plus ONE interned S: schema-definition line for the commit)
    val lines = Snapshots.manifestLines(spark, base, 1L)
    val (defs, entries) = lines.partition(_.startsWith("S:"))
    assert(defs.size == 1, lines.mkString("\n"))
    assert(entries.size == 8 && entries.forall { l =>
      val p = l.split('\t')
      p.length == 9 && p(5).startsWith("#n=") && p(6).startsWith("#r=") &&
        p(7).startsWith("#b=") && p(8).startsWith("#s=")
    }, lines.mkString("\n"))
    // count input records the merge actually reads
    val recs = recordsReadDuring {
      Snapshots.mergeInto(spark, base, Seq((5L, "X")).toDF("id", "s"), "id")
    }
    // full-scan discovery would read all 1000 rows; pruned discovery reads
    // one ~125-row file for discovery + the same file for rewrite + the
    // staged-stats pass over the delta — far under one full pass
    assert(recs < 600, s"merge read $recs records; expected pruned discovery")
    val rows = Snapshots.read(spark, base).as[(Long, String)].collect().toMap
    assert(rows.size == 1000 && rows(5L) == "X" && rows(999L) == "v999")
    // the new version's manifest still carries stats on every entry line
    // (5 stats fields, plus the #n=/#r=/#b=/#s= counters where recorded)
    assert(Snapshots.manifestLines(spark, base, 2L)
      .filterNot(_.startsWith("S:"))
      .forall(l => l.split('\t')
        .filterNot(x => x.startsWith("#r=") || x.startsWith("#n=") ||
          x.startsWith("#s=") || x.startsWith("#b="))
        .length == 5))
    // an out-of-range insert-only merge prunes EVERY file (reads ~0 rows)
    val recs2 = recordsReadDuring {
      Snapshots.mergeInto(spark, base, Seq((5000L, "new")).toDF("id", "s"), "id")
    }
    assert(recs2 < 50, s"insert-only merge read $recs2 records; expected ~0")
    assert(Snapshots.read(spark, base).count() == 1001L)
    // DELETE with a range predicate: bounds extracted from the Catalyst
    // tree prune discovery the same way (only the low-range file scans)
    val recs3 = recordsReadDuring {
      Snapshots.deleteWhere(spark, base, col("id") < 50L)
    }
    assert(recs3 < 600, s"range delete read $recs3 records; expected pruned discovery")
    assert(Snapshots.read(spark, base).count() == 1001L - 49L)
  }

  test("interleaved mergeInto writers serialize: loser retries, no lost update") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-race").toString + "/t"
    Snapshots.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), base)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // both writers read v1 before either commits — the maximal interleave
    val gate = new java.util.concurrent.CountDownLatch(2)
    def writer(k: Long, v: String) = scala.concurrent.Future {
      gate.countDown(); gate.await()
      Snapshots.withConflictRetry() {
        Snapshots.mergeInto(spark, base, Seq((k, v)).toDF("id", "s"), "id")
      }
    }
    val vs = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(Seq(writer(1L, "A"), writer(3L, "c"))),
      scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    // two SERIAL versions — the loser recomputed on the winner's snapshot
    assert(vs.toSet == Set(2L, 3L), s"expected serial versions, got $vs")
    assert(Snapshots.versions(spark, base) == Seq(1L, 2L, 3L))
    // no lost update: both writers' effects survive in the latest snapshot
    val rows = Snapshots.read(spark, base).as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "A", 2L -> "b", 3L -> "c"))
    // no torn manifest: every referenced file of every version exists
    (1L to 3L).foreach { v =>
      Snapshots.manifestFiles(spark, base, v).foreach { rel =>
        assert(new java.io.File(s"$base/$rel").exists(), s"v=$v missing $rel")
      }
    }
  }

  test("vacuum spares a live in-flight transaction, collects a stale one") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-txn").toString + "/t"
    Snapshots.write(Seq((1L, "a")).toDF("id", "s"), base)
    def mkTxn(name: String): java.io.File = {
      val d = new java.io.File(s"$base/$name"); d.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$base/$name/_inflight"), Array[Byte](1))
      d
    }
    val live = mkTxn(".txn-live0000")
    val stale = mkTxn(".txn-stale0000")
    val old = System.currentTimeMillis() - 2L * 60 * 60 * 1000
    new java.io.File(stale, "_inflight").setLastModified(old)
    stale.setLastModified(old)
    val removed = Snapshots.vacuum(spark, base) // default ttl: 1 h
    assert(removed.exists(_.endsWith(".txn-stale0000")), removed.toString)
    assert(live.exists(), "a live transaction must survive vacuum")
    assert(!stale.exists(), "a stale transaction must be collected")
    assert(Snapshots.read(spark, base).count() == 1L)
  }

  test("expireOlderThan drops by commit age, spares the latest and shared files") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-age").toString + "/t"
    Snapshots.write((1L to 500L).map(i => (i, s"r$i")).toDF("id", "s"), base)
    Snapshots.append(Seq((501L, "x")).toDF("id", "s"), base)
    Snapshots.append(Seq((502L, "y")).toDF("id", "s"), base)
    // age every manifest (including the latest — it must be spared anyway)
    val old = System.currentTimeMillis() - 2L * 60 * 60 * 1000
    (1L to 3L).foreach { v =>
      new java.io.File(s"$base/v=$v/_manifest").setLastModified(old)
    }
    val dropped = Snapshots.expireOlderThan(spark, base,
      cutoffMs = System.currentTimeMillis() - 60L * 60 * 1000)
    assert(dropped == Seq(1L, 2L), s"got $dropped")
    assert(Snapshots.versions(spark, base) == Seq(3L))
    // v3 inherits v1's bulk files — they must survive v1's expiry
    assert(Snapshots.read(spark, base).count() == 502L)
    // only the latest remains and it is always spared → no-op
    assert(Snapshots.expireOlderThan(spark, base,
      cutoffMs = System.currentTimeMillis() + 1000).isEmpty)
    assert(Snapshots.versions(spark, base) == Seq(3L))
  }

  test("tags: pin snapshots against both expiry paths, time travel by name, drop releases") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-tag").toString + "/t"
    Snapshots.write(Seq((1L, "a")).toDF("id", "s"), base)
    Snapshots.write(Seq((2L, "b")).toDF("id", "s"), base)
    Snapshots.write(Seq((3L, "c")).toDF("id", "s"), base)
    Snapshots.tag(spark, base, "rel-1", 1L)
    assert(Snapshots.tags(spark, base) == Map("rel-1" -> 1L))
    // immutability: a second tagger with the same name must fail
    intercept[Exception] { Snapshots.tag(spark, base, "rel-1", 2L) }
    // a bogus name and a bogus version must fail fast
    intercept[IllegalArgumentException] { Snapshots.tag(spark, base, "no/slash", 1L) }
    intercept[IllegalArgumentException] { Snapshots.tag(spark, base, "t2", 99L) }
    // count-based expiry spares the tagged v1 (v2 goes)
    assert(Snapshots.expire(spark, base, keep = 1) == Seq(2L))
    assert(Snapshots.versions(spark, base) == Seq(1L, 3L))
    assert(Snapshots.readTag(spark, base, "rel-1")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    // age-based expiry also spares it
    val old = System.currentTimeMillis() - 2L * 60 * 60 * 1000
    Seq(1L, 3L).foreach(v =>
      new java.io.File(s"$base/v=$v/_manifest").setLastModified(old))
    assert(Snapshots.expireOlderThan(spark, base,
      cutoffMs = System.currentTimeMillis() - 1000).isEmpty)
    // dropping the tag releases the pin: the next expiry collects v1
    assert(Snapshots.dropTag(spark, base, "rel-1"))
    assert(!Snapshots.dropTag(spark, base, "rel-1"), "double drop reports false")
    assert(Snapshots.expire(spark, base, keep = 1) == Seq(1L))
    assert(Snapshots.versions(spark, base) == Seq(3L))
    intercept[IllegalArgumentException] { Snapshots.readTag(spark, base, "rel-1") }
  }

  test("branches: fork is metadata-only, main undisturbed, expiry-safe, fast-forward publishes") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-br").toString + "/t"
    Snapshots.write(Seq((1L, "a"), (2L, "a")).toDF("id", "s"), base)    // main v1
    Snapshots.append(Seq((3L, "b")).toDF("id", "s"), base)              // main v2
    // fork from v1: pure manifest copy — branch sees v1's content only
    assert(Snapshots.createBranch(spark, base, "exp", fromVersion = 1L) == 1L)
    assert(Snapshots.readBranch(spark, base, "exp")
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "a")))
    // branch commit: main chain must not see it
    Snapshots.appendBranch(Seq((10L, "c")).toDF("id", "s"), base, "exp")
    assert(Snapshots.versions(spark, base) == Seq(1L, 2L), "main undisturbed")
    assert(Snapshots.branchVersions(spark, base, "exp") == Seq(1L, 2L))
    assert(Snapshots.readBranch(spark, base, "exp")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "a"), (10L, "c")))
    assert(Snapshots.read(spark, base).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "a"), (3L, "b")), "main head is still v2's content")
    // main expiry drops v1, but the branch references v1's files — they
    // must survive (cross-namespace protection)
    assert(Snapshots.expire(spark, base, keep = 1) == Seq(1L))
    assert(Snapshots.readBranch(spark, base, "exp")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "a"), (10L, "c")),
      "branch must survive main expiry of its fork point")
    // fast-forward: main's next version IS the branch head, zero data moved
    val v3 = Snapshots.fastForward(spark, base, "exp")
    assert(v3 == 3L)
    assert(Snapshots.read(spark, base).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "a"), (10L, "c")))
    // dropping the branch keeps every file main now references
    Snapshots.dropBranch(spark, base, "exp")
    assert(Snapshots.branchVersions(spark, base, "exp").isEmpty)
    assert(Snapshots.read(spark, base).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "a"), (10L, "c")),
      "fast-forwarded files must survive the branch's deletion")
    // vacuum after all of it: nothing it collects may break the main read
    Snapshots.vacuum(spark, base)
    assert(Snapshots.read(spark, base).count() == 3L)
    // a second branch with the same name is a fresh fork
    Snapshots.createBranch(spark, base, "exp", fromVersion = 3L)
    assert(Snapshots.readBranch(spark, base, "exp").count() == 3L)
  }

  test("readAsOf: timestamp time travel picks the latest commit at or before the cutoff, inclusive") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-asof").toString + "/t"
    Snapshots.write(Seq((1L, "a")).toDF("id", "s"), base)
    Snapshots.append(Seq((2L, "b")).toDF("id", "s"), base)
    val fsys = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val t0 = 1700000000000L
    fsys.setTimes(new org.apache.hadoop.fs.Path(s"$base/v=1/_manifest"), t0, -1)
    fsys.setTimes(new org.apache.hadoop.fs.Path(s"$base/v=2/_manifest"), t0 + 10000, -1)
    assert(Snapshots.readAsOf(spark, base, t0 + 5000)
      .as[(Long, String)].collect().toSet == Set((1L, "a")),
      "cutoff between commits reads the earlier snapshot")
    assert(Snapshots.readAsOf(spark, base, t0)
      .as[(Long, String)].collect().toSet == Set((1L, "a")),
      "cutoff exactly at a commit is inclusive")
    assert(Snapshots.readAsOf(spark, base, t0 + 60000)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    intercept[IllegalArgumentException] {
      Snapshots.readAsOf(spark, base, t0 - 1)
    }
  }

  test("appendedSince reads exactly the appended delta, includes fast-forwarded branch files, rejects rewrites") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-incr").toString + "/t"
    Snapshots.write(Seq((1L, "a")).toDF("id", "s"), base)          // v1
    Snapshots.append(Seq((2L, "b")).toDF("id", "s"), base)         // v2
    Snapshots.createBranch(spark, base, "pub", fromVersion = 2L)
    Snapshots.appendBranch(Seq((3L, "c")).toDF("id", "s"), base, "pub")
    Snapshots.fastForward(spark, base, "pub")                      // v3: new files live in vb-pub=2/
    assert(Snapshots.appendedSince(spark, base, 1L)
      .as[(Long, String)].collect().toSet == Set((2L, "b"), (3L, "c")),
      "delta after v1 is the two appended rows, branch-namespace files included")
    assert(Snapshots.appendedSince(spark, base, 2L)
      .as[(Long, String)].collect().toSet == Set((3L, "c")))
    assert(Snapshots.appendedSince(spark, base, 3L).isEmpty,
      "reading from the head yields no rows")
    // a rewrite (merge) breaks the append chain: incremental read refuses
    Snapshots.mergeInto(spark, base, Seq((1L, "A2")).toDF("id", "s"), "id")
    val e = intercept[IllegalArgumentException] {
      Snapshots.appendedSince(spark, base, 1L).collect()
    }
    assert(e.getMessage.contains("not a pure append"))
    // but a cursor AFTER the rewrite works again
    Snapshots.append(Seq((4L, "d")).toDF("id", "s"), base)
    assert(Snapshots.appendedSince(spark, base, 4L)
      .as[(Long, String)].collect().toSet == Set((4L, "d")))
  }

  test("expiry sweeps branch-namespace files once main's last reference goes — no vb-* orphans") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-vborphan").toString + "/t"
    Snapshots.write(Seq((1L, "a")).toDF("id", "s"), base)               // main v1
    Snapshots.createBranch(spark, base, "st", fromVersion = 1L)         // vb-st=1 (metadata)
    Snapshots.appendBranch(Seq((2L, "b")).toDF("id", "s"), base, "st")  // vb-st=2: branch-owned files
    Snapshots.fastForward(spark, base, "st")                            // main v2 references vb-st=2/
    Snapshots.dropBranch(spark, base, "st")
    // main still reads the branch-written row through the vb-* reference
    assert(Snapshots.read(spark, base).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    def vbDirs = Option(new java.io.File(base).listFiles).getOrElse(Array.empty)
      .filter(_.getName.startsWith("vb-")).toSeq
    assert(vbDirs.nonEmpty, "precondition: branch-namespace files survive dropBranch")
    // a full rewrite then expire-to-1 removes the LAST reference to the
    // vb-* files — pre-fix, dropVersions swept only v=N dirs and the
    // branch-namespace files leaked forever (round-11 advisor item)
    Snapshots.write(Seq((9L, "z")).toDF("id", "s"), base)               // main v3
    assert(Snapshots.expire(spark, base, keep = 1) == Seq(1L, 2L))
    assert(vbDirs.isEmpty,
      s"expired vb-* files must be swept, still present: $vbDirs")
    assert(Snapshots.read(spark, base).as[(Long, String)].collect().toSet ==
      Set((9L, "z")))
  }

  test("scanWhere prunes files from manifest stats and equals the full-scan filter") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/t"
    def slice(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1)
    Snapshots.write(slice(1, 10), base, statsKey = Some("id"))
    Snapshots.append(slice(11, 20), base, statsKey = Some("id"))
    Snapshots.append(slice(21, 30), base, statsKey = Some("id"))

    // range predicate: only the first file may hold id < 5
    val (c1, p1) = Snapshots.scanPlan(spark, base, col("id") < 5)
    assert(c1.size == 1 && p1.size == 2)
    // point predicate: only the middle file may hold id = 15
    val (c2, p2) = Snapshots.scanPlan(spark, base, col("id") === 15)
    assert(c2.size == 1 && p2.size == 2)
    // an unrecognized conjunct keeps pruning by the recognized one
    val (c3, p3) = Snapshots.scanPlan(spark, base,
      col("id") < 5 && org.apache.spark.sql.functions.pmod(col("id"), col("id") + 1) >= 0)
    assert(c3.size == 1 && p3.size == 2)
    // a predicate with no extractable bounds must scan everything
    val (c4, p4) = Snapshots.scanPlan(spark, base, col("s").contains("r"))
    assert(c4.size == 3 && p4.isEmpty)

    // results are identical to the full-scan filter, and the pruned scan
    // provably reads only the surviving file's rows
    for (pred <- Seq(col("id") < 5, col("id") === 15, col("id") >= 25,
                     col("id") > 8 && col("id") <= 12, col("s").contains("r2"))) {
      val got = Snapshots.scanWhere(spark, base, pred)
        .as[(Long, String)].collect().toSet
      val want = Snapshots.read(spark, base).filter(pred)
        .as[(Long, String)].collect().toSet
      assert(got == want, s"scanWhere mismatch for $pred")
    }
    val reads = recordsReadDuring {
      Snapshots.scanWhere(spark, base, col("id") < 5).count()
    }
    assert(reads <= 10, s"pruned scan read $reads records, expected ≤ one file (10)")

    // a stat-less append is never pruned (conservative), results stay exact
    Snapshots.append(slice(31, 40), base) // no statsKey
    val (c5, p5) = Snapshots.scanPlan(spark, base, col("id") < 5)
    assert(c5.size == 2 && p5.size == 2, "stat-less file must stay a candidate")
    assert(Snapshots.scanWhere(spark, base, col("id") < 5).count() == 4)
    // predicate outside every stat-carrying file's range: only the
    // stat-less file survives planning, and the residual filter empties it
    assert(Snapshots.scanWhere(spark, base, col("id") > 100 && col("id") < 200).isEmpty)
  }

  test("bloom sidecars: point lookups open ~one file, sweeps keep sidecars alive with their file") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/t"
    def slice(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1)
    // NO statsKey anywhere: min/max bounds cannot prune, the blooms do all
    // the work — isolating what the sidecar buys
    Snapshots.write(slice(1, 10), base)
    Snapshots.append(slice(11, 20), base)
    Snapshots.append(slice(21, 30), base)
    assert(Snapshots.writeBloomSidecars(spark, base, "id",
      expectedItems = 100) == 3)
    assert(Snapshots.writeBloomSidecars(spark, base, "id",
      expectedItems = 100) == 0) // idempotent: inherited files covered
    // lookup equals the full-scan filter
    assert(Snapshots.pointLookup(spark, base, "id", 15L)
      .as[(Long, String)].collect().toSet == Set((15L, "r15")))
    // and provably opens ~one file
    val reads = recordsReadDuring {
      Snapshots.pointLookup(spark, base, "id", 15L).count()
    }
    assert(reads <= 10, s"bloom-pruned lookup read $reads records")
    // an absent key reads ZERO data records — every bloom says no
    val reads0 = recordsReadDuring {
      Snapshots.pointLookup(spark, base, "id", 999L).count()
    }
    assert(reads0 == 0, s"absent-key lookup read $reads0 records")
    // a sidecar-less append is admitted conservatively; results stay exact
    Snapshots.append(slice(31, 40), base)
    assert(Snapshots.pointLookup(spark, base, "id", 35L).count() == 1)
    assert(Snapshots.pointLookup(spark, base, "id", 15L)
      .as[(Long, String)].collect().toSet == Set((15L, "r15")))
    // a corrupt sidecar admits its file (conservative), never errors
    val f = new java.io.File(base)
    def bloomFiles = Option(f.listFiles).getOrElse(Array.empty).flatMap(d =>
      Option(d.listFiles).getOrElse(Array.empty))
      .filter(_.getName.endsWith(".bloom"))
    val victim = bloomFiles.head
    java.nio.file.Files.write(victim.toPath, Array[Byte](1, 2, 3))
    assert(Snapshots.read(spark, base).count() == 40)
    assert(Snapshots.pointLookup(spark, base, "id", 15L).count() == 1)
    // expiry after a full rewrite sweeps sidecars WITH their data files —
    // no .bloom orphans survive their file
    Snapshots.write(slice(100, 101), base)
    Snapshots.expire(spark, base, keep = 1)
    assert(bloomFiles.isEmpty,
      s"orphan sidecars survived expiry: ${bloomFiles.mkString(",")}")
  }

  test("bloom sidecars survive expiry while a surviving manifest references their file") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/t"
    def slice(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1)
    Snapshots.write(slice(1, 10), base)
    Snapshots.writeBloomSidecars(spark, base, "id", expectedItems = 100)
    Snapshots.append(slice(11, 20), base) // v2 inherits v1's file
    Snapshots.writeBloomSidecars(spark, base, "id", expectedItems = 100)
    Snapshots.expire(spark, base, keep = 1) // drops v1; its FILE is shared
    // the shared file's sidecar must still prune
    val reads = recordsReadDuring {
      Snapshots.pointLookup(spark, base, "id", 5L).count()
    }
    assert(reads <= 10, s"shared-file sidecar lost: read $reads records")
    assert(Snapshots.pointLookup(spark, base, "id", 5L).count() == 1)
  }

  test("merge-on-read delete: positional file, reads equal copy-on-write, rewrites guard, materialize folds") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/t"
    def slice(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1)
    Snapshots.write(slice(1, 10), base, statsKey = Some("id"))
    Snapshots.append(slice(11, 20), base, statsKey = Some("id"))
    val filesBefore = Snapshots.manifestFiles(spark, base, 2L).toSet

    val v3 = Snapshots.deleteWhereMoR(spark, base, col("id") % 2 === 0)
    assert(v3 == 3L)
    // logical rows: evens gone everywhere a reader looks
    val odd = (1L to 20L by 2).map(i => (i, s"r$i")).toSet
    assert(Snapshots.read(spark, base).as[(Long, String)].collect().toSet == odd)
    assert(Snapshots.scanWhere(spark, base, col("id") < 5)
      .as[(Long, String)].collect().toSet == Set((1L, "r1"), (3L, "r3")))
    assert(Snapshots.pointLookup(spark, base, "id", 4L).isEmpty)
    assert(Snapshots.pointLookup(spark, base, "id", 5L).count() == 1)
    // the commit wrote ONE delete file and rewrote NO data file
    val v3files = Snapshots.manifestFiles(spark, base, 3L).toSet
    assert(filesBefore.subsetOf(v3files), "data files must be inherited")
    val delFiles = v3files -- filesBefore
    assert(delFiles.size == 1 && delFiles.head.contains("del-"), delFiles.toString)
    // CDC sees the logical change
    assert(Snapshots.diff(spark, base, 2L, 3L, "id")
      .filter(col("change_type") === "delete").count() == 10)
    // a no-match predicate is a version no-op
    assert(Snapshots.deleteWhereMoR(spark, base, col("id") > 999) == 3L)
    // file-level rewrite verbs refuse while deletes are pending
    intercept[IllegalArgumentException] {
      Snapshots.deleteWhere(spark, base, col("id") === 1)
    }
    intercept[IllegalArgumentException] {
      Snapshots.compact(spark, base, smallBytes = 1L << 20)
    }
    intercept[IllegalArgumentException] {
      Snapshots.mergeInto(spark, base, Seq((1L, "x")).toDF("id", "s"), "id")
    }
    intercept[IllegalArgumentException] {
      Snapshots.appendedSince(spark, base, 2L).count()
    }
    // appends on top of pending deletes inherit them
    Snapshots.append(slice(21, 22), base, statsKey = Some("id"))
    assert(Snapshots.read(spark, base).as[(Long, String)].collect().toSet ==
      odd ++ Set((21L, "r21"), (22L, "r22")))
    // materialize: only delete-touched files rewrite; untouched inherit
    val v5 = Snapshots.materializeDeletes(spark, base, statsKey = Some("id"))
    val v5lines = Snapshots.manifestLines(spark, base, v5)
    assert(!v5lines.exists(_.startsWith("D:")), v5lines.mkString("\n"))
    assert(v5lines.exists(_.contains("part-") &&
      Snapshots.manifestFiles(spark, base, 4L).contains(
        v5lines.find(_.contains("v=4/")).map(_.split('\t').head).getOrElse(""))),
      "the untouched v4 append must be inherited by reference")
    assert(Snapshots.read(spark, base).as[(Long, String)].collect().toSet ==
      odd ++ Set((21L, "r21"), (22L, "r22")))
    // unlocked again, and a second materialize is a no-op
    assert(Snapshots.materializeDeletes(spark, base) == v5)
    Snapshots.deleteWhere(spark, base, col("id") === 21L)
    assert(Snapshots.read(spark, base).as[(Long, String)].collect().toSet ==
      odd + ((22L, "r22")))
  }

  test("files/snapshots metadata tables: kinds, sidecar flag, pending-delete flag, zero data IO") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/t"
    def slice(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1)
    Snapshots.write(slice(1, 10), base, statsKey = Some("id"))
    Snapshots.writeBloomSidecars(spark, base, "id", expectedItems = 100)
    Snapshots.deleteWhereMoR(spark, base, col("id") === 3)
    val fl = Snapshots.files(spark, base)
      .select("kind", "has_bloom", "stats_key")
      .as[(String, Boolean, Option[String])].collect().toSeq.sorted
    assert(fl == Seq(("data", true, Some("id")),
      ("positional-delete", false, None)), fl.toString)
    // stats survive into the metadata view
    val st = Snapshots.files(spark, base).filter(col("kind") === "data")
      .select("stats_min", "stats_max").as[(String, String)].head()
    assert(st == (("1", "10")), st.toString)
    val reads = recordsReadDuring {
      val sn = Snapshots.snapshots(spark, base)
        .select("version", "n_delete_files", "has_pending_deletes")
        .as[(Long, Long, Boolean)].collect().toSet
      assert(sn == Set((1L, 0L, false), (2L, 1L, true)), sn.toString)
    }
    assert(reads == 0, s"metadata tables read $reads data records")
    // refs view: empty before any ref, then one row per tag/branch with
    // the branch head and chain length
    assert(Snapshots.refs(spark, base).count() == 0)
    Snapshots.tag(spark, base, "prod", 1L)
    Snapshots.createBranch(spark, base, "staging", 2L)
    Snapshots.appendBranch(slice(11, 12), base, "staging")
    val rf = Snapshots.refs(spark, base)
      .select("name", "kind", "version", "n_versions")
      .as[(String, String, Long, Long)].collect().toSet
    assert(rf == Set(("staging", "branch", 2L, 2L), ("prod", "tag", 1L, 1L)),
      rf.toString)
  }

  test("updateWhere: CoW at file granularity, simultaneous SET, NULL rows untouched, stats-pruned reads") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val base = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/t"
    // three range-disjoint files with per-file stats, plus a NULL id row
    def part(lo: Long, hi: Long) =
      (lo to hi).map(i => (Option(i), s"s$i", i * 10L)).toDF("id", "s", "score").coalesce(1)
    Snapshots.write(part(1, 10), base, statsKey = Some("id"))
    Snapshots.append(part(11, 20), base, statsKey = Some("id"))
    Snapshots.append(
      ((21L to 30L).map(i => (Option(i), s"s$i", i * 10L)) :+
        ((None: Option[Long], "snull", 0L)))
        .toDF("id", "s", "score").coalesce(1),
      base, statsKey = Some("id"))
    val before = Snapshots.read(spark, base).collect()

    // swap-style simultaneous assignment over a one-file key range: s gets
    // a score-derived value, score gets -score — both RHS read OLD columns
    val reads = recordsReadDuring {
      Snapshots.updateWhere(spark, base, col("id").between(3L, 7L),
        Seq("s" -> concat(lit("u"), col("score")), "score" -> -col("score")))
    }
    // bounds pruning: only the 1..10 file (+1 NULL-stats-free? no — all
    // three carry stats) is scanned for discovery AND rewrite ≤ 2 passes
    assert(reads <= 22, s"stats pruning failed: read $reads records")

    val after = Snapshots.read(spark, base)
      .as[(Option[Long], String, Long)].collect()
    val expected = before.map { r =>
      val id = if (r.isNullAt(0)) None else Some(r.getLong(0))
      val hit = id.exists(i => i >= 3 && i <= 7)
      (id,
       if (hit) "u" + r.getLong(2) else r.getString(1),
       if (hit) -r.getLong(2) else r.getLong(2))
    }.toSet
    assert(after.toSet == expected, "update semantics diverged")
    assert(after.count(_._3 < 0) == 5)
    // NULL-predicate row untouched
    assert(after.exists(t => t._1.isEmpty && t._2 == "snull" && t._3 == 0L))
    // file granularity: the two clean files are inherited by reference
    val lines = Snapshots.manifestLines(spark, base,
      Snapshots.versions(spark, base).last).filterNot(_.startsWith("S:"))
    val prior = Snapshots.manifestLines(spark, base, 3L)
    assert(lines.count(prior.contains) == 2,
      s"expected 2 inherited entries, got:\n${lines.mkString("\n")}")
    // time travel still sees the pre-update table
    assert(Snapshots.read(spark, base, Some(3L)).collect().toSet == before.toSet)

    // guards: unknown SET column; no-match predicate inherits everything
    intercept[IllegalArgumentException] {
      Snapshots.updateWhere(spark, base, col("id") === 1L, Seq("nope" -> lit(1)))
    }
    val v = Snapshots.updateWhere(spark, base, col("id") === -99L,
      Seq("score" -> lit(0L)))
    assert(Snapshots.manifestLines(spark, base, v).toSet ==
      Snapshots.manifestLines(spark, base, v - 1).toSet)
    // refuses under pending MoR deletes
    Snapshots.deleteWhereMoR(spark, base, col("id") === 1L)
    intercept[IllegalArgumentException] {
      Snapshots.updateWhere(spark, base, col("id") === 2L, Seq("score" -> lit(1L)))
    }
  }

  test("deleteByKey: zero-data-scan commit, sequence scoping keeps reinserts, materialize folds") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/t"
    def part(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"s$i")).toDF("id", "s").coalesce(1)
    Snapshots.write(part(1, 10), base, statsKey = Some("id"))
    Snapshots.append(part(11, 20), base, statsKey = Some("id"))
    Snapshots.append(part(21, 30), base, statsKey = Some("id"))

    // THE selling point vs positional MoR: the delete commit itself opens
    // no data file — O(|keys|) write, zero scan (the only input records
    // are the in-memory key rows themselves, if the runtime counts them)
    val reads = recordsReadDuring {
      Snapshots.deleteByKey(spark, base,
        Seq(5L, 15L, 99L).toDF("id")) // 99 never existed — harmless
    }
    assert(reads <= 3, s"equality delete scanned data: $reads records read")

    val afterDel = Snapshots.read(spark, base).as[(Long, String)].collect().toSet
    assert(afterDel == (1L to 30L).filterNot(Set(5L, 15L))
      .map(i => (i, s"s$i")).toSet)
    // metadata tables see the pending equality delete
    assert(Snapshots.files(spark, base).filter(col("kind") === "equality-delete")
      .count() == 1)

    // sequence scoping: a REINSERT of a deleted key appended AFTER the
    // delete survives — the delete covers only files present when it
    // committed (the streaming-upsert delete-then-reinsert shape)
    Snapshots.append(Seq((5L, "s5-new"), (31L, "s31")).toDF("id", "s")
      .coalesce(1), base, statsKey = Some("id"))
    val afterRe = Snapshots.read(spark, base).as[(Long, String)].collect().toSet
    assert(afterRe.contains((5L, "s5-new")) && !afterRe.contains((5L, "s5")))
    assert(!afterRe.contains((15L, "s15")) && afterRe.contains((31L, "s31")))

    // scanWhere / pointLookup honor the pending equality delete
    assert(Snapshots.scanWhere(spark, base, col("id") === 15L).count() == 0)
    assert(Snapshots.scanWhere(spark, base, col("id") === 5L)
      .as[(Long, String)].collect().toSet == Set((5L, "s5-new")))

    // rewrite verbs refuse while the equality delete is pending
    intercept[IllegalArgumentException] {
      Snapshots.updateWhere(spark, base, col("id") === 2L, Seq("s" -> col("s")))
    }
    intercept[IllegalArgumentException] {
      Snapshots.compact(spark, base, smallBytes = 1L << 20)
    }

    // expiry cannot drop the manifest the delete scopes by
    val expected = afterRe
    Snapshots.expireOlderThan(spark, base, System.currentTimeMillis() + 1000)
    assert(Snapshots.read(spark, base).as[(Long, String)].collect().toSet
      == expected, "expiry broke equality-delete scoping")

    // materialize: only the two covered files CONTAINING a match rewrite;
    // the clean covered file and the post-delete append inherit
    val vBefore = Snapshots.versions(spark, base).last
    val priorLines = Snapshots.manifestLines(spark, base, vBefore).toSet
    val vm = Snapshots.materializeDeletes(spark, base, statsKey = Some("id"))
    val lines = Snapshots.manifestLines(spark, base, vm)
    assert(lines.filterNot(_.startsWith("S:")).count(priorLines.contains) == 2,
      s"expected 2 inherited data entries:\n${lines.mkString("\n")}")
    assert(!lines.exists(_.startsWith("E:")) && !lines.exists(_.startsWith("D:")))
    assert(Snapshots.read(spark, base).as[(Long, String)].collect().toSet == expected)
    // post-fold: rewrite verbs unlock
    Snapshots.updateWhere(spark, base, col("id") === -1L, Seq("s" -> col("s")))
  }

  test("deleteByKey: NULL-safe key match, composite keys, no-match fold, guards") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/t"
    Snapshots.write(
      Seq((Option(1L), "a", 1), (Option(2L), "b", 2), (None, "c", 3),
        (None, "d", 4), (Option(5L), "b", 5))
        .toDF("id", "grp", "x").coalesce(1), base)
    // composite (id, grp) key with a NULL id: matches ONLY the (NULL, "c")
    // row — Iceberg v2 equality semantics, null-safe per field
    Snapshots.deleteByKey(spark, base,
      Seq((None: Option[Long], "c"), (Option(2L), "b")).toDF("id", "grp"))
    assert(Snapshots.read(spark, base).as[(Option[Long], String, Int)]
      .collect().toSet ==
      Set((Option(1L), "a", 1), (None, "d", 4), (Option(5L), "b", 5)))

    // guards: unknown key column; empty key set is a no-op
    intercept[IllegalArgumentException] {
      Snapshots.deleteByKey(spark, base, Seq(1L).toDF("nope"))
    }
    val v = Snapshots.versions(spark, base).last
    assert(Snapshots.deleteByKey(spark, base,
      Seq.empty[Long].toDF("id")) == v)

    // a delete whose keys never landed folds away metadata-only
    Snapshots.deleteByKey(spark, base, Seq(404L).toDF("id"))
    val before = Snapshots.read(spark, base).collect().toSet
    val vm = Snapshots.materializeDeletes(spark, base)
    assert(!Snapshots.manifestLines(spark, base, vm).exists(_.startsWith("E:")))
    assert(Snapshots.read(spark, base).collect().toSet == before)
  }

  test("merge-on-read parity: MoR and CoW deletes produce identical tables, NULL predicate rows kept") {
    val mor = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/t"
    val cow = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/t"
    val rows = Seq((1L, Some(1.0)), (2L, None), (3L, Some(3.0)), (4L, Some(4.0)))
      .toDF("id", "score").coalesce(1)
    Snapshots.write(rows, mor)
    Snapshots.write(rows, cow)
    val pred = col("score") > 2.0 // NULL for id=2 → kept on both paths
    Snapshots.deleteWhereMoR(spark, mor, pred)
    Snapshots.deleteWhere(spark, cow, pred)
    val a = Snapshots.read(spark, mor).as[(Long, Option[Double])].collect().toSet
    val b = Snapshots.read(spark, cow).as[(Long, Option[Double])].collect().toSet
    assert(a == b && a == Set((1L, Some(1.0)), (2L, None)), s"mor=$a cow=$b")
  }

  test("scanWhere resolves under schema evolution when no candidate file has the column") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/t"
    Snapshots.write((1L to 10L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1),
      base, statsKey = Some("id"))
    // evolved append adds `extra`; id-pruning for id<5 keeps ONLY the old
    // file, which physically lacks `extra` — pre-fix the residual filter
    // failed to resolve (mergeSchema over candidates only), whereas the
    // documented-equivalent read().filter() null-fills and succeeds
    Snapshots.append((11L to 20L).map(i => (i, s"r$i", i * 10))
      .toDF("id", "s", "extra").coalesce(1), base, statsKey = Some("id"))
    val pred = col("id") < 5 && col("extra").isNotNull
    val got = Snapshots.scanWhere(spark, base, pred).collect().toSet
    val want = Snapshots.read(spark, base).filter(pred).collect().toSet
    assert(got == want && want.isEmpty, s"got $got want $want")
    // and the evolved column is readable through the pruned path too
    val hit = Snapshots.scanWhere(spark, base, col("id") === 15)
      .select("id", "extra").as[(Long, Option[Long])].collect().toSet
    assert(hit == Set((15L, Some(150L))), hit.toString)
  }

  test("rollback publishes an old manifest as the new latest, metadata-only") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-rb").toString + "/t"
    Snapshots.write(Seq((1L, "good"), (2L, "good")).toDF("id", "s"), base)
    Snapshots.write(Seq((1L, "BAD")).toDF("id", "s"), base)
    val v3 = Snapshots.rollback(spark, base, 1L)
    assert(v3 == 3L && Snapshots.versions(spark, base) == Seq(1L, 2L, 3L))
    // latest content is v1's; the manifest is a byte-for-byte copy
    assert(Snapshots.read(spark, base).as[(Long, String)].collect().toSet ==
      Set((1L, "good"), (2L, "good")))
    assert(Snapshots.manifestLines(spark, base, v3) ==
      Snapshots.manifestLines(spark, base, 1L))
    // the rolled-back-over version stays time-travelable (auditable history)
    assert(Snapshots.read(spark, base, Some(2L)).as[(Long, String)].collect().toSet ==
      Set((1L, "BAD")))
    // metadata-only: v=3 directory holds no data files
    assert(Snapshots.manifestFiles(spark, base, v3).forall(_.startsWith("v=1/")))
  }

  test("writeAudited publishes on audit pass, aborts clean on fail") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft-snap-wap").toString + "/t"
    // audit rejects: a null crept into the batch
    intercept[Snapshots.AuditFailedException] {
      Snapshots.writeAudited(Seq((1L, "a"), (2L, null.asInstanceOf[String])).toDF("id", "s"),
        base, a => a.filter(col("s").isNull).count() == 0)
    }
    // nothing published, no staging debris
    assert(Snapshots.versions(spark, base).isEmpty)
    val dirs = new java.io.File(base).listFiles()
    assert(dirs == null || dirs.forall(!_.getName.startsWith(".txn-")),
      s"staging must be cleaned: ${Option(dirs).map(_.mkString(",")).getOrElse("")}")
    // audit passes → version commits
    val v1 = Snapshots.writeAudited(Seq((1L, "a"), (2L, "b")).toDF("id", "s"),
      base, a => a.filter(col("s").isNull).count() == 0)
    assert(v1 == 1L && Snapshots.read(spark, base).count() == 2L)
    // append mode: the audit sees ONLY the staged delta
    var audited = -1L
    Snapshots.writeAudited(Seq((3L, "c")).toDF("id", "s"), base,
      a => { audited = a.count(); true }, append = true)
    assert(audited == 1L, "WAP audit must see the delta, not the table")
    assert(Snapshots.read(spark, base).count() == 3L)
  }

  test("history reports own vs inherited files per version, no data scan") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-hist").toString + "/t"
    Snapshots.write((1L to 100L).map(i => (i, s"r$i")).toDF("id", "s").repartition(2), base)
    Snapshots.append(Seq((101L, "x")).toDF("id", "s").coalesce(1), base)
    val h = Snapshots.history(spark, base)
      .select("version", "n_files", "n_own_files", "n_inherited_files")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(h(0) == ((1L, 2L, 2L, 0L)), h.mkString(","))
    assert(h(1) == ((2L, 3L, 1L, 2L)), h.mkString(","))
    val bytes = Snapshots.history(spark, base).select("total_bytes").as[Long].collect()
    assert(bytes.forall(_ > 0L))
    // sizes come from the manifest's #b= fields and equal the files' lengths
    def length(rel: String) = new java.io.File(s"$base/$rel").length()
    val v2Files = Snapshots.manifestFiles(spark, base, 2L)
    assert(bytes.toSeq.sorted.last == v2Files.map(length).sum)
    // an entry without #b= falls back to its file status, same total
    val mf = new java.io.File(s"$base/v=2/_manifest")
    val lines = scala.io.Source.fromFile(mf).getLines().toVector
    assert(lines.count(_.contains("\t#b=")) == 3, lines.mkString("\n"))
    val i = lines.indexWhere(_.contains("\t#b="))
    java.nio.file.Files.writeString(mf.toPath,
      lines.updated(i, lines(i).replaceAll("\\t#b=\\d+", "")).mkString("\n") + "\n")
    new java.io.File(s"$base/v=2/._manifest.crc").delete()
    assert(Snapshots.manifestLines(spark, base, 2L).count(_.contains("\t#b=")) == 2)
    val h2 = Snapshots.history(spark, base).select("version", "total_bytes")
      .as[(Long, Long)].collect().toMap
    assert(h2(2L) == v2Files.map(length).sum)
  }

  test("append: a column added later is null-filled on inherited files") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-evolve").toString + "/t"
    Snapshots.write(Seq((1L, "a")).toDF("id", "s"), base)
    Snapshots.append(Seq((2L, "b", 9.5)).toDF("id", "s", "score"), base)
    val rows = Snapshots.read(spark, base)
      .select("id", "score").as[(Long, Option[Double])].collect().toSet
    assert(rows == Set((1L, None), (2L, Some(9.5))))
  }

  test("a version directory without a manifest is invisible and its slot is reclaimed") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-crash").toString + "/t"
    Snapshots.write(Seq((1L, "a")).toDF("id", "s"), base)
    // simulate a crashed in-flight write: a v=2 directory with data but no marker
    val crashed = new java.io.File(s"$base/v=2")
    crashed.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/v=2/part-00000.parquet"), Array[Byte](1, 2, 3))
    assert(Snapshots.versions(spark, base) == Seq(1L), "partial snapshot must not be listed")
    assert(Snapshots.read(spark, base).as[(Long, String)].collect().toSet == Set((1L, "a")))
    // the retry reclaims v=2 rather than skipping to v=3 or failing
    val v = Snapshots.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), base)
    assert(v == 2L)
    assert(Snapshots.read(spark, base).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("incremental agg delta + apply equals a full recompute from v2") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft-snap-incr").toString + "/t"
    // v1: groups a (2 rows) and b (1 row); v2: one update in a, a's second
    // row deleted... no: key 2 deleted, key 4 inserted into new group c,
    // key 1's value bumped — exercises insert/delete/update and group birth
    Snapshots.write(Seq(
      (1L, "a", 10.0), (2L, "a", 5.0), (3L, "b", 7.0)).toDF("id", "g", "v"), base)
    Snapshots.write(Seq(
      (1L, "a", 12.5), (3L, "b", 7.0), (4L, "c", 2.0)).toDF("id", "g", "v"), base)
    val matAgg = Snapshots.read(spark, base, Some(1L))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("v").cast("decimal(18,2)")).as("total"))
    val delta = Snapshots.incrementalAggDelta(spark, base, 1L, 2L, "id", Seq("g"), "v")
    val incr = Snapshots.applyAggDelta(matAgg, delta, Seq("g"))
      .select(col("g"), col("n"), col("total").cast("double"))
      .as[(String, Long, Double)].collect().toSet
    val full = Snapshots.read(spark, base, Some(2L))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("v").cast("decimal(18,2)")).as("total"))
      .select(col("g"), col("n"), col("total").cast("double"))
      .as[(String, Long, Double)].collect().toSet
    assert(incr == full)
    assert(incr == Set(("a", 1L, 12.5), ("b", 1L, 7.0), ("c", 1L, 2.0)))
  }

  test("incremental agg delta retires a group whose count reaches zero") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft-snap-retire").toString + "/t"
    Snapshots.write(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "g", "v"), base)
    Snapshots.write(Seq((1L, "a", 1.0)).toDF("id", "g", "v"), base)
    val matAgg = Snapshots.read(spark, base, Some(1L))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("v").cast("decimal(18,2)")).as("total"))
    val delta = Snapshots.incrementalAggDelta(spark, base, 1L, 2L, "id", Seq("g"), "v")
    val out = Snapshots.applyAggDelta(matAgg, delta, Seq("g"))
      .select("g").as[String].collect().toSeq
    assert(out == Seq("a"), "group b lost its only row and must drop out")
  }

  test("mergeInto evolves schema: a new source column null-fills untouched rows") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-mevolve").toString + "/t"
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "s").repartition(4, col("id"))
    Snapshots.write(df, base, statsKey = Some("id"))
    // the source carries a column v1 has never seen
    val v2 = Snapshots.mergeInto(spark, base,
      Seq((1L, "A", 9.5), (200L, "n", 1.0)).toDF("id", "s", "score"), "id")
    val latest = Snapshots.read(spark, base, Some(v2))
    assert(latest.columns.toSet == Set("id", "s", "score"))
    val rows = latest.select("id", "s", "score")
      .as[(Long, String, Option[Double])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows(1L) == ("A", Some(9.5)) && rows(200L) == ("n", Some(1.0)))
    assert(rows(50L) == ("v50", None), "untouched rows must null-fill the new column")
    assert(rows.size == 101)
    // old files are still INHERITED, not rewritten, despite the new schema
    val m1 = Snapshots.manifestFiles(spark, base, 1L)
    val m2 = Snapshots.manifestFiles(spark, base, v2)
    assert(m1.count(m2.contains) == m1.size - 1, "only the file holding id=1 rewrites")
    // CDC across the evolution classifies the changed/inserted rows
    val cdc = Snapshots.diff(spark, base, 1L, v2, "id").as[(Long, String)].collect().toMap
    assert(cdc == Map(1L -> "update", 200L -> "insert"))
    // the REVERSE direction fails loudly: a source missing an existing
    // table column would null-wipe it on every updated row
    val ex = intercept[IllegalArgumentException] {
      Snapshots.mergeInto(spark, base, Seq(Tuple1(1L)).toDF("id"), "id")
    }
    assert(ex.getMessage.contains("missing table columns"), ex.getMessage)
  }

  test("diff sees a column added in the newer version (union-schema hash)") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-evolve").toString + "/t"
    Snapshots.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), base)
    // v2 adds a column; row 2 differs ONLY in the new column
    Snapshots.write(
      Seq((1L, "a", null.asInstanceOf[String]), (2L, "b", "extra"))
        .toDF("id", "s", "note"), base)
    val cdc = Snapshots.diff(spark, base, 1L, 2L, "id")
      .as[(Long, String)].collect().toMap
    assert(cdc == Map(2L -> "update"),
      "row changed only in the added column must classify as update; null-filled row must not")
  }

  test("stats with control chars or untrimmed whitespace fall back to no-stats, merge stays exact") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-ctl").toString + "/t"
    // keys whose min/max would round-trip ALTERED through the line-oriented
    // manifest: \r splits a line under getLines, trailing space is eaten by
    // the per-line trim — either would under-state a file's range and
    // mis-prune it. One clean partition keeps its stats as the control.
    val dirty = Seq("k\rx", "k2 ", " k3", "clean").map(k => (k, 1L))
    Snapshots.write(dirty.toDF("s", "n").repartition(col("s")), base,
      statsKey = Some("s"))
    val lines = Snapshots.manifestLines(spark, base, 1L)
    // no manifest ENTRY line may carry a value that survives trim/getLines
    // altered (trailing #n=/#r=/#b=/#s= counter fields may follow either
    // shape)
    assert(lines.filterNot(_.startsWith("S:")).forall { l =>
      val p = l.split('\t')
        .filterNot(x => x.startsWith("#r=") || x.startsWith("#n=") ||
          x.startsWith("#s=") || x.startsWith("#b="))
      p.length == 1 || p.length == 5 &&
        Seq(p(3), p(4)).forall(v => !v.exists(_.isControl) && v == v.trim)
    }, lines.mkString("|"))
    // a merge keyed on one of the dirty values must still find its file
    // (no-stats files are always scanned, never pruned)
    Snapshots.mergeInto(spark, base, Seq(("k\rx", 9L)).toDF("s", "n"), "s")
    val rows = Snapshots.read(spark, base).as[(String, Long)].collect().toMap
    assert(rows("k\rx") == 9L && rows("clean") == 1L, rows.toString)
    // manifests stay one-entry-per-line parseable (no injected path lines)
    assert(Snapshots.manifestLines(spark, base, 2L)
      .forall(l => !l.contains('\r')), "no raw CR may reach a manifest")
  }

  test("slot-claim moves debris aside atomically; vacuum collects the husk") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-aside").toString + "/t"
    Snapshots.write(Seq((1L, "a")).toDF("id", "s"), base)
    new java.io.File(s"$base/v=2").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/v=2/part-00000.parquet"), Array[Byte](1, 2, 3))
    val v = Snapshots.write(Seq((2L, "b")).toDF("id", "s"), base)
    assert(v == 2L, "the debris slot must be reclaimed, not skipped")
    // the debris was MOVED (atomic rename), not deleted in place — the
    // check-then-delete race (advice r7) can no longer erase a racing commit
    val debris = new java.io.File(base).listFiles()
      .filter(_.getName.startsWith(".debris-"))
    assert(debris.length == 1 &&
      new java.io.File(debris.head, "part-00000.parquet").exists(),
      s"debris must survive the claim as .debris-*: ${debris.mkString(",")}")
    val removed = Snapshots.vacuum(spark, base)
    assert(removed.exists(_.contains(".debris-")), removed.toString)
    assert(!debris.head.exists(), "a manifest-less husk is collectible")
    // a debris dir HOLDING a manifest is forensic evidence — preserved
    val keep = new java.io.File(s"$base/.debris-keepme00000")
    keep.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${keep.getPath}/_manifest"), "x\n".getBytes("UTF-8"))
    assert(!Snapshots.vacuum(spark, base).exists(_.contains("keepme")))
    assert(keep.exists(), "manifest-bearing debris is preserved for recovery")
  }

  test("vacuum trusts the _inflight marker's embedded clock over stale mtimes") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-skew").toString + "/t"
    Snapshots.write(Seq((1L, "a")).toDF("id", "s"), base)
    val old = System.currentTimeMillis() - 2L * 60 * 60 * 1000
    def mkTxn(name: String, payload: String): java.io.File = {
      val d = new java.io.File(s"$base/$name"); d.mkdirs()
      val m = java.nio.file.Paths.get(s"$base/$name/_inflight")
      java.nio.file.Files.write(m, payload.getBytes("UTF-8"))
      m.toFile.setLastModified(old); d.setLastModified(old)
      d
    }
    // mtimes look 2 h stale (storage-assigned / skewed clock) but the
    // writer's own embedded timestamp is fresh → live, must be spared
    val skewed = mkTxn(".txn-skew000000", System.currentTimeMillis().toString)
    // embedded timestamp AND mtimes both old → genuinely dead, collected
    val dead = mkTxn(".txn-dead000000", old.toString)
    val removed = Snapshots.vacuum(spark, base)
    assert(skewed.exists(), "fresh embedded marker clock must defeat stale mtimes")
    assert(!dead.exists() && removed.exists(_.endsWith(".txn-dead000000")),
      removed.toString)
  }

  test("vacuum survives directories vanishing mid-pass (concurrent slot claim)") {
    // a concurrent writer claiming a slot renames the dir aside between
    // vacuum's _manifest re-check and its listStatus — the dir vanishes
    // under vacuum's feet. Simulated deterministically with a test-only
    // filesystem whose listStatus deletes the armed path and throws, which
    // is exactly what the race looks like from vacuum's side. One vanished
    // dir must not abort the remaining vacuum work (round-8 advisor item).
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.vanish.impl", classOf[VanishingFs].getName)
    val base =
      java.nio.file.Files.createTempDirectory("graft-snap-vanish").toString + "/t"
    Snapshots.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), base)
    def mkJunk(name: String): java.io.File = {
      val d = new java.io.File(s"$base/$name"); d.mkdirs()
      new java.io.File(d, "part-junk").createNewFile(); d
    }
    // both passes' victims: a manifest-less version dir and a dead txn dir,
    // each armed to vanish at its listStatus — plus one ordinary collectible
    // husk per pass that must STILL be collected after the race
    mkJunk("v=98"); mkJunk("v=99")
    val txnDead = mkJunk(".txn-dead0000000")
    val old = System.currentTimeMillis() - 2L * 60 * 60 * 1000
    txnDead.listFiles().foreach(_.setLastModified(old)); txnDead.setLastModified(old)
    mkJunk(".txn-vanish00000")
    VanishingFs.arm(s"$base/v=98")
    VanishingFs.arm(s"$base/.txn-vanish00000")
    val removed = Snapshots.vacuum(spark, s"vanish://$base")
    assert(VanishingFs.armedEmpty, "both armed vanishes must have fired")
    // vanished dirs are treated as already-collected, never reported removed
    assert(!removed.exists(_.contains("v=98")), removed.toString)
    assert(!removed.exists(_.contains(".txn-vanish")), removed.toString)
    // the races did not abort the pass: the ordinary husks were collected
    assert(removed.exists(_.contains("v=99")), removed.toString)
    assert(removed.exists(_.contains(".txn-dead")), removed.toString)
    // committed data untouched throughout
    assert(Snapshots.read(spark, base).count() == 2)
  }

  test("withConflictRetry propagates SnapshotDurabilityException, never retries it") {
    // the restore-failure path (an acknowledged commit stuck as a .debris-*
    // husk) must NOT be retried: a retry recomputes next without the husk,
    // reclaims the freed slot, and silently supersedes the lost commit.
    // Round-8 advisor item — the exception type IS the contract.
    var calls = 0
    val e = intercept[Snapshots.SnapshotDurabilityException] {
      Snapshots.withConflictRetry(attempts = 5) {
        calls += 1
        throw new Snapshots.SnapshotDurabilityException("husk at .debris-x")
      }
    }
    assert(calls == 1, s"durability loss must surface on the FIRST throw, got $calls calls")
    assert(e.getMessage.contains("husk"))
    // sanity: the retryable sibling still retries to exhaustion
    var conflictCalls = 0
    intercept[Snapshots.SnapshotConflictException] {
      Snapshots.withConflictRetry(attempts = 3) {
        conflictCalls += 1
        throw new Snapshots.SnapshotConflictException("slot race")
      }
    }
    assert(conflictCalls == 3)
  }

  test("vacuum skips (not collects) a dir behind a non-vanish fault and continues") {
    // permission denied / transient FS faults are NOT the vanish race: the
    // dir still exists, so vacuum must leave it alone, log, and keep
    // collecting the rest (round-8 advisor item — a systemically failing
    // filesystem must not silently read as partial-success)
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.vanish.impl", classOf[VanishingFs].getName)
    val base =
      java.nio.file.Files.createTempDirectory("graft-snap-fault").toString + "/t"
    Snapshots.write(Seq((1L, "a")).toDF("id", "s"), base)
    def mkJunk(name: String): java.io.File = {
      val d = new java.io.File(s"$base/$name"); d.mkdirs()
      new java.io.File(d, "part-junk").createNewFile(); d
    }
    val faulty = mkJunk("v=97")
    mkJunk("v=99")
    VanishingFs.armFault(s"$base/v=97")
    val removed = Snapshots.vacuum(spark, s"vanish://$base")
    assert(faulty.exists(), "a faulted dir must be left in place, not collected")
    assert(!removed.exists(_.contains("v=97")), removed.toString)
    assert(removed.exists(_.contains("v=99")),
      s"the pass must continue past the fault: $removed")
    assert(Snapshots.read(spark, base).count() == 1)
  }

  // ── metadata-only aggregates (manifest record counts + bounds) ─────────

  test("metaCount: manifest-only count, zero jobs, survives missing data files") {
    val base = java.nio.file.Files.createTempDirectory("graft-meta").toString + "/t"
    val df = (1L to 500L).map(i => (i, s"s${i % 7}")).toDF("id", "s")
    Snapshots.write(df.filter(col("id") <= 300).repartition(3), base,
      statsKey = Some("id"))
    Snapshots.append(df.filter(col("id") > 300).repartition(2), base,
      statsKey = Some("id"))
    assert(Snapshots.metaCount(spark, base) == Some(500L))
    assert(Snapshots.metaCount(spark, base, Some(1L)) == Some(300L))
    // zero data IO, no Spark job at all with no pending deletes
    val read = recordsReadDuring {
      assert(Snapshots.metaCount(spark, base) == Some(500L))
    }
    assert(read == 0L, s"metaCount must not read data, read $read records")
    // the hard proof: physically remove every data file — the count still
    // answers from manifests alone (a scan-based count would throw)
    val f = new java.io.File(base)
    def parts(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.filter(_.getName.startsWith("part-"))
    Option(f.listFiles()).toSeq.flatten.filter(_.getName.startsWith("v="))
      .flatMap(parts).foreach(p => assert(p.delete()))
    assert(Snapshots.metaCount(spark, base) == Some(500L))
  }

  test("metaCount: positional deletes subtract exactly, incl. stacked overlap") {
    val base = java.nio.file.Files.createTempDirectory("graft-meta-del").toString + "/t"
    val df = (1L to 200L).map(i => (i, i % 10)).toDF("id", "grp")
    Snapshots.write(df.repartition(4), base, statsKey = Some("id"))
    Snapshots.deleteWhereMoR(spark, base, col("id") <= 40)
    assert(Snapshots.metaCount(spark, base) == Some(160L))
    // overlapping second delete repeats positions 31..40 in a second
    // delete file — the distinct (file,pos) count must not double-subtract
    Snapshots.deleteWhereMoR(spark, base, col("id") > 30 && col("id") <= 60)
    assert(Snapshots.metaCount(spark, base) == Some(140L))
    assert(Snapshots.read(spark, base).count() == 140L)
  }

  test("metaCount: equality deletes and legacy count-less manifests → None") {
    val base = java.nio.file.Files.createTempDirectory("graft-meta-eq").toString + "/t"
    val df = (1L to 50L).map(i => (i, s"x$i")).toDF("id", "s")
    Snapshots.write(df, base, statsKey = Some("id"))
    Snapshots.deleteByKey(spark, base, Seq(7L, 9L).toDF("id"))
    assert(Snapshots.metaCount(spark, base).isEmpty,
      "equality deletes make the matched-row count unknowable from metadata")
    // legacy manifest: strip the #r= fields in place → must fall back
    val base2 = java.nio.file.Files.createTempDirectory("graft-meta-legacy").toString + "/t"
    Snapshots.write(df, base2, statsKey = Some("id"))
    val mf = new java.io.File(s"$base2/v=1/_manifest")
    val stripped = scala.io.Source.fromFile(mf).getLines()
      .map(_.replaceAll("\\t#r=\\d+", "")).mkString("\n") + "\n"
    java.nio.file.Files.writeString(mf.toPath, stripped)
    // the in-place edit invalidates LocalFileSystem's checksum sidecar
    new java.io.File(s"$base2/v=1/._manifest.crc").delete()
    assert(Snapshots.metaCount(spark, base2).isEmpty,
      "entries without recorded counts must fall back, never guess")
    assert(Snapshots.read(spark, base2).count() == 50L, "read path unaffected")
  }

  test("metaBounds: manifest min/max parity; deletes and stat-less → None") {
    val base = java.nio.file.Files.createTempDirectory("graft-meta-b").toString + "/t"
    val df = (1L to 400L).map(i => (i * 3 - 1, s"v$i")).toDF("id", "s")
    Snapshots.write(df.filter(col("id") < 600).repartition(3), base,
      statsKey = Some("id"))
    Snapshots.append(df.filter(col("id") >= 600).repartition(3), base,
      statsKey = Some("id"))
    val Some((key, mn, mx)) = Snapshots.metaBounds(spark, base)
    val exact = Snapshots.read(spark, base)
      .agg(org.apache.spark.sql.functions.min(col("id")),
        org.apache.spark.sql.functions.max(col("id"))).head
    assert(key == "id" && mn.toLong == exact.getLong(0) && mx.toLong == exact.getLong(1))
    // a pending delete may have removed the extreme row — bounds go None
    Snapshots.deleteWhereMoR(spark, base, col("id") === mx.toLong)
    assert(Snapshots.metaBounds(spark, base).isEmpty)
    // stat-less table: no bounds to fold
    val base2 = java.nio.file.Files.createTempDirectory("graft-meta-b2").toString + "/t"
    Snapshots.write(df, base2)
    assert(Snapshots.metaBounds(spark, base2).isEmpty)
    assert(Snapshots.metaCount(spark, base2) == Some(400L),
      "row counts are recorded even without a stats key")
  }

  test("countWhere: boundary-only scan, strict operators, exact parity") {
    val base = java.nio.file.Files.createTempDirectory("graft-cw").toString + "/t"
    // three range-clustered files: [1,100] [101,200] [201,300]
    val df = (1L to 300L).map(i => (i, s"v$i")).toDF("id", "s")
      .repartitionByRange(3, col("id"))
    Snapshots.write(df, base, statsKey = Some("id"))
    def exact(pred: org.apache.spark.sql.Column): Long =
      Snapshots.read(spark, base).filter(pred).count()
    // fully-covered + pruned: zero data records read
    assert(Snapshots.countWhere(spark, base, col("id") <= 200L) == 200L)
    val r1 = recordsReadDuring { distributed {
      assert(Snapshots.countWhere(spark, base, col("id") <= 200L) == 200L)
    } }
    assert(r1 == 0L, s"two proven files + one pruned must read 0, read $r1")
    // a range that CUTS one file: only that file is scanned
    val r2 = recordsReadDuring { distributed {
      assert(Snapshots.countWhere(spark, base, col("id") <= 150L) == 150L)
    } }
    assert(r2 > 0L && r2 <= 110L, s"only the boundary file should be read, read $r2")
    // a small boundary file is counted from its rows held on the driver
    val r2c = recordsReadDuring {
      assert(Snapshots.countWhere(spark, base, col("id") <= 150L) == 150L)
    }
    assert(r2c == 0L, s"the cached boundary scan ran tasks reading $r2c records")
    // strict < at a file edge, equality, conjunction, cross-file range
    for (pred <- Seq(col("id") < 101L, col("id") === 100L,
        col("id") > 100L && col("id") <= 201L, col("id") >= 301L,
        org.apache.spark.sql.functions.lit(50L) < col("id"))) {
      assert(Snapshots.countWhere(spark, base, pred) == exact(pred), pred.toString)
    }
  }

  test("countWhere: null keys break inclusion proofs, never the count") {
    val base = java.nio.file.Files.createTempDirectory("graft-cw-null").toString + "/t"
    val withNulls = ((1L to 10L).map(i => (Some(i), s"v$i")) ++
      (1 to 5).map(i => (None, s"n$i"))).toDF("id", "s")
    Snapshots.write(withNulls.coalesce(1), base, statsKey = Some("id"))
    // metadata alone would claim 15 rows; the 5 NULL-key rows fail id<=10
    assert(Snapshots.countWhere(spark, base, col("id") <= 10L) == 10L)
    // a second file WITHOUT nulls still proves from metadata
    Snapshots.append((11L to 20L).map(i => (i, s"v$i")).toDF("id", "s")
      .coalesce(1), base, statsKey = Some("id"))
    assert(Snapshots.countWhere(spark, base, col("id") >= 11L) == 10L)
    val recs = recordsReadDuring { distributed {
      assert(Snapshots.countWhere(spark, base, col("id") >= 11L) == 10L)
    } }
    assert(recs == 0L, s"the null-free file proves from metadata, read $recs")
    // pending deletes: falls back to the exact filtered count
    Snapshots.deleteWhereMoR(spark, base, col("id") === 15L)
    assert(Snapshots.countWhere(spark, base, col("id") >= 11L) == 9L)
  }

  test("maintain: fold → compact → expire → vacuum in one verb; quiet table no-ops") {
    val base = java.nio.file.Files.createTempDirectory("graft-maint").toString + "/t"
    val df = (1L to 300L).map(i => (i, s"v$i")).toDF("id", "s")
    Snapshots.write(df.filter(col("id") <= 100).repartition(3), base,
      statsKey = Some("id"))
    Snapshots.append(df.filter(col("id") > 100 && col("id") <= 200)
      .repartition(3), base, statsKey = Some("id"))
    Snapshots.append(df.filter(col("id") > 200).repartition(3), base,
      statsKey = Some("id"))
    Snapshots.deleteWhereMoR(spark, base, col("id") % 10 === 0)
    val expected = Snapshots.read(spark, base).as[(Long, String)].collect().toSet

    val r = Snapshots.maintain(spark, base, smallBytes = 1024 * 1024,
      keepSnapshots = 1, statsKey = Some("id"))
    assert(r.deletesFolded, "one pending delete file at threshold 1 must fold")
    assert(r.compactedToVersion.isDefined, "nine tiny files must bin-pack")
    // expiry self-cleans its dropped files, so vacuum (crash debris /
    // stale txns) legitimately finds nothing on a healthy table
    assert(r.expiredVersions.nonEmpty && r.vacuumedPaths == 0, r.toString)
    // content is bit-identical through the whole cycle
    assert(Snapshots.read(spark, base).as[(Long, String)].collect().toSet == expected)
    assert(Snapshots.metaCount(spark, base) == Some(270L))

    // a quiet table: every step below threshold, nothing commits
    val vHead = Snapshots.versions(spark, base).last
    val r2 = Snapshots.maintain(spark, base, smallBytes = 1024 * 1024,
      keepSnapshots = 1)
    assert(!r2.deletesFolded && r2.compactedToVersion.isEmpty &&
      r2.expiredVersions.isEmpty && r2.vacuumedPaths == 0, r2.toString)
    assert(Snapshots.versions(spark, base).last == vHead)
  }

  test("maintain: deletes below threshold defer the fold AND the compaction") {
    val base = java.nio.file.Files.createTempDirectory("graft-maint2").toString + "/t"
    Snapshots.write((1L to 100L).map(i => (i, s"v$i")).toDF("id", "s")
      .repartition(4), base, statsKey = Some("id"))
    Snapshots.deleteWhereMoR(spark, base, col("id") === 7L)
    val r = Snapshots.maintain(spark, base, smallBytes = 1024 * 1024,
      keepSnapshots = 10, maxDeleteFiles = 5)
    assert(!r.deletesFolded && r.compactedToVersion.isEmpty,
      s"below-threshold deletes must defer fold and compaction: $r")
    // the pending delete still applies on read
    assert(Snapshots.read(spark, base).filter(col("id") === 7L).count() == 0)
  }

  test("stats sidecars: countWhere prunes on a NON-manifest column; corrupt falls back") {
    val base = java.nio.file.Files.createTempDirectory("graft-sc").toString + "/t"
    // range-clustered on id (the manifest key); `score` happens to be
    // range-aligned too, so sidecar bounds on it CAN prune — but the
    // manifest alone knows nothing about score
    val df = (1L to 300L).map(i => (i, i * 10.0, s"v$i")).toDF("id", "score", "s")
      .repartitionByRange(3, col("id"))
    Snapshots.write(df, base, statsKey = Some("id"))
    val built = Snapshots.writeStatsSidecars(spark, base, Seq("score", "s"))
    assert(built == 3, s"one sidecar per data file, built $built")
    def exact(p: org.apache.spark.sql.Column): Long =
      Snapshots.read(spark, base).filter(p).count()
    // fully-covered + pruned on score: zero data records read
    assert(Snapshots.countWhere(spark, base, col("score") <= 2000.0) == 200L)
    val r1 = recordsReadDuring { distributed {
      assert(Snapshots.countWhere(spark, base, col("score") <= 2000.0) == 200L)
    } }
    assert(r1 == 0L, s"sidecar bounds must prove/prune score ranges, read $r1")
    // boundary range on score: one file scanned
    val r2 = recordsReadDuring { distributed {
      assert(Snapshots.countWhere(spark, base, col("score") <= 1500.0) == 150L)
    } }
    assert(r2 > 0L && r2 <= 110L, s"only the boundary file, read $r2")
    assert(Snapshots.countWhere(spark, base, col("score") <= 1500.0) == 150L)
    // string column bounds work through the same sidecar
    assert(Snapshots.countWhere(spark, base, col("s") === "v42") ==
      exact(col("s") === "v42"))
    // idempotent: nothing missing → 0 built
    assert(Snapshots.writeStatsSidecars(spark, base, Seq("score")) == 0)
    // the read path prunes on sidecar bounds too: score<=900 touches one file
    val (cands, pruned) = Snapshots.scanPlan(spark, base, col("score") <= 900.0)
    assert(cands.size == 1 && pruned.size == 2,
      s"scanPlan must prune by sidecar bounds: ${cands.size}/${pruned.size}")
    // corrupt one sidecar: its file degrades to scan, count stays exact
    val f = new java.io.File(base).listFiles().filter(_.getName.startsWith("v="))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".stats")).head
    java.nio.file.Files.writeString(f.toPath, "garbage\nlines\n")
    new java.io.File(f.getParent, "." + f.getName + ".crc").delete()
    assert(Snapshots.countWhere(spark, base, col("score") <= 2000.0) == 200L)
  }

  test("files() metadata table exposes per-file n_rows") {
    val base = java.nio.file.Files.createTempDirectory("graft-meta-f").toString + "/t"
    Snapshots.write((1L to 90L).toDF("id").repartition(3), base)
    val rows = Snapshots.files(spark, base)
      .select("kind", "n_rows").collect()
    assert(rows.forall(_.getString(0) == "data"))
    assert(rows.map(_.getLong(1)).sum == 90L)
  }

  test("deleteByKey shards large key sets into multiple delete files") {
    val base = java.nio.file.Files.createTempDirectory("graft-eqshard").toString + "/t"
    Snapshots.write((1L to 300L).map(i => (i, s"v$i")).toDF("id", "s")
      .repartition(3), base, statsKey = Some("id"))
    // 120 keys at 50 per file → 3 shard files, 3 E: manifest lines
    val keys = (1L to 240L by 2L).toDF("id")
    val v = Snapshots.deleteByKey(spark, base, keys, maxKeysPerFile = 50L)
    val eqLines = Snapshots.manifestLines(spark, base, v)
      .filter(_.startsWith("E:"))
    assert(eqLines.size == 3, s"expected 3 E: lines, got:\n${eqLines.mkString("\n")}")
    assert(eqLines.forall(_.endsWith("\t1\tid")), "shards must share covered version + key cols")
    // pending (anti-join over the union of shards) read is exact
    val expected = (1L to 300L).filterNot(i => i % 2 == 1 && i <= 240).toSet
    assert(Snapshots.read(spark, base).select("id")
      .collect().map(_.getLong(0)).toSet == expected)
    // … and ONE anti-join, not one per shard: a single logical delete's
    // shards fold into one key set on the read side
    val plan = Snapshots.read(spark, base).queryExecution.executedPlan.toString
    assert("LeftAnti".r.findAllIn(plan).size == 1,
      s"sharded delete must read as one anti-join:\n$plan")
    // materialize folds them and the folded read agrees
    Snapshots.materializeDeletes(spark, base, statsKey = Some("id"))
    assert(Snapshots.read(spark, base).select("id")
      .collect().map(_.getLong(0)).toSet == expected)
  }

  test("string-typed manifest stats prune a source-equality scan from metadata") {
    val base = java.nio.file.Files.createTempDirectory("graft-strprune").toString + "/t"
    val docs = (1L to 400L).map(i => (i, s"src${i % 8}", i * 10))
      .toDF("id", "source", "chars")
    Snapshots.write(docs.repartitionByRange(8, col("source"), col("id")),
      base, statsKey = Some("source"))
    val (cand, pruned) = Snapshots.scanPlan(spark, base, col("source") === "src3")
    assert(pruned.nonEmpty, "string bounds must prune range-clustered files")
    assert(cand.nonEmpty)
    val expected = docs.filter(col("source") === "src3")
      .select("id").collect().map(_.getLong(0)).toSet
    var got: Set[Long] = null
    val reads = recordsReadDuring {
      got = Snapshots.scanWhere(spark, base, col("source") === "src3")
        .select("id").collect().map(_.getLong(0)).toSet
    }
    assert(got == expected)
    // IO proof: only the candidate files' rows were opened, not the table
    assert(reads <= cand.flatMap(_.rows).sum && reads < 400L,
      s"read $reads records; candidates hold ${cand.flatMap(_.rows).sum}")
  }

  test("NaN in a double column degrades its stats to must-scan, never a wrong prune") {
    val base = java.nio.file.Files.createTempDirectory("graft-nan").toString + "/t"
    // file layout: one clean low-range file, one NaN-poisoned file whose
    // non-NaN values sit in the high range
    val clean = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "score")
    val poisoned = Seq((3L, 100.0), (4L, Double.NaN)).toDF("id", "score")
    Snapshots.write(clean.coalesce(1), base, statsKey = Some("score"))
    Snapshots.append(poisoned.coalesce(1), base, statsKey = Some("score"))
    // the poisoned file's manifest line must carry NO stats (max would
    // stringify to NaN and compare false against everything)
    val manifest = Snapshots.manifestLines(spark, base, 2L)
    assert(!manifest.exists(_.contains("NaN")), manifest.mkString("\n"))
    // a high-range predicate must still scan the poisoned file — under
    // Spark's ordering NaN is LARGER than any double, so both 100.0 and
    // the NaN row satisfy score >= 50 (a NaN-poisoned max that pruned
    // this file would lose both)
    assert(Snapshots.countWhere(spark, base, col("score") >= 50.0) == 2L)
    val got = Snapshots.scanWhere(spark, base, col("score") >= 50.0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(3L, 4L))
    // same hazard through multi-column sidecars: stats for the NaN column
    // are refused there too (countWhere stays exact)
    Snapshots.writeStatsSidecars(spark, base, Seq("score"))
    assert(Snapshots.countWhere(spark, base, col("score") >= 50.0) == 2L)
  }

  test("corrupt-but-parseable sidecar lines degrade to scan, never crash or mis-prune") {
    val base = java.nio.file.Files.createTempDirectory("graft-sidecorrupt").toString + "/t"
    Snapshots.write((1L to 100L).map(i => (i, i * 1.0)).toDF("id", "score")
      .repartitionByRange(2, col("id")), base, statsKey = Some("id"))
    Snapshots.writeStatsSidecars(spark, base, Seq("score"))
    // overwrite one sidecar with 5-field lines that PARSE but are garbage:
    // unknown tag, and non-numeric min/max under tag D
    val sc = new java.io.File(base).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".stats")).head
    java.nio.file.Files.writeString(sc.toPath,
      "score\tQ\t1.0\t2.0\t#n=0\nscore\tD\tnotanum\tNaN\t#n=0\n")
    new java.io.File(sc.getParent, "." + sc.getName + ".crc").delete()
    // neither line may crash countWhere or prune the file it describes
    assert(Snapshots.countWhere(spark, base, col("score") >= 99.0) == 2L)
    assert(Snapshots.countWhere(spark, base, col("score") <= 1.0) == 1L)
  }

  test("scanPlan composes bloom sidecars: equality points prune bounds-blind layouts") {
    val base = java.nio.file.Files.createTempDirectory("graft-bloomplan").toString + "/t"
    // interleaved layout: every file's id range spans the whole table, so
    // min/max bounds prune NOTHING — only the bloom can
    val df = (1L to 300L).map(i => (i, s"p${i % 3}")).toDF("id", "part")
    Snapshots.write(df.repartition(3, col("part")), base, statsKey = Some("id"))
    Snapshots.writeBloomSidecars(spark, base, "id", expectedItems = 1000L)
    val total = Snapshots.manifestFiles(spark, base, 1L).size
    assert(total >= 2, s"fixture needs >= 2 files, got $total")
    val (cand, pruned) = Snapshots.scanPlan(spark, base, col("id") === 42L)
    assert(cand.size < total && cand.size + pruned.size == total,
      s"bloom must prune interleaved files: cand=${cand.size}/$total")
    // a bloom for column id must NOT prune a part-equality predicate
    val (cand2, _) = Snapshots.scanPlan(spark, base, col("part") === "p9")
    assert(cand2.size == total, "foreign-column equality must not consult the id bloom")
    // unified planner flows through scanWhere and countWhere identically
    assert(Snapshots.countWhere(spark, base, col("id") === 42L) == 1L)
    assert(Snapshots.scanWhere(spark, base, col("id") === 42L)
      .select("part").head.getString(0) == "p0")
  }

  test("IN-list predicates prune by per-value bounds and bloom probes") {
    val base = java.nio.file.Files.createTempDirectory("graft-inlist").toString + "/t"
    Snapshots.write((1L to 400L).map(i => (i, s"g${i % 4}")).toDF("id", "g")
      .repartitionByRange(8, col("id")), base, statsKey = Some("id"))
    // bounds path: every IN value lives in the low range → high files prune
    val (cand, pruned) = Snapshots.scanPlan(spark, base,
      col("id").isin(3L, 7L, 11L))
    assert(pruned.nonEmpty, "IN values confined to one range must prune files")
    assert(Snapshots.countWhere(spark, base, col("id").isin(3L, 7L, 11L)) == 3L)
    val got = Snapshots.scanWhere(spark, base, col("id").isin(3L, 7L, 11L))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(3L, 7L, 11L))
    // a large IN list survives the optimizer's InSet conversion too
    val big = (1L to 20L).map(java.lang.Long.valueOf)
    assert(Snapshots.countWhere(spark, base,
      col("id").isin(big: _*)) == 20L)
    val (_, prunedBig) = Snapshots.scanPlan(spark, base, col("id").isin(big: _*))
    assert(prunedBig.nonEmpty, "InSet must prune like In")
    // bloom path: add blooms, probe an IN list with one present value —
    // files not holding any of the values must drop even where bounds admit
    Snapshots.writeBloomSidecars(spark, base, "id", expectedItems = 1000L)
    assert(Snapshots.countWhere(spark, base, col("id").isin(3L, 999999L)) == 1L)
  }

  test("multi-column bloom sidecars: sections coexist and prune independently") {
    val base = java.nio.file.Files.createTempDirectory("graft-bloom2").toString + "/t"
    // interleaved on BOTH columns so min/max bounds never prune
    val df = (1L to 300L).map(i => (i, s"u${(i * 7) % 300}", s"p${i % 3}"))
      .toDF("id", "user", "part")
    Snapshots.write(df.repartition(3), base) // round-robin: ids interleave
    val total = Snapshots.manifestFiles(spark, base, 1L).size
    assert(total == 3)
    assert(Snapshots.writeBloomSidecars(spark, base, "id",
      expectedItems = 1000L) == total)
    // second column: builds its own sections without destroying the first
    assert(Snapshots.writeBloomSidecars(spark, base, "user",
      expectedItems = 1000L) == total)
    // idempotent per column
    assert(Snapshots.writeBloomSidecars(spark, base, "id",
      expectedItems = 1000L) == 0)
    val (cId, _) = Snapshots.scanPlan(spark, base, col("id") === 42L)
    assert(cId.size < total, "id bloom must still prune after the user build")
    val (cU, _) = Snapshots.scanPlan(spark, base, col("user") === "u7")
    assert(cU.size < total, "user bloom must prune too")
    // both lookups stay exact
    assert(Snapshots.pointLookup(spark, base, "id", 42L).count() == 1L)
    assert(Snapshots.pointLookup(spark, base, "user", "u7").count() == 1L)
    assert(Snapshots.pointLookup(spark, base, "user", "nope").count() == 0L)
  }

  test("mergeInto deleteWhen: matched rows retract, unmatched deletes no-op, mixed batch applies") {
    val base = java.nio.file.Files.createTempDirectory("graft-mergedel").toString + "/t"
    Snapshots.write((1L to 10L).map(i => (i, s"v$i", "u")).toDF("id", "s", "op")
      .repartition(2), base, statsKey = Some("id"))
    // mixed CDC batch: update id=2, delete id=3, delete id=99 (unmatched
    // → no-op), insert id=11, and a NULL-op row (→ upsert) for id=4
    val batch = Seq(
      (2L, "V2", "u"), (3L, "gone", "d"), (99L, "ghost", "d"),
      (11L, "v11", "u"), (4L, "V4", null.asInstanceOf[String]))
      .toDF("id", "s", "op")
    Snapshots.mergeInto(spark, base, batch, "id",
      deleteWhen = Some(col("op") === "d"))
    val got = Snapshots.read(spark, base).select("id", "s")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(!got.contains(3L), "matched delete must retract")
    assert(!got.contains(99L), "unmatched delete must not insert")
    assert(got(2L) == "V2" && got(4L) == "V4" && got(11L) == "v11")
    assert(got.size == 10, s"10 rows expected (10 - 1 del + 1 ins), got ${got.size}")
    // default path unchanged: no deleteWhen behaves as plain upsert
    Snapshots.mergeInto(spark, base,
      Seq((3L, "back", "d")).toDF("id", "s", "op"), "id")
    assert(Snapshots.read(spark, base).filter(col("id") === 3L).count() == 1)
  }

  test("NDV sidecars: metadata estimate tracks exact, hybrid covers fresh appends") {
    val base = java.nio.file.Files.createTempDirectory("graft-ndv").toString + "/t"
    val df = (1L to 2000L).map(i => (i, s"u${i % 700}", s"g${i % 5}"))
      .toDF("id", "user", "grp")
    Snapshots.write(df.repartition(4), base)
    assert(Snapshots.writeNdvSidecars(spark, base, Seq("user", "grp")) == 4)
    // idempotent per column set; incremental for a new column
    assert(Snapshots.writeNdvSidecars(spark, base, Seq("user")) == 0)
    assert(Snapshots.writeNdvSidecars(spark, base, Seq("id")) == 4)
    // metadata-only estimate: ZERO records read once every file is sketched
    var est = 0L
    val reads = recordsReadDuring {
      est = Snapshots.approxDistinct(spark, base, "user")
    }
    assert(reads == 0L, s"covered NDV must not scan, read $reads records")
    assert(math.abs(est - 700L) <= 35L, s"estimate $est vs exact 700")
    assert(Snapshots.approxDistinct(spark, base, "grp") == 5L)
    // hybrid: an unsketched append scans ONLY the delta
    Snapshots.append((2001L to 2200L).map(i => (i, s"u${i}", "g9"))
      .toDF("id", "user", "grp"), base)
    var est2 = 0L
    val reads2 = recordsReadDuring {
      est2 = Snapshots.approxDistinct(spark, base, "user")
    }
    assert(reads2 <= 200L, s"hybrid NDV must scan only the delta, read $reads2")
    assert(math.abs(est2 - 900L) <= 45L, s"estimate $est2 vs exact 900")
    // pending MoR deletes force the honest full scan (sketches cannot subtract)
    Snapshots.deleteByKey(spark, base, (1L to 2000L).toDF("id"))
    val est3 = Snapshots.approxDistinct(spark, base, "grp")
    assert(est3 == 1L, s"post-delete distinct grp must be 1 (g9 only), got $est3")
  }

  test("schema evolution: rename/drop are metadata-only, reads/pruning/time-travel hold") {
    val base = java.nio.file.Files.createTempDirectory("graft-schevo").toString + "/t"
    val df = (1L to 300L).map(i => (i, s"src${i % 4}", i * 10L))
      .toDF("id", "source", "n_chars")
    Snapshots.write(df.repartitionByRange(4, col("n_chars")), base,
      statsKey = Some("n_chars"))
    val v2 = Snapshots.renameColumn(spark, base, "n_chars", "chars")
    // metadata-only: same data files, new logical schema
    assert(Snapshots.manifestFiles(spark, base, v2) ==
      Snapshots.manifestFiles(spark, base, 1L))
    assert(Snapshots.read(spark, base).columns.toSeq == Seq("id", "source", "chars"))
    assert(Snapshots.read(spark, base).agg(org.apache.spark.sql.functions.sum("chars"))
      .head.getLong(0) == (1L to 300L).map(_ * 10).sum)
    // time travel sees the schema AS OF the version
    assert(Snapshots.read(spark, base, Some(1L)).columns.contains("n_chars"))
    // appends carry the NEW name; old-name appends are quarantined
    Snapshots.append((301L to 320L).map(i => (i, "srcX", i * 10L))
      .toDF("id", "source", "chars"), base)
    intercept[IllegalArgumentException] {
      Snapshots.append(Seq((999L, "bad", 1L)).toDF("id", "source", "n_chars"), base)
    }
    assert(Snapshots.read(spark, base).count() == 320L)
    // old files' stats keep pruning scans issued in the NEW name
    val (cand, pruned) = Snapshots.scanPlan(spark, base, col("chars") <= 400L)
    assert(pruned.nonEmpty && cand.nonEmpty, "renamed stats must still prune")
    assert(Snapshots.countWhere(spark, base, col("chars") <= 400L) == 40L)
    assert(Snapshots.topK(spark, base, "chars", 3, tieBreak = Seq("id"))
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(320L, 319L, 318L))
    // rewrite verbs refuse while ops are pending; name reuse is quarantined
    intercept[IllegalArgumentException] {
      Snapshots.deleteWhere(spark, base, col("id") === 1L)
    }
    intercept[IllegalArgumentException] {
      Snapshots.compact(spark, base, smallBytes = 1L << 30)
    }
    intercept[IllegalArgumentException] {
      Snapshots.renameColumn(spark, base, "source", "n_chars")
    }
    // materializeSchema rewrites ONLY stale-schema files
    val preHead = Snapshots.versions(spark, base).last
    val preFiles = Snapshots.manifestFiles(spark, base, preHead).toSet
    Snapshots.materializeSchema(spark, base, statsKey = Some("chars"))
    val postFiles = Snapshots.manifestFiles(spark, base,
      Snapshots.versions(spark, base).last).toSet
    assert((preFiles intersect postFiles).nonEmpty,
      "logical-shape files must be inherited, not rewritten")
    assert((preFiles -- postFiles).nonEmpty, "stale-shape files must be rewritten")
    assert(Snapshots.read(spark, base).count() == 320L)
    assert(Snapshots.read(spark, base).agg(org.apache.spark.sql.functions.sum("chars"))
      .head.getLong(0) == (1L to 320L).map(_ * 10).sum)
    // verbs unlock after materialization
    Snapshots.deleteWhere(spark, base, col("id") === 1L)
    assert(Snapshots.read(spark, base).count() == 319L)
    // drop: column disappears logically now, physically after materialize
    Snapshots.dropColumn(spark, base, "source")
    assert(Snapshots.read(spark, base).columns.toSeq == Seq("id", "chars"))
    Snapshots.materializeSchema(spark, base)
    assert(Snapshots.read(spark, base).columns.toSeq == Seq("id", "chars"))
    assert(Snapshots.read(spark, base).count() == 319L)
    // rename refuses while MoR deletes are pending (and vice versa)
    Snapshots.deleteByKey(spark, base, Seq(2L).toDF("id"))
    intercept[IllegalArgumentException] {
      Snapshots.renameColumn(spark, base, "chars", "len")
    }
    Snapshots.materializeDeletes(spark, base)
    Snapshots.renameColumn(spark, base, "chars", "len")
    assert(Snapshots.read(spark, base).columns.toSeq == Seq("id", "len"))
    assert(Snapshots.read(spark, base).count() == 318L)
  }

  test("topK reads only the files whose bounds can reach the k-th value") {
    val base = java.nio.file.Files.createTempDirectory("graft-topk").toString + "/t"
    val df = (1L to 800L).map(i => (i, s"v$i", (i % 7).toInt)).toDF("id", "s", "grp")
    Snapshots.write(df.repartitionByRange(8, col("id")), base,
      statsKey = Some("id"))
    val expectedDesc = (791L to 800L).toSeq.reverse
    var got: Seq[Long] = null
    val reads = recordsReadDuring {
      got = Snapshots.topK(spark, base, "id", 10)
        .select("id").collect().map(_.getLong(0)).toSeq
    }
    assert(got == expectedDesc)
    // range-clustered: the top-10 lives in the tail file; the candidate
    // loop must stop after reading ~1 file (plus its re-read for the
    // final frame), never the 800-row table
    assert(reads < 800L, s"topK scanned the table: $reads records")
    // ascending spelling
    assert(Snapshots.topK(spark, base, "id", 5, ascending = true)
      .select("id").collect().map(_.getLong(0)).toSeq == (1L to 5L))
    // ties: k-th value shared across file boundary must admit both files
    val base2 = java.nio.file.Files.createTempDirectory("graft-topk2").toString + "/t"
    val dup = ((2L to 101L).map(i => (i, 1L)) ++ Seq((1L, 9L), (102L, 9L)))
      .toDF("id", "score")
    // cluster by id so the two score-9 rows land in DIFFERENT id-range
    // files (opposite ends)
    Snapshots.write(dup.repartitionByRange(4, col("id")), base2,
      statsKey = Some("score"))
    val top2 = Snapshots.topK(spark, base2, "score", 2, tieBreak = Seq("id"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(top2 == Set(1L, 102L))
    // under a pending MoR delete the deleted top rows must not surface
    Snapshots.deleteWhereMoR(spark, base, col("id") > 795L)
    assert(Snapshots.topK(spark, base, "id", 3)
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(795L, 794L, 793L))
  }

  test("OR-of-equalities and IS NULL prune from metadata") {
    val base = java.nio.file.Files.createTempDirectory("graft-ornull").toString + "/t"
    val df = (1L to 400L).map(i => (i, if (i % 50 == 0) null else s"v$i"))
      .toDF("id", "s")
    Snapshots.write(df.repartitionByRange(8, col("id")), base,
      statsKey = Some("id"))
    // c = a OR c = b extracts as the {a, b} equality set: only the edge
    // files can match, the middle six prune
    val pred = col("id") === 3L || col("id") === 395L
    val (cand, pruned) = Snapshots.scanPlan(spark, base, pred)
    assert(pruned.size >= 6 && cand.nonEmpty,
      s"edge-value OR must prune middle files: cand=${cand.size}")
    assert(Snapshots.countWhere(spark, base, pred) == 2L)
    assert(Snapshots.scanWhere(spark, base, pred)
      .select("id").collect().map(_.getLong(0)).toSet == Set(3L, 395L))
    // a branch that does not pin the column disables the extraction but
    // never the answer
    assert(Snapshots.countWhere(spark, base,
      col("id") === 3L || col("s") === "v395") == 2L)
    // IS NULL on the fully-populated key column: every file proves zero
    // nulls (#n=0 rides the stats), so the scan is pure metadata
    val reads = recordsReadDuring {
      assert(Snapshots.countWhere(spark, base, col("id").isNull) == 0L)
    }
    assert(reads == 0L, s"IS NULL over a no-null column must not scan, read $reads")
    assert(Snapshots.scanWhere(spark, base, col("id").isNull).count() == 0L)
    // on a column WITH nulls (via sidecars) the count stays exact
    Snapshots.writeStatsSidecars(spark, base, Seq("s"))
    assert(Snapshots.countWhere(spark, base, col("s").isNull) == 8L)
  }

  test("timestamp and date stats prune range scans in the Catalyst value space") {
    val base = java.nio.file.Files.createTempDirectory("graft-tsprune").toString + "/t"
    // one row per hour across ~42 days, time-clustered into 8 files
    val df = spark.range(0, 1000)
      .selectExpr("id",
        "timestamp_micros(CAST(1704067200000000 + id * 3600000000 AS LONG)) AS ts",
        "to_date(timestamp_micros(CAST(1704067200000000 + id * 3600000000 AS LONG))) AS d")
    Snapshots.write(df.repartitionByRange(8, col("ts")), base,
      statsKey = Some("ts"))
    // manifest stats must be epoch-MICROS strings (the Literal value
    // space), not a rendered timestamp that would compare lexically in
    // session-TZ space
    val st = Snapshots.manifestLines(spark, base, 1L)
      .filter(l => l.split('\t').length >= 5)
    assert(st.nonEmpty && st.forall(_.split('\t')(2) == "L"), st.mkString("\n"))
    assert(st.forall(_.split('\t')(3).forall(c => c.isDigit || c == '-')),
      "timestamp bounds must be numeric micros:\n" + st.mkString("\n"))
    val cut = java.sql.Timestamp.valueOf("2024-01-03 00:00:00")
    val (cand, pruned) = Snapshots.scanPlan(spark, base, col("ts") < lit(cut))
    assert(pruned.nonEmpty && cand.nonEmpty,
      s"time-clustered files must prune on a ts range: cand=${cand.size}")
    assert(Snapshots.countWhere(spark, base, col("ts") < lit(cut)) == 48L)
    assert(Snapshots.scanWhere(spark, base, col("ts") < lit(cut)).count() == 48L)
    // date column through stats SIDECARS (epoch-days canon) prunes too
    Snapshots.writeStatsSidecars(spark, base, Seq("d"))
    val dCut = java.sql.Date.valueOf("2024-01-02")
    assert(Snapshots.countWhere(spark, base, col("d") < lit(dCut)) == 24L)
    val (cd, pd) = Snapshots.scanPlan(spark, base, col("d") < lit(dCut))
    assert(pd.nonEmpty && cd.nonEmpty, "date sidecar bounds must prune")
    // bloom canon agrees: a timestamp point probe builds and probes in micros
    Snapshots.writeBloomSidecars(spark, base, "ts", expectedItems = 2000L)
    val point = java.sql.Timestamp.valueOf("2024-01-05 07:00:00")
    assert(Snapshots.pointLookup(spark, base, "ts", point).count() == 1L)
    assert(Snapshots.pointLookup(spark, base, "ts",
      java.sql.Timestamp.valueOf("2030-01-01 00:00:00")).count() == 0L)
  }

  test("deleteWhereMoR shards wide positional deletes into multiple files") {
    val base = java.nio.file.Files.createTempDirectory("graft-morshard").toString + "/t"
    Snapshots.write((1L to 300L).map(i => (i, s"v$i")).toDF("id", "s")
      .repartition(3), base)
    // 150 matching positions at 60 per file → 3 D: shard lines
    val v = Snapshots.deleteWhereMoR(spark, base, col("id") % 2 === 0,
      maxPositionsPerFile = 60L)
    val dLines = Snapshots.manifestLines(spark, base, v)
      .filter(_.startsWith("D:"))
    assert(dLines.size == 3, s"expected 3 D: lines, got:\n${dLines.mkString("\n")}")
    val expected = (1L to 300L by 2L).toSet
    assert(Snapshots.read(spark, base).select("id")
      .collect().map(_.getLong(0)).toSet == expected)
    // shards union into ONE positional anti-join on the read side
    val plan = Snapshots.read(spark, base).queryExecution.executedPlan.toString
    assert("LeftAnti".r.findAllIn(plan).size == 1, plan)
    Snapshots.materializeDeletes(spark, base)
    assert(Snapshots.read(spark, base).select("id")
      .collect().map(_.getLong(0)).toSet == expected)
  }

  test("footer-derived key stats equal the delta scan's (round-18 fast path)") {
    import org.apache.spark.sql.functions.{count, input_file_name, max, min, when}
    // integral key WITH nulls, multiple files, negative values — the fast
    // path must reproduce the scan's per-file (min, max, null-count) and
    // the #r= record counts exactly
    val base = java.nio.file.Files.createTempDirectory("graft-fstats").toString + "/t"
    val df = (1L to 500L).map(i =>
        (if (i % 11 == 0) None else Some(i - 250L), s"v$i"))
      .toDF("id", "s").repartition(4)
    Snapshots.write(df, base, statsKey = Some("id"))
    val entries = Snapshots.manifestLines(spark, base, 1L).map(Snapshots.parseEntry)
      .filterNot(_.isSchemaOp)
    assert(entries.nonEmpty && entries.forall(e => e.stats.isDefined && e.rows.isDefined))
    // per-file truth from an explicit scan of the committed files
    val truth = spark.read.parquet(base + "/v=1")
      .groupBy(input_file_name().as("f"))
      .agg(min(col("id")).cast("string").as("mn"),
        max(col("id")).cast("string").as("mx"),
        count(when(col("id").isNull, 1)).as("nn"),
        count(lit(1)).as("r"))
      .collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName ->
        (r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toMap
    entries.foreach { e =>
      val n = new org.apache.hadoop.fs.Path(e.path).getName
      val (mn, mx, nn, r) = truth(n)
      val Some((key, tag, emn, emx)) = e.stats
      assert(key == "id" && tag == "L" && emn == mn && emx == mx,
        s"stats mismatch for $n: manifest=($emn,$emx) scan=($mn,$mx)")
      assert(e.nulls.contains(nn) && e.rows.contains(r),
        s"null/row count mismatch for $n")
    }
    // a DOUBLE key stays on the scan path: NaN-poisoned files record no
    // stats (the fast path must not claim finite footer bounds for them)
    val base2 = java.nio.file.Files.createTempDirectory("graft-fstats").toString + "/t"
    val dd = (1L to 100L).map(i =>
        (i, if (i <= 50) i.toDouble else Double.NaN))
      .toDF("id", "d").repartitionByRange(2, col("id")) // NaN rows isolated
    Snapshots.write(dd, base2, statsKey = Some("d"))
    val e2 = Snapshots.manifestLines(spark, base2, 1L).map(Snapshots.parseEntry)
      .filterNot(_.isSchemaOp)
    val withStats = e2.filter(_.stats.isDefined)
    assert(withStats.size == 1 && withStats.head.stats.get._2 == "D",
      s"expected exactly the NaN-free file to carry stats:\n${e2.map(_.line).mkString("\n")}")
  }
}

/**
 * Test-only filesystem (scheme `vanish://`) over the local FS: `listStatus`
 * of an ARMED path deletes the path and throws FileNotFoundException —
 * deterministic stand-in for a concurrent writer renaming the directory
 * aside between vacuum's re-check and its listing.
 */
class VanishingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "vanish"
  override def getUri: java.net.URI = java.net.URI.create("vanish:///")
  override def listStatus(p: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] = {
    if (VanishingFs.armed.remove(p.toUri.getPath)) {
      super.delete(p, true)
      throw new java.io.FileNotFoundException(s"simulated rename-aside race: $p")
    }
    if (VanishingFs.armedFaults.remove(p.toUri.getPath))
      // dir still exists — a permission/transient fault, NOT the vanish race
      throw new java.io.IOException(s"simulated permission denied: $p")
    super.listStatus(p)
  }
}
object VanishingFs {
  private val armed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[store] val armedFaults =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def arm(path: String): Unit = armed.add(path)
  def armFault(path: String): Unit = armedFaults.add(path)
  def armedEmpty: Boolean = armed.isEmpty
}
