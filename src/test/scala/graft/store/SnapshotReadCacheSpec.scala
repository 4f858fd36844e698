package graft.store

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/**
 * Parity of the driver-side row cache behind `pointLookup`, `scanWhere`
 * and `countWhere`: after every step of a seeded mix of snapshot verbs
 * (appends, stream appends, MERGE, merge-on-read deletes and their fold,
 * compaction, expiry, schema ops and a shallow clone), each read at the
 * latest version and at a time-travel version, cold and warm, equals the
 * same read with `autoBroadcastJoinThreshold` at 1 byte, where no file is
 * cached and every read is the distributed parquet plan. Rows, column
 * types and null-ness are compared.
 */
class SnapshotReadCacheSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"

  private def uncached[T](body: => T): T = {
    val prev = spark.conf.getOption(thresholdKey)
    spark.conf.set(thresholdKey, "1")
    try body finally prev.fold(spark.conf.unset(thresholdKey))(spark.conf.set(thresholdKey, _))
  }

  /** A frame as compared: its schema and its rows in a fixed order. */
  private def contents(df: DataFrame): (StructType, Seq[Row]) =
    (df.schema, df.collect().toSeq.sortBy(_.toString))

  /** The three verbs at `version`, over a key, an id range and a column
    * other than the id. */
  private def reads(base: String, version: Option[Long], k: Long, lo: Long): Seq[Any] = {
    val other = Snapshots.read(spark, base, version).columns.find(_ != "id")
    Seq(
      contents(Snapshots.pointLookup(spark, base, "id", k, version)),
      contents(Snapshots.scanWhere(spark, base, col("id").between(lo, lo + 25L), version)),
      contents(Snapshots.scanWhere(spark, base,
        other.fold(col("id") > lo)(c => col(c) > 50000L || col(c).isNull), version)),
      Snapshots.countWhere(spark, base, col("id") >= lo, version),
      Snapshots.countWhere(spark, base, col("id") < lo && col("id") > lo - 40L, version),
      other.fold(0L)(c => Snapshots.countWhere(spark, base, col(c) <= 50000L, version)))
  }

  private def assertParity(base: String, version: Option[Long], k: Long, lo: Long,
                           tag: String): Unit = {
    val cold = reads(base, version, k, lo)
    val warm = reads(base, version, k, lo)
    val plain = uncached(reads(base, version, k, lo))
    assert(cold == plain, s"$tag: cached reads differ from the parquet reads")
    assert(warm == plain, s"$tag: warm cached reads differ from the parquet reads")
  }

  test("cached point reads equal the parquet reads across a random verb mix") {
    val rnd = new scala.util.Random(93180L) // fixed seed: deterministic
    (1 to 2).foreach { trial =>
      val root = java.nio.file.Files.createTempDirectory(s"graft-readcache$trial").toString
      val base = s"$root/t"
      val clone = s"$root/clone"
      var cloned = false
      var nextId = 1L
      var nextCol = 1
      var batchId = 0L
      var cols = Vector("x")
      var addPending = Set.empty[String]
      def frame(n: Int, from: Option[Seq[Long]] = None): DataFrame = {
        val ids = from.getOrElse((0 until n).map { _ => nextId += 1; nextId - 1 })
        val schema = StructType(StructField("id", LongType, nullable = false) +:
          cols.map(StructField(_, LongType, nullable = true)))
        spark.createDataFrame(spark.sparkContext.parallelize(ids.map(id =>
          Row.fromSeq(id +: cols.map(_ =>
            if (rnd.nextInt(8) == 0) null else rnd.nextLong(100000)))), 1 + rnd.nextInt(2)),
          schema)
      }
      Snapshots.write(frame(40), base, statsKey = Some("id"))

      (1 to 18).foreach { step =>
        val op = rnd.nextInt(13)
        try op match {
          case 0 | 1 => Snapshots.append(frame(5 + rnd.nextInt(20)), base, statsKey = Some("id"))
          case 2 =>
            batchId += 1
            Snapshots.appendStream(frame(5 + rnd.nextInt(10)), base, "fuzz", batchId,
              statsKey = Some("id"))
          case 3 => // MERGE: some existing ids, some new
            val old = Seq.fill(4)(1L + rnd.nextInt(nextId.toInt))
            Snapshots.mergeInto(spark, base, frame(0, Some((old ++ Seq(nextId, nextId + 1)).distinct)),
              "id")
            nextId += 2
          case 4 =>
            val m = 3 + rnd.nextInt(4)
            Snapshots.deleteWhereMoR(spark, base, col("id") % m === rnd.nextInt(m))
          case 5 => Snapshots.materializeDeletes(spark, base)
          case 6 => Snapshots.compact(spark, base, smallBytes = 1L << 20)
          case 7 =>
            Snapshots.expire(spark, base, 2 + rnd.nextInt(3))
            Snapshots.vacuum(spark, base, txnTtlMs = 0L)
          case 8 =>
            val c = s"c$nextCol"; nextCol += 1
            Snapshots.addColumn(spark, base, c, LongType,
              default = if (rnd.nextBoolean()) Some(rnd.nextInt(1000).toString) else None)
            cols :+= c; addPending += c
          case 9 if cols.exists(!addPending(_)) =>
            val settled = cols.filter(!addPending(_))
            val from = settled(rnd.nextInt(settled.size))
            val to = s"r$nextCol"; nextCol += 1
            Snapshots.renameColumn(spark, base, from, to)
            cols = cols.map(c => if (c == from) to else c)
          case 10 if cols.size >= 2 && cols.exists(!addPending(_)) =>
            val settled = cols.filter(!addPending(_))
            val c = settled(rnd.nextInt(settled.size))
            Snapshots.dropColumn(spark, base, c)
            cols = cols.filterNot(_ == c)
          case 11 =>
            Snapshots.materializeSchema(spark, base, statsKey = Some("id"))
            addPending = Set.empty
          case 12 if !cloned =>
            Snapshots.shallowClone(spark, base, clone)
            cloned = true
          case _ => ()
        } catch {
          // a verb refusing its precondition (pending deletes or schema
          // ops) commits nothing: redraw, as an operator would
          case _: IllegalArgumentException => ()
        }
        val k = 1L + rnd.nextInt(nextId.toInt)
        val lo = 1L + rnd.nextInt(nextId.toInt)
        assertParity(base, None, k, lo, s"trial $trial step $step op $op latest")
        val vs = Snapshots.versions(spark, base)
        val v = vs(rnd.nextInt(vs.size))
        assertParity(base, Some(v), k, lo, s"trial $trial step $step op $op v$v")
        if (cloned) assertParity(clone, None, k, lo, s"trial $trial step $step op $op clone")
      }
    }
  }

  test("a table dropped and re-created at the same path reads its new rows") {
    val base = java.nio.file.Files.createTempDirectory("graft-readcache-drop").toString + "/t"
    Snapshots.write((1L to 50L).map(i => (i, i * 10)).toDF("id", "x").coalesce(1), base,
      statsKey = Some("id"))
    assertParity(base, None, 7L, 10L, "first table")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    Snapshots.write((1L to 60L).map(i => (i, i * 20)).toDF("id", "x").coalesce(1), base,
      statsKey = Some("id"))
    assertParity(base, None, 7L, 10L, "re-created table")
    assert(Snapshots.pointLookup(spark, base, "id", 7L).as[(Long, Long)].collect().toSeq ==
      Seq((7L, 140L)))
  }

  test("a data file rewritten behind the store's back reads its new rows") {
    val root = java.nio.file.Files.createTempDirectory("graft-readcache-rewrite").toString
    val base = s"$root/t"
    Snapshots.write((1L to 50L).map(i => (i, i * 10)).toDF("id", "x").coalesce(1), base,
      statsKey = Some("id"))
    assertParity(base, None, 7L, 10L, "before the rewrite")
    val victim = new java.io.File(s"$base/${Snapshots.manifestFiles(spark, base, 1L).head}")
    (1L to 50L).map(i => (i, i * 100000L + 1L)).toDF("id", "x").coalesce(1)
      .write.parquet(s"$root/other")
    val fresh = new java.io.File(s"$root/other").listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(fresh.toPath, victim.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(victim.getParent, s".${victim.getName}.crc").delete()
    assertParity(base, None, 7L, 10L, "after the rewrite")
    assert(Snapshots.pointLookup(spark, base, "id", 7L).as[(Long, Long)].collect().toSeq ==
      Seq((7L, 700001L)))
  }

  test("the 1-byte bound, pending deletes and default fill keep the distributed plan") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def leaves(df: DataFrame) = df.queryExecution.analyzed.collectLeaves()
    def fileScan(df: DataFrame) = leaves(df).exists(_.isInstanceOf[LogicalRelation]) &&
      !leaves(df).exists(_.isInstanceOf[LocalRelation])
    val base = java.nio.file.Files.createTempDirectory("graft-readcache-plan").toString + "/t"
    Snapshots.write((1L to 50L).map(i => (i, i * 2)).toDF("id", "x").coalesce(1), base,
      statsKey = Some("id"))
    assert(!fileScan(Snapshots.pointLookup(spark, base, "id", 7L)), "small and clean: cached")
    assert(uncached(fileScan(Snapshots.pointLookup(spark, base, "id", 7L))))
    Snapshots.addColumn(spark, base, "d", LongType, default = Some("5"))
    Snapshots.append(Seq((51L, 102L, 9L)).toDF("id", "x", "d").coalesce(1), base,
      statsKey = Some("id"))
    assert(fileScan(Snapshots.scanWhere(spark, base, col("id") >= lit(1L))), "default fill")
    assert(Snapshots.scanWhere(spark, base, col("id") >= lit(50L))
      .as[(Long, Long, Long)].collect().toSet == Set((50L, 100L, 5L), (51L, 102L, 9L)))
    Snapshots.materializeSchema(spark, base, statsKey = Some("id"))
    assert(!fileScan(Snapshots.scanWhere(spark, base, col("id") >= lit(1L))))
    Snapshots.deleteWhereMoR(spark, base, col("id") === 7L)
    assert(fileScan(Snapshots.pointLookup(spark, base, "id", 8L)), "pending deletes")
    assert(Snapshots.pointLookup(spark, base, "id", 7L).isEmpty)
    assertParity(base, None, 8L, 5L, "pending deletes")
  }
}
