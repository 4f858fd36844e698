package graft.store

import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/**
 * Spark jobs per snapshot point read on a small table. The rows of small
 * data files are held on the driver, so a warm `pointLookup`, `scanWhere`
 * or `countWhere` collects without a job, and the first read after a commit
 * loads only the new file, on the driver, without one either.
 */
class SnapshotJobBudgetSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val spark = TestSpark.spark
  import spark.implicits._
  private lazy val jobs = new JobCounter(spark.sparkContext)

  override def afterAll(): Unit = jobs.close()

  /** Three range-clustered files of 100 rows each, keyed by `id`. */
  private def table(): String = {
    val base = java.nio.file.Files.createTempDirectory("graft-snapbudget").toString + "/t"
    Snapshots.write((1L to 100L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), base,
      statsKey = Some("id"))
    Seq(101L, 201L).foreach { lo =>
      Snapshots.append((lo until lo + 100L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1),
        base, statsKey = Some("id"))
    }
    base
  }

  test("warm pointLookup, scanWhere and countWhere run no job") {
    val base = table()
    Snapshots.pointLookup(spark, base, "id", 150L).collect()
    Snapshots.scanWhere(spark, base, col("id").between(90L, 210L)).collect()
    Snapshots.countWhere(spark, base, col("id") >= 150L)
    val (hit, n1) = jobs(Snapshots.pointLookup(spark, base, "id", 150L).collect())
    assert(hit.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((150L, "r150")))
    assert(n1 == 0)
    val (scan, n2) = jobs(Snapshots.scanWhere(spark, base, col("id").between(90L, 210L)).collect())
    assert(scan.length == 121 && n2 == 0)
    val (cnt, n3) = jobs(Snapshots.countWhere(spark, base, col("id") >= 150L))
    assert(cnt == 151L && n3 == 0)
    val (miss, n4) = jobs(Snapshots.pointLookup(spark, base, "id", 1000L).collect())
    assert(miss.isEmpty && n4 == 0)
  }

  test("the first pointLookup after an append runs no job: the driver loads only the new file") {
    val base = table()
    Snapshots.pointLookup(spark, base, "id", 150L).collect()
    Snapshots.append((301L to 400L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), base,
      statsKey = Some("id"))
    val (rows, n) = jobs(Snapshots.pointLookup(spark, base, "id", 350L).collect())
    assert(rows.map(_.getLong(0)).toSeq == Seq(350L))
    assert(n == 0)
  }

  test("above the size bound the point reads run the distributed plan") {
    val base = table()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try {
      val (rows, n) = jobs(Snapshots.pointLookup(spark, base, "id", 150L).collect())
      assert(rows.length == 1 && n >= 1)
      val (cnt, m) = jobs(Snapshots.countWhere(spark, base, col("id") >= 150L))
      assert(cnt == 151L && m >= 1)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
