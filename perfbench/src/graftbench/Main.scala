package graftbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/**
 * One benchmark process: builds the session, prepares the workload's
 * state (several times, to time set-up), warms up on a separate store,
 * runs the fixed timed script, stops timing, checks outputs, and writes
 * everything it measured as one JSON object.
 *
 *   graftbench.Main <workload> <seed> <units> <traced 0|1> <work dir> <out file>
 *
 * `units` is the size of the timed script: sessions, batches or passes.
 * Workload `train` runs each workload's set-up and warm-up at its smallest
 * size and writes nothing; the build uses it to record a class-data archive.
 */
object Main {
  val prepareReps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, unitsS, tracedS, work, outFile) = args
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    if (workload == "train") {
      // each workload's set-up and warm-up at its smallest size, so that the
      // class-data archive written at exit holds the classes a run loads
      Seq("service", "ingest", "curate").foreach { w =>
        val wl = workloadOf(new Run(spark, seedS.toLong, traced = false), w, 1, small = true)
        wl.prepare(s"$work/$w")
        wl.warmup(s"$work/$w")
      }
    } else {
      val result = measure(spark, workload, seedS.toLong, unitsS.toInt, tracedS == "1",
        work, sessionS)
      val w = new java.io.PrintWriter(outFile, "UTF-8")
      try w.write(result) finally w.close()
    }
    spark.stop()
  }

  def workloadOf(run: Run, name: String, units: Int, small: Boolean): Workload =
    name match {
      case "service" => new ServiceWorkload(run, units)
      case "ingest" => new IngestWorkload(run, units)
      case "curate" => new CurateWorkload(run, units, if (small) 600 else 6000)
      case other => sys.error(s"unknown workload $other")
    }

  def session(work: String): SparkSession = {
    val slots = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // status history kept for finished jobs: small and fixed, so the
      // live heap does not depend on when the status store trims it
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  def measure(spark: SparkSession, workload: String, seed: Long, units: Int,
              traced: Boolean, work: String, sessionS: Double): String = {
    val run = new Run(spark, seed, traced)
    val wl = workloadOf(run, workload, units, small = false)
    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    // every repetition builds identical state from the seed; the timed
    // script runs on the last one, the warm-up on the first, which the
    // timed script never reads
    val prepS = (0 until prepareReps).map(r => secs(wl.prepare(s"$work/state-$r")))
    val warmS = secs(wl.warmup(s"$work/state-0"))

    run.startTiming()
    wl.timed()
    run.stopTiming()
    wl.checks()
    wl.counters(run.counters)
    run.measureHeap()
    run.result(workload,
      Map("session_s" -> sessionS, "prepare_s" -> prepS, "warmup_s" -> warmS))
  }
}
