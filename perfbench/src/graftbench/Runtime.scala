package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for the result file (numbers, strings, booleans,
  * sequences and string-keyed maps). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** In-memory spans around each layer call, opened only on the client
  * thread of a traced run. The innermost open span's id is set as a Spark
  * local property, so every job submitted inside it is charged to it. */
object Trace {
  final val SpanProp = "graftbench.span"
  final case class Span(id: Int, name: String, parent: Int, startMs: Long,
                        var endMs: Long = 0L, var durNs: Long = 0L)

  @volatile var on = false
  var sc: org.apache.spark.SparkContext = _
  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var client: Thread = _

  def start(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    client = Thread.currentThread()
    on = true
  }

  def onClient: Boolean = on && (Thread.currentThread() eq client)

  def span[T](name: String)(body: => T): T =
    if (!onClient) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id),
        System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProp, s.id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        s.durNs = System.nanoTime() - t0
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Time spent in calls made off the client thread (agent searches run
    * inside Spark tasks), by name. */
  val offClientNs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  def offClient[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally offClientNs.computeIfAbsent(name, _ => new AtomicLong())
      .addAndGet(System.nanoTime() - t0)
  }
}

/** One Spark job as the listener saw it, charged to the span that was
  * innermost when it was submitted. */
final class JobRec(val id: Int, val span: Int, val exec: Long, val startMs: Long,
                   val details: String) {
  var endMs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuMs = 0.0
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var recordsIn = 0L
  var bytesOut = 0L
  def toMap: Map[String, Any] = Map(
    "id" -> id, "span" -> span, "exec" -> exec, "start_ms" -> startMs, "end_ms" -> endMs,
    "details" -> details, "tasks" -> tasks, "run_ms" -> runMs,
    "cpu_ms" -> cpuMs, "gc_ms" -> gcMs, "shuffle_read" -> shuffleRead,
    "shuffle_write" -> shuffleWrite, "spill" -> spill,
    "records_in" -> recordsIn, "bytes_out" -> bytesOut)
}

/** Job, stage and task accounting for the traced run. Events arrive on
  * the listener bus thread; read the buffers only after [[BusDrain]]. */
final class JobListener extends SparkListener {
  val jobs = ArrayBuffer[JobRec]()
  private val byStage = mutable.Map[Int, JobRec]()
  // call site of each SQL execution, taken on the thread that started it:
  // adaptive execution submits the execution's jobs from a pool thread,
  // whose own stack says nothing about the caller
  private val execSite = mutable.Map[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSite(s.executionId) = s.details
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Trace.SpanProp).map(_.toInt).getOrElse(-1)
    val last = e.stageInfos.maxBy(_.stageId)
    val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    val site = execSite.getOrElse(exec, last.details)
    // the long call site is the client stack below Spark's own frames;
    // the first dozen lines reach past graft's innermost frame
    val details = site.linesIterator.take(12).mkString("\n")
    val j = new JobRec(e.jobId, span, exec, e.time, details)
    jobs += j
    e.stageInfos.foreach(s => byStage(s.stageId) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- byStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuMs += m.executorCpuTime / 1e6
      j.gcMs += m.jvmGCTime
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.recordsIn += m.inputMetrics.recordsRead
      j.bytesOut += m.outputMetrics.bytesWritten
    }
}

/** Planning time (analysis + optimization + physical planning) of every
  * executed query, from its `QueryExecution.tracker`. */
final class PlanListener extends QueryExecutionListener {
  val plans = ArrayBuffer[(Long, Long)]() // (first phase start ms, planning ms)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) plans.synchronized {
      plans += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
    }
  }
}

/** One timed call: its kind ("read", "write" or "stage"), name, wall time,
  * and whether it returned normally. */
final case class Op(kind: String, name: String, ms: Double, ok: Boolean,
                    startMs: Long, endMs: Long)

/** Everything one benchmark process records: timed calls, output checks,
  * counters, and (traced runs) the listeners' buffers. */
final class Run(val spark: SparkSession, val seed: Long, val traced: Boolean) {
  val ops = ArrayBuffer[Op]()
  val checkFailures = ArrayBuffer[String]()
  var checksRun = 0
  val counters = mutable.LinkedHashMap[String, Any]()
  val jobListener = new JobListener
  val planListener = new PlanListener
  private var timing = false
  private var gcAtStart = 0L
  private var timedStartNs = 0L
  var timedWallS = 0.0
  var gcMs = 0L

  if (traced) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
  }

  private def gcTotalMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Runs one call. Outside the timed phase (warm-up) nothing is
    * recorded; inside it the call is timed and, in a traced run, wrapped
    * in a span named after it. A call that throws counts as failed. */
  def op[T](kind: String, name: String)(body: => T): Option[T] = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res =
      try Some(if (timing) Trace.span(name)(body) else body)
      catch {
        case e: Exception =>
          System.err.println(s"[graftbench] $name failed: $e")
          None
      }
    val ms = (System.nanoTime() - t0) / 1e6
    if (timing) ops += Op(kind, name, ms, res.isDefined, startMs, System.currentTimeMillis())
    else if (res.isEmpty) checkFailures += s"warm-up call $name failed"
    res
  }

  def startTiming(): Unit = {
    if (traced) Trace.start(spark)
    gcAtStart = gcTotalMs
    timing = true
    timedStartNs = System.nanoTime()
  }

  def stopTiming(): Unit = {
    timedWallS = (System.nanoTime() - timedStartNs) / 1e9
    timing = false
    Trace.on = false
    gcMs = gcTotalMs - gcAtStart
  }

  /** Live driver heap once the run's frames are released: the listener
    * bus is drained, then full collections until the used heap stops
    * shrinking (Spark's context cleaner frees shuffle and broadcast state
    * on its own thread once a collection has cleared their references). */
  def measureHeap(): Unit = {
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    var last = collect()
    var next = { Thread.sleep(200); collect() }
    var rounds = 0
    while (next < last - (1L << 20) && rounds < 10) {
      last = next
      next = { Thread.sleep(200); collect() }
      rounds += 1
    }
    counters("heap_live_mb") = math.min(last, next) / 1048576.0
  }

  def check(name: String)(cond: => Boolean): Unit = {
    checksRun += 1
    val ok = try cond catch {
      case e: Exception =>
        System.err.println(s"[graftbench] check $name threw: $e")
        false
    }
    if (!ok) {
      checkFailures += name
      System.err.println(s"[graftbench] check failed: $name")
    }
  }

  def result(workload: String, setup: Map[String, Any]): String = {
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    val trace: Map[String, Any] =
      if (!traced) Map.empty
      else Map(
        "spans" -> Trace.spans.map(s => Seq(s.id, s.name, s.parent, s.startMs,
          s.endMs, s.durNs / 1e6)),
        "jobs" -> jobListener.jobs.filter(_.span >= 0).map(_.toMap),
        "plans" -> planListener.plans.synchronized(planListener.plans.toSeq.map(p =>
          Seq(p._1, p._2))),
        "off_client_ms" -> Trace.offClientNs.asScala.map { case (k, v) =>
          k -> v.get / 1e6 }.toMap)
    Json(Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "slots" -> spark.sparkContext.defaultParallelism,
      "setup" -> setup,
      "ops" -> ops.map(o => Seq(o.kind, o.name, o.ms, o.ok, o.startMs, o.endMs)),
      "timed_wall_s" -> timedWallS, "gc_ms" -> gcMs,
      "checks_run" -> checksRun, "check_failures" -> checkFailures,
      "counters" -> counters, "trace" -> trace))
  }
}

/** Seeded generator for the benchmark's inputs: pseudo-words over a large
  * vocabulary, so unrelated documents share almost no 5-character
  * shingles and near-duplicate detection is decided by the planted
  * duplicates alone. */
final class Gen(seed: Long) {
  val rnd = new scala.util.Random(seed)
  private val letters = "abcdefghijklmnopqrstuvwxyz"
  def word(len: Int): String = Seq.fill(len)(letters(rnd.nextInt(26))).mkString
  def vocab(n: Int): Array[String] = {
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < n) seen += word(4 + rnd.nextInt(6))
    seen.toArray
  }
  /** `n` words drawn from `v`, skewed towards its head (index = |v|·u^1.5),
    * so corpus token frequencies are uneven as in natural text. */
  def text(v: Array[String], n: Int): String =
    Seq.fill(n)(v(math.min(v.length - 1, (v.length * math.pow(rnd.nextDouble(), 1.5)).toInt)))
      .mkString(" ")
  /** `t` with `k` of its words replaced by fresh ones. */
  def edit(t: String, k: Int): String = {
    val ws = t.split(' ')
    (0 until k).foreach(_ => ws(rnd.nextInt(ws.length)) = word(7))
    ws.mkString(" ")
  }
}

object Files {
  def sizeOf(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).fold(0L)(_.map(sizeOf).sum) else f.length

  def list(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).fold(Seq.empty[java.io.File])(_.toSeq.flatMap(list))
    else Seq(f)

}
