package graftbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.api.Service
import graft.model.Schemas
import graft.pipeline.{Research, ResearchPipeline}
import graft.store.ConversationStore

/** Conversation store with a span around every verb, handed to the
  * pipeline and the service in traced runs. */
final class TracedStore(spark: SparkSession, base: String)
    extends ConversationStore(spark, base) {
  private def t[T](verb: String)(body: => T): T = Trace.span(s"store.conv.$verb")(body)
  override def createConversation(w: String, q: String, s: String, now: Timestamp) =
    t("createConversation")(super.createConversation(w, q, s, now))
  override def updateStatus(w: String, s: String): Unit =
    t("updateStatus")(super.updateStatus(w, s))
  override def getConversation(w: String) = t("getConversation")(super.getConversation(w))
  override def addMessage(w: String, mt: String, c: String, now: Timestamp,
                          cat: Option[String]) =
    t("addMessage")(super.addMessage(w, mt, c, now, cat))
  override def addMessageIfAbsent(w: String, mt: String, c: String, now: Timestamp,
                                  cat: Option[String]) =
    t("addMessageIfAbsent")(super.addMessageIfAbsent(w, mt, c, now, cat))
  override def addResult(w: String, s: String, m: String, now: Timestamp,
                         title: Option[String], img: Option[String]) =
    t("addResult")(super.addResult(w, s, m, now, title, img))
  override def linkExistingResult(w: String, r: String, now: Timestamp): Boolean =
    t("linkExistingResult")(super.linkExistingResult(w, r, now))
  override def setEmbedding(r: String, e: Array[Float]): Unit =
    t("setEmbedding")(super.setEmbedding(r, e))
  override def getMessages(w: String, limit: Option[Int]): DataFrame =
    t("getMessages")(super.getMessages(w, limit))
  override def getResults(w: String): DataFrame = t("getResults")(super.getResults(w))
  override def listConversations(offset: Int, limit: Int): DataFrame =
    t("listConversations")(super.listConversations(offset, limit))
}

/** The stub agents with their calls timed: spans on the client thread,
  * summed time elsewhere (searches run inside Spark tasks). */
final class TracedAgents(inner: Research.Agents) extends Research.Agents {
  private def t[T](name: String)(body: => T): T =
    if (Trace.onClient) Trace.span(s"agents.$name")(body)
    else Trace.offClient(s"agents.$name")(body)
  def embed(text: String) = t("embed")(inner.embed(text))
  def plan(query: String) = t("plan")(inner.plan(query))
  def search(item: Schemas.SearchItem) = t("search")(inner.search(item))
  def writeReport(q: String, c: Option[String], s: Seq[String]) =
    t("writeReport")(inner.writeReport(q, c, s))
  def clarify(query: String) = t("clarify")(inner.clarify(query))
  def generateImage(query: String) = t("generateImage")(inner.generateImage(query))
}

final class TracedPipeline(spark: SparkSession, store: ConversationStore,
                           agents: Research.Agents, sink: DataFrame => Unit,
                           outcomes: ArrayBuffer[Research.RunOutcome])
    extends ResearchPipeline(spark, store, agents, eventSink = sink) {
  override def run(w: String, q: String, now: Timestamp): Research.RunOutcome =
    Trace.span("pipeline.run") {
      val o = super.run(w, q, now)
      outcomes += o
      o
    }
}

/**
 * `service`: closed-loop research sessions through `api.Service`, one
 * client. Each session starts research (clarify path: three answers, the
 * last of which runs the pipeline; direct path: a query ending in `?`),
 * then polls status, fetches the result and pages the conversation list
 * by offset and by cursor. A share of sessions repeats an earlier topic,
 * so the pipeline's cache gate answers them from the stored result.
 */
final class ServiceWorkload(run: Run, sessions: Int) extends Workload {
  val prefill = 200        // completed conversations, each with an indexed result
  val pageSize = 10
  val searchesPerRun = 12  // searches planned by every fresh pipeline run
  private val spark = run.spark
  private val agentsStub = new Research.StubAgents()
  private val t0 = Timestamp.valueOf("2026-01-01 00:00:00").getTime

  final case class Plan(wf: String, query: String, repeatOf: Option[String],
                        now: Timestamp)

  /** `n` distinct topics. With `suffix` given, only topics whose query
    * (topic + suffix) plans `searchesPerRun` searches: the stub plans 5 to
    * 20 by the query's hash, and a seed should change the text of fresh
    * sessions, not how much work their pipeline runs do. */
  private def topics(g: Gen, n: Int, suffix: Option[String] = None): IndexedSeq[String] = {
    val v = g.vocab(3000)
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < n) {
      val t = s"${v(g.rnd.nextInt(v.length))} of ${v(g.rnd.nextInt(v.length))} " +
        v(g.rnd.nextInt(v.length))
      if (suffix.forall(x => agentsStub.plan(t + x).size == searchesPerRun)) seen += t
    }
    seen.toIndexedSeq
  }

  /** The session script: a fixed cycle of four kinds, so every seed runs
    * the same mix of calls: a fresh topic on the clarify path, a fresh
    * topic on the direct path, a repeat of a prefilled topic (clarify
    * path) and a repeat of this cycle's direct topic. Only the topics and
    * the repeated prefilled topic depend on the seed. */
  private def plans(g: Gen, n: Int, prefix: String,
                    prefilled: IndexedSeq[String]): IndexedSeq[Plan] = {
    val clarify = topics(g, n, Some("")).filterNot(prefilled.toSet)
    val direct = topics(g, n, Some("?")).filterNot(prefilled.toSet)
    (0 until n).map { i =>
      val wf = f"$prefix$i%04d"
      val now = new Timestamp(t0 + (i + 1) * 60000L)
      val c = i - i % 4
      i % 4 match {
        case 0 => Plan(wf, clarify(i), None, now)
        case 1 => Plan(wf, direct(i) + "?", None, now)
        case 2 =>
          val k = g.rnd.nextInt(prefilled.size)
          Plan(wf, prefilled(k), Some(f"pre-$k%05d"), now)
        case _ => Plan(wf, direct(c + 1) + "?", Some(f"$prefix${c + 1}%04d"), now)
      }
    }
  }

  /** Writes `n` completed conversations with one indexed result each,
    * in the store's own table layout. */
  private def prefillStore(base: String, qs: IndexedSeq[String]): Unit = {
    def write(t: String, rows: Seq[Row], schema: org.apache.spark.sql.types.StructType): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(s"$base/$t")
    val ts = qs.indices.map(i => new Timestamp(t0 - (qs.size - i) * 60000L))
    val ids = qs.indices.map(i => f"pre-$i%05d")
    write("conversations", qs.indices.map(i =>
      Row(ids(i), qs(i), "completed", ts(i), s"conv-${ids(i)}")), Schemas.conversationSchema)
    write("messages", qs.indices.map(i =>
      Row(s"${ids(i)}-msg-0", ids(i), "human", qs(i), ts(i), 0, "initial_query")),
      Schemas.messageSchema)
    val reports = qs.map(q => agentsStub.writeReport(q, None, Seq(s"summary of $q")))
    write("results", qs.indices.map(i =>
      Row(s"${ids(i)}-result-1", ids(i), reports(i).short_summary,
        reports(i).markdown_report, ts(i), 1, Research.extractTitle(reports(i).markdown_report).orNull,
        null, agentsStub.embed(reports(i).markdown_report).toSeq)), Schemas.resultSchema)
    write("result_links", qs.indices.map(i =>
      Row(ids(i), s"${ids(i)}-result-1", ts(i))), Schemas.resultLinkSchema)
  }

  // ── state of the timed store ──────────────────────────────────────────
  private var base: String = _
  private var script: IndexedSeq[Plan] = _
  private var service: Service = _
  private val outcomes = ArrayBuffer[Research.RunOutcome]()
  private var events = 0L
  // per session: final status, and the result's report (or its refusal)
  private val responses = mutable.Map[String, (Option[String], Option[Either[String, String]])]()
  private val pages = ArrayBuffer[(Seq[(Timestamp, String)], Option[(Timestamp, String)])]()

  private var prefilled: IndexedSeq[String] = _

  private def open(dir: String): Service = {
    val sink: DataFrame => Unit = _ => Trace.span("events.emit") { events += 1 }
    val (st, pl) =
      if (run.traced) {
        val s = new TracedStore(spark, dir)
        (s, new TracedPipeline(spark, s, new TracedAgents(agentsStub), sink, outcomes))
      } else {
        val s = new ConversationStore(spark, dir)
        (s, new ResearchPipeline(spark, s, agentsStub, eventSink = sink))
      }
    new Service(st, pl)
  }

  def prepare(dir: String): Unit = {
    val g = new Gen(run.seed)
    prefilled = topics(g, prefill)
    script = plans(g, sessions, "s", prefilled)
    prefillStore(dir, prefilled)
    base = dir
    if (run.traced) run.counters("space.logical_bytes_start") = logicalBytes(dir)
    service = open(dir)
  }

  /** Two sessions on another prefilled store: a fresh topic on the direct
    * path (gate miss, full pipeline) and a prefilled topic on the clarify
    * path (three answers, gate hit). */
  def warmup(dir: String): Unit = {
    val svc = open(dir)
    val fresh = topics(new Gen(run.seed ^ 0x5eed), 1, Some("?")).head + "?"
    Seq(Plan("w0000", fresh, None, new Timestamp(t0)),
      Plan("w0001", prefilled.head, Some("pre-00000"), new Timestamp(t0)))
      .foreach(p => session(svc, p, record = false))
  }

  def timed(): Unit = {
    outcomes.clear()
    events = 0
    script.foreach(p => session(service, p, record = true))
  }

  private def session(svc: Service, p: Plan, record: Boolean): Unit = {
    val start = run.op("write", "api.start")(svc.startResearch(p.wf, p.query, p.now))
    run.op("read", "api.status")(svc.status(p.wf))
    start.filter(_.status == "collecting_answers").foreach { s =>
      s.clarification_questions.indices.foreach { k =>
        run.op("write", "api.answer")(svc.answer(p.wf, s"answer $k to ${p.query}", p.now))
        run.op("read", "api.status")(svc.status(p.wf))
      }
    }
    val st = run.op("read", "api.status")(svc.status(p.wf))
    val res = run.op("read", "api.result")(svc.result(p.wf))
    val i = p.wf.drop(1).toInt
    val page = run.op("read", "api.list")(
      svc.listConversations((i % 4) * pageSize, pageSize).collect().toSeq)
    val cursor = page.flatMap(_.lastOption)
      .map(r => (r.getAs[Timestamp]("created_at"), r.getAs[String]("workflow_id")))
    val after = cursor.flatMap(c => run.op("read", "api.list_after")(
      svc.listConversationsAfter(c._1, c._2, pageSize).collect().toSeq))
    if (record) {
      responses(p.wf) = (st.flatten.map(_.status), res.map(_.map(_.markdown_report)))
      def keys(rows: Seq[Row]) = rows.map(r =>
        (r.getAs[Timestamp]("created_at"), r.getAs[String]("workflow_id")))
      page.foreach(rows => pages += ((keys(rows), None)))
      after.foreach(rows => pages += ((keys(rows), cursor)))
    }
  }

  def checks(): Unit = {
    val plain = new ConversationStore(spark, base)
    val resultOf = mutable.Map[String, String]()
    (0 until prefill).foreach(i => resultOf(f"pre-$i%05d") = f"pre-$i%05d-result-1")
    script.foreach { p =>
      val (status, md) = responses.getOrElse(p.wf, (None, None))
      run.check(s"${p.wf} completed")(status.contains("completed"))
      run.check(s"${p.wf} result is its report")(
        md.exists(_.exists(_.startsWith(s"# Research: ${p.query}\n"))))
      val rs = plain.getResults(p.wf).collect()
      p.repeatOf match {
        case Some(orig) =>
          run.check(s"${p.wf} links the original result")(
            rs.map(_.getAs[String]("result_id")).toSeq == resultOf.get(orig).toSeq)
        case None =>
          run.check(s"${p.wf} owns one result")(
            rs.length == 1 && rs.head.getAs[String]("workflow_id") == p.wf)
          rs.headOption.foreach(r => resultOf(p.wf) = r.getAs[String]("result_id"))
      }
      val seqs = plain.messages.filter(col("workflow_id") === p.wf).select("sequence")
        .union(plain.results.filter(col("workflow_id") === p.wf).select("sequence"))
        .collect().map(_.getInt(0)).sorted.toSeq
      run.check(s"${p.wf} sequences contiguous from 0")(seqs == seqs.indices)
    }
    val desc = Ordering.Tuple2(Ordering.by[Timestamp, Long](_.getTime), Ordering.String).reverse
    pages.zipWithIndex.foreach { case ((keys, cursor), i) =>
      run.check(s"list page $i ordered by (created_at, workflow_id) desc")(
        keys.nonEmpty && keys.zip(keys.drop(1)).forall { case (a, b) => desc.lt(a, b) } &&
          cursor.forall(c => keys.forall(k => desc.lt(c, k))))
    }
  }

  private def logicalBytes(dir: String): Long = {
    val st = new ConversationStore(spark, dir)
    Logical.bytes(Seq(st.conversations, st.messages, st.results, st.resultLinks))
  }

  def counters(c: mutable.Map[String, Any]): Unit = {
    c("sessions") = script.size
    c("work_units") = script.size
    c("store.conv.files") = Files.list(new java.io.File(base))
      .count(_.getName.endsWith(".parquet"))
    c("space.disk_bytes") = Files.sizeOf(new java.io.File(base))
    c("space.logical_bytes") = logicalBytes(base)
    if (run.traced) {
      val plain = new ConversationStore(spark, base)
      c("pipeline.runs") = outcomes.size
      c("pipeline.cache_hits") = outcomes.count(_.cacheHit)
      c("pipeline.searches") = outcomes.map(_.nSearches).sum
      c("events.emitted") = events
      c("rag.indexed_rows") = plain.results.filter(col("embedding").isNotNull).count()
    }
  }
}
