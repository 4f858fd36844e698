package graft.pipeline

import java.sql.Timestamp

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas.{ReportData, SearchItem}
import graft.rag.Rag
import graft.store.ConversationStore
import graft.streaming.Events

/**
 * Research-pipeline dataflow (SURVEY.md §2.12 D1–D7): the data effects of
 * /root/reference/research_agents/research_manager.py:104-229 +
 * interactive_research_workflow.py:385-546, with the external LLM calls
 * behind the `Agents` interface (deterministic stubs in tests — the
 * reference's planner/searcher/writer are *content*, not engine).
 *
 * Dataflow shape:
 *   D1 cache gate (V4 k=1 t≥0.8) → short-circuit + S6 re-link
 *   V5 context (k=3 t≥0.5)
 *   D2 plan fan-out (5–20 items) → parallel search (Dataset.map on
 *      executors) → fan-in, failures dropped
 *   D3 artifact branch runs concurrently (Future), joined at the end
 *   writer → ReportData → D6 lazy persistence (J3 anti-join guard) +
 *      F1 title + V1/S7 embedding index
 *   every step emits a workflow event row (T1/P5 routing)
 *
 * D5 (retry/failure injection, interactive_research_workflow.py:162-172) is
 * demo theater in the reference — a simulated activity failure exercising
 * Temporal's retry policy. The engine's parity point is that search
 * failures are DROPPED at fan-in (None → filtered), which IS implemented
 * and tested; retry orchestration belongs to the caller's scheduler, not
 * the dataflow.
 */
object Research {

  /** External-call surface (V1 embed + agent LLM calls). Never inside Catalyst. */
  trait Agents extends Serializable {
    def embed(text: String): Array[Float]
    def plan(query: String): Seq[SearchItem]
    /** One web search; None = failure (dropped at fan-in, research_manager.py:490-498). */
    def search(item: SearchItem): Option[String]
    def writeReport(query: String, context: Option[String], summaries: Seq[String]): ReportData
    def clarify(query: String): Seq[String]
    def generateImage(query: String): Option[String]
  }

  /** Deterministic fake agents: pure functions of the input text (test/bench parity). */
  class StubAgents(dim: Int = 64) extends Agents {
    /**
     * The stub models a PERFECT embedding model: a report and the query it
     * answers canonicalize to the same key, hence identical vectors (cosine
     * 1.0) — which is what the reference's real embeddings approximate when
     * the cache gate fires (neo4j_rag.py:305-331).
     */
    private def canonical(text: String): String = {
      val first = text.linesIterator.find(_.trim.nonEmpty).getOrElse("")
      val key = if (first.startsWith("# Research: ")) first.stripPrefix("# Research: ") else text
      key.trim.toLowerCase
    }
    def embed(text: String): Array[Float] = {
      var s = canonical(text).hashCode.toLong & 0xffffffffL
      Array.fill(dim) {
        s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 40).toInt / 8388608.0f) - 1.0f
      }
    }
    def plan(query: String): Seq[SearchItem] = {
      val n = 5 + math.abs(query.hashCode % 16) // 5–20 (planner_agent.py:12-13)
      (0 until n).map(i => SearchItem(s"reason-$i for $query", s"search-$i: $query"))
    }
    def search(item: SearchItem): Option[String] =
      if (math.abs(item.query.hashCode) % 7 == 0) None // deterministic failures
      else Some(s"summary of ${item.query}")
    def writeReport(query: String, context: Option[String], summaries: Seq[String]): ReportData =
      ReportData(
        short_summary = s"Report on: $query (${summaries.size} sources)",
        markdown_report =
          s"# Research: $query\n\n${context.fold("")(c => s"Context used.\n\n")}" +
            summaries.sorted.mkString("\n"),
        follow_up_questions = Seq(s"More about $query?"))
    def clarify(query: String): Seq[String] =
      if (query.endsWith("?")) Seq.empty
      else Seq(s"What aspect of '$query'?", "What time range?", "What depth?")
    def generateImage(query: String): Option[String] = Some(s"img-${math.abs(query.hashCode)}.png")
  }

  final case class RunOutcome(
      workflowId: String,
      report: ReportData,
      cacheHit: Boolean,
      existingResultId: Option[String],
      imagePath: Option[String],
      nSearches: Int,
      nSearchFailures: Int)

  /** F1 — H1 title extraction, driver-side twin of GraftFunctions.extractTitle. */
  def extractTitle(markdown: String): Option[String] =
    markdown.linesIterator
      .find(l => l.startsWith("# ") && !l.startsWith("##"))
      .map(_.stripPrefix("# ").trim)
      .filter(_.nonEmpty)
}

class ResearchPipeline(spark: SparkSession, store: ConversationStore,
                       agents: Research.Agents,
                       gateThreshold: Double = 0.8,   // interactive_research_workflow.py:46
                       contextThreshold: Double = 0.5, // :65-66
                       eventSink: DataFrame => Unit = _ => ()) {
  import Research._

  private def emit(eventType: String, workflowId: String, now: Timestamp,
                   dataJson: String = "{}"): Unit = {
    import spark.implicits._
    val df = Seq((eventType, workflowId, now, dataJson)).toDF("et", "wf", "ts", "data")
    eventSink(Events.toKafkaFrame(df, col("et"), col("wf"), col("ts"), col("data")))
  }

  /** Indexed results (embedding IS NOT NULL) — the gate's search space (P2). */
  private def indexedResults: DataFrame =
    store.results.filter(col("embedding").isNotNull)

  /**
   * The full run: gate → context → plan → fan-out → write → persist.
   * Returns the report plus provenance (cache hit, dropped searches).
   */
  def run(workflowId: String, query: String, now: Timestamp): RunOutcome = {
    import spark.implicits._
    emit("query_received", workflowId, now)
    store.createConversation(workflowId, query, "researching", now)
    // J3-guarded: when run() follows the clarification flow the initial
    // message already exists — must not duplicate (main.py:296-303 pattern)
    store.addMessageIfAbsent(workflowId, "human", query, now, Some("initial_query"))

    val qVec = agents.embed(query)

    // D1 — cache gate: best indexed result ≥ gateThreshold short-circuits.
    // Nothing writes results before the miss path's context retrieval, so
    // this one probe answers both.
    val anyIndexed = !indexedResults.isEmpty
    val hit =
      if (!anyIndexed) None
      else Rag.bestMatch(indexedResults, "result_id", "embedding", qVec, gateThreshold)
    hit match {
      case Some(row) =>
        val resultId = row.getAs[String]("result_id")
        emit("knowledge_graph_hit", workflowId, now)
        store.linkExistingResult(workflowId, resultId, now) // S6, idempotent
        store.updateStatus(workflowId, "completed")
        val report = ReportData(
          row.getAs[String]("short_summary"), row.getAs[String]("markdown_report"),
          Seq.empty)
        RunOutcome(workflowId, report, cacheHit = true, Some(resultId), None, 0, 0)

      case None =>
        // D3 — artifact branch starts now, joined at the end
        implicit val ec: ExecutionContext = ExecutionContext.global
        val imageF = Future(agents.generateImage(query))

        // V5 — context retrieval (k=3, t=0.5)
        val context =
          if (!anyIndexed) None
          else {
            val rows = Rag.contextRetrieval(indexedResults, "result_id", "embedding",
              coalesce(col("title"), lit("Untitled")), col("short_summary"),
              col("markdown_report"), qVec, k = 3, minScore = contextThreshold)
              .collect()
            rows.headOption.flatMap(r => Option(r.getAs[String]("context")))
          }

        // D2 — plan fan-out: searches run as a distributed Dataset.map;
        // failures (None) are dropped at fan-in, order-insensitive
        emit("research_started", workflowId, now)
        val items = agents.plan(query)
        emit("search_plan_created", workflowId, now, s"""{"n":${items.size}}""")
        val ag = agents
        val summaries = spark.createDataset(items)
          .repartition(math.min(items.size, 32)) // one search per task slot
          .map(ag.search _)
          .filter(_.isDefined).map(_.get)
          .collect().toSeq
        emit("search_executing", workflowId, now,
          s"""{"completed":${summaries.size},"failed":${items.size - summaries.size}}""")

        // writer
        emit("report_writing", workflowId, now)
        val report = agents.writeReport(query, context, summaries)
        emit("report_generated", workflowId, now,
          s"""{"n_chars":${report.markdown_report.length}}""")

        val imagePath = Await.result(imageF, 60.seconds) // D3 join (imagegen timeout)

        // D6 — lazy persistence: only if no Result rows exist yet (anti-join
        // guard); the row is written already indexed (V1+S7 in one append)
        if (!store.hasResults(workflowId))
          store.addIndexedResult(workflowId, report.short_summary,
            report.markdown_report, now, extractTitle(report.markdown_report), imagePath,
            agents.embed(report.markdown_report))

        store.updateStatus(workflowId, "completed")
        emit("research_complete", workflowId, now)
        RunOutcome(workflowId, report, cacheHit = false, None, imagePath,
          items.size, items.size - summaries.size)
    }
  }

  // ── D4 — sequential Q&A state machine ──────────────────────────────────
  /** Start with clarifications when the triage stub yields questions. */
  def startWithClarifications(workflowId: String, query: String, now: Timestamp): Seq[String] = {
    val questions = agents.clarify(query)
    if (questions.isEmpty) { run(workflowId, query, now); Seq.empty }
    else {
      store.createConversation(workflowId, query, "awaiting_clarifications", now)
      // J3-guarded: re-asking the same question must not duplicate it
      store.addQueryWithQuestions(workflowId, query, questions, now)
      emit("clarifications_generated", workflowId, now, s"""{"n":${questions.size}}""")
      store.updateStatus(workflowId, "collecting_answers")
      questions
    }
  }

  /**
   * One answer at a time with the reference validators
   * (interactive_research_workflow.py:524-535): non-blank answer, active
   * conversation, still collecting. Returns remaining question count.
   */
  def provideClarification(workflowId: String, answer: String, now: Timestamp): Either[String, Int] = {
    val conv = store.getConversation(workflowId)
    if (conv.isEmpty) Left("no such workflow")
    else if (conv.get.status != "collecting_answers") Left(s"not collecting (status=${conv.get.status})")
    else if (answer.trim.isEmpty) Left("answer must be non-empty")
    else {
      store.addMessage(workflowId, "human", answer.trim, now, Some("clarification_answer"))
      val n = store.messageCategories(workflowId)
      val nQ = n.getOrElse("clarification_question", 0)
      val nA = n.getOrElse("clarification_answer", 0)
      emit("clarification_answered", workflowId, now, s"""{"answered":$nA,"total":$nQ}""")
      if (nA >= nQ) {
        store.updateStatus(workflowId, "researching")
        run(workflowId, conv.get.original_query, now)
      }
      Right(math.max(nQ - nA, 0))
    }
  }

  // ── D7 — status derivation ─────────────────────────────────────────────
  def getStatus(workflowId: String): Option[String] =
    store.getConversation(workflowId).map(_.status)
}
