package graft.api

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.model.Schemas.ReportData
import graft.pipeline.ResearchPipeline
import graft.store.ConversationStore

/**
 * S12 — thin service layer mirroring the reference HTTP API surface
 * (/root/reference/ui/backend/main.py + ui/DEVELOPER_GUIDE.md:7-103). HTTP
 * transport itself is out of engine scope (SURVEY §2.1 S12); these are the
 * four entry points' data semantics over the Spark tables.
 */
class Service(store: ConversationStore, pipeline: ResearchPipeline) {

  final case class StartResponse(workflow_id: String, status: String,
                                 clarification_questions: Seq[String])
  final case class StatusResponse(workflow_id: String, status: String,
                                  questions_total: Int, answers_collected: Int)
  final case class ResultResponse(workflow_id: String, short_summary: String,
                                  markdown_report: String, title: Option[String],
                                  image_file_path: Option[String],
                                  existing_result_id: Option[String])

  /** POST /api/start-research (main.py:212-266). */
  def startResearch(workflowId: String, query: String, now: Timestamp): StartResponse = {
    require(query.trim.nonEmpty, "query must be non-empty") // F7 validation
    val questions = pipeline.startWithClarifications(workflowId, query.trim, now)
    StartResponse(workflowId,
      if (questions.isEmpty) "completed" else "collecting_answers", questions)
  }

  /** GET /api/status/{workflow_id} (main.py:269-434). */
  def status(workflowId: String): Option[StatusResponse] =
    store.getConversation(workflowId).map { c =>
      val n = store.messageCategories(workflowId)
      StatusResponse(workflowId, c.status,
        n.getOrElse("clarification_question", 0), n.getOrElse("clarification_answer", 0))
    }

  /** POST /api/answer/{workflow_id} (main.py:437-498). */
  def answer(workflowId: String, text: String, now: Timestamp): Either[String, Int] =
    pipeline.provideClarification(workflowId, text, now)

  /** GET /api/result/{workflow_id} (main.py:506-637): completed-gate + latest result. */
  def result(workflowId: String): Either[String, ResultResponse] =
    store.getConversation(workflowId) match {
      case None => Left("not found")
      case Some(c) if c.status != "completed" => Left(s"not completed (status=${c.status})")
      case Some(_) =>
        store.latestResult(workflowId) match {
          case None => Left("no result persisted")
          case Some(r) => Right(ResultResponse(workflowId, r.short_summary,
            r.markdown_report, r.title, r.image_file_path, None))
        }
    }

  /** GET /api/conversations (main.py:684-750) — W4 pagination. */
  def listConversations(offset: Int, limit: Int): DataFrame =
    store.listConversations(offset, limit)

  /** Cursor-based listing (the endpoint a deep-history UI pages with —
    * same order as [[listConversations]], O(page) at any depth). */
  def listConversationsAfter(cursorCreatedAt: java.sql.Timestamp,
                             cursorWorkflowId: String, n: Int): DataFrame =
    store.listConversationsAfter(cursorCreatedAt, cursorWorkflowId, n)
}
