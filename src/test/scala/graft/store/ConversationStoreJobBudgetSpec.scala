package graft.store

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.JobCounter
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.api.Service
import graft.pipeline.{Research, ResearchPipeline}

/**
 * Spark jobs per conversation-store verb on a small store. A job is a
 * driver round-trip that costs far more than the few rows these verbs
 * touch, so an extra scan, re-read or no-op rewrite shows here as a count,
 * without any timing. The store that wrote the rows holds them in its
 * row cache, so its guards and reads count 0; only writes, cold reads and
 * reads after another instance's write launch jobs.
 */
class ConversationStoreJobBudgetSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val spark = TestSpark.spark
  private lazy val jobs = new JobCounter(spark.sparkContext)

  override def afterAll(): Unit = jobs.close()

  private val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
  private val t1 = Timestamp.valueOf("2026-01-01 00:01:00")

  /** Three conversations, each with an initial query and an indexed result. */
  private def smallStore(): (String, ConversationStore) = {
    val dir = Files.createTempDirectory("graft-budget").toString
    val st = new ConversationStore(spark, dir)
    (1 to 3).foreach { i =>
      st.createConversation(s"wf$i", s"q$i", "completed", t0)
      st.addMessage(s"wf$i", "human", s"q$i", t0, Some("initial_query"))
      st.addIndexedResult(s"wf$i", s"s$i", s"# Research: q$i", t0, Some(s"Research: q$i"),
        None, Array(1f, i.toFloat))
    }
    (dir, st)
  }

  private def parquetFiles(dir: String): Set[String] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSet

  test("getConversation: one filtered scan") {
    val (_, st) = smallStore()
    assert(jobs(st.getConversation("wf1"))._2 == 0)
    assert(jobs(st.getConversation("nope"))._2 == 0)
  }

  test("createConversation: lookup + append when new; lookup only, no file, when the status is the same") {
    val (dir, st) = smallStore()
    val (created, n) = jobs(st.createConversation("wf9", "q9", "researching", t1))
    assert(n == 1)
    assert(st.getConversation("wf9").contains(created))
    val before = parquetFiles(dir)
    val (same, m) = jobs(st.createConversation("wf9", "other", "researching", t1))
    assert(m == 0)
    assert(parquetFiles(dir) == before, "an unchanged MERGE must write no file")
    assert(same == created)
    assert(jobs(st.createConversation("wf9", "other", "completed", t1))._2 == 1)
    assert(st.getConversation("wf9").map(_.status).contains("completed"))
  }

  test("updateStatus: one rewrite job") {
    val (_, st) = smallStore()
    assert(jobs(st.updateStatus("wf2", "researching"))._2 == 1)
    assert(st.getConversation("wf2").map(_.status).contains("researching"))
  }

  test("addMessage: scan + append; addMessageIfAbsent: at most that, one scan on a duplicate") {
    val (_, st) = smallStore()
    val (m, n) = jobs(st.addMessage("wf1", "human", "a1", t1, Some("clarification_answer")))
    assert(n == 1)
    assert(m.sequence == 2, "after the initial query (0) and the result (1)")
    val (q, k) = jobs(st.addMessageIfAbsent("wf1", "ai", "Q?", t1, Some("clarification_question")))
    assert(q.map(_.sequence).contains(3) && k == 1)
    val (dup, d) = jobs(st.addMessageIfAbsent("wf1", "ai", "Q?", t1, Some("clarification_question")))
    assert(dup.isEmpty && d == 0)
  }

  test("addQueryWithQuestions: one scan + one append for the whole batch") {
    val (_, st) = smallStore()
    val (ms, n) = jobs(st.addQueryWithQuestions("wf7", "topic", Seq("A?", "B?", "C?"), t1))
    assert(ms.map(_.sequence) == Seq(0, 1, 2, 3) && n == 1)
  }

  test("the pipeline's result write (row with its embedding): scan + two appends") {
    val (_, st) = smallStore()
    val (r, n) = jobs(st.addIndexedResult("wf2", "s", "# Research: x", t1,
      Some("Research: x"), Some("img.png"), Array(0.5f, 0.25f)))
    assert(n == 2)
    val row = st.results.filter(s"result_id = '${r.result_id}'").collect().head
    assert(row.getSeq[Float](row.fieldIndex("embedding")) == Seq(0.5f, 0.25f))
  }

  test("hasResults (the pipeline's D6 guard): one filtered scan, hit or miss") {
    val (_, st) = smallStore()
    assert(jobs(st.hasResults("wf1")) == (true, 0))
    assert(jobs(st.hasResults("wf9")) == (false, 0))
  }

  test("Service.status: lookup + one category scan") {
    val (_, st) = smallStore()
    val svc = new Service(st, new ResearchPipeline(spark, st, new Research.StubAgents()))
    st.addQueryWithQuestions("wf1", "q1", Seq("A?", "B?"), t1)
    val (s, n) = jobs(svc.status("wf1"))
    assert(s.map(x => (x.questions_total, x.answers_collected)).contains((2, 0)))
    assert(n == 0)
  }

  test("messageCategories and Service.result: no job on cached tables") {
    val (_, st) = smallStore()
    val svc = new Service(st, new ResearchPipeline(spark, st, new Research.StubAgents()))
    st.addQueryWithQuestions("wf9", "q9", Seq("A?"), t1)
    assert(jobs(st.messageCategories("wf9")) ==
      (Map("initial_query" -> 1, "clarification_question" -> 1), 0))
    val (r, n) = jobs(svc.result("wf2"))
    assert(r.map(_.markdown_report) == Right("# Research: q2") && n == 0)
  }

  test("listConversations and listConversationsAfter: no job on a cached table") {
    val (_, st) = smallStore()
    val (page, n) = jobs(st.listConversations(1, 2).collect())
    assert(page.map(_.getString(0)).toSeq == Seq("wf2", "wf1") && n == 0)
    val (after, m) = jobs(st.listConversationsAfter(t0, "wf3", 5).collect())
    assert(after.map(_.getString(0)).toSeq == Seq("wf2", "wf1") && m == 0)
  }

  test("an append writes one file: three guarded questions add one file to messages") {
    val (dir, st) = smallStore()
    def messageFiles = parquetFiles(dir).filter(_.contains("/messages/"))
    val before = messageFiles
    st.addQueryWithQuestions("wf7", "topic", Seq("A?", "B?", "C?"), t1)
    assert((messageFiles -- before).size == 1 && before.subsetOf(messageFiles))
  }

  test("a cold read costs one job per table it touches") {
    val (dir, _) = smallStore()
    val cold = new ConversationStore(spark, dir)
    assert(jobs(cold.getConversation("wf1"))._2 == 1, "conversations")
    assert(jobs(cold.getConversation("wf2"))._2 == 0)
    val svc = new Service(cold, new ResearchPipeline(spark, cold, new Research.StubAgents()))
    assert(jobs(svc.status("wf1"))._2 == 1, "messages")
    assert(jobs(svc.result("wf1"))._2 == 2, "result_links and results")
    assert(jobs(svc.result("wf3"))._2 == 0)
  }

  test("a write by another instance costs at most one job on the next read, which sees it") {
    val (dir, st) = smallStore()
    assert(jobs(st.messageCategories("wf1")) == (Map("initial_query" -> 1), 0))
    new ConversationStore(spark, dir)
      .addMessage("wf1", "human", "a1", t1, Some("clarification_answer"))
    val (cats, n) = jobs(st.messageCategories("wf1"))
    assert(cats == Map("initial_query" -> 1, "clarification_answer" -> 1) && n <= 1)
    assert(jobs(st.messageCategories("wf1"))._2 == 0)
  }
}
