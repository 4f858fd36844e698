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
 * without any timing.
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
    assert(jobs(st.getConversation("wf1"))._2 == 1)
    assert(jobs(st.getConversation("nope"))._2 == 1)
  }

  test("createConversation: lookup + append when new; lookup only, no file, when the status is the same") {
    val (dir, st) = smallStore()
    val (created, n) = jobs(st.createConversation("wf9", "q9", "researching", t1))
    assert(n == 2)
    assert(st.getConversation("wf9").contains(created))
    val before = parquetFiles(dir)
    val (same, m) = jobs(st.createConversation("wf9", "other", "researching", t1))
    assert(m == 1)
    assert(parquetFiles(dir) == before, "an unchanged MERGE must write no file")
    assert(same == created)
    assert(jobs(st.createConversation("wf9", "other", "completed", t1))._2 == 2)
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
    assert(n == 2)
    assert(m.sequence == 2, "after the initial query (0) and the result (1)")
    val (q, k) = jobs(st.addMessageIfAbsent("wf1", "ai", "Q?", t1, Some("clarification_question")))
    assert(q.map(_.sequence).contains(3) && k <= 2)
    val (dup, d) = jobs(st.addMessageIfAbsent("wf1", "ai", "Q?", t1, Some("clarification_question")))
    assert(dup.isEmpty && d == 1)
  }

  test("addQueryWithQuestions: one scan + one append for the whole batch") {
    val (_, st) = smallStore()
    val (ms, n) = jobs(st.addQueryWithQuestions("wf7", "topic", Seq("A?", "B?", "C?"), t1))
    assert(ms.map(_.sequence) == Seq(0, 1, 2, 3) && n == 2)
  }

  test("the pipeline's result write (row with its embedding): scan + two appends") {
    val (_, st) = smallStore()
    val (r, n) = jobs(st.addIndexedResult("wf2", "s", "# Research: x", t1,
      Some("Research: x"), Some("img.png"), Array(0.5f, 0.25f)))
    assert(n == 3)
    val row = st.results.filter(s"result_id = '${r.result_id}'").collect().head
    assert(row.getSeq[Float](row.fieldIndex("embedding")) == Seq(0.5f, 0.25f))
  }

  test("hasResults (the pipeline's D6 guard): one filtered scan, hit or miss") {
    val (_, st) = smallStore()
    assert(jobs(st.hasResults("wf1")) == (true, 1))
    assert(jobs(st.hasResults("wf9")) == (false, 1))
  }

  test("Service.status: lookup + one category scan") {
    val (_, st) = smallStore()
    val svc = new Service(st, new ResearchPipeline(spark, st, new Research.StubAgents()))
    st.addQueryWithQuestions("wf1", "q1", Seq("A?", "B?"), t1)
    val (s, n) = jobs(svc.status("wf1"))
    assert(s.map(x => (x.questions_total, x.answers_collected)).contains((2, 0)))
    assert(n <= 2)
  }
}
