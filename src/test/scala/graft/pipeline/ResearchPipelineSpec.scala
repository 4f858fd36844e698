package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.api.Service
import graft.store.ConversationStore

/** D1–D7 dataflow semantics with deterministic stub agents. */
class ResearchPipelineSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
  private val t1 = Timestamp.valueOf("2026-01-01 00:05:00")

  private def fresh(): (ConversationStore, ResearchPipeline, ArrayBuffer[(String, String)]) = {
    val store = new ConversationStore(spark, Files.createTempDirectory("graft-pipe").toString)
    val events = ArrayBuffer.empty[(String, String)] // (topic, value)
    val sink: DataFrame => Unit = df =>
      events ++= df.collect().map(r => (r.getAs[String]("topic"), r.getAs[String]("value")))
    (store, new ResearchPipeline(spark, store, new Research.StubAgents(), eventSink = sink), events)
  }

  test("full run: fan-out searches, failures dropped, report persisted + indexed (D2/D6)") {
    val (store, pipe, events) = fresh()
    val out = pipe.run("wf1", "what is spark", t0)
    assert(!out.cacheHit)
    assert(out.nSearches >= 5 && out.nSearches <= 20, "planner yields 5-20 items")
    assert(out.report.markdown_report.startsWith("# Research: what is spark"))
    // persisted exactly one result, embedding indexed (S7), title extracted (F1)
    val results = store.results.collect()
    assert(results.length == 1)
    assert(!results(0).isNullAt(results(0).fieldIndex("embedding")))
    assert(results(0).getAs[String]("title") == "Research: what is spark")
    assert(store.getConversation("wf1").get.status == "completed")
    // events emitted in pipeline order
    val types = events.map(_._2).map(v => v.split("\"event_type\":\"")(1).split("\"")(0))
    assert(types.toSeq.take(2) == Seq("query_received", "research_started"))
    assert(types.contains("research_complete"))
  }

  test("D1: identical query hits the cache, re-links instead of re-running (S6)") {
    val (store, pipe, events) = fresh()
    pipe.run("wf1", "deep learning", t0)
    val out2 = pipe.run("wf2", "deep learning", t1) // same text → same stub embedding
    assert(out2.cacheHit)
    assert(out2.existingResultId.isDefined)
    assert(store.results.count() == 1, "no second Result row written")
    assert(store.resultLinks.count() == 2, "wf2 linked to wf1's result")
    assert(store.getConversation("wf2").get.status == "completed")
    val types = events.map(_._2).map(v => v.split("\"event_type\":\"")(1).split("\"")(0))
    assert(types.contains("knowledge_graph_hit"))
  }

  test("D1 idempotence: re-running the cached workflow adds no rows (J3 guard)") {
    val (store, pipe, _) = fresh()
    pipe.run("wf1", "graph databases", t0)
    pipe.run("wf2", "graph databases", t1)
    pipe.run("wf2", "graph databases", t1) // again
    assert(store.results.count() == 1)
    assert(store.resultLinks.count() == 2, "re-link is idempotent")
  }

  test("D4: clarification state machine — questions, validators, completion trigger") {
    val (store, pipe, _) = fresh()
    val qs = pipe.startWithClarifications("wf1", "tell me about rust", t0)
    assert(qs.size == 3)
    assert(pipe.getStatus("wf1").contains("collecting_answers"))
    // validator: blank answer rejected
    assert(pipe.provideClarification("wf1", "   ", t1).isLeft)
    // validator: unknown workflow rejected
    assert(pipe.provideClarification("nope", "x", t1).isLeft)
    assert(pipe.provideClarification("wf1", "memory safety", t1) == Right(2))
    assert(pipe.provideClarification("wf1", "last 5 years", t1) == Right(1))
    assert(pipe.provideClarification("wf1", "in depth", t1) == Right(0))
    // all answered → research ran → completed
    assert(pipe.getStatus("wf1").contains("completed"))
    // validator: answering after completion rejected
    assert(pipe.provideClarification("wf1", "late", t1).isLeft)
  }

  test("D4: starting the same clarification flow twice asks no question twice") {
    val (store, pipe, _) = fresh()
    val qs = pipe.startWithClarifications("wf1", "tell me about rust", t0)
    assert(pipe.startWithClarifications("wf1", "tell me about rust", t1) == qs)
    val asked = store.messages.filter("message_category = 'clarification_question'")
      .collect().map(r => (r.getAs[String]("content"), r.getAs[Int]("sequence")))
    assert(asked.map(_._1).sorted.toSeq == qs.sorted, "each question stored once")
    assert(asked.map(_._2).sorted.toSeq == Seq(1, 2, 3))
    assert(store.messages.filter("message_category = 'initial_query'").count() == 2)
    assert(pipe.getStatus("wf1").contains("collecting_answers"))
  }

  test("D4: question-ending queries skip clarifications entirely") {
    val (_, pipe, _) = fresh()
    val qs = pipe.startWithClarifications("wf1", "what is the answer?", t0)
    assert(qs.isEmpty)
    assert(pipe.getStatus("wf1").contains("completed"))
  }

  test("service layer mirrors the API contract (S12)") {
    val (store, pipe, _) = fresh()
    val svc = new Service(store, pipe)
    val start = svc.startResearch("wf1", "kubernetes", t0)
    assert(start.status == "collecting_answers" && start.clarification_questions.size == 3)
    val st = svc.status("wf1").get
    assert(st.questions_total == 3 && st.answers_collected == 0)
    assert(svc.result("wf1").isLeft, "result gated until completed")
    svc.answer("wf1", "a1", t1); svc.answer("wf1", "a2", t1); svc.answer("wf1", "a3", t1)
    val res = svc.result("wf1")
    assert(res.isRight)
    assert(res.toOption.get.title.contains("Research: kubernetes"))
    intercept[IllegalArgumentException](svc.startResearch("wf2", "  ", t0))
  }

  test("events route to the expected topics (P5 inside the pipeline)") {
    val (_, pipe, events) = fresh()
    pipe.run("wf1", "topic routing check", t0)
    val topics = events.map(_._1).toSet
    // default Topics() routes everything to the single default topic
    assert(topics == Set("research-workflow-events"))
  }
}
