package graft.store

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** S1–S7 store semantics (neo4j_memory.py) over the parquet fallback. */
class ConversationStoreSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def freshStore(): ConversationStore =
    new ConversationStore(spark, Files.createTempDirectory("graft-store").toString)

  private val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
  private val t1 = Timestamp.valueOf("2026-01-01 00:01:00")

  test("S1: upsert creates on first write, on match updates ONLY status (neo4j_memory.py:170-186)") {
    val st = freshStore()
    val c1 = st.createConversation("wf1", "original?", "pending", t0)
    assert(c1.status == "pending" && c1.original_query == "original?")
    // second MERGE with different query text: status updates, query does not
    val c2 = st.createConversation("wf1", "DIFFERENT", "researching", t1)
    assert(c2.status == "researching")
    assert(c2.original_query == "original?", "ON MATCH must not overwrite original_query")
    assert(c2.created_at == t0, "ON MATCH must not overwrite created_at")
    assert(st.conversations.count() == 1)
  }

  test("S2/S3: point status update + point lookup") {
    val st = freshStore()
    st.createConversation("wf1", "q", "pending", t0)
    st.createConversation("wf2", "q2", "pending", t0)
    st.updateStatus("wf1", "completed")
    assert(st.getConversation("wf1").get.status == "completed")
    assert(st.getConversation("wf2").get.status == "pending")
    assert(st.getConversation("nope").isEmpty)
  }

  test("S4/A1: message sequence is per-conversation monotonic from 0; id format wf-msg-seq") {
    val st = freshStore()
    val m0 = st.addMessage("wf1", "human", "hello", t0)
    val m1 = st.addMessage("wf1", "ai", "hi!", t1)
    val other = st.addMessage("wf2", "human", "separate", t0)
    assert(m0.sequence == 0 && m1.sequence == 1 && other.sequence == 0)
    assert(m0.message_id == "wf1-msg-0" && m1.message_id == "wf1-msg-1")
  }

  test("batch addMessages assigns exactly the sequences a loop of addMessage would") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val t2 = Timestamp.valueOf("2026-01-01 00:02:00")
    val t3 = Timestamp.valueOf("2026-01-01 00:03:00")

    // store A: one-by-one appends (the reference's per-write path)
    val a = freshStore()
    a.addMessage("wf1", "human", "m0", t0)
    a.addMessage("wf1", "ai", "m1", t1)
    a.addMessage("wf1", "human", "m2", t2)
    a.addMessage("wf1", "ai", "m3", t3)
    a.addMessage("wf2", "human", "n0", t2)

    // store B: same starting state (2 singles on wf1), then ONE batch
    val b = freshStore()
    b.addMessage("wf1", "human", "m0", t0)
    b.addMessage("wf1", "ai", "m1", t1)
    val batch = Seq(
      ("wf1", "human", "m2", t2, None: Option[String]),
      ("wf1", "ai", "m3", t3, None: Option[String]),
      ("wf2", "human", "n0", t2, None: Option[String])
    ).toDF("workflow_id", "message_type", "content", "created_at", "message_category")
    b.addMessages(batch)

    def snap(st: ConversationStore) = st.messages
      .select("message_id", "workflow_id", "message_type", "content", "timestamp", "sequence")
      .collect().map(_.toSeq).toSet
    assert(snap(b) == snap(a), "batch and single-append sequence assignment must agree")
    // continuation after a batch also agrees: next single append lands at max+1
    assert(a.addMessage("wf1", "human", "m4", t3).sequence == 4)
    assert(b.addMessage("wf1", "human", "m4", t3).sequence == 4)
  }

  test("S5: result append shares the sequence counter with messages (Message∪Result)") {
    val st = freshStore()
    st.addMessage("wf1", "human", "q", t0)
    val r = st.addResult("wf1", "sum", "# Report\nbody", t1)
    assert(r.sequence == 1, "sequence counts across the Message∪Result union")
    assert(r.result_id == "wf1-result-1")
    assert(st.resultLinks.count() == 1)
  }

  test("S5: image path normalized on write (F6)") {
    val st = freshStore()
    val r = st.addResult("wf1", "s", "m", t0, imageFilePath = Some("img.png"))
    assert(r.image_file_path.contains("/img.png"))
  }

  test("J3: addMessageIfAbsent skips duplicate (workflow, content, category) (main.py:296-303)") {
    val st = freshStore()
    assert(st.addMessageIfAbsent("wf1", "ai", "Q1?", t0, Some("clarification_question")).isDefined)
    assert(st.addMessageIfAbsent("wf1", "ai", "Q1?", t1, Some("clarification_question")).isEmpty)
    assert(st.addMessageIfAbsent("wf1", "ai", "Q2?", t1, Some("clarification_question")).isDefined)
    assert(st.messages.count() == 2)
  }

  test("S6: re-link is idempotent (neo4j_memory.py:606-617)") {
    val st = freshStore()
    val r = st.addResult("wfA", "s", "m", t0)
    assert(st.linkExistingResult("wfB", r.result_id, t1))
    assert(!st.linkExistingResult("wfB", r.result_id, t1), "second link must be a no-op")
    assert(st.resultLinks.count() == 2) // original + one re-link
    assert(st.getResults("wfB").count() == 1)
  }

  test("S7: embedding column write targets exactly one result (neo4j_rag.py:193-198)") {
    val st = freshStore()
    val r1 = st.addResult("wf1", "s1", "m1", t0)
    val r2 = st.addResult("wf1", "s2", "m2", t1)
    st.setEmbedding(r1.result_id, Array(1f, 2f, 3f))
    val rows = st.results.orderBy("sequence").collect()
    assert(!rows(0).isNullAt(rows(0).fieldIndex("embedding")))
    assert(rows(1).isNullAt(rows(1).fieldIndex("embedding")))
  }

  test("W1: messagesWithNext reconstructs the NEXT chain via lead()") {
    val st = freshStore()
    st.addMessage("wf1", "human", "a", t0)
    st.addMessage("wf1", "ai", "b", t1)
    st.addMessage("wf1", "human", "c", t1)
    val next = st.messagesWithNext("wf1").orderBy("sequence")
      .select("message_id", "next_id").collect()
      .map(r => (r.getString(0), Option(r.getString(1))))
    assert(next.toSeq == Seq(
      ("wf1-msg-0", Some("wf1-msg-1")),
      ("wf1-msg-1", Some("wf1-msg-2")),
      ("wf1-msg-2", None)))
  }

  test("W4: listConversations paginates desc by created_at (neo4j_memory.py:279-289)") {
    val st = freshStore()
    (1 to 5).foreach(i =>
      st.createConversation(s"wf$i", s"q$i", "pending",
        Timestamp.valueOf(s"2026-01-0$i 00:00:00")))
    val page = st.listConversations(offset = 1, limit = 2).collect().map(_.getString(0))
    assert(page.toSeq == Seq("wf4", "wf3"))
  }

  test("W4b: listConversationsAfter pages from a cursor, equal to the offset page") {
    val st = freshStore()
    (1 to 5).foreach(i =>
      st.createConversation(s"wf$i", s"q$i", "pending",
        Timestamp.valueOf(s"2026-01-0$i 00:00:00")))
    // two conversations at the SAME created_at: the workflow_id tiebreak is
    // what makes the cursor a total order
    st.createConversation("wfa", "qa", "pending",
      Timestamp.valueOf("2026-01-03 00:00:00"))
    val all = st.listConversations(offset = 0, limit = 10).collect()
      .map(r => (r.getString(0), r.getTimestamp(3)))
    // page after the 2nd row == offset page (2, 2)
    val cursor = all(1)
    val keyset = st.listConversationsAfter(cursor._2, cursor._1, 2)
      .collect().map(_.getString(0)).toSeq
    val offsetPage = st.listConversations(offset = 2, limit = 2)
      .collect().map(_.getString(0)).toSeq
    assert(keyset == offsetPage, s"keyset $keyset vs offset $offsetPage")
    // paging from the tie row skips only rows at/before it in total order
    val tieIdx = all.indexWhere(_._1 == "wfa")
    val afterTie = st.listConversationsAfter(all(tieIdx)._2, "wfa", 10)
      .collect().map(_.getString(0)).toSeq
    assert(afterTie == all.drop(tieIdx + 1).map(_._1).toSeq)
  }

  test("W4: pages of a cached table, sorted on the driver, equal the sorted frames") {
    import org.apache.spark.sql.functions.{col, lit}
    val st = freshStore()
    // ties on created_at (wf2/wf7/wf9 and wf4/wf5), one null created_at
    Seq("wf1" -> "2026-01-01", "wf2" -> "2026-01-03", "wf7" -> "2026-01-03",
      "wf9" -> "2026-01-03", "wf4" -> "2026-01-02", "wf5" -> "2026-01-02")
      .foreach { case (wf, d) =>
        st.createConversation(wf, s"q-$wf", "pending", Timestamp.valueOf(s"$d 00:00:00"))
      }
    st.createConversation("wf0", "q-wf0", "pending", null)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    val sorted = st.conversations.orderBy(col("created_at").desc, col("workflow_id").desc)
    for ((offset, limit) <- Seq((0, 3), (1, 2), (2, 10), (6, 1), (7, 2), (20, 5), (0, 0))) {
      val got = st.listConversations(offset, limit)
      assert(rows(got) == rows(sorted.offset(offset).limit(limit)), s"offset $offset limit $limit")
      assert(got.schema == sorted.schema)
    }
    val all = rows(sorted)
    assert(all.size == 7 && all.last.getString(0) == "wf0")
    for (cur <- all; n <- Seq(0, 2, 10)) {
      val ts = cur.getTimestamp(3)
      val got = st.listConversationsAfter(ts, cur.getString(0), n)
      val want = graft.ops.Relational.paginateAfter(st.conversations,
        Seq("created_at" -> false, "workflow_id" -> false),
        Seq(lit(ts), lit(cur.getString(0))), n)
      assert(rows(got) == rows(want), s"after ${cur.getString(0)} n $n")
    }
    // a cursor on the last row: nothing after it
    assert(rows(st.listConversationsAfter(null, "wf0", 5)).isEmpty)
    // a cursor between rows: equal-timestamp rows with a smaller id follow it
    assert(rows(st.listConversationsAfter(Timestamp.valueOf("2026-01-03 00:00:00"), "wf8", 10))
      .map(_.getString(0)) == Seq("wf7", "wf2", "wf5", "wf4", "wf1", "wf0"))
  }

  test("J3 batch: addQueryWithQuestions writes the rows of addMessage + an addMessageIfAbsent loop") {
    val asked = Seq("Q1?", "Q2?", "Q1?", "Q3?") // Q1 repeats inside the batch
    def seeded(): ConversationStore = {
      val st = freshStore()
      st.addMessage("wf1", "human", "earlier", t0, Some("initial_query"))
      st.addMessage("wf1", "ai", "Q2?", t0, Some("clarification_question")) // already asked
      st.addMessage("wf1", "human", "Q3?", t0, Some("clarification_answer")) // other category
      st.addMessage("wf2", "ai", "Q1?", t0, Some("clarification_question")) // other workflow
      st
    }
    val loop = seeded()
    loop.addMessage("wf1", "human", "topic", t1, Some("initial_query"))
    asked.foreach(q => loop.addMessageIfAbsent("wf1", "ai", q, t1, Some("clarification_question")))
    val batch = seeded()
    val written = batch.addQueryWithQuestions("wf1", "topic", asked, t1)

    def rows(st: ConversationStore) = st.messages
      .select("message_id", "workflow_id", "message_type", "content", "timestamp", "sequence",
        "message_category")
      .collect().map(_.toSeq).toSet
    assert(rows(batch) == rows(loop))
    assert(written.map(m => (m.message_id, m.content, m.message_category)) == Seq(
      ("wf1-msg-3", "topic", Some("initial_query")),
      ("wf1-msg-4", "Q1?", Some("clarification_question")),
      ("wf1-msg-5", "Q3?", Some("clarification_question"))))
    // asking the same questions again adds only the query
    assert(batch.addQueryWithQuestions("wf1", "topic", asked, t1).map(_.content) == Seq("topic"))
  }

  test("latestResult is the first row of getResults sorted by sequence descending") {
    import org.apache.spark.sql.functions.desc
    val st = freshStore()
    def old(wf: String) = st.getResults(wf).orderBy(desc("sequence")).limit(1).collect()
      .headOption.map(r => (r.getAs[String]("result_id"), r.getAs[String]("markdown_report")))
    def latest(wf: String) = st.latestResult(wf).map(r => (r.result_id, r.markdown_report))
    st.createConversation("wf1", "q1", "completed", t0)
    st.addMessage("wf1", "human", "q1", t0, Some("initial_query"))
    // no result
    assert(latest("wf1").isEmpty && old("wf1").isEmpty)
    // a repeat session whose link points at another workflow's result
    val r1 = st.addIndexedResult("wf1", "s1", "# r1", t0, None, None, Array(1f))
    st.createConversation("wf2", "q1", "completed", t1)
    st.linkExistingResult("wf2", r1.result_id, t1)
    assert(latest("wf2") == Some((r1.result_id, "# r1")) && old("wf2") == latest("wf2"))
    // two results: the later sequence wins
    st.addMessage("wf1", "human", "more", t1, Some("clarification_answer"))
    val r2 = st.addResult("wf1", "s2", "# r2", t1)
    assert(r2.sequence > r1.sequence)
    assert(latest("wf1") == Some((r2.result_id, "# r2")) && old("wf1") == latest("wf1"))
  }

  test("readOr: a missing table reads as empty, a broken one raises") {
    assert(freshStore().conversations.count() == 0)
    // an unknown filesystem is not a missing table: it must not read as empty
    val unknownFs = new ConversationStore(spark, "graftnofs://nowhere/store")
    intercept[java.io.IOException](unknownFs.getConversation("wf1"))
    // a table directory holding a file that is not parquet
    val dir = Files.createTempDirectory("graft-store")
    val st = new ConversationStore(spark, dir.toString)
    Files.createDirectories(dir.resolve("conversations"))
    Files.write(dir.resolve("conversations").resolve("part-0.parquet"), "not parquet".getBytes)
    intercept[Exception](st.getConversation("wf1"))
  }

  test("overwrite: a failed rewrite leaves the table intact and nothing staged") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val dir = Files.createTempDirectory("graft-store")
    val st = new ConversationStore(spark, dir.toString)
    st.createConversation("wf1", "q1", "pending", t0)
    st.createConversation("wf2", "q2", "pending", t0)
    val before = st.conversations.collect().map(_.toSeq).toSet
    // the parquet writer's task throws on a timestamp that needs calendar
    // rebasing when the rebase mode is EXCEPTION: a failure of the write
    // itself, after the new rows were computed
    val ancient = Timestamp.valueOf("1000-01-01 00:00:00")
    val modes = Seq("spark.sql.parquet.datetimeRebaseModeInWrite",
      "spark.sql.parquet.int96RebaseModeInWrite")
    val saved = modes.map(k => k -> spark.conf.getOption(k))
    modes.foreach(spark.conf.set(_, "EXCEPTION"))
    try intercept[Exception](st.overwrite("conversations", st.conversations.withColumn(
      "created_at", when(col("workflow_id") === "wf1", lit(ancient)).otherwise(col("created_at")))))
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(st.conversations.collect().map(_.toSeq).toSet == before)
    val left = Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet
    assert(left == Set("conversations"), s"left behind: $left")
    // a rewrite that succeeds replaces the rows
    st.updateStatus("wf1", "completed")
    assert(st.getConversation("wf1").map(_.status).contains("completed"))
    assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet ==
      Set("conversations"))
  }

  test("overwrite: a swap cut between its two renames is finished, not lost") {
    import org.apache.spark.sql.functions.{col, lit, when}
    def seeded() = {
      val dir = Files.createTempDirectory("graft-store")
      val st = new ConversationStore(spark, dir.toString)
      st.createConversation("wf1", "q1", "pending", t0)
      st.createConversation("wf2", "q2", "pending", t0)
      // the first rename done, the second not: live is gone, old rows retired
      Files.move(dir.resolve("conversations"), dir.resolve("conversations.retired"))
      (dir, st)
    }
    def statuses(st: ConversationStore) =
      st.conversations.collect().map(r => r.getAs[String]("workflow_id") -> r.getAs[String]("status")).toMap
    def names(dir: java.nio.file.Path) =
      Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

    // the new rows were staged completely: they are the table
    val (dir, st) = seeded()
    spark.read.parquet(dir.resolve("conversations.retired").toString)
      .withColumn("status", when(col("workflow_id") === "wf1", lit("completed")).otherwise(col("status")))
      .write.parquet(dir.resolve("conversations.staged").toString)
    assert(statuses(st) == Map("wf1" -> "completed", "wf2" -> "pending"))
    st.updateStatus("wf2", "researching")
    assert(statuses(st) == Map("wf1" -> "completed", "wf2" -> "researching"))
    assert(names(dir) == Set("conversations"), "a later rewrite clears the old copy")

    // only a partial staged write (no _SUCCESS): the retired rows are the
    // table, and an append adds to them instead of starting a new one
    val (dir2, st2) = seeded()
    Files.createDirectories(dir2.resolve("conversations.staged"))
    Files.write(dir2.resolve("conversations.staged").resolve("part-0.parquet"), "cut".getBytes)
    st2.createConversation("wf3", "q3", "pending", t1)
    assert(statuses(st2) == Map("wf1" -> "pending", "wf2" -> "pending", "wf3" -> "pending"))
  }
}
