package graft.store

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/**
 * The row cache of [[ConversationStore]] is exact: a seeded random mix of
 * every verb, run through two instances that share one directory, with
 * bulk loads, whole-table rewrites and swaps cut between their renames
 * done behind their backs. After every step each instance reads what a
 * fresh instance (no cache) reads. With `autoBroadcastJoinThreshold` at 1
 * byte no table is cached, and the same mix ends with the same rows.
 */
class ConversationStoreCacheSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val wfs = Seq("wf0", "wf1", "wf2", "wf3")
  private val statuses = Seq("pending", "researching", "completed")
  private val questions = Seq("Q1?", "Q2?", "Q3?")

  private def ts(step: Int) = new Timestamp(Timestamp.valueOf("2026-01-01 00:00:00").getTime +
    step * 1000L)

  private def rows(df: DataFrame): List[List[Any]] =
    df.collect().toList.map(_.toSeq.toList.map {
      case a: scala.collection.Seq[_] => a.toList
      case v => v
    }).sortBy(_.toString)

  /** Every table and every guard read of every workflow. */
  private def reads(st: ConversationStore): List[Any] =
    List(rows(st.conversations), rows(st.messages), rows(st.results), rows(st.resultLinks)) ++
      wfs.map(w => (st.getConversation(w), st.messageCategories(w), st.hasResults(w),
        st.latestResult(w).map(r => (r.copy(embedding = None), r.embedding.map(_.toList)))))

  private def tables(dir: Path): Seq[String] =
    Seq("conversations", "messages", "results", "result_links")
      .filter(t => Files.exists(dir.resolve(t)))

  /** A rewrite of `t` cut after its first rename: live retired, and the
    * staged rows either committed (a changed copy) or only partly written. */
  private def cutSwap(dir: Path, t: String, committed: Boolean): Unit = {
    val retired = dir.resolve(s"$t.retired")
    val staged = dir.resolve(s"$t.staged")
    // copies an earlier cut left beside the live table
    Seq(retired, staged).filter(Files.exists(_)).foreach(p =>
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_)))
    Files.move(dir.resolve(t), retired)
    if (committed) {
      val old = spark.read.parquet(retired.toString)
      val changed = if (t == "conversations") old.withColumn("status", lit("recovered")) else old
      changed.write.parquet(staged.toString)
    } else {
      Files.createDirectories(staged)
      Files.write(staged.resolve("part-0.parquet"), "cut".getBytes)
    }
  }

  private def step(rnd: Random, i: Int, dir: Path, st: ConversationStore): Unit = {
    import spark.implicits._
    val wf = wfs(rnd.nextInt(wfs.size))
    def resultIds = new ConversationStore(spark, dir.toString).results
      .select("result_id").as[String].collect().sorted
    rnd.nextInt(12) match {
      case 0 => st.createConversation(wf, s"q-$wf", statuses(rnd.nextInt(3)), ts(i))
      case 1 => st.updateStatus(wf, statuses(rnd.nextInt(3)))
      case 2 => st.addMessage(wf, "human", s"a$i", ts(i), Some("clarification_answer"))
      case 3 => st.addMessageIfAbsent(wf, "ai", questions(rnd.nextInt(3)), ts(i),
        Some("clarification_question"))
      case 4 => st.addQueryWithQuestions(wf, s"q-$wf", questions.filter(_ => rnd.nextBoolean()),
        ts(i))
      case 5 => st.addResult(wf, s"s$i", s"# r$i", ts(i))
      case 6 => st.addIndexedResult(wf, s"s$i", s"# r$i", ts(i), Some(s"r$i"), None,
        Array(i.toFloat, 1f))
      case 7 =>
        val ids = resultIds
        if (ids.nonEmpty) st.linkExistingResult(wf, ids(rnd.nextInt(ids.length)), ts(i))
      case 8 =>
        val ids = resultIds
        if (ids.nonEmpty) st.setEmbedding(ids(rnd.nextInt(ids.length)), Array(i.toFloat))
      case 9 =>
        val batch = Seq((wf, s"b$i", 0), (wfs(rnd.nextInt(wfs.size)), s"b$i", 1)).map {
          case (w, c, k) => (w, "human", c, new Timestamp(ts(i).getTime + k), "clarification_answer")
        }
        st.addMessages(batch.toDF("workflow_id", "message_type", "content", "created_at",
          "message_category"))
      case k =>
        val live = tables(dir)
        if (live.nonEmpty) cutSwap(dir, live(rnd.nextInt(live.size)), committed = k == 10)
    }
  }

  /** Runs the mix; returns the final reads. */
  private def mix(seed: Long, steps: Int): List[Any] = {
    val dir = Files.createTempDirectory("graft-cache")
    val a = new ConversationStore(spark, dir.toString)
    val b = new ConversationStore(spark, dir.toString)
    val rnd = new Random(seed)
    (0 until steps).foreach { i =>
      step(rnd, i, dir, if (rnd.nextBoolean()) a else b)
      // the fresh instance reads first: it finishes a cut swap, as any
      // reader would, so all three compare the same files
      val expected = reads(new ConversationStore(spark, dir.toString))
      Seq("a" -> a, "b" -> b).foreach { case (name, st) =>
        assert(reads(st) == expected, s"instance $name after step $i")
      }
    }
    reads(new ConversationStore(spark, dir.toString))
  }

  test("cached reads of two instances equal a fresh instance's after every verb") {
    val cached = mix(seed = 17, steps = 40)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    val distributed =
      try mix(seed = 17, steps = 40)
      finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(distributed == cached, "the uncached path ends with the same rows")
  }
}
