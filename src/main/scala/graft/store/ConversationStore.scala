package graft.store

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.StructType

import graft.model.Schemas
import graft.ops.Relational

/**
 * Conversation store (SURVEY.md §2.1 S1–S7 + §2.5 W1): the relational
 * re-expression of the reference's Neo4j property graph
 * (/root/reference/openai_agents/memory/neo4j_memory.py).
 *
 * Tables: conversations, messages, results, result_links (the extra
 * HAS_RESULT edges of neo4j_memory.py:645-658). NEXT edges are never
 * materialized — `lead()` over (workflow_id, sequence) reconstructs them
 * (see `messagesWithNext`).
 *
 * Storage: the north star is Iceberg MERGE/UPDATE, but /opt/spark/jars
 * carries no iceberg-runtime jar, so the API stays Iceberg-shaped
 * (merge/append/update verbs) over parquet appends and whole-table
 * rewrites. At 100 TB on Iceberg the same verbs become `MERGE INTO`/`UPDATE`
 * row-level ops with partition (bucket(workflow_id)) pruning; only this
 * class changes, not callers.
 *
 * Reads go through a per-table row cache on the driver. Every read runs
 * `recover` and lists the table's data files; the listing (name, length,
 * mtime of immutable parquet files) is the table's version. While it is
 * the listing the cached rows were read at, the table is a `LocalRelation`
 * over those rows, and the verbs' key-filtered collects fold into it
 * without a Spark job. Any other listing reads the parquet once (one job)
 * and caches it again. An append adds its rows to the cache when it wrote
 * the only new file, and a rewrite sets them when the swapped-in listing
 * is the one it staged; every other change (another instance, bulk
 * `addMessages`, a `recover` after a cut swap) is a new listing and so a
 * reload. Only a table whose data files total at most
 * `spark.sql.autoBroadcastJoinThreshold` is cached; a larger one is read
 * by the plain distributed scan on every call, which is the shape that
 * scales.
 *
 * Spark jobs per verb on cached tables (a job is a driver round-trip; on
 * tiny tables it costs far more than the rows it touches). No verb
 * re-reads a row it just wrote or rewrites a table whose rows would not
 * change:
 *  - `getConversation`, `messageCategories`, `hasResults`,
 *    `latestResult`, `listConversations`, `listConversationsAfter`: 0.
 *  - `createConversation`: 1 append when new, nothing when the status is
 *    unchanged, 1 rewrite when the status changes.
 *  - `addMessage`, `addQueryWithQuestions`: 1 append; `addMessageIfAbsent`
 *    the same, or 0 when the guard finds a duplicate.
 *  - `addResult`, `addIndexedResult`: 1 append to results + 1 to
 *    result_links. `linkExistingResult`: 1 append when new.
 *  - `updateStatus`, `setEmbedding`: 1 job, but it rewrites the WHOLE
 *    table (conversations / results) into a staged directory that then
 *    replaces the live one. These are the write amplification left; the
 *    keyed upsert that removes them is ROADMAP open item #2 (snapshot
 *    commit path).
 * A cold or reloaded read adds 1 job per table it touches; an uncached
 * table adds 1 job per key-filtered collect. Each append writes one file.
 * Sequence assignment is the batch row_number form for bulk loads and
 * max+1 for single appends (the reference's per-write semantics,
 * neo4j_memory.py:327-339).
 */
class ConversationStore(spark: SparkSession, basePath: String) {
  import ConversationStore._
  import Schemas._

  private def path(t: String) = s"$basePath/$t"

  private def fs(p: Path): FileSystem = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val cache = mutable.Map[String, Cached]()

  /** The data files of the table directory `dir` (none when it is
    * missing); `_SUCCESS` and checksum files are not data. */
  private def dataFiles(dir: Path): Set[DataFile] =
    try fs(dir).listStatus(dir).iterator
      .map(s => DataFile(s.getPath.getName, s.getLen, s.getModificationTime))
      .filterNot(f => f.name.startsWith("_") || f.name.startsWith(".")).toSet
    catch { case _: java.io.FileNotFoundException => Set.empty }

  /** Whether a table of `files` is small enough to hold on the driver. */
  private def cacheable(files: Set[DataFile]): Boolean =
    files.iterator.map(_.length).sum <= Shims.broadcastThreshold(spark)

  private def remember(t: String, files: Set[DataFile], rows: Seq[InternalRow]): Unit =
    synchronized {
      if (cacheable(files)) cache(t) = Cached(files, rows.toVector) else cache -= t
    }

  private def toInternal(schema: StructType, rows: Seq[Row]): Seq[InternalRow] = {
    val ser = ExpressionEncoder(schema).createSerializer()
    rows.map(r => ser(r).copy())
  }

  /**
   * The table at `t`, or an empty frame when its path does not exist yet.
   * A table whose data files total at most `autoBroadcastJoinThreshold`
   * is served from its rows cached on the driver while its listing is the
   * one they were read at (a `LocalRelation`: filters and projections fold
   * into it, so a key-filtered collect runs no job); any other listing
   * reads the parquet once and caches the rows again. A larger table is
   * the plain parquet scan. Any other failure (unreadable path, unknown
   * filesystem) propagates: a store must never read as empty because it is
   * broken.
   */
  private def readOr(t: String, schema: StructType): DataFrame = {
    val files = if (recover(t)) dataFiles(new Path(path(t))) else Set.empty[DataFile]
    synchronized(cache.get(t).filter(_.files == files)) match {
      case Some(c) => Shims.localFrame(spark, schema, c.rows)
      case None if files.isEmpty =>
        remember(t, files, Nil)
        Shims.localFrame(spark, schema, Nil)
      case None =>
        val df = spark.read.schema(schema).parquet(path(t))
        if (!cacheable(files)) { synchronized(cache -= t); df }
        else {
          val rows = toInternal(df.schema, df.collect().toSeq)
          remember(t, files, rows)
          Shims.localFrame(spark, schema, rows)
        }
    }
  }

  /**
   * Finishes a swap of [[overwrite]] that a dying process left between its
   * two renames: the live table is missing while its new rows sit complete
   * in `.staged` (the write committed, so `_SUCCESS` is there) or its old
   * rows in `.retired`. Moves the newest complete copy back to live, so no
   * read sees the table empty and no append or rewrite starts a new one
   * beside it. True when the live table exists afterwards.
   */
  private def recover(t: String): Boolean = {
    val live = new Path(path(t))
    val f = fs(live)
    f.exists(live) || {
      val staged = new Path(s"${path(t)}.staged")
      val retired = new Path(s"${path(t)}.retired")
      val copy =
        if (f.exists(new Path(staged, "_SUCCESS"))) Some(staged)
        else Some(retired).filter(f.exists)
      copy.exists(f.rename(_, live))
    }
  }

  def conversations: DataFrame = readOr("conversations", conversationSchema)
  def messages: DataFrame = readOr("messages", messageSchema)
  def results: DataFrame = readOr("results", resultSchema)
  def resultLinks: DataFrame = readOr("result_links", resultLinkSchema)

  /**
   * Replaces table `t` with `df` (which may read `t`): one write into a
   * staged sibling directory, then a swap by rename. A failing write
   * leaves the live table untouched and removes what it staged; a process
   * dying between the two renames leaves the table missing until
   * [[recover]] moves a complete copy back (ROADMAP open item #2 replaces
   * this with a snapshot commit). When `df` is computed from cached rows
   * it is written as one file, and its rows become the cache when the
   * live listing after the swap is the staged one.
   */
  private[store] def overwrite(t: String, df: DataFrame): Unit = {
    val live = new Path(path(t))
    val staged = new Path(s"${path(t)}.staged")
    val retired = new Path(s"${path(t)}.retired")
    val f = fs(live)
    recover(t)
    f.delete(staged, true)
    val rows = Shims.localRows(df)
    try rows.fold(df)(_ => df.coalesce(1)).write.parquet(staged.toString)
    catch { case e: Throwable => f.delete(staged, true); throw e }
    val files = dataFiles(staged)
    f.delete(retired, true)
    if (f.exists(live) && !f.rename(live, retired))
      throw new java.io.IOException(s"cannot retire $live")
    if (!f.rename(staged, live)) throw new java.io.IOException(s"cannot publish $staged")
    f.delete(retired, true)
    rows.filter(_ => dataFiles(live) == files) match {
      case Some(r) => remember(t, files, r)
      case None => synchronized(cache -= t)
    }
  }

  /** Appends `rows` to table `t` as one file. The cache takes the rows too
    * when it held the table as listed before the write (a table of no data
    * files holds no rows) and the write added exactly that one file: any
    * other writer shows as a file more. */
  private def append(t: String, rows: Seq[Row], schema: StructType): Unit = {
    recover(t)
    val live = new Path(path(t))
    val before = dataFiles(live)
    val written = toInternal(schema, rows)
    Shims.localFrame(spark, schema, written).coalesce(1)
      .write.mode(SaveMode.Append).parquet(path(t))
    val after = dataFiles(live)
    synchronized {
      val held =
        if (before.isEmpty) Some(Vector.empty)
        else cache.get(t).filter(_.files == before).map(_.rows)
      held.filter(_ => before.subsetOf(after) && after.size == before.size + 1) match {
        case Some(rows) => remember(t, after, rows ++ written)
        case None => cache -= t
      }
    }
  }

  // ── S1: conversation upsert (MERGE on workflow_id) ─────────────────────
  /**
   * MERGE semantics of neo4j_memory.py:170-186: ON CREATE set all props,
   * ON MATCH set only `status` (and write nothing when it is unchanged).
   */
  def createConversation(workflowId: String, originalQuery: String,
                         status: String, now: Timestamp): Conversation =
    getConversation(workflowId) match {
      case None =>
        val c = Conversation(workflowId, originalQuery, status, now, s"conv-$workflowId")
        append("conversations", Seq(Row(c.workflow_id, c.original_query, c.status,
          c.created_at, c.conversation_id)), conversationSchema)
        c
      case Some(c) if c.status == status => c
      case Some(c) =>
        updateStatus(workflowId, status)
        c.copy(status = status)
    }

  // ── S2: status update by key ───────────────────────────────────────────
  def updateStatus(workflowId: String, status: String): Unit =
    overwrite("conversations", conversations.withColumn("status",
      when(col("workflow_id") === workflowId, lit(status)).otherwise(col("status"))))

  // ── S3: point lookup ───────────────────────────────────────────────────
  def getConversation(workflowId: String): Option[Conversation] = {
    import spark.implicits._
    conversations.filter(col("workflow_id") === workflowId)
      .as[Conversation].collect().headOption
  }

  /**
   * A1 + J3 from one key-filtered collect per table (two plans that fold
   * into cached rows, where a union would not): the next sequence over
   * Message∪Result of `workflowId` (max+1, 0 on an empty group; taken on
   * the driver, so no aggregate shuffle), and which of `contents` already
   * exist as messages of `category` (the duplicate guard; `contents`
   * empty = no guard).
   */
  private def scanSequence(workflowId: String, category: Option[String] = None,
                           contents: Seq[String] = Nil): (Int, Set[String]) = {
    val key = col("workflow_id") === workflowId
    val hit =
      if (contents.isEmpty) lit(null).cast("string")
      else when(col("content").isin(contents: _*) &&
        (col("message_category") <=> lit(category.orNull).cast("string")), col("content"))
    val ms = messages.filter(key).select(col("sequence"), hit).collect()
    val rs = results.filter(key).select(col("sequence")).collect()
    val seqs = (ms ++ rs).iterator.filterNot(_.isNullAt(0)).map(_.getInt(0)).toSeq
    val next = if (seqs.isEmpty) 0 else seqs.max + 1
    (next, ms.iterator.flatMap(r => Option(r.getString(1))).toSet)
  }

  private def appendMessages(ms: Seq[Message]): Seq[Message] = {
    append("messages", ms.map(m => Row(m.message_id, m.workflow_id, m.message_type,
      m.content, m.timestamp, m.sequence, m.message_category.orNull)), messageSchema)
    ms
  }

  private def message(workflowId: String, seq: Int, messageType: String, content: String,
                      now: Timestamp, category: Option[String]): Message =
    Message(s"$workflowId-msg-$seq", workflowId, messageType, content, now, seq, category)

  // ── S4: message append with sequence (neo4j_memory.py:306-431) ─────────
  def addMessage(workflowId: String, messageType: String, content: String,
                 now: Timestamp, category: Option[String] = None): Message = {
    val (seq, _) = scanSequence(workflowId)
    appendMessages(Seq(message(workflowId, seq, messageType, content, now, category))).head
  }

  /**
   * Batch message ingest: per-workflow sequences assigned in ONE
   * distributed pass — row_number over the batch (ordered by `ord`),
   * offset by each workflow's current max sequence over Message∪Result.
   * Bulk loads must never take the per-append max+1 driver round-trip:
   * this is the scale path (one shuffle on workflow_id, reused by the
   * join and the window), and it assigns exactly the sequences a loop of
   * `addMessage` calls would (pinned in ConversationStoreSpec).
   *
   * `df` columns: workflow_id, message_type, content, created_at,
   * message_category (nullable). Returns the written rows with their
   * assigned message_id/sequence.
   */
  def addMessages(df: DataFrame,
                  ord: Seq[org.apache.spark.sql.Column] = Seq(col("created_at"))): DataFrame = {
    val existingMax = messages.select(col("workflow_id"), col("sequence"))
      .unionByName(results.select(col("workflow_id"), col("sequence")))
      .groupBy(col("workflow_id"))
      .agg(max(col("sequence")).as("__base"))
    val w = Window.partitionBy(col("workflow_id")).orderBy(ord: _*)
    val assigned = df
      .join(existingMax, Seq("workflow_id"), "left")
      .withColumn("sequence",
        (row_number().over(w) - 1 + coalesce(col("__base") + 1, lit(0))).cast("int"))
      .withColumn("message_id",
        concat(col("workflow_id"), lit("-msg-"), col("sequence")))
      .select(col("message_id"), col("workflow_id"), col("message_type"),
        col("content"), col("created_at").as("timestamp"), col("sequence"),
        col("message_category"))
    // localCheckpoint (eager): materializes ONE assignment before the append
    // (the plan reads `messages` for __base while the write lands in the
    // same directory), and the returned frame is that same materialization —
    // re-evaluating the lazy plan could re-order created_at ties in the
    // window and report message_ids that differ from the rows written
    val materialized = assigned.localCheckpoint(true)
    materialized.write.mode(SaveMode.Append).parquet(path("messages"))
    materialized
  }

  /**
   * J3-guarded message append: skip when (workflow_id, content, category)
   * already exists — the question-dedup guard of ui/backend/main.py:296-303.
   */
  def addMessageIfAbsent(workflowId: String, messageType: String, content: String,
                         now: Timestamp, category: Option[String]): Option[Message] = {
    val (seq, dups) = scanSequence(workflowId, category, Seq(content))
    if (dups.nonEmpty) None
    else Some(appendMessages(Seq(message(workflowId, seq, messageType, content, now,
      category))).head)
  }

  /**
   * The clarification flow's opening (interactive_research_workflow.py +
   * main.py:296-303) in one scan and one append: the human `query` as an
   * `initial_query` message, then every AI question of `questions` not
   * already asked (J3 guard, also against earlier questions of the same
   * batch). Writes exactly the rows of `addMessage` followed by one
   * `addMessageIfAbsent` per question (pinned in ConversationStoreSpec).
   */
  def addQueryWithQuestions(workflowId: String, query: String, questions: Seq[String],
                            now: Timestamp): Seq[Message] = {
    val category = Some("clarification_question")
    val (first, asked) = scanSequence(workflowId, category, questions)
    val fresh = questions.distinct.filterNot(asked)
    appendMessages(
      message(workflowId, first, "human", query, now, Some("initial_query")) +:
        fresh.zipWithIndex.map { case (q, i) =>
          message(workflowId, first + 1 + i, "ai", q, now, category)
        })
  }

  // ── S5: result append (neo4j_memory.py:433-572) ────────────────────────
  def addResult(workflowId: String, shortSummary: String, markdownReport: String,
                now: Timestamp, title: Option[String] = None,
                imageFilePath: Option[String] = None): Result =
    appendResult(workflowId, shortSummary, markdownReport, now, title, imageFilePath, None)

  /** S5 + S7 in one append: the result row is written with its embedding
    * already set, instead of `addResult` then a `setEmbedding` rewrite of
    * the whole results table. */
  def addIndexedResult(workflowId: String, shortSummary: String, markdownReport: String,
                       now: Timestamp, title: Option[String], imageFilePath: Option[String],
                       embedding: Array[Float]): Result =
    appendResult(workflowId, shortSummary, markdownReport, now, title, imageFilePath,
      Some(embedding))

  private def appendResult(workflowId: String, shortSummary: String, markdownReport: String,
                           now: Timestamp, title: Option[String],
                           imageFilePath: Option[String],
                           embedding: Option[Array[Float]]): Result = {
    val (seq, _) = scanSequence(workflowId)
    val r = Result(s"$workflowId-result-$seq", workflowId, shortSummary,
      markdownReport, now, seq, title,
      imageFilePath.map(p => if (p.startsWith("/")) p else s"/$p"), embedding)
    append("results", Seq(Row(r.result_id, r.workflow_id, r.short_summary,
      r.markdown_report, r.timestamp, r.sequence, r.title.orNull, r.image_file_path.orNull,
      r.embedding.map(_.toSeq).orNull)), resultSchema)
    append("result_links", Seq(Row(workflowId, r.result_id, now)), resultLinkSchema)
    r
  }

  // ── S6: idempotent result re-link (neo4j_memory.py:574-688) ────────────
  /** Returns true when a new link was written, false when it already existed. */
  def linkExistingResult(workflowId: String, resultId: String, now: Timestamp): Boolean = {
    val already = resultLinks.filter(col("workflow_id") === workflowId &&
      col("result_id") === resultId).select(col("result_id")).collect()
    if (already.nonEmpty) false
    else {
      append("result_links", Seq(Row(workflowId, resultId, now)), resultLinkSchema)
      true
    }
  }

  // ── S7: embedding column write (neo4j_rag.py:163-214) ──────────────────
  def setEmbedding(resultId: String, embedding: Array[Float]): Unit =
    overwrite("results", results.withColumn("embedding",
      when(col("result_id") === resultId, lit(embedding).cast("array<float>"))
        .otherwise(col("embedding"))))

  // ── Reads ──────────────────────────────────────────────────────────────
  /** W3 — ordered message scan (neo4j_memory.py:703-721). */
  def getMessages(workflowId: String, limit: Option[Int] = None): DataFrame = {
    val base = messages.filter(col("workflow_id") === workflowId)
      .orderBy(col("sequence"))
    limit.map(base.limit).getOrElse(base)
  }

  /** Message count per category of `workflowId` (one filtered scan, no
    * sort): the clarification progress that status and answers report. */
  def messageCategories(workflowId: String): Map[String, Int] =
    messages.filter(col("workflow_id") === workflowId).select(col("message_category"))
      .collect().toSeq.flatMap(r => Option(r.getString(0)))
      .groupBy(identity).map { case (c, rs) => c -> rs.size }

  /** W1 — NEXT-edge reconstruction via lead() (SURVEY §1.3). */
  def messagesWithNext(workflowId: String): DataFrame = {
    val w = Window.partitionBy(col("workflow_id")).orderBy(col("sequence"))
    messages.filter(col("workflow_id") === workflowId)
      .withColumn("next_id", lead(col("message_id"), 1).over(w))
  }

  /** W4 — ordered desc + offset pagination (neo4j_memory.py:279-289). A
    * cached table is sorted on the driver (a sort does not fold into its
    * `LocalRelation`), so a page costs no job. */
  def listConversations(offset: Int, limit: Int): DataFrame = {
    val all = conversations
    val order = Relational.sortColumns(listOrder)
    Shims.sortedLocal(all, order).getOrElse(all.orderBy(order: _*)).offset(offset).limit(limit)
  }

  /** W4 at scale — keyset-paginated listing: the page strictly AFTER the
    * (created_at, workflow_id) cursor in the same DESC total order as
    * [[listConversations]]; pass the last row of the previous page as the
    * cursor. The boundary is a pushable predicate + top-n, so page depth
    * never costs an O(offset) skip (see
    * [[graft.ops.Relational.paginateAfter]]). A cached table is sorted on
    * the driver and the same seek and limit fold into it: no job. */
  def listConversationsAfter(cursorCreatedAt: Timestamp,
                             cursorWorkflowId: String, n: Int): DataFrame = {
    val all = conversations
    val cursor = Seq(lit(cursorCreatedAt), lit(cursorWorkflowId))
    Shims.sortedLocal(all, Relational.sortColumns(listOrder)) match {
      case Some(sorted) => sorted.filter(Relational.seekAfter(listOrder, cursor)).limit(n)
      case None => Relational.paginateAfter(all, listOrder, cursor, n)
    }
  }

  /** D6 guard — whether `workflowId` has a result linked: one filtered
    * scan of result_links instead of the join, sort and limit of
    * `getResults` (a link is written after its result row, or by
    * `linkExistingResult` for a result the cache gate read). */
  def hasResults(workflowId: String): Boolean =
    resultLinks.filter(col("workflow_id") === workflowId).select(col("result_id"))
      .collect().nonEmpty

  /** The linked result of `workflowId` with the highest sequence (the
    * first row of `getResults` sorted descending), from two key-filtered
    * collects instead of a join and a sort. */
  def latestResult(workflowId: String): Option[Result] = {
    import spark.implicits._
    val ids = resultLinks.filter(col("workflow_id") === workflowId)
      .select(col("result_id")).as[String].collect().distinct
    if (ids.isEmpty) None
    else results.filter(col("result_id").isin(ids: _*)).as[Result].collect()
      .maxByOption(_.sequence)
  }

  /** J5 — results of a conversation through result_links (FK hash join). */
  def getResults(workflowId: String): DataFrame =
    resultLinks.filter(col("workflow_id") === workflowId)
      .select(col("result_id"), col("linked_at"))
      .join(results, "result_id")
      .orderBy(col("sequence"))
}

object ConversationStore {
  /** The listing order: created_at desc, workflow_id desc. */
  private val listOrder = Seq("created_at" -> false, "workflow_id" -> false)

  /** One data file of a table: parquet files are never modified in
    * place, so a table's listing of these is its version. */
  private final case class DataFile(name: String, length: Long, mtime: Long)

  /** A table's rows as of one listing of its data files. */
  private final case class Cached(files: Set[DataFile], rows: Vector[InternalRow])
}
