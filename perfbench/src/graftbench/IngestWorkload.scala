package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.store.Snapshots
import graft.streaming.CurationStream

/**
 * `ingest`: a fixed number of fixed-size micro-batches through
 * `CurationStream.ingestBatch` into a prefilled snapshot corpus and its
 * LSH bucket table, with reads on the same table between batches, a
 * periodic `mergeInto` correction, and a `compact` + `expire` cycle.
 *
 * Each batch carries fresh documents, in-batch exact copies and near
 * duplicates, exact copies of documents admitted in earlier batches, and
 * at-least-once redeliveries (an earlier document resent with its own id).
 * One already-committed batch is replayed under its original batch id.
 */
final class IngestWorkload(run: Run, batches: Int) extends Workload {
  val batchSize = 200
  val prefillDocs = 400         // one prefill batch of fresh docs
  val inBatchCopies = 6         // per batch: exact copies of a doc in the same batch
  val inBatchNearDups = 6       //   one-word edits of a doc in the same batch
  val crossCopies = 8           //   exact copies of a doc admitted earlier
  val redelivered = 10          //   earlier docs resent with their own id
  // after every second batch a 10-row mergeInto correction; after the last
  // batch a compact + expire(keep = 4); the middle batch is followed by a
  // replay of the script's second batch under its own batch id
  val numHashes = 8             // minhash rows: 2 bands of 4
  val bands = 2
  val appId = "bench"
  private val spark = run.spark
  import spark.implicits._

  final case class Batch(id: Long, docs: Seq[(Long, String)], fresh: Seq[Long],
                         copies: Seq[Long], redeliveries: Seq[Long])

  /** Everything one store sees, generated up front from the seed. */
  final class Script(seed: Long, nBatches: Int) {
    private val g = new Gen(seed)
    private val v = g.vocab(20000)
    private var nextId = 1L
    private val admitted = ArrayBuffer[(Long, String)]()
    private def freshDocs(n: Int) = (0 until n).map { _ =>
      val d = (nextId, g.text(v, 40 + g.rnd.nextInt(40))); nextId += 1; d
    }
    private def pick[T](xs: collection.IndexedSeq[T]) = xs(g.rnd.nextInt(xs.size))

    val prefill: Batch = {
      val docs = freshDocs(prefillDocs)
      admitted ++= docs
      Batch(0, docs, docs.map(_._1), Nil, Nil)
    }
    /** The warm-up's correction: the first ten prefilled docs. */
    val warmMerge: Seq[(Long, String)] = admitted.take(10).toSeq.map { case (id, t) =>
      (id, g.edit(t, 2)) }
    /** Per batch, at fixed positions so that every seed reads the same
      * files: two fresh docs of the batch and two prefilled docs to look
      * up, and the batch's first id to start the scan range and the count
      * from. */
    val lookups = ArrayBuffer[(Seq[Long], Long)]()
    /** Per merge: 10 admitted docs with a corrected text. */
    val merges = ArrayBuffer[Seq[(Long, String)]]()
    val timed: Seq[Batch] = (0 until nBatches).map { i =>
      val nFresh = batchSize - inBatchCopies - inBatchNearDups - crossCopies - redelivered
      val fresh = freshDocs(nFresh)
      def newId(t: String) = { val d = (nextId, t); nextId += 1; d }
      val copies = Seq.fill(inBatchCopies)(newId(pick(fresh)._2)) ++
        Seq.fill(crossCopies)(newId(pick(admitted)._2))
      val nearDups = Seq.fill(inBatchNearDups)(newId(g.edit(pick(fresh)._2, 1)))
      val redel = Seq.fill(redelivered)(pick(admitted)).distinct
      val previous = admitted.takeRight(nFresh)
      admitted ++= fresh
      lookups += ((Seq(fresh(17)._1, fresh(101)._1, admitted((37 * i) % prefillDocs)._1,
        admitted((37 * i + prefillDocs / 2) % prefillDocs)._1), fresh.head._1))
      // a correction of ten docs of the previous batch: one file rewritten
      if (mergeAt(i)) merges += previous.take(10).toSeq.map { case (id, t) => (id, g.edit(t, 2)) }
      Batch(1 + i, g.rnd.shuffle(fresh ++ copies ++ nearDups ++ redel),
        fresh.map(_._1), copies.map(_._1), redel.map(_._1))
    }
    val frames = mutable.Map[Long, DataFrame]()
  }
  private def mergeAt(i: Int) = i > 0 && i % 2 == 0

  private var corpus: String = _
  private var buckets: String = _
  private var script: Script = _
  // metadata row count after each ingest call, for the admitted-sum check
  private val deltas = ArrayBuffer[(String, Long)]()
  private var prefillCount = 0L
  private val snapStats = ArrayBuffer[(Int, Int)]() // (candidate files, all files) per lookup

  private def ingest(base: String, s: Script, b: Batch): Unit = {
    val df = s.frames.getOrElseUpdate(b.id, b.docs.toDF("doc_id", "text"))
    CurationStream.ingestBatch(df, b.id, s"$base/corpus", s"$base/buckets", appId,
      minLen = 20, numHashes = numHashes, bands = bands)
  }

  def prepare(dir: String): Unit = {
    script = new Script(run.seed, batches)
    ingest(dir, script, script.prefill)
    script.timed.foreach(b => script.frames(b.id) = b.docs.toDF("doc_id", "text"))
    corpus = s"$dir/corpus"
    buckets = s"$dir/buckets"
    prefillCount = Snapshots.metaCount(spark, corpus).get
    if (run.traced) run.counters("space.logical_bytes_start") = logicalBytes
  }

  private def logicalBytes: Long =
    Logical.bytes(Seq(Snapshots.read(spark, corpus), Snapshots.read(spark, buckets)))

  /** The same call mix on another prepared store: the timed script's
    * first two batches with their reads, a replay, a merge, and a
    * compact + expire cycle. */
  def warmup(dir: String): Unit = {
    val idx = script.timed.indices.take(2)
    cycle(dir, script, idx, record = false, replay = (idx.last, idx.last),
      mergeAt = Set(idx.last), Seq(script.warmMerge), compactAt = Set(idx.last))
  }

  def timed(): Unit = {
    val idx = script.timed.indices
    cycle(corpus.stripSuffix("/corpus"), script, idx, record = true,
      replay = (batches / 2, 1), idx.filter(mergeAt).toSet, script.merges.toSeq,
      Set(idx.last))
  }

  private def cycle(base: String, s: Script, idx: Seq[Int], record: Boolean,
                    replay: (Int, Int), mergeAt: Set[Int], merges: Seq[Seq[(Long, String)]],
                    compactAt: Set[Int]): Unit = {
    val c = s"$base/corpus"
    var m = 0
    idx.foreach { i =>
      val b = s.timed(i)
      run.op("write", "streaming.ingest")(ingest(base, s, b))
      if (record) deltas += (("ingest", Snapshots.metaCount(spark, c).get))
      val (keys, lo) = s.lookups(i)
      keys.foreach { k =>
        run.op("read", "store.snap.lookup")(
          Snapshots.pointLookup(spark, c, "doc_id", k).collect())
        if (record && run.traced) {
          val (cand, _) = Snapshots.scanPlan(spark, c, col("doc_id") === lit(k))
          val (all, _) = Snapshots.scanPlan(spark, c, lit(true))
          snapStats += ((cand.size, all.size))
        }
      }
      run.op("read", "store.snap.scan")(Snapshots.scanWhere(spark, c,
        col("doc_id").between(lo, lo + 50)).collect())
      run.op("read", "store.snap.count")(
        Snapshots.countWhere(spark, c, col("doc_id") >= lit(lo)))
      run.op("read", "store.snap.meta_count")(Snapshots.metaCount(spark, c))
      if (i % 2 == 1) run.op("read", "store.snap.history")(Snapshots.history(spark, c).collect())
      if (i == replay._1) {
        run.op("write", "streaming.replay")(ingest(base, s, s.timed(replay._2)))
        if (record) deltas += (("replay", Snapshots.metaCount(spark, c).get))
      }
      if (mergeAt(i)) {
        val src = merges(m).toDF("doc_id", "text")
        m += 1
        run.op("write", "store.snap.merge")(Snapshots.mergeInto(spark, c, src, "doc_id"))
        if (record) deltas += (("merge", Snapshots.metaCount(spark, c).get))
      }
      if (compactAt(i)) {
        run.op("write", "store.snap.compact")(Snapshots.compact(spark, c, 4L << 20, 8L << 20))
        run.op("write", "store.snap.expire")(Snapshots.expire(spark, c, 4))
        if (record) deltas += (("compact", Snapshots.metaCount(spark, c).get))
      }
    }
  }

  def checks(): Unit = {
    val rows = Snapshots.read(spark, corpus).select("doc_id", "text").as[(Long, String)]
      .collect()
    val ids = rows.map(_._1)
    val idSet = ids.toSet
    run.check("no doc_id twice")(idSet.size == ids.length)
    val seen = ids.groupBy(identity).map { case (i, xs) => i -> xs.length }
    val redelivered = script.timed.flatMap(_.redeliveries)
    run.counters("redelivered_rejected") = redelivered.count(i => seen.get(i).contains(1))
    val timed = script.timed
    run.check("every fresh doc admitted")(
      (script.prefill +: timed).forall(_.fresh.forall(idSet)))
    run.check("every exact copy rejected")(timed.forall(_.copies.forall(i => !idSet(i))))
    // a redelivered doc keeps its id, so its re-admission would repeat the
    // id; it must also leave the row count of its batch unchanged
    var prev = prefillCount
    var admittedSum = prefillCount
    deltas.foreach { case (what, n) =>
      what match {
        case "ingest" => admittedSum += n - prev
        case w => run.check(s"$w leaves the row count unchanged")(n == prev)
      }
      prev = n
    }
    run.check("corpus rows = admitted sum")(ids.length == admittedSum)
    run.check("ingest admits exactly fresh docs and near dups")(
      admittedSum - prefillCount <= timed.map(b => b.docs.size - b.copies.size -
        b.redeliveries.size).sum &&
        admittedSum - prefillCount >= timed.map(_.fresh.size).sum)
    val text = rows.toMap
    val lastFix = script.merges.flatten.toMap
    run.check("merged corrections visible")(lastFix.forall { case (i, t) => text.get(i).contains(t) })
    run.check("history has one row per version")(
      Snapshots.history(spark, corpus).count() == Snapshots.versions(spark, corpus).size)
  }

  def counters(c: mutable.Map[String, Any]): Unit = {
    val timed = script.timed
    c("batches") = timed.size
    c("docs_offered") = timed.map(_.docs.size).sum
    c("work_units") = timed.map(_.docs.size).sum
    val admitted = deltas.collect { case ("ingest", n) => n }
    c("docs_admitted") = (admitted.lastOption.getOrElse(prefillCount) - prefillCount)
    c("redelivered") = timed.map(_.redeliveries.size).sum
    val base = new java.io.File(corpus).getParentFile
    c("space.disk_bytes") = Files.sizeOf(base)
    c("space.logical_bytes") = logicalBytes
    if (run.traced) {
      c("store.snap.versions") = Snapshots.versions(spark, corpus).size
      c("store.snap.manifest_bytes") = Files.list(new java.io.File(corpus))
        .filter(_.getName == "_manifest").map(_.length).sum
      c("store.snap.files_per_lookup") = snapStats.map(_._1.toDouble).sum / snapStats.size
      c("store.snap.pruned_frac") =
        1.0 - snapStats.map(_._1.toDouble).sum / snapStats.map(_._2.toDouble).sum
    }
  }
}
