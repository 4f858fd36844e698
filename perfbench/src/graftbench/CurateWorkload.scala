package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, length}
import org.apache.spark.storage.StorageLevel

import graft.dedup.Dedup
import graft.ops.Curation
import graft.text.TextAnalysis

/**
 * `curate`: a fixed number of batch passes of the LLM-data curation
 * operators over a generated corpus read from parquet. One pass is the
 * quality gate (token entropy and unigram LM score), exact dedup, the
 * MinHash/LSH near-dup chain into connected components and per-cluster
 * survivors, SimHash near-dup pairs and winnowing fingerprints over the
 * survivors, then DSIR resampling and a target source mix split into
 * train/val/test, written as parquet. Each stage is one timed write call
 * whose output is materialized once and read by the stages after it.
 * After each pass the client makes ten read calls on the outputs: six
 * survivor lookups by id, split sizes, survivors per source, the top DSIR
 * draws and the number of near-dup clusters.
 */
final class CurateWorkload(run: Run, passes: Int, docs: Int) extends Workload {
  // planted rows on top of `docs` clean ones, as shares of `docs`
  val dupGroups = docs / 100      // exact-duplicate groups of 2-3 identical docs
  val nearDups = docs / 40        // two-word edits of distinct clean docs
  val junkRepeat = docs / 60      // one token repeated: entropy 0
  val junkGibberish = docs / 60   // tokens seen once in the corpus: low LM score
  val numHashes = 8           // minhash rows: 2 bands of 4
  val bands = 2
  val sources = Seq("web" -> 0.5, "wiki" -> 0.3, "books" -> 0.2)
  val mixTargets = Map("web" -> 0.4, "wiki" -> 0.4, "books" -> 0.2)
  private val spark = run.spark
  import spark.implicits._

  final class Corpus(seed: Long, n: Int) {
    private val g = new Gen(seed)
    private val v = g.vocab(20000)
    private def source(): String = {
      val u = g.rnd.nextDouble()
      sources.scanLeft(("", 0.0)) { case ((_, c), (s, p)) => (s, c + p) }
        .tail.find(u < _._2).fold(sources.last._1)(_._1)
    }
    val rows = ArrayBuffer[(Long, String, String)]()
    private def add(text: String): Long = {
      val id = rows.size.toLong + 1
      rows += ((id, source(), text))
      id
    }
    (0 until n).foreach(_ => add(g.text(v, 50 + g.rnd.nextInt(50))))
    private val clean = g.rnd.shuffle(rows.indices.toVector)
    val groups: Seq[Seq[Long]] = clean.take(dupGroups).map { i =>
      val (id, _, t) = rows(i)
      id +: Seq.fill(1 + g.rnd.nextInt(2))(add(t))
    }
    clean.slice(dupGroups, dupGroups + nearDups).foreach(i => add(g.edit(rows(i)._3, 2)))
    val junk: Seq[Long] =
      Seq.fill(junkRepeat) { val w = g.word(6); add(Seq.fill(60)(w).mkString(" ")) } ++
        Seq.fill(junkGibberish)(add(Seq.fill(60)(g.word(12)).mkString(" ")))
  }

  private var input: DataFrame = _
  private var outDir: String = _
  private var lookupIds: IndexedSeq[Long] = _
  private var corpus: Corpus = _
  private val cached = ArrayBuffer[DataFrame]()
  private val counts = mutable.LinkedHashMap[String, Long]()
  // outputs of the last pass, checked after timing
  private var out: Map[String, DataFrame] = Map.empty

  private def write(dir: String, c: Corpus): DataFrame = {
    spark.sparkContext.parallelize(c.rows.toSeq, 8).toDF("doc_id", "source", "text")
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  def prepare(dir: String): Unit = {
    corpus = new Corpus(run.seed, docs)
    input = write(s"$dir/corpus", corpus)
    outDir = s"$dir/out"
    val g = new Gen(run.seed ^ 0x1d)
    lookupIds = IndexedSeq.fill(6 * passes)(1L + g.rnd.nextInt(corpus.rows.size))
  }

  /** One pass, with its reads, over an eighth-size corpus written next to
    * another prepared copy, which the timed passes never read. */
  def warmup(dir: String): Unit = {
    val o = pass(write(s"$dir/warmup-corpus", new Corpus(run.seed ^ 0x5eed, docs / 8)),
      s"$dir/warmup-out")
    reads(o, s"$dir/warmup-out", Seq(1L, 2L, 3L, 4L, 5L, 6L))
    release()
  }

  def timed(): Unit = (0 until passes).foreach { i =>
    release()
    out = pass(input, outDir)
    reads(out, outDir, lookupIds.slice(6 * i, 6 * i + 6))
  }

  private def reads(o: Map[String, DataFrame], dir: String, ids: Seq[Long]): Unit = {
    val surv = o("survivors")
    ids.foreach(id => run.op("read", "curate.lookup")(
      surv.filter(col("doc_id") === id).collect()))
    run.op("read", "curate.split_sizes")(spark.read.parquet(dir)
      .groupBy("split", "source").count().collect())
    run.op("read", "curate.per_source")(surv.groupBy("source").count().collect())
    run.op("read", "curate.dsir_top")(
      o("dsir").orderBy(col("samp_key").desc).limit(10).collect())
    run.op("read", "curate.clusters")(
      o("labels").groupBy("cluster").count().filter(col("count") > 1).count())
  }

  private def release(): Unit = {
    cached.foreach(_.unpersist(false))
    cached.clear()
  }

  /** Persists `df` and forces it with one count, so the stage's work
    * lands in its own timed call and later stages read the result. */
  private def keep(name: String, df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    cached += p
    counts(name) = p.count()
    p
  }

  private def stage[T](name: String)(body: => T): T =
    run.op("write", name)(body).getOrElse(throw new IllegalStateException(s"$name failed"))

  private def pass(docsIn: DataFrame, dir: String): Map[String, DataFrame] = {
    val gated = stage("text.gate") {
      val stats = TextAnalysis.tokenStats(docsIn, "doc_id", "text")
      keep("gated", docsIn.join(stats, "doc_id")
        .filter(col("entropy") >= 2.0 && col("avg_logp") >= -12.0)
        .drop("entropy", "avg_logp"))
    }
    val exact = stage("dedup.exact")(keep("exact", Dedup.exact(gated, "doc_id", "text")))
    val sig = stage("dedup.signature")(
      keep("signatures", Dedup.minhashSignature(gated, "doc_id", "text", 5, numHashes)))
    val pairs = stage("dedup.pairs") {
      val cand = Dedup.lshCandidatePairs(sig, "doc_id", numHashes, bands)
      keep("pairs", Dedup.minhashJaccard(sig, "doc_id", cand, numHashes)
        .filter(col("est_jaccard") >= 0.7))
    }
    val labels = stage("dedup.components")(keep("labels",
      Dedup.connectedComponents(pairs.select("id_a", "id_b"), gated.select("doc_id"), "doc_id")))
    val surv = stage("dedup.survivors")(keep("survivors",
      Dedup.dedupByCluster(gated, labels, "doc_id", length(col("text"))).drop("cluster")))
    stage("dedup.simhash")(counts("simhash_pairs") =
      Dedup.simhashNearDup(surv, "doc_id", "text", maxHamming = 3, bands = 4).count())
    stage("dedup.winnow")(counts("winnow_fps") =
      Dedup.winnowFingerprints(surv, "doc_id", "text", k = 8, w = 4).count())
    val dsir = stage("ops.dsir")(keep("dsir", Curation.dsirResample(
      surv, surv.filter(col("source") === "wiki"), "doc_id", "text", k = docs / 5)))
    val split = stage("ops.mix_split") {
      val s = keep("split", Curation.splitAssign(
        Curation.targetMix(surv, "doc_id", "source", mixTargets, totalRows = docs / 2),
        "doc_id", Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)))
      s.write.mode("overwrite").parquet(dir)
      s
    }
    Map("gated" -> gated, "exact" -> exact, "labels" -> labels, "survivors" -> surv,
      "dsir" -> dsir, "split" -> split)
  }

  def checks(): Unit = {
    val gated = out("gated").select("doc_id").as[Long].collect().toSet
    run.check("planted junk gated out")(corpus.junk.forall(i => !gated(i)))
    val surv = out("survivors").select("doc_id").as[Long].collect()
    val survSet = surv.toSet
    run.check("survivors unique")(survSet.size == surv.length)
    val exact = out("exact").filter(col("n_dups") > 1).select("keep_id", "n_dups")
      .as[(Long, Long)].collect().toMap
    corpus.groups.zipWithIndex.foreach { case (g, i) =>
      run.check(s"dup group $i: exact dedup keeps its min id")(exact.get(g.min).contains(g.size))
      run.check(s"dup group $i collapses to one survivor")(g.count(survSet) == 1)
    }
    val split = out("split").select("doc_id", "__copy", "split")
      .as[(Long, Int, String)].collect()
    run.check("splits are train/val/test")(split.forall(r => Set("train", "val", "test")(r._3)))
    run.check("each mixed row in exactly one split")(
      split.map(r => (r._1, r._2)).distinct.length == split.length)
    run.check("splits hold only survivors")(split.forall(r => survSet(r._1)))
    val dsir = out("dsir").select("doc_id").as[Long].collect()
    run.check("dsir draws k distinct survivors")(
      dsir.length == docs / 5 && dsir.distinct.length == dsir.length && dsir.forall(survSet))
  }

  def counters(c: mutable.Map[String, Any]): Unit = {
    c("passes") = passes
    c("docs_per_pass") = corpus.rows.size
    c("work_units") = passes * corpus.rows.size
    c("corpus_bytes") = corpus.rows.map(_._3.length.toLong).sum
    c("space.disk_bytes") = Files.list(new java.io.File(outDir))
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    c("space.logical_bytes") = Logical.bytes(Seq(spark.read.parquet(outDir)))
    counts.foreach { case (k, n) => c(s"rows.$k") = n }
    release()
  }
}
