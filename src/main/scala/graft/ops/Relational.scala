package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Relational operator family (SURVEY.md §2.2–2.7: P1–P7, J1–J5, A1–A4,
 * W1–W5, U1) as composable DataFrame functions.
 *
 * Everything here is declarative DataFrame API — Catalyst owns pushdown,
 * join selection (broadcast for small sides), and AQE re-planning. Scale
 * notes are inline where a choice matters at 100 TB.
 */
object Relational {

  /** P1 — key-equality filter; pushed to the scan (PushedFilters). */
  def keyFilter(df: DataFrame, key: String, value: Any): DataFrame =
    df.filter(col(key) === lit(value))

  /** J2/U1 — union of two item sets with a `kind` discriminator (Message∪Result). */
  def unionKind(a: DataFrame, aKind: String, b: DataFrame, bKind: String): DataFrame =
    a.withColumn("kind", lit(aKind))
      .unionByName(b.withColumn("kind", lit(bKind)), allowMissingColumns = true)

  /**
   * J3 — anti-join existence guard (idempotent writes: "already linked?",
   * "question already saved?" — neo4j_memory.py:606-617). left_anti keeps
   * only rows with no match; broadcast the existing-keys side when small.
   */
  def notExisting(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** Left-semi twin of J3 (the "does it exist" positive check). */
  def existing(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*).distinct(), keys, "left_semi")

  /**
   * A1 — MAX-per-group next-sequence (neo4j_memory.py:327-339): max+1 with 0
   * default for an empty group. The reference does this per write (a race
   * under concurrency); batch assignment via `sequenceAndNext` below is the
   * scale-correct form — this one exists for point-write parity.
   */
  def nextSequence(items: DataFrame, groupKey: String): DataFrame =
    items.groupBy(col(groupKey))
      .agg(coalesce(max(col("sequence")) + 1, lit(0)).as("next_seq"))

  /**
   * W1 — per-group monotonic sequence + NEXT reconstruction: `sequence` =
   * row_number-1 over (partition by group, order by ord), `next_id` =
   * lead(id). Replaces the reference's NEXT edges (neo4j_memory.py:327-356)
   * with a window — no edge table, one shuffle on the group key (none at all
   * if the table is bucketed by the group key).
   */
  def sequenceAndNext(df: DataFrame, groupKey: String, idCol: String,
                      ord: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col(groupKey)).orderBy(ord: _*)
    df.withColumn("sequence", row_number().over(w) - 1)
      .withColumn("next_id", lead(col(idCol), 1).over(w))
  }

  /** W2 — top-1 per group by ord (last node: ORDER BY sequence DESC LIMIT 1). */
  def top1PerGroup(df: DataFrame, groupKey: String, ord: Seq[Column]): DataFrame =
    topKPerGroup(df, groupKey, ord, 1)

  /**
   * W2 generalized — top-k rows per group. `row_number <= k` is planned by
   * Spark 4 as partial (map-side) + final WindowGroupLimit: each task keeps
   * only k rows per group before the shuffle, so the exchange carries
   * O(groups × k), not O(rows) (pinned in PlanAuditSpec).
   */
  def topKPerGroup(df: DataFrame, groupKey: String, ord: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(col(groupKey)).orderBy(ord: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k).drop("__rn")
  }

  /**
   * W4 — ordered scan + offset/limit pagination (neo4j_memory.py:279-289).
   * Spark ≥3.4 has a native `offset` — planned with the sort, no
   * row_number shuffle needed.
   */
  def paginate(df: DataFrame, ord: Seq[Column], offsetN: Int, limitN: Int): DataFrame =
    df.orderBy(ord: _*).offset(offsetN).limit(limitN)

  /**
   * W4 at scale — keyset ("seek") pagination: the page strictly AFTER a
   * cursor row in the lexicographic order `ord` (each entry a column name
   * + ascending flag, paired positionally with the cursor values).
   *
   * Offset pagination is the reference's exact listing semantics
   * (neo4j_memory.py:279-289) and stays correct, but a deep page skips
   * O(offset) rows per request; the seek variant turns the page boundary
   * into a pushable predicate — `(a < ca) OR (a = ca AND b < cb)` for a
   * DESC (a, b) order — so the scan prunes row groups by column stats and
   * the plan is the same TakeOrderedAndProject as a plain top-k: per-task
   * k-heaps, O(n) cost per page regardless of how deep the cursor is
   * (PushedFilters + plan shape pinned in PlanAuditSpec). The cursor must
   * be a row that exists in the total order (use the last row of the
   * previous page); `ord` must be a total order (append a unique key) or
   * rows tying with the cursor are skipped.
   *
   * NULL ordering matches Spark's `orderBy` defaults (ASC = NULLS FIRST,
   * DESC = NULLS LAST) via explicit null-safe arms, so rows with NULL in
   * an ordering column are reachable from keyset pages exactly where the
   * offset path would place them, and a NULL cursor value resumes from
   * within the null block — not the empty page a bare three-valued
   * comparison would return (round-12 advisor item). For a non-null
   * literal cursor the null arms constant-fold: the DESC seek stays the
   * pushable `Or(LessThan(c, cv), IsNull(c))` and the ASC seek stays a
   * plain GreaterThan, so source-filter pushdown is unchanged.
   */
  def paginateAfter(df: DataFrame, ord: Seq[(String, Boolean)],
                    cursor: Seq[Column], n: Int): DataFrame =
    df.filter(seekAfter(ord, cursor)).orderBy(sortColumns(ord): _*).limit(n)

  /** The rows strictly after `cursor` in the total order `ord`, as a filter:
    * the seek of [[paginateAfter]]. */
  def seekAfter(ord: Seq[(String, Boolean)], cursor: Seq[Column]): Column = {
    require(ord.nonEmpty, "paginateAfter needs at least one ordering column")
    require(ord.length == cursor.length,
      s"ordering (${ord.length}) and cursor (${cursor.length}) lengths differ")
    ord.zip(cursor).foldRight(lit(false)) {
      case (((c, asc), cv), rest) =>
        // "strictly after the cursor" in this column, under Spark's default
        // null placement: ASC puts nulls FIRST (after a null cursor comes
        // every non-null value; after a non-null cursor only larger
        // non-nulls), DESC puts nulls LAST (after a non-null cursor come
        // smaller values and then the null block; after a null cursor
        // nothing but ties). The cv null-tests fold away for literals.
        val strict =
          if (asc) (col(c) > cv) || (cv.isNull && col(c).isNotNull)
          else (col(c) < cv) || (cv.isNotNull && col(c).isNull)
        strict || (col(c) <=> cv && rest)
    }
  }

  /** The sort columns of the total order `ord` ((column, ascending) pairs),
    * with Spark's default null placement. */
  def sortColumns(ord: Seq[(String, Boolean)]): Seq[Column] =
    ord.map { case (c, asc) => if (asc) col(c).asc else col(c).desc }

  /** W5 — top-k by score: TakeOrderedAndProject, no global sort. */
  def topK(df: DataFrame, ord: Seq[Column], k: Int): DataFrame =
    df.orderBy(ord: _*).limit(k)

  /**
   * Backward as-of join (an operator Spark lacks; composed per preference
   * (a) of the build brief): for every left row, attach the payload of the
   * LATEST right row with the same key and `rightTime <= leftTime`
   * (inclusive), null when none exists — the "nearest prior state" join of
   * event pipelines.
   *
   * Plan shape: tag + unionByName both sides, one window
   * (partitionBy key, orderBy time with right-before-left tie order,
   * rowsBetween unboundedPreceding→current) carrying the last non-null
   * payload forward, then keep the left rows. ONE shuffle + sort on the
   * key — the same cost as a sort-merge join, with no range-explosion; at
   * 100 TB the key partitioning (bucketed tables) removes the shuffle.
   *
   * `payloadCols` are the right-side columns to attach; both frames must
   * share only `key` as a common column name.
   */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTime: String, rightTime: String,
               payloadCols: Seq[String]): DataFrame =
    asofImpl(left, right, key, leftTime, rightTime, payloadCols, forward = false)

  /**
   * Forward as-of: attach the NEAREST FUTURE right row (rt >= lt, inclusive)
   * — same single-shuffle union+window composition, time order reversed.
   */
  def asofJoinForward(left: DataFrame, right: DataFrame, key: String,
                      leftTime: String, rightTime: String,
                      payloadCols: Seq[String]): DataFrame =
    asofImpl(left, right, key, leftTime, rightTime, payloadCols, forward = true)

  /**
   * Nearest as-of: attach the right row whose time is CLOSEST to the
   * left row's in EITHER direction, ties to the past — the
   * sensor/label-alignment join (backward-only as-of mis-labels a probe
   * that fired just before its reading). Times must be numeric (epoch
   * ms) so |Δ| is plain arithmetic.
   *
   * Plan: ONE union + ONE shuffle+sort on the key — both the
   * carry-backward frame (last non-null over preceding, inclusive at
   * equal time since right rows sort first) and the carry-forward frame
   * (first non-null over following) ride the same Window sort, and the
   * per-row choice is a scalar comparison of the two candidate deltas.
   * Strictly cheaper than running the backward and forward joins
   * separately and reconciling (which would need a row identity and a
   * third shuffle).
   */
  def asofJoinNearest(left: DataFrame, right: DataFrame, key: String,
                      leftTime: String, rightTime: String,
                      payloadCols: Seq[String]): DataFrame = {
    val pay = (rightTime +: payloadCols).distinct
    val leftCols = left.columns.filterNot(_ == key).toSeq
    val taggedLeft = left
      .withColumn("__t", col(leftTime))
      .withColumn("__is_left", lit(1))
    val taggedRight = right
      .select((key +: pay).distinct.map(col): _*)
      .withColumn("__t", col(rightTime))
      .withColumn("__is_left", lit(0))
    val unioned = taggedLeft.unionByName(taggedRight, allowMissingColumns = true)
    val wPrev = Window.partitionBy(col(key))
      .orderBy(col("__t").asc, col("__is_left"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col(key))
      .orderBy(col("__t").asc, col("__is_left"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // ONE struct per direction, null exactly on left rows (a right row's
    // struct is non-null even if every payload value is null) — so the
    // carry picks a WHOLE right row and payload fields stay row-atomic
    // when individual values are null, matching the oracle's
    // pick-one-row semantics (round-11 advisor item: per-column
    // last/first(ignoreNulls) could stitch fields from different rows)
    val payStruct = when(col("__is_left") === 0, struct(pay.map(col): _*))
    val carried = unioned
      .withColumn("__p", last(payStruct, ignoreNulls = true).over(wPrev))
      .withColumn("__n", first(payStruct, ignoreNulls = true).over(wNext))
    val (pt, nt) =
      (col("__p").getField(rightTime), col("__n").getField(rightTime))
    // equal-time rights sort before the left row: they land in the PREV
    // frame with Δ=0 and win, which is the documented tie rule
    val takePrev = nt.isNull ||
      (pt.isNotNull && (col("__t") - pt <= nt - col("__t")))
    carried.filter(col("__is_left") === 1)
      .select((key +: leftCols).map(col) ++
        pay.map(c =>
          when(takePrev, col("__p").getField(c))
            .otherwise(col("__n").getField(c)).as(c)): _*)
  }

  private def asofImpl(left: DataFrame, right: DataFrame, key: String,
                       leftTime: String, rightTime: String,
                       payloadCols: Seq[String], forward: Boolean): DataFrame = {
    val leftCols = left.columns.filterNot(_ == key).toSeq
    val taggedLeft = left
      .withColumn("__t", col(leftTime))
      .withColumn("__is_left", lit(1))
    val taggedRight = right
      .select((key +: rightTime +: payloadCols).distinct.map(col): _*)
      .withColumn("__t", col(rightTime))
      .withColumn("__is_left", lit(0))
    val unioned = taggedLeft.unionByName(taggedRight, allowMissingColumns = true)
    // right rows sort BEFORE left rows at equal time → the match is inclusive
    // (backward: rt <= lt; forward: rt >= lt, via descending time order)
    val timeOrd = if (forward) col("__t").desc else col("__t").asc
    val w = Window.partitionBy(col(key))
      .orderBy(timeOrd, col("__is_left"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // one whole-row struct, null exactly on left rows — row-atomic payload
    // carry (see asofJoinNearest's note; same advisor item)
    val payStruct = when(col("__is_left") === 0,
      struct(payloadCols.map(col): _*))
    val carried = unioned.withColumn("__asof",
      last(payStruct, ignoreNulls = true).over(w))
    val out = carried.filter(col("__is_left") === 1)
      .select((key +: leftCols).map(col) ++
        payloadCols.map(c => col("__asof").getField(c).as(c)): _*)
    out
  }

  /**
   * Sessionization: assign a per-key session id that increments whenever
   * the gap to the previous event exceeds `gap` (same units as `timeCol`).
   * lag + running sum over one (key, time) window — one shuffle, none on a
   * key-bucketed table. Session ids are 0-based and dense per key.
   */
  def sessionize(df: DataFrame, key: String, timeCol: String, gap: Long,
                 tieBreak: Seq[Column] = Seq.empty): DataFrame = {
    val ord = col(timeCol) +: tieBreak
    val w = Window.partitionBy(col(key)).orderBy(ord: _*)
    val isNew = when(
      lag(col(timeCol), 1).over(w).isNull ||
        col(timeCol) - lag(col(timeCol), 1).over(w) > gap, 1L).otherwise(0L)
    df.withColumn("session_id",
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
  }

  /**
   * Binned range join (interval join Spark would otherwise plan as a
   * broadcast-nested-loop): left points `t` against right intervals
   * [startCol, endCol]. Both sides are bucketed into `binWidth`-sized time
   * bins; intervals explode into every bin they overlap, the join is
   * bin-equi (+ optional key), and the exact BETWEEN filter runs on the
   * bin-local candidates. Cost: O(intervalSpan/binWidth) replication
   * instead of O(|left|×|right|) comparisons — pick binWidth near the
   * typical interval length.
   */
  def rangeJoinBinned(left: DataFrame, right: DataFrame,
                      tCol: String, startCol: String, endCol: String,
                      binWidth: Long, keyCol: Option[String] = None): DataFrame = {
    val lBinned = left.withColumn("__bin", floor(col(tCol) / binWidth))
    val rBinned = right.withColumn("__bin",
      explode(sequence(floor(col(startCol) / binWidth), floor(col(endCol) / binWidth))))
    val joinKeys = "__bin" +: keyCol.toSeq
    lBinned.join(rBinned, joinKeys)
      .filter(col(tCol) >= col(startCol) && col(tCol) <= col(endCol))
      .drop("__bin")
  }

  // ── skew-control utilities (100 TB notes in SCALE.md) ──────────────────

  /**
   * Salted two-phase sum/count aggregation for skewed keys: phase 1 sums on
   * (key, salt), spreading a hot key over `salts` reducers; phase 2 sums the
   * partials per key. Produces sum(c) for every column in `sumCols` plus
   * `n_rows`. AQE splits skewed JOINS automatically; a skewed AGGREGATION
   * with one dominant key still needs the salt.
   */
  def saltedSum(df: DataFrame, key: String, salts: Int, sumCols: Seq[String]): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
    val phase1 = salted.groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__n"), sumCols.map(c => sum(col(c)).as(s"__s_$c")): _*)
    phase1.groupBy(col(key))
      .agg(sum(col("__n")).as("n_rows"), sumCols.map(c => sum(col(s"__s_$c")).as(s"sum_$c")): _*)
  }

  /**
   * Salted broadcast-free join for one known-hot key set: the skewed left
   * rows get a random salt, the right side's matching rows are replicated
   * across all salts. Use when AQE's skew-join split can't apply (e.g.
   * bucketed inputs). `rightKey` must be equi-joined to `leftKey`.
   */
  def saltedJoin(left: DataFrame, right: DataFrame, leftKey: String,
                 rightKey: String, salts: Int): DataFrame = {
    val saltedLeft = left.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(salts)))
    val explodedRight = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    saltedLeft.join(explodedRight,
      saltedLeft(leftKey) === explodedRight(rightKey) &&
        saltedLeft("__salt") === explodedRight("__salt"))
      .drop("__salt")
  }

  /**
   * Bloom-filter runtime pruning: probe `big`'s key column against a bloom
   * sketch of `small`'s key set, dropping non-matching rows at scan time.
   *
   * The manual twin of AQE's `InjectRuntimeFilter`, for when the automatic
   * rewrite doesn't fire (pre-bucketed inputs, custom sources, cluster-tuned
   * thresholds). At 100 TB this is the difference between shuffling the full
   * fact table into a sort-merge join and shuffling only the ~matching
   * fraction: a 10M-key dim fits a ~12 MB sketch at 1% fpp, shipped once per
   * stage in the task binary. `expectedItems` should be ≥ the small side's
   * distinct key count — oversizing costs bits, undersizing costs fpp, never
   * correctness.
   *
   * Runs one aggregation job over `small` to build the sketch (driver holds
   * only the sketch, never rows).
   */
  def bloomPrune(big: DataFrame, small: DataFrame, bigKey: String,
                 smallKey: String, expectedItems: Long = 1L << 20,
                 fpp: Double = 0.01): DataFrame = {
    val bf = small.stat.bloomFilter(smallKey, expectedItems, fpp)
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    graft.functions.GraftFunctions.register(big.sparkSession)
    big.filter(graft.functions.GraftFunctions.bloomMightContain(
      col(bigKey), out.toByteArray))
  }

  /**
   * Equi-join with the big side bloom-pruned first. Exactly equal to the
   * plain inner join — bloom false positives are eliminated by the join
   * itself — so callers trade one extra pass over `small` for a shuffle of
   * only `big`'s matching fraction.
   */
  def bloomPruneJoin(big: DataFrame, small: DataFrame, bigKey: String,
                     smallKey: String, expectedItems: Long = 1L << 20,
                     fpp: Double = 0.01): DataFrame = {
    val pruned = bloomPrune(big, small, bigKey, smallKey, expectedItems, fpp)
    pruned.join(small, pruned(bigKey) === small(smallKey))
  }

  /**
   * Slowly-changing-dimension type 2 build: a change log (key, ts, tracked
   * attributes) becomes versioned dimension rows with half-open
   * [valid_from, valid_to) intervals and an `is_current` flag.
   *
   * Two window passes over ONE shuffle (both windows share the
   * partition-by-key sort, so Catalyst plans a single Exchange+Sort):
   *  1. collapse no-op rows — a log row whose tracked attributes equal the
   *     previous row's is noise, not a new version (null-safe struct
   *     compare, so NULL→NULL is "unchanged" and NULL→x is a change);
   *  2. valid_to = next change's valid_from (lead), NULL on the open row.
   *
   * At 100 TB the change log shuffles once on the entity key — the same
   * partitioning a downstream point-in-time (as-of) join against the
   * dimension wants, so the Exchange is reusable, and no self-join or
   * cross-version comparison ever materializes.
   */
  def scd2(df: DataFrame, key: String, tsCol: String,
           attrCols: Seq[String], tieBreak: Seq[Column] = Nil): DataFrame = {
    val ord = col(tsCol) +: tieBreak
    val w = Window.partitionBy(key).orderBy(ord: _*)
    val attrs = struct(attrCols.map(col): _*)
    val changes = df
      .withColumn("_prev", lag(attrs, 1).over(w))
      .filter(col("_prev").isNull || !(col("_prev") <=> attrs))
      .drop("_prev")
    changes
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /**
   * Merge overlapping or touching [start, end) intervals per key — the
   * interval-algebra reduction behind "total active time", coverage
   * analysis, and blackout stitching. A new merged group starts exactly
   * when an interval's start exceeds the running max end of everything
   * before it (handles contained intervals, which a lag-on-end misses).
   *
   * One shuffle on the key; both windows and the final aggregate share the
   * same key clustering, so Catalyst plans a single Exchange. State per
   * key is the window sort buffer — nothing corpus-global.
   * Output: (key, merged_start, merged_end, n_intervals).
   */
  def mergeIntervals(df: DataFrame, key: String, startCol: String,
                     endCol: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(startCol), col(endCol))
    df
      .withColumn("__max_end", max(col(endCol)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        (col("__max_end").isNull || col(startCol) > col("__max_end")).cast("int"))
      .withColumn("__grp", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(key), col("__grp"))
      .agg(min(col(startCol)).as("merged_start"),
        max(col(endCol)).as("merged_end"),
        count(lit(1)).as("n_intervals"))
      .select(col(key), col("merged_start"), col("merged_end"), col("n_intervals"))
  }

  /**
   * Ordered conversion funnel: per key, step i completes at
   * min(ts | event = step_i ∧ ts ≥ completion of step_{i-1}) — the exact
   * "did A then B then C, in order" reduction. Returns one row per key
   * with each step's completion ts (null once the chain breaks, and
   * monotonically: a later step can never complete without the earlier
   * ones) plus `steps_completed` (0..n).
   *
   * Scale shape: the event stream is filtered to funnel events, shuffled
   * ONCE on the key, and every per-step aggregate + join reuses that
   * clustering (no further Exchange of the big side; the per-key
   * completion frames being joined back are one-row-per-key aggregates).
   * Step i's gate depends on step i-1's completion VALUE, so exactness
   * requires the n-1 cascaded aggregates — but each pass touches only
   * funnel-step rows, state is one min per key, and n is funnel-sized
   * (≤ 8), not data-sized.
   */
  def funnel(df: DataFrame, key: String, eventCol: String, tsCol: String,
             steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty && steps.size <= 8, "funnel supports 1..8 steps")
    val keyed = df.select(col(key), col(eventCol).as("__ev"),
      col(tsCol).cast("long").as("__ts"))
      .filter(col("__ev").isin(steps.map(s => s: Any): _*))
      .repartition(col(key))
    var acc = keyed.groupBy(col(key))
      .agg(min(when(col("__ev") === steps.head, col("__ts"))).as("step_1_ts"))
    for (i <- 2 to steps.size) {
      val prev = s"step_${i - 1}_ts"
      val cur = keyed.join(acc.select(col(key), col(prev)), Seq(key))
        .filter(col("__ev") === steps(i - 1) && col("__ts") >= col(prev))
        .groupBy(col(key)).agg(min(col("__ts")).as(s"step_${i}_ts"))
      acc = acc.join(cur, Seq(key), "left")
    }
    val stepCols = (1 to steps.size).map(i => col(s"step_${i}_ts"))
    acc.withColumn("steps_completed",
      stepCols.map(c => when(c.isNotNull, 1).otherwise(0)).reduce(_ + _)
        .cast("int"))
  }

  /**
   * Retention cohorts: each key joins the cohort of its first-activity
   * period; output is the classic retention matrix — distinct active keys
   * per (cohort period, offset periods later).
   *
   * Two aggregates and one join: first-activity is a per-key min (the
   * small side — one row per key — so the join back broadcasts or
   * shuffle-hashes on the key), then the matrix is a count-distinct over
   * (cohort, offset). Period math is integer division (`DIV`), exact —
   * no epoch-float rounding at any scale.
   */
  def retentionCohorts(df: DataFrame, key: String, tsMsCol: String,
                       periodMs: Long): DataFrame = {
    require(periodMs > 0, s"periodMs must be positive, got $periodMs")
    val ev = df.select(col(key), col(tsMsCol).cast("long").as("__ms"))
      .select(col(key), expr(s"__ms DIV $periodMs").as("__p"))
    val firsts = ev.groupBy(col(key)).agg(min(col("__p")).as("cohort_p"))
    ev.join(firsts, Seq(key))
      .groupBy(col("cohort_p"), (col("__p") - col("cohort_p")).as("offset"))
      .agg(count_distinct(col(key)).as("n_active"))
  }
}
