package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.block.BucketedKeyTable
import graft.cluster.ConnectedComponents
import graft.expr.{functions => gf}

/** The CLOSED steady-state loop: crawl increments are not just scored
  * against the standing corpus (Pipeline.incrementalEdges) — they are
  * ABSORBED into it, so batch k+1 sees batch k's rows as standing
  * state. This is the reference's production shape taken to its
  * conclusion: match_pair.py:47-58's chunks are cumulative and the
  * consumer re-clusters the growing edge list; here every step of that
  * loop is O(increment), not O(corpus):
  *
  *  - candidate generation — increment × standing via the bucketed
  *    blocking join (only the increment shuffles) PLUS the increment's
  *    own self-pairs (the increment is crawl-cadence-bounded; its
  *    self-join is cheap);
  *  - absorption — [[BucketedKeyTable.append]] writes the increment's
  *    keyed rows into the standing table's existing bucket layout (one
  *    increment-sized exchange; the corpus files are untouched);
  *  - clustering — [[ConnectedComponents.updateLabels]] seeds from the
  *    previous label fixpoint and runs CC only over the CONTRACTED
  *    new-edge graph (O(new edges)), bit-identical to a full recompute;
  *  - monitoring — the per-batch component-size histogram (the
  *    over-merge monitor) comes from the updated label table, so
  *    transitive-chaining drift is observable per increment, not at
  *    the next full recompute.
  *
  * Union-equivalence contract (AbsorbSpec): after absorbing batches
  * b_1..b_k into a seed corpus, the accumulated edge set and the label
  * table are bit-identical to the one-shot batch path
  * (edgeCandidatesSelf + scoreCandidates + assignAll) over the UNION
  * corpus. Pair order is canonicalized (id_a < id_b) before hydration
  * and the runaway-key drop uses the COMBINED standing+increment
  * census, so every per-pair decision matches the one-shot plan's.
  * One documented divergence: runaway status is evaluated against the
  * census AT ABSORPTION TIME — a key that crosses the bound in batch k
  * stops generating pairs from then on, but pairs it produced in
  * earlier batches remain (the reference's cumulative chunk outputs
  * are immutable the same way). With no key crossing the bound
  * mid-history — the overwhelmingly common case; crossing is logged —
  * the equivalence is exact.
  */
object Absorb {

  /** Standing-corpus state between batches:
    *  - `table`: the bucketed blocking-key table (catalog name) —
    *    durable, advanced by append;
    *  - `norm`: (id, pre_proc, nosuffix) of every absorbed row — the
    *    hydration side (a production binding keeps this as a committed
    *    table bucketed by id; here it is a caller-persisted DataFrame,
    *    compacted to an eager checkpoint every
    *    [[Absorb.NormCompactEvery]] batches so the unionByName plan
    *    chain — and the driver's planning cost — stays O(1) in batch
    *    count instead of growing one union node per batch);
    *  - `labels`: the (id, component) CC fixpoint over all accepted
    *    edges so far (production: committed per batch as a base table
    *    + O(batch) remap deltas — updateLabelsWithDelta returns the
    *    delta);
    *  - `census`: the MAINTAINED per-key row count of `table`
    *    (key, n) — initialized once from the seed keyed table and
    *    advanced by each batch's increment census delta, so the
    *    runaway-key decision and the crossed-the-bound monitor read
    *    O(keys) maintained state instead of re-scanning the standing
    *    table's key column every batch (the round-6 O(corpus)-per-batch
    *    residual). Spec contract: ≡ recomputing the census from the
    *    table at any batch boundary;
    *  - `batches`: absorbed-batch count (drives norm compaction).
    * A Standing is consumed by the next [[absorb]]: that call releases
    * its `labels` and `census` checkpoint blocks (and, on a compaction
    * batch, its `norm` checkpoint), so only the newest Standing stays
    * readable. */
  final case class Standing(table: String, norm: DataFrame, labels: DataFrame,
      census: DataFrame, batches: Int = 0)

  /** Compact `Standing.norm`'s union chain to an eager checkpoint every
    * N batches: plan depth stays bounded (a 1000-batch crawl would
    * otherwise carry a 1000-deep union and planning itself becomes the
    * bottleneck — guide §3.3), while the O(corpus) re-materialization
    * is amortized to 1/N per batch. Production reads a committed norm
    * table instead (scaladoc above), where this concern disappears. */
  val NormCompactEvery = 8

  /** Best-effort release of the localCheckpoint blocks behind an eager
    * DataFrame that has been SUPERSEDED by a newer checkpoint — without
    * this every batch leaks its predecessor's label/census blocks into
    * executor storage for the life of the stream (round-6 ADVICE). The
    * caller must only invoke it once nothing references the plan. */
  private def releaseEager(df: DataFrame): Unit =
    try df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(false)
      case _ => ()
    } catch { case _: Throwable => () }

  /** Per-batch absorb output: the advanced standing state, this
    * batch's accepted edges (canonical id_a < id_b, code, score), and
    * the lazily-evaluated component-size histogram of the updated
    * labels (the over-merge monitor). Absorbing the next batch into
    * `standing` releases this result's label and census blocks:
    * `componentStats` and `standing.labels` must be read before then. */
  final case class BatchResult(standing: Standing, newEdges: DataFrame,
      componentStats: DataFrame)

  /** Eager checkpoint via [[org.apache.spark.sql.GraftBridge.eagerNoStats]]:
    * `Dataset.localCheckpoint` propagates the origin plan's statistics
    * into the checkpoint leaf, and across the absorb loop's CHAINED
    * per-batch checkpoints (labels/census reference their predecessor
    * more than once per batch plan) the inherited BigInt estimate
    * squares every batch — by batch ~14 the driver burns minutes in
    * BigInteger multiplies (a genuine long-crawl breaker, caught by the
    * 17-batch spec). The absorb loop's joins all use explicit
    * broadcast() hints, so default leaf stats lose nothing. */
  private def eager(df: DataFrame, cfg: Pipeline.Config): DataFrame =
    org.apache.spark.sql.GraftBridge.eagerNoStats(df,
      reliable = cfg.reliableCheckpointDir.isDefined)

  /** Seed the standing state from an initial corpus via the one-shot
    * batch path: cluster it, and commit its keyed table bucketed at
    * `path` (or re-register committed files — BucketedKeyTable.ensure
    * semantics). `seedNorm` should be caller-persisted; it becomes
    * `Standing.norm`. */
  def init(spark: SparkSession, table: String, buckets: Int, path: String,
      seedNorm: DataFrame, cfg: Pipeline.Config = Pipeline.Config()): Standing = {
    cfg.reliableCheckpointDir.foreach(spark.sparkContext.setCheckpointDir)
    val (cand, keyed) = Pipeline.edgeCandidatesSelfKeyed(seedNorm, cfg)
    val edges = Pipeline.scoreCandidates(cand, cfg).select("id_a", "id_b")
    val labels = eager(ConnectedComponents.assignAll(
      edges, seedNorm.select("id"), reliable = cfg.reliableCheckpointDir.isDefined,
      star = cfg.starCc), cfg)
    BucketedKeyTable.ensure(spark, table, buckets, path) {
      keyed.select("id", "key", "nosuffix")
    }
    // census state seeded once from the COMMITTED table (not the keyed
    // DataFrame: ensure may have re-registered pre-existing files whose
    // content includes earlier appends) — the bucketed scan satisfies
    // the groupBy with zero exchanges; advanced per batch by the
    // increment's census delta from then on
    val census = eager(
      spark.table(table).groupBy("key").agg(count(lit(1)).as("n")), cfg)
    keyed.unpersist()
    Standing(table, seedNorm.select("id", "pre_proc", "nosuffix"), labels,
      census)
  }

  /** Absorb one crawl increment: score it against the standing corpus
    * AND against itself, append it into the bucketed table, fold its
    * accepted edges into the label table, and report the per-batch
    * over-merge monitor. `incNorm` should be caller-persisted (it is
    * consumed by the key explode, the hydration join, and the label
    * update). */
  def absorb(spark: SparkSession, st: Standing, incNorm: DataFrame,
      cfg: Pipeline.Config = Pipeline.Config(),
      monitor: Boolean = true): BatchResult = {
    // phase labels (guide §1.5): every job this batch runs is tagged,
    // so the UI — and the AbsorbBytes probe's listener — can attribute
    // wall/shuffle/input bytes to census vs pairs vs hydration vs
    // scoring vs append vs labels
    def phase[A](name: String)(f: => A): A = {
      spark.sparkContext.setJobDescription(s"absorb: $name")
      try f finally spark.sparkContext.setJobDescription(null)
    }
    val keyedInc = Pipeline.withBlockingKeys(incNorm)
      .select("id", "key", "nosuffix").persist()
    try {
      // COMBINED standing+increment census for the runaway drop — the
      // exact census the one-shot path would compute over the union
      // keyed table. The standing side now comes from the MAINTAINED
      // census state (st.census ≡ the table's per-key counts — spec),
      // advanced by the increment's O(increment) census delta: the
      // per-batch O(corpus) standing-table key scan is gone, and the
      // crossed-the-bound monitor reads the same join instead of a
      // second scan. The checkpoint does NOT keep the census's hash
      // partitioning (eagerNoStats rebuilds the frame with unknown
      // partitioning), so the full outer join re-shuffles the
      // O(keys) standing census every batch, next to the increment's.
      val incCensus = keyedInc.groupBy("key").agg(count(lit(1)).as("n_i"))
      val newCensus = phase("census")(eager(st.census
        .withColumnRenamed("n", "n_s")
        .join(incCensus, Seq("key"), "full_outer")
        .select(col("key"),
          (coalesce(col("n_s"), lit(0L)) + coalesce(col("n_i"), lit(0L)))
            .as("n"),
          coalesce(col("n_s"), lit(0L)).as("n_prev")), cfg))
      val runaway = Pipeline.tiers(Pipeline.selfCensus(
        newCensus.select(col("key"), col("n").as("block_size"))), cfg).runaway
      // a key crossing the runaway bound THIS batch had standing pairs
      // emitted in earlier batches that the one-shot path would drop —
      // log it (see the class-level divergence note). Reads the
      // maintained census — no standing-table scan.
      val crossed = phase("census")(newCensus
        .where(col("n") > cfg.runawayBlockSize &&
          col("n_prev") <= cfg.runawayBlockSize && col("n_prev") > 0)
        .limit(5).collect())
      if (crossed.nonEmpty)
        System.err.println(s"[graft-absorb] ${crossed.length}+ key(s) crossed " +
          s"the runaway bound this batch (e.g. '${crossed.head.getString(0)}'); " +
          "earlier batches' pairs for them remain in the edge store")
      // cross pairs (increment × standing, bucketed join) + the
      // increment's self pairs — both prefilter-fused, both runaway-
      // dropped on the combined census, then CANONICALIZED to
      // id_a < id_b before hydration so code/score are computed on
      // exactly the operand order the one-shot self path uses
      val cross = Pipeline.incrementalPairs(spark, st.table, keyedInc, cfg,
          runawayKeys = Some(runaway))
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
      val selfPairs = Pipeline.candidatePairsSelf(
        keyedInc.join(broadcast(runaway), Seq("key"), "left_anti"), cfg,
        cacheKeyed = false, earlyFilter = true)
      // disjoint by construction (cross pairs have exactly one standing
      // endpoint; self pairs have none) and each internally deduped.
      // Materialized eagerly so the endpoint census below doesn't
      // re-run the blocking joins.
      val pairs = phase("pairs")(eager(cross.unionByName(selfPairs)
        .observe("graft_absorb_pairs", count(lit(1)).as("pairs_deduped")), cfg))
      val unionNorm = st.norm.unionByName(incNorm.select("id", "pre_proc", "nosuffix"))
      // hydration pruned to the batch's pair ENDPOINTS (the
      // updateLabelsWithDelta idiom): one broadcast semi-join restricts
      // the corpus norm to O(increment·density) rows BEFORE the
      // attachNames2 broadcasts, so the per-batch broadcast payload no
      // longer scales with corpus size. The single corpus-norm scan
      // this costs is a read, not a shuffle (and in the production
      // binding an id-bucketed committed norm table turns it into a
      // bucket-pruned lookup).
      val endpoints = pairs.select(col("id_a").as("id"))
        .unionByName(pairs.select(col("id_b").as("id"))).distinct()
      val touchedNorm = phase("hydrate-restrict")(eager(unionNorm
        .join(broadcast(endpoints), Seq("id"), "left_semi"), cfg))
      val newEdges = phase("score")(eager(Pipeline.scoreCandidates(
        Pipeline.attachNames2(pairs, touchedNorm, touchedNorm, cfg), cfg)
        .select("id_a", "id_b", "code", "score"), cfg))
      val labels = phase("labels")(eager(ConnectedComponents.updateLabels(
        st.labels, newEdges.select("id_a", "id_b"), incNorm.select("id"),
        reliable = cfg.reliableCheckpointDir.isDefined,
        broadcastRemap = cfg.broadcastNames), cfg))
      // advance the durable bucketed table LAST (after the batch's
      // edges/labels materialized): one increment-sized exchange,
      // corpus files untouched
      phase("append")(BucketedKeyTable.append(spark, st.table, keyedInc))
      val stats = ConnectedComponents.componentStats(labels)
      if (monitor) {
        // the production over-merge monitor, per increment: a fat tail
        // appearing HERE (not at the next full recompute) is the point
        val top = stats.limit(3).collect()
          .map(r => s"${r.getLong(0)}×${r.getLong(1)}").mkString(", ")
        System.err.println(s"[graft-monitor] post-absorb component sizes " +
          s"(size×count, top): $top")
        val files = BucketedKeyTable.filesPerBucket(spark, st.table)
        System.err.println(s"[graft-monitor] standing table files: " +
          s"${files.totalFiles} over ${files.buckets} buckets " +
          s"(max ${files.maxPerBucket}/bucket)")
      }
      // superseded eager state: the previous labels/census checkpoints
      // are no longer referenced once their successors materialized —
      // release their blocks so a long-running stream's executor
      // storage stays O(state), not O(state × batches)
      releaseEager(st.labels)
      releaseEager(st.census)
      val batches = st.batches + 1
      // bound the norm union chain's plan depth (see NormCompactEvery)
      val newNorm =
        if (batches % NormCompactEvery == 0) {
          val compacted = phase("norm-compact")(eager(unionNorm, cfg))
          releaseEager(st.norm) // the old chain's checkpoint leaves
          compacted
        } else unionNorm
      BatchResult(Standing(st.table, newNorm, labels,
        newCensus.select("key", "n"), batches), newEdges, stats)
    } finally keyedInc.unpersist()
  }

  /** Convenience loop for the driver query / stress harness: split
    * `norm` into `nBatches` deterministic arrival batches (pmod of
    * id), seed from batch 0, absorb the rest, return the final label
    * table — bit-identical to one-shot clustering of `norm`
    * (AbsorbSpec; er_incremental_clusters oracles it against the same
    * recursive CTE as the batch queries). `norm` should be
    * caller-persisted (each batch slice filters it). */
  def absorbAll(spark: SparkSession, norm: DataFrame, nBatches: Int,
      table: String, buckets: Int, path: String,
      cfg: Pipeline.Config = Pipeline.Config()): DataFrame = {
    def slice(b: Int) = norm.where(pmod(col("id"), lit(nBatches)) === b)
      .select("id", "pre_proc", "nosuffix")
    var st = init(spark, table, buckets, path, slice(0).persist(), cfg)
    for (b <- 1 until nBatches)
      st = absorb(spark, st, slice(b).persist(), cfg).standing
    // labels are eager-materialized; the catalog entry (external table
    // — files stay at `path`) is dropped so repeated invocations don't
    // leak table names
    spark.sql(s"DROP TABLE IF EXISTS $table")
    st.labels
  }
}
