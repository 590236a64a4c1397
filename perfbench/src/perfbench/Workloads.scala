package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.block.BucketedKeyTable
import graft.cluster.ConnectedComponents
import graft.expr.{functions => gf}
import graft.pages.PagesGen
import graft.pipeline.{Absorb, Pipeline}
import graft.score.MatchCascade

/** Helpers shared by the workloads' checks and traced runs. */
object Common {
  val cfg: Pipeline.Config = Pipeline.Config()

  def pairs2(n: Long): Long = n * (n - 1) / 2

  /** mention id → ground-truth entity id (the entity is in the url). */
  def mentionEntities(pages: DataFrame): Map[Long, Long] =
    Pipeline.extractMentions(pages).select("mention_id", "url").collect()
      .map(r => r.getLong(0) -> PagesGen.entityOf(r.getString(1))).toMap

  /** Pairwise precision and recall of a clustering against the
    * ground truth; `truePairs` counts every same-entity pair of the
    * generated input, including mentions the output lacks. */
  def pairwise(labels: Seq[(Long, Long)], entity: Long => Long,
      truePairs: Long): (Double, Double) = {
    val predicted = labels.groupBy(_._2).values.map(g => pairs2(g.size)).sum
    val tp = labels.groupBy { case (id, c) => (c, entity(id)) }.values
      .map(g => pairs2(g.size)).sum
    (if (predicted == 0) 1.0 else tp.toDouble / predicted, tp.toDouble / truePairs)
  }

  def mentionIds(pages: DataFrame): DataFrame =
    Pipeline.extractMentions(pages).select(col("mention_id").as("id"), col("name"))

  def rows(df: DataFrame): Double = df.count().toDouble

  /** Metrics of the layers the blocking workloads share. */
  def layerMetrics(t: Tracer, distinctNames: Double, keyRows: Double,
      joinQe: org.apache.spark.sql.execution.QueryExecution, joinPairs: Double,
      salted: String, pairsIn: Double, edges: Double): Map[String, Double] = {
    val raw = Trace.pairJoinRows(joinQe).toDouble
    val scoreS = t.seconds("op/score")
    Map(
      "pages.extract_s" -> t.seconds("op/extract"),
      "text.normalize_s" -> t.seconds("op/normalize"),
      "text.names_per_s" -> distinctNames / t.seconds("op/normalize"),
      "text.distinct_names" -> distinctNames,
      "block.keys_s" -> t.seconds("op/keys"),
      "block.key_rows" -> keyRows,
      "pipeline.join_s" -> t.seconds("op/join"),
      "pipeline.join_raw_rows" -> raw,
      "pipeline.join_pairs" -> joinPairs,
      "pipeline.join_dedup_ratio" -> (if (raw > 0) joinPairs / raw else 0.0),
      "pipeline.join_shuffle_mb" -> Trace.mb(t.counters("op/join").shuffleWrite),
      "pipeline.salted_pairs" -> t.observedMetric(salted).toDouble,
      "pipeline.capped_rows" -> t.observedMetric("graft_capped_rows").toDouble,
      "pipeline.hydrate_s" -> t.seconds("op/hydrate"),
      "score.s" -> scoreS,
      "score.pairs_in" -> pairsIn,
      "score.edges" -> edges,
      "score.accept_ratio" -> (if (pairsIn > 0) edges / pairsIn else 0.0),
      "score.pairs_per_s" -> pairsIn / scoreS)
  }

  def clusterMetrics(labels: DataFrame): Map[String, Double] = {
    val sizes = labels.groupBy("component").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)), max(col("n"))).head()
    Map("cluster.components" -> sizes.getLong(0).toDouble,
      "cluster.max_component" -> sizes.getLong(1).toDouble)
  }
}

import Common._

/** Pipeline.endToEnd over the dense PagesGen vocabulary: normalize,
  * the self blocking join and pair dedup, cascade, connected
  * components and the expansion back to mentions. */
object Oneshot extends Workload {
  def setup(env: Env): Prepared = new Prepared {
    private val spark = env.spark
    private val n = env.size(1000)
    private val perEntity = 4
    private val pages = Inputs.pages(spark, Inputs.firstEntity(env.seed, n), n, perEntity)

    def mentions: Long = n.toLong * perEntity

    def op(): OpOut = OpOut(Pipeline.endToEnd(pages, cfg))

    override def afterOp(out: OpOut): Unit =
      Trace.releaseCheckpoint(out.result.asInstanceOf[DataFrame])

    def check(out: OpOut): Checked = {
      val labelled = out.result.asInstanceOf[DataFrame]
        .select("mention_id", "url", "component").collect()
      val labels = labelled.map(r => r.getLong(0) -> r.getLong(2)).toSeq
      val entity = labelled.map(r => r.getLong(0) -> PagesGen.entityOf(r.getString(1))).toMap
      val norm = Pipeline.normalize(mentionIds(pages), cfg)
      // mention id → person-looking raw name: those mentions are
      // clustered, then dropped by the final post-filter
      val person = norm.select(col("id"), gf.is_person(col("name"))).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val failures = Seq(
        Option.when(labels.map(_._1).distinct.size != labels.size)(
          "oneshot: a mention has more than one label"),
        Option.when(labels.map(_._1).toSet != person.collect { case (id, false) => id }.toSet)(
          s"oneshot: ${labels.size} labelled mentions, expected ${person.count(!_._2)}"),
        // the label is the component's minimum mention id, which may
        // belong to a mention the post-filter dropped
        Option.when(labels.groupBy(_._2).exists { case (c, g) =>
          val ids = g.map(_._1)
          c > ids.min || (!ids.contains(c) && !person.getOrElse(c, false))
        })("oneshot: a label is not the minimum mention id of its component")
      ).flatten
      val (p, r) = pairwise(labels, entity, n * pairs2(perEntity))
      val pairsIn = Pipeline.edgeCandidatesSelf(Pipeline.nameNodes(norm), cfg).count()
      Checked(failures, p, r, pairsIn)
    }

    def traced(t: Tracer, checked: Checked): Map[String, Double] = {
      val (layers, labels) = t.span("op") {
        val (m, _) = t.layer("extract")(Pipeline.extractMentions(pages))
        val (norm, _) = t.layer("normalize")(
          Pipeline.normalize(m.select(col("mention_id").as("id"), col("name")), cfg))
        val (names, _) = t.layer("name_nodes")(Pipeline.nameNodes(norm))
        val (keyed, _) = t.layer("keys")(
          Pipeline.withBlockingKeys(names).select("id", "key", "nosuffix", "w"))
        val (pairs, joinQe) = t.layer("join")(Pipeline.candidatePairsSelf(keyed, cfg,
          cacheKeyed = false, earlyFilter = true))
        val (cand, _) = t.layer("hydrate")(Pipeline.attachNames(pairs, names, cfg))
        val (edges, _) = t.layer("score")(Pipeline.scoreCandidates(cand, cfg))
        val (labels, _) = t.layer("cluster")(
          Pipeline.cluster(edges, names.select("id"), cfg))
        ((norm, keyed, joinQe, pairs, cand, edges), labels)
      }
      val (norm, keyed, joinQe, pairs, cand, edges) = layers
      layerMetrics(t, rows(norm.select("name").distinct()), rows(keyed), joinQe,
        rows(pairs), "graft_salted_pairs", rows(cand), rows(edges)) ++
        clusterMetrics(labels) ++ Map(
          "cluster.s" -> t.seconds("op/cluster"),
          "cluster.jobs" -> t.counters("op/cluster").jobs.toDouble)
    }
  }
}

/** matcher.py's two-sided flow: extracted mentions × the base
  * universe through edgeCandidatesTwoSided and scoreCandidates. */
object MatchTwoSided extends Workload {
  def setup(env: Env): Prepared = new Prepared {
    private val spark = env.spark
    private val n = env.size(400)
    private val perEntity = 4
    private val first = Inputs.firstEntity(env.seed, n)
    private val pages = Inputs.pages(spark, first, n, perEntity)
    private val base = Inputs.baseUniverse(spark, first, n)

    def mentions: Long = n.toLong * perEntity

    private def sides(): (DataFrame, DataFrame) =
      (Pipeline.normalize(mentionIds(pages), cfg), Pipeline.normalize(base, cfg))

    // the timed operation ends with its output checkpointed, so the
    // check reads it without recomputing
    def op(): OpOut = {
      val (main, baseNorm) = sides()
      OpOut(Pipeline.scoreCandidates(
        Pipeline.edgeCandidatesTwoSided(main, baseNorm, cfg), cfg)
        .select("id_a", "id_b", "code", "score").localCheckpoint())
    }

    override def afterOp(out: OpOut): Unit =
      Trace.releaseCheckpoint(out.result.asInstanceOf[DataFrame])

    def check(out: OpOut): Checked = {
      val got = out.result.asInstanceOf[DataFrame].collect().map(_.toSeq).toSet
      val (main, baseNorm) = sides()
      val table = s"perfbench_match_${System.nanoTime()}"
      BucketedKeyTable.write(Pipeline.withBlockingKeys(baseNorm)
        .select("id", "key", "nosuffix"), table, 2 * env.cores,
        env.work.resolve(table).toString)
      val want = Pipeline.incrementalEdges(spark, table, main, baseNorm, cfg)
        .select("id_a", "id_b", "code", "score").collect().map(_.toSeq).toSet
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val entity = mentionEntities(pages)
      val correct = got.count(r => entity(r(0).asInstanceOf[Long]) == r(1).asInstanceOf[Long])
      val pairsIn = Pipeline.edgeCandidatesTwoSided(main, baseNorm, cfg).count()
      Checked(
        Option.when(got != want)(s"match: ${got.size} edges differ from " +
          s"incrementalEdges' ${want.size} over a standing table of the same base").toSeq,
        if (got.isEmpty) 1.0 else correct.toDouble / got.size,
        correct.toDouble / mentions, pairsIn)
    }

    def traced(t: Tracer, checked: Checked): Map[String, Double] = {
      val layers = t.span("op") {
        val (m, _) = t.layer("extract")(Pipeline.extractMentions(pages))
        val (main, baseNorm) = t.span("normalize") {
          (t.layer("main")(Pipeline.normalize(
            m.select(col("mention_id").as("id"), col("name")), cfg))._1,
            t.layer("base")(Pipeline.normalize(base, cfg))._1)
        }
        val (keyedM, keyedB) = t.span("keys") {
          (t.layer("main")(Pipeline.withBlockingKeys(main)
            .select(col("key"), col("id").as("id_a"), col("nosuffix").as("nos_a")))._1,
            t.layer("base")(Pipeline.baseKeyed(baseNorm))._1)
        }
        val (pairs, joinQe) = t.layer("join")(Pipeline.candidatePairsTwoSided(
          keyedM, keyedB, cfg, cacheKeyed = false, earlyFilter = true))
        val (cand, _) = t.layer("hydrate")(Pipeline.attachNames2(pairs, main, baseNorm, cfg))
        val (edges, _) = t.layer("score")(Pipeline.scoreCandidates(cand, cfg))
        (main, baseNorm, keyedM, keyedB, joinQe, pairs, cand, edges)
      }
      val (main, baseNorm, keyedM, keyedB, joinQe, pairs, cand, edges) = layers
      layerMetrics(t,
        rows(main.select("name").distinct()) + rows(baseNorm.select("name").distinct()),
        rows(keyedM) + rows(keyedB), joinQe, rows(pairs), "graft_salted_pairs_2s",
        rows(cand), rows(edges))
    }
  }
}

/** match_pair.py's contract: a fixed pre-blocked table of raw-name
  * pairs is normalized (once per distinct name), hydrated and scored.
  * No blocking join runs. */
object PairMode extends Workload {
  def setup(env: Env): Prepared = new Prepared {
    private val spark = env.spark
    private val n = env.size(200)
    private val variants = 8
    private val path = env.work.resolve("pairs").toString
    Inputs.pairTable(spark, env.seed, Inputs.firstEntity(env.seed, n), n, variants)
      .write.parquet(path)

    private def pairs = spark.read.parquet(path)

    private def names(p: DataFrame): DataFrame =
      p.select(col("name_a").as("name")).unionByName(p.select(col("name_b").as("name")))
        .distinct().select(xxhash64(col("name")).as("id"), col("name"))

    private def ids(p: DataFrame): DataFrame =
      p.select(xxhash64(col("name_a")).as("id_a"), xxhash64(col("name_b")).as("id_b"))

    private def candidates(): DataFrame = {
      val p = pairs
      Pipeline.attachNames(ids(p), Pipeline.normalize(names(p), cfg), cfg)
    }

    lazy val mentions: Long = names(pairs).count()

    def op(): OpOut = OpOut(Pipeline.scoreCandidates(candidates(), cfg)
      .select("id_a", "id_b", "code", "score").localCheckpoint())

    override def afterOp(out: OpOut): Unit =
      Trace.releaseCheckpoint(out.result.asInstanceOf[DataFrame])

    def check(out: OpOut): Checked = {
      val accepted = out.result.asInstanceOf[DataFrame].select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val cand = candidates()
      val codes = Pipeline.scoredCodes(cand, cfg)
      val want = codes.where(col("code") > 0).select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val pre = Pipeline.normalize(names(pairs), cfg).select("id", "pre_proc").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val sample = codes.orderBy(xxhash64(col("id_a"), col("id_b")), col("id_a"))
        .limit(400).collect()
      val scalarMismatch = sample.count { r =>
        MatchCascade.score(pre(r.getLong(0)), pre(r.getLong(1))) != r.getInt(2)
      }
      val p = pairs
      val entity = (p.select(xxhash64(col("name_a")), col("entity_a")).collect() ++
        p.select(xxhash64(col("name_b")), col("entity_b")).collect())
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val same = accepted.count { case (a, b) => entity(a) == entity(b) }
      Checked(Seq(
        Option.when(accepted != want)(s"pair_mode: ${accepted.size} accepted pairs, " +
          s"scoredCodes accepts ${want.size}"),
        Option.when(scalarMismatch > 0 || sample.isEmpty)(
          s"pair_mode: $scalarMismatch of ${sample.length} sampled cascade codes " +
            "differ from scalar MatchCascade.score")).flatten,
        if (accepted.isEmpty) 1.0 else same.toDouble / accepted.size,
        same.toDouble / (n * pairs2(variants)), cand.count())
    }

    def traced(t: Tracer, checked: Checked): Map[String, Double] = {
      val (norm, cand, edges) = t.span("op") {
        val p = pairs
        val (norm, _) = t.layer("normalize")(Pipeline.normalize(names(p), cfg))
        val (cand, _) = t.layer("hydrate")(Pipeline.attachNames(ids(p), norm, cfg))
        val (edges, _) = t.layer("score")(Pipeline.scoreCandidates(cand, cfg))
        (norm, cand, edges)
      }
      val distinct = rows(norm)
      val pairsIn = rows(cand)
      val accepted = rows(edges)
      Map(
        "text.normalize_s" -> t.seconds("op/normalize"),
        "text.names_per_s" -> distinct / t.seconds("op/normalize"),
        "text.distinct_names" -> distinct,
        "pipeline.hydrate_s" -> t.seconds("op/hydrate"),
        "score.s" -> t.seconds("op/score"),
        "score.pairs_in" -> pairsIn,
        "score.edges" -> accepted,
        "score.accept_ratio" -> accepted / pairsIn,
        "score.pairs_per_s" -> pairsIn / t.seconds("op/score"))
    }
  }
}

/** The crawl-increment loop: a seed corpus committed once in set-up,
  * then an operation absorbs [[AbsorbLoop.Batches]] increments through
  * Absorb.absorb in turn, each into the state the previous one left,
  * after the standing state is reset to the seed. */
object AbsorbLoop extends Workload {
  /** Increments per operation. The seed counts as the stream's first
    * NormCompactEvery - Batches batches (`Standing.batches`), so the
    * operation's last call is the stream's NormCompactEvery-th and runs
    * the engine's norm compaction; eight calls an operation would not
    * fit the benchmark set's time budget. */
  val Batches = 4
  private val seedBatches = Absorb.NormCompactEvery - Batches

  def setup(env: Env): Prepared = new Prepared {
    private val spark = env.spark
    private val n = env.size(400)
    private val perEntity = 4
    private val buckets = 2 * env.cores
    private val pages = Inputs.pages(spark, Inputs.firstEntity(env.seed, n), n, perEntity)
    // the increments hold exactly one mention per entity, variant
    // v = -e mod 4, and increment b the entities e = b mod Batches, so
    // their sizes do not depend on the seed
    private val entity = regexp_extract(col("url"), "host(\\d+)-(\\d+)", 1).cast("long")
    private val variant = regexp_extract(col("url"), "host(\\d+)-(\\d+)", 2).cast("long")
    private val all = Pipeline.normalize(Pipeline.extractMentions(pages)
        .select(col("mention_id").as("id"), col("name"), col("url")), cfg)
      .select(col("id"), col("pre_proc"), col("nosuffix"),
        when(pmod(entity + variant, lit(perEntity.toLong)) === 0,
          pmod(entity, lit(Batches.toLong))).otherwise(lit(-1L)).as("batch"))
      .localCheckpoint()
    private def slice(b: Long) = all.where(col("batch") === b).select("id", "pre_proc", "nosuffix")
    private val seedSrc = slice(-1)
    private val incSrc = (0 until Batches).map(b => slice(b.toLong))
    private val seedPath = env.work.resolve("seed")
    private val labelsPath = env.work.resolve("seed_labels").toString
    private val censusPath = env.work.resolve("seed_census").toString
    locally {
      val st = Absorb.init(spark, "perfbench_seed", buckets, seedPath.toString, seedSrc, cfg)
      st.labels.write.parquet(labelsPath)
      st.census.write.parquet(censusPath)
      spark.sql("DROP TABLE perfbench_seed")
      Trace.releaseCheckpoint(st.labels)
      Trace.releaseCheckpoint(st.census)
    }
    private var runs = 0
    private var standing: Absorb.Standing = _
    private var incs: Seq[DataFrame] = Nil

    lazy val mentions: Long = incSrc.map(_.count()).sum

    // one operation is Batches engine calls
    override def minOps: Int = 1

    /** A fresh copy of the committed seed: bucketed files, labels and
      * census, registered under a new table name, and fresh checkpoints
      * of the seed's and increments' normalized rows (the engine owns
      * them once it is handed them: its norm compaction releases
      * them). */
    override def beforeOp(): Unit = {
      runs += 1
      val table = s"perfbench_absorb_$runs"
      val dir = Files.createDirectories(env.work.resolve(table))
      val files = Files.list(seedPath)
      try files.iterator().asScala.filter(Files.isRegularFile(_))
        .foreach(f => Files.copy(f, dir.resolve(f.getFileName)))
      finally files.close()
      BucketedKeyTable.ensure(spark, table, buckets, dir.toString) {
        sys.error(s"seed files missing under $dir")
      }
      standing = Absorb.Standing(table, seedSrc.localCheckpoint(),
        spark.read.parquet(labelsPath).localCheckpoint(),
        spark.read.parquet(censusPath).localCheckpoint(), seedBatches)
      incs = incSrc.map(_.localCheckpoint())
    }

    /** Every batch's result, in order, and its latency. */
    private def absorbAll(): (Seq[Absorb.BatchResult], Seq[Double]) = {
      var st = standing
      incs.map { inc =>
        val t0 = System.nanoTime()
        val r = Absorb.absorb(spark, st, inc, cfg)
        st = r.standing
        (r, (System.nanoTime() - t0) / 1e9)
      }.unzip
    }

    def op(): OpOut = {
      val (results, latencies) = absorbAll()
      OpOut(results, latencies)
    }

    // one increment: the warm-up runs every phase but compaction
    override def warmUp(): OpOut = OpOut(Seq(Absorb.absorb(spark, standing, incs.head, cfg)))

    /** Release what the caller holds after a run of batches (each
      * batch's edges, the final labels, census and compacted norm) and
      * drop the table. */
    private def release(results: Seq[Absorb.BatchResult]): Unit = {
      val st = results.last.standing
      (standing.norm +: incs).foreach(Trace.releaseCheckpoint)
      results.foreach(r => Trace.releaseCheckpoint(r.newEdges))
      Trace.releaseCheckpoint(st.labels)
      Trace.releaseCheckpoint(st.census)
      if (st.batches % Absorb.NormCompactEvery == 0) Trace.releaseCheckpoint(st.norm)
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(st.table)).location
      spark.sql(s"DROP TABLE IF EXISTS ${st.table}")
      Main.deleteTree(java.nio.file.Paths.get(loc))
      Main.deleteTree(env.work.resolve(st.table))
    }

    private def last(out: OpOut): Absorb.Standing =
      out.result.asInstanceOf[Seq[Absorb.BatchResult]].last.standing

    override def afterOp(out: OpOut): Unit =
      release(out.result.asInstanceOf[Seq[Absorb.BatchResult]])

    override def pairsIn(checked: Checked, tracker: TaskTracker, span: String): Double =
      tracker.total(span, "absorb: pairs").observedRows.toDouble

    def check(out: OpOut): Checked = {
      val st = last(out)
      val labels = st.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      val union = incSrc.foldLeft(seedSrc)(_.unionByName(_))
      val oneshot = ConnectedComponents.assignAll(
        Pipeline.scoreCandidates(Pipeline.edgeCandidatesSelf(union, cfg), cfg)
          .select("id_a", "id_b"), union.select("id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val maxBlock = st.census.agg(max(col("n"))).head().getLong(0)
      val failures = Seq(
        Option.when(st.batches != seedBatches + Batches)(
          s"absorb: ${st.batches - seedBatches} batches absorbed, expected $Batches"),
        Option.when(labels.map(_._1).distinct.size != labels.size)(
          "absorb: a mention has more than one label"),
        Option.when(maxBlock <= cfg.runawayBlockSize && labels.toMap != oneshot)(
          s"absorb: labels differ from one-shot clustering of the union " +
            s"(${labels.size} vs ${oneshot.size} mentions)")).flatten
      val (p, r) = pairwise(labels, mentionEntities(pages), n * pairs2(perEntity))
      Checked(failures, p, r, 0)
    }

    def traced(t: Tracer, checked: Checked): Map[String, Double] = {
      val (results, _) = t.span("op")(absorbAll())
      val st = results.last.standing
      val files = BucketedKeyTable.filesPerBucket(spark, st.table)
      val accepted = results.map(r => rows(r.newEdges)).sum
      val m = clusterMetrics(st.labels)
      release(results)
      def phase(p: String) = t.counters("op", s"absorb: $p")
      val pairsIn = phase("pairs").observedRows.toDouble
      m ++ Map(
        "block.table_files" -> files.totalFiles.toDouble,
        "block.max_files_per_bucket" -> files.maxPerBucket.toDouble,
        "score.pairs_in" -> pairsIn,
        "score.edges" -> accepted,
        "score.accept_ratio" -> accepted / pairsIn,
        "score.s" -> phase("score").jobMs / 1000.0,
        "score.pairs_per_s" -> pairsIn / (phase("score").jobMs / 1000.0),
        "cluster.s" -> phase("labels").jobMs / 1000.0,
        "cluster.jobs" -> phase("labels").jobs.toDouble,
        "absorb.census_s" -> phase("census").jobMs / 1000.0,
        "absorb.pairs_s" -> phase("pairs").jobMs / 1000.0,
        "absorb.hydrate_s" -> phase("hydrate").jobMs / 1000.0,
        "absorb.score_s" -> phase("score").jobMs / 1000.0,
        "absorb.labels_s" -> phase("labels").jobMs / 1000.0,
        "absorb.append_s" -> phase("append").jobMs / 1000.0,
        "absorb.compact_s" -> phase("norm-compact").jobMs / 1000.0,
        "absorb.census_shuffle_mb" -> Trace.mb(phase("census").shuffleWrite),
        "absorb.pairs_shuffle_mb" -> Trace.mb(phase("pairs").shuffleWrite))
    }

    // the engine's phases are job descriptions, not benchmark spans
    override def attributedSeconds(t: Tracer): Double =
      t.counters("op", "absorb: ").jobMs / 1000.0
  }
}
