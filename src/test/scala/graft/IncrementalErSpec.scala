package graft

import org.apache.spark.sql.functions._

import graft.block.BucketedKeyTable
import graft.pages.PagesGen
import graft.pipeline.Pipeline

/** The pipeline-wired incremental path (Pipeline.incrementalEdges over
  * a standing BucketedKeyTable — the driver-visible er_incremental
  * query): edges bit-identical to the two-sided in-memory path, with
  * the standing corpus never re-shuffled (the steady-state
  * O(increment)-not-O(corpus) cost model, plan-asserted). */
class IncrementalErSpec extends SparkSuite {
  import spark.implicits._

  private val nEnt = 80L

  private def corpus() = {
    val mentions = Pipeline.extractMentions(PagesGen.generate(spark, nEnt, 4))
    val main = Pipeline.normalize(
      mentions.select(col("mention_id").as("id"), col("name"))).persist()
    val base = Pipeline.normalize(PagesGen.baseUniverse(spark, nEnt)).persist()
    (main, base)
  }

  test("incremental edges over the standing bucketed table ≡ two-sided path") {
    val (main, base) = corpus()
    val dir = java.nio.file.Files.createTempDirectory("graft_standing_spec").toString
    try {
      BucketedKeyTable.ensure(spark, "graft_standing_spec", 8, dir) {
        Pipeline.withBlockingKeys(base).select("id", "key", "nosuffix")
      }
      val got = Pipeline.incrementalEdges(spark, "graft_standing_spec", main, base)
        .select("id_a", "id_b", "code", "score")
        .as[(Long, Long, Int, Double)].collect().toSet
      val want = Pipeline.scoreCandidates(Pipeline.edgeCandidatesTwoSided(main, base))
        .select("id_a", "id_b", "code", "score")
        .as[(Long, Long, Int, Double)].collect().toSet
      assert(got.nonEmpty)
      assert(got == want)
    } finally spark.sql("DROP TABLE IF EXISTS graft_standing_spec")
  }

  test("standing side never shuffles: exactly the increment's exchanges in the plan") {
    val (main0, base0) = corpus()
    // materialized flat inputs: the assertion counts the incremental
    // join's own exchanges, not whatever lineage computed the increment
    // or the hydration side (normalize's distinct-memo exchanges)
    val main = main0.localCheckpoint(true)
    val base = base0.localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_standing_spec2").toString
    // a tiny standing table would broadcast-join (no exchange regardless
    // of bucketing) and make the assertion vacuous — force shuffle joins
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      BucketedKeyTable.ensure(spark, "graft_standing_spec2", 8, dir) {
        Pipeline.withBlockingKeys(base).select("id", "key", "nosuffix")
      }
      val cand = Pipeline.attachNames2(Pipeline.incrementalPairs(spark,
          "graft_standing_spec2",
          Pipeline.withBlockingKeys(main).select("id", "key", "nosuffix")),
        main, base)
      val plan = cand.queryExecution.executedPlan.toString
      // expected hash exchanges: the increment side of the blocking
      // join + the pair dedup. (attachNames2's fan-out repartition is
      // round-robin, and the census/runaway/hydration joins are
      // explicit broadcasts.) A third hash exchange can only mean the
      // standing side shuffled.
      val nHash = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(nHash == 2,
        s"expected 2 hash exchanges (increment + pair dedup), got $nHash:\n$plan")

      // control: the identical join over a NON-bucketed clone of the
      // standing table exchanges a third time — the bucketing, not the
      // data, is what removed the corpus shuffle
      val plainStanding = spark.table("graft_standing_spec2")
        .localCheckpoint(true)
      val pairsPlain = plainStanding
        .select($"key", $"id".as("id_b"), $"nosuffix".as("nos_b"))
        .join(Pipeline.withBlockingKeys(main)
          .select($"key", $"id".as("id_a"), $"nosuffix".as("nos_a")), Seq("key"))
        .select("id_a", "id_b").distinct()
      val nPlain = "Exchange hashpartitioning".r
        .findAllIn(pairsPlain.queryExecution.executedPlan.toString).size
      assert(nPlain == 3,
        s"control without bucketing expected 3 hash exchanges, got $nPlain")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_standing_spec2")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("hot-increment keys route through the 2-D grid with identical edges") {
    // maxBlockSize=2 makes nearly every increment key "hot": the
    // fallback must split the plan (cold keys on the bucket join, hot
    // keys through the two-sided 2-D grid) and still produce
    // the exact edge set of the one-join path / two-sided reference
    val (main, base) = corpus()
    val cfg = Pipeline.Config(maxBlockSize = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_standing_hot").toString
    try {
      BucketedKeyTable.ensure(spark, "graft_standing_hot", 8, dir) {
        Pipeline.withBlockingKeys(base).select("id", "key", "nosuffix")
      }
      val got = Pipeline.incrementalEdges(spark, "graft_standing_hot", main, base, cfg)
        .select("id_a", "id_b", "code", "score")
        .as[(Long, Long, Int, Double)].collect().toSet
      val want = Pipeline.scoreCandidates(
          Pipeline.edgeCandidatesTwoSided(main, base, cfg), cfg)
        .select("id_a", "id_b", "code", "score")
        .as[(Long, Long, Int, Double)].collect().toSet
      assert(got.nonEmpty)
      assert(got == want)
    } finally spark.sql("DROP TABLE IF EXISTS graft_standing_hot")
  }

  test("ensure() re-registers committed bucketed files without a rebuild or shuffle") {
    val (_, base) = corpus()
    val dir = java.nio.file.Files.createTempDirectory("graft_standing_spec3").toString
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val keyed = Pipeline.withBlockingKeys(base).select("id", "key", "nosuffix")
      BucketedKeyTable.ensure(spark, "graft_standing_spec3", 8, dir)(keyed)
      val before = spark.table("graft_standing_spec3").count()
      // a NEW session would hit the re-register branch; simulate by
      // dropping the catalog entry while the committed files stay
      spark.sql("DROP TABLE graft_standing_spec3")
      BucketedKeyTable.ensure(spark, "graft_standing_spec3", 8, dir) {
        fail("must re-register the committed files, not rebuild")
      }
      assert(spark.table("graft_standing_spec3").count() == before)
      // the re-registered table still carries bucket metadata: the
      // self-join plans zero exchanges
      val pairs = BucketedKeyTable.selfJoinPairs(spark, "graft_standing_spec3")
      val plan = pairs.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"re-registered table lost its bucketing:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_standing_spec3")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }
}
