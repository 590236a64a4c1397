package graft

import org.apache.spark.sql.functions._

import graft.block.BucketedKeyTable
import graft.cluster.ConnectedComponents
import graft.pipeline.Pipeline

/** Randomized exactness properties (seeded, deterministic): the
  * tiered/grid-salted pair generation and connected components must
  * agree with brute-force references on arbitrary skewed inputs, not
  * just the hand-built cases in PipelineSpec. */
class SaltingPropertySpec extends SparkSuite {
  import spark.implicits._

  private val cfg = Pipeline.Config(maxBlockSize = 7, runawayBlockSize = 40)

  /** Random keyed table: a few keys with sizes spanning all tiers
    * (1..cap, cap+1..runaway, > runaway), ids globally unique so a
    * pair is reachable only via shared keys — except `overlapKeys`
    * rows, which carry 2 keys each to exercise the cross-key dedup. */
  private def randomKeyed(rnd: scala.util.Random): Seq[(Long, String)] = {
    var nextId = 0L
    val rows = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val nKeys = 3 + rnd.nextInt(5)
    val keys = (0 until nKeys).map(i => s"k$i")
    for (k <- keys) {
      val size = rnd.nextInt(3) match {
        case 0 => 1 + rnd.nextInt(cfg.maxBlockSize)
        case 1 => cfg.maxBlockSize + 1 + rnd.nextInt(cfg.runawayBlockSize - cfg.maxBlockSize)
        case 2 => cfg.runawayBlockSize + 1 + rnd.nextInt(15)
      }
      for (_ <- 0 until size) { rows += ((nextId, k)); nextId += 1 }
    }
    // some ids appear under a second key: pairs reachable via TWO keys
    // must still come out exactly once
    val ids = rows.map(_._1).distinct
    for (_ <- 0 until math.min(10, ids.length / 3))
      rows += ((ids(rnd.nextInt(ids.length)), keys(rnd.nextInt(keys.length))))
    rows.distinct.toSeq
  }

  test("self pairs: tiered/grid generation ≡ brute force over 12 random skews") {
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed)
      val rows = randomKeyed(rnd)
      val sizes = rows.groupBy(_._2).map { case (k, rs) => k -> rs.size }
      val keep = sizes.filter(_._2 <= cfg.runawayBlockSize).keySet
      // .toSeq: a for-comprehension over a Map would build a Map and
      // silently collapse pairs sharing their first element
      val want = (for {
        (k, grp) <- rows.groupBy(_._2).toSeq if keep(k)
        ids = grp.map(_._1)
        a <- ids; b <- ids if a < b
      } yield (a, b)).toSet
      val got = Pipeline.candidatePairsSelf(rows.toDF("id", "key"), cfg,
        cacheKeyed = false).as[(Long, Long)].collect().toSet
      if (got != want) {
        val ex = (got -- want).head
        info(s"DEBUG seed=$seed extra=$ex a-rows=${rows.filter(_._1 == ex._1)} " +
          s"b-rows=${rows.filter(_._1 == ex._2)} sizes=$sizes keep=$keep")
      }
      assert(got == want, s"seed=$seed sizes=$sizes " +
        s"lost=${(want -- got).take(3).toSeq} extra=${(got -- want).take(3).toSeq}")
    }
  }

  test("two-sided pairs: 2-D grid ≡ brute force over 12 random skews") {
    for (seed <- 101 to 112) {
      val rnd = new scala.util.Random(seed)
      val mRows = randomKeyed(rnd)
      val bRows = randomKeyed(rnd).map { case (id, k) => (id + 1000000L, k) }
      val bSizes = bRows.groupBy(_._2).map { case (k, rs) => k -> rs.size }
      val keep = bSizes.filter(_._2 <= cfg.runawayBlockSize).keySet
      val bByKey = bRows.groupBy(_._2)
      val want = (for {
        (k, mGrp) <- mRows.groupBy(_._2).toSeq if keep(k) && bByKey.contains(k)
        a <- mGrp.map(_._1); b <- bByKey(k).map(_._1)
      } yield (a, b)).toSet
      val got = Pipeline.candidatePairsTwoSided(
        mRows.toDF("id_a", "key").select($"key", $"id_a"),
        bRows.toDF("id_b", "key").select($"key", $"id_b"),
        cfg, cacheKeyed = false).as[(Long, Long)].collect().toSet
      assert(got == want, s"seed=$seed " +
        s"lost=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("weighted self pairs: tiers follow summed w, ≡ brute force over 10 random skews") {
    // name-level keyed tables carry w = mentions per name: block sizes
    // are the SUM of w, so a key of few rows can be salted or dropped
    val nos = Vector("acme holdings", "acme holding", "zeta labs")
    for (seed <- 401 to 410) {
      val rnd = new scala.util.Random(seed)
      val rows = randomKeyed(rnd)
      val ids = rows.map(_._1).distinct
      val w = ids.map(_ -> (1 + rnd.nextInt(3)).toLong).toMap
      val nosOf = ids.map(_ -> nos(rnd.nextInt(nos.size))).toMap
      val keyed = rows.map { case (id, k) => (id, k, w(id), nosOf(id)) }
        .toDF("id", "key", "w", "nosuffix")
      val weighted = rows.groupBy(_._2).map { case (k, rs) => k -> rs.map(r => w(r._1)).sum }
      val want = (for {
        (k, grp) <- rows.groupBy(_._2).toSeq if weighted(k) <= cfg.runawayBlockSize
        ids = grp.map(_._1)
        a <- ids; b <- ids if a < b
      } yield (a, b)).toSet
      val got = Pipeline.candidatePairsSelf(keyed, cfg, cacheKeyed = false)
        .as[(Long, Long)].collect().toSet
      assert(got == want, s"seed=$seed weighted=$weighted " +
        s"lost=${(want -- got).take(3).toSeq} extra=${(got -- want).take(3).toSeq}")
      val gotFused = Pipeline.candidatePairsSelf(keyed, cfg, cacheKeyed = false,
        earlyFilter = true).as[(Long, Long)].collect().toSet
      assert(gotFused == want.filter { case (a, b) => passes(nosOf(a), nosOf(b)) },
        s"seed=$seed: fused self pairs ≠ brute force ∘ prefilter")
    }
  }

  private def passes(a: String, b: String): Boolean =
    graft.score.Fuzz.tokenSetRatio(a, b) > cfg.cutoff

  test("incremental pairs: bucket join + increment-hot grid ≡ brute force, both runaway censuses") {
    val nos = Vector("acme holdings", "acme holding", "zeta labs")
    val dir = java.nio.file.Files.createTempDirectory("graft_salting_inc").toString
    try for (seed <- 301 to 308) {
      val rnd = new scala.util.Random(seed)
      val standing = randomKeyed(rnd)
      val keys = standing.map(_._2).distinct :+ "fresh"
      // increment blocks per key: cold (≤ cap) or hot in the increment
      // (cap+1 .. 3·cap; a hot block on a key near the runaway bound
      // pushes the combined census over it); seeds ≡ 0 mod 4 stay cold
      var nextId = 1000000L
      val inc = keys.flatMap { k =>
        val hot = seed % 4 != 0 && rnd.nextBoolean()
        val size = if (hot) cfg.maxBlockSize + 1 + rnd.nextInt(2 * cfg.maxBlockSize)
          else 1 + rnd.nextInt(cfg.maxBlockSize)
        (0 until size).map { _ => nextId += 1; (nextId, k) }
      }
      val ids = (standing ++ inc).map(_._1).distinct
      val nosOf = ids.map(_ -> nos(rnd.nextInt(nos.size))).toMap
      def keyed(rows: Seq[(Long, String)]) =
        rows.map { case (id, k) => (id, k, nosOf(id)) }.toDF("id", "key", "nosuffix")
      val table = s"graft_salting_inc_$seed"
      BucketedKeyTable.write(keyed(standing), table, 4, s"$dir/$seed")
      val sizeS = standing.groupBy(_._2).map { case (k, rs) => k -> rs.size }
      val sizeI = inc.groupBy(_._2).map { case (k, rs) => k -> rs.size }
      def want(runaway: String => Boolean) = (for {
        (k, aGrp) <- inc.groupBy(_._2).toSeq if !runaway(k)
        a <- aGrp.map(_._1); b <- standing.filter(_._2 == k).map(_._1)
        if passes(nosOf(a), nosOf(b))
      } yield (a, b)).toSet
      val combined = keys.map(k => (k, sizeS.getOrElse(k, 0) + sizeI.getOrElse(k, 0)))
        .toDF("key", "n")
      for ((runawayKeys, isRunaway) <- Seq(
          (None, (k: String) => sizeS.getOrElse(k, 0) > cfg.runawayBlockSize),
          (Some(combined.where($"n" > cfg.runawayBlockSize).select("key")),
            (k: String) => sizeS.getOrElse(k, 0) + sizeI(k) > cfg.runawayBlockSize))) {
        val got = Pipeline.incrementalPairs(spark, table, keyed(inc), cfg, runawayKeys)
          .as[(Long, Long)].collect().toSet
        val w = want(isRunaway)
        assert(got == w, s"seed=$seed combined=${runawayKeys.isDefined} " +
          s"standing=$sizeS increment=$sizeI " +
          s"lost=${(w -- got).take(3).toSeq} extra=${(got -- w).take(3).toSeq}")
      }
    } finally (301 to 308).foreach(seed =>
      spark.sql(s"DROP TABLE IF EXISTS graft_salting_inc_$seed"))
  }

  test("connected components ≡ union-find over 8 random graphs") {
    for (seed <- 201 to 208) {
      val rnd = new scala.util.Random(seed)
      val n = 30 + rnd.nextInt(60)
      val edges = (0 until (n + rnd.nextInt(2 * n))).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(e => e._1 != e._2)
      // union-find reference with min-label components
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n).map(i => i.toLong -> find(i).toLong)
        .filter { case (i, _) => edges.exists(e => e._1 == i || e._2 == i) }.toMap
      val got = ConnectedComponents.run(edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"seed=$seed diff=${(got.toSet -- want.toSet).take(5)}")
    }
  }
}
