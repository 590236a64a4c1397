package graft.tools

import org.apache.spark.sql.SparkSession

import graft.pipeline.Pipeline

/** Round-7 probe: split er_incremental's wall into its phases —
  * increment keying, the incremental blocking join (hot-key check,
  * bucket join, grid route for increment-hot keys, pair dedup), and
  * the hydrated cascade — to locate why the incremental path ran 3.7×
  * er_match's wall on the same edge set (r7 baseline: 52.7 s vs
  * 14.4 s). */
object IncProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"INCPROF $label ${(System.nanoTime() - t0) / 1e9}%.1fs")
      r
    }
    val cfg = Pipeline.Config()
    val main = graft.SparkEntry.queries("er_normalize")(spark, sfDir).persist()
    t("main-norm")(println("  rows=" + main.count()))
    val baseNorm = Pipeline.normalize(
      graft.pages.PagesGen.baseUniverse(spark,
        graft.SparkEntry.entityCountFor(sfDir))).persist()
    t("base-norm")(println("  rows=" + baseNorm.count()))
    val table = t("standing-ensure")(
      graft.SparkEntry.standingTableFor(spark, sfDir, baseNorm))
    val keyedInc = Pipeline.withBlockingKeys(main)
      .select("id", "key", "nosuffix").persist()
    t("keyedInc")(println("  rows=" + keyedInc.count()))

    // planning runs the hot-key check (one O(increment) job)
    val pairs = t("hot-key-check")(
      Pipeline.incrementalPairs(spark, table, keyedInc, cfg))
    t("pairs-distinct")(println("  rows=" + pairs.count()))
    val edges = Pipeline.scoreCandidates(
      Pipeline.attachNames2(pairs, main, baseNorm, cfg), cfg)
    t("cascade+hydrate")(println("  rows=" + edges.count()))
    // the full query, as Bench times it
    t("full-query")(println("  rows=" +
      graft.SparkEntry.queries("er_incremental")(spark, sfDir).count()))
    spark.stop()
  }
}
