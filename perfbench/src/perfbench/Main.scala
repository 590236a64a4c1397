package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.pages.PagesGen
import graft.text.Normalizer
import graft.tools.ScalarBench

/** Everything a workload's set-up needs. */
final case class Env(spark: SparkSession, seed: Long, scale: Double, work: Path,
    cores: Int) {
  /** `n` scaled, never below 8. */
  def size(n: Int): Int = math.max(8, math.round(n * scale).toInt)
}

/** Output of one timed operation, as the output checks read it, and
  * the latency of each batch in it (empty: the operation is one
  * batch). */
final case class OpOut(result: AnyRef, batches: Seq[Double] = Nil)

/** Output checks and the per-seed counts the metrics divide by. */
final case class Checked(failures: Seq[String], precision: Double, recall: Double,
    pairsIn: Long)

/** A workload after set-up: a closed loop with one caller runs
  * `beforeOp`, the timed `op`, then `afterOp`, over and over. */
trait Prepared {
  /** Input mentions (or raw names) one operation resolves. */
  def mentions: Long
  def beforeOp(): Unit = ()
  def op(): OpOut
  /** The untimed warm-up operation that ends set-up (JIT, codegen). */
  def warmUp(): OpOut = op()
  def afterOp(out: OpOut): Unit = ()
  /** Timed operations per run at least. */
  def minOps: Int = Main.MinOps
  def check(out: OpOut): Checked
  /** Candidate pairs through `scoreCandidates` in the timed operation
    * whose jobs ran under `span`. */
  def pairsIn(checked: Checked, tracker: TaskTracker, span: String): Double =
    checked.pairsIn.toDouble
  /** One traced operation inside the tracer's `op` span, everything it
    * holds released afterwards but the tracer's layers; returns
    * per-layer metrics by name. */
  def traced(t: Tracer, checked: Checked): Map[String, Double]
  /** Seconds of the traced operation its layers account for. */
  def attributedSeconds(t: Tracer): Double = t.childSeconds("op")
}

trait Workload {
  def setup(env: Env): Prepared
}

object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "batch_p50_s" -> "s", "batch_p90_s" -> "s",
    "mentions_per_s" -> "1/s",
    "pairs_per_s" -> "1/s", "pair_precision" -> "ratio", "pair_recall" -> "ratio",
    "shuffle_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "pages.extract_s" -> "s",
    "text.normalize_s" -> "s", "text.names_per_s" -> "1/s", "text.distinct_names" -> "count",
    "block.keys_s" -> "s", "block.key_rows" -> "count",
    "block.table_files" -> "count", "block.max_files_per_bucket" -> "count",
    "pipeline.join_s" -> "s", "pipeline.join_raw_rows" -> "count",
    "pipeline.join_pairs" -> "count", "pipeline.join_dedup_ratio" -> "ratio",
    "pipeline.join_shuffle_mb" -> "MB", "pipeline.salted_pairs" -> "count",
    "pipeline.capped_rows" -> "count", "pipeline.hydrate_s" -> "s",
    "score.s" -> "s", "score.pairs_in" -> "count", "score.edges" -> "count",
    "score.accept_ratio" -> "ratio", "score.pairs_per_s" -> "1/s",
    "cluster.s" -> "s", "cluster.jobs" -> "count", "cluster.components" -> "count",
    "cluster.max_component" -> "count",
    "absorb.census_s" -> "s", "absorb.pairs_s" -> "s", "absorb.hydrate_s" -> "s",
    "absorb.score_s" -> "s", "absorb.labels_s" -> "s", "absorb.append_s" -> "s",
    "absorb.compact_s" -> "s", "absorb.census_shuffle_mb" -> "MB",
    "absorb.pairs_shuffle_mb" -> "MB",
    "spark.task_busy_s" -> "s", "spark.core_util" -> "ratio", "spark.jobs" -> "count",
    "spark.gc_s" -> "s", "spark.spill_mb" -> "MB", "spark.resident_cache_mb" -> "MB",
    "trace.wall_s" -> "s", "trace.unattributed_s" -> "s", "trace.overhead_s" -> "s")

  /** Timed operations per run at least, where an operation is one
    * engine call; the median of three is not moved by one slow
    * operation (JIT is still settling after the warm-up). */
  val MinOps = 3

  val workloads: Map[String, Workload] = Map(
    "oneshot" -> Oneshot, "match" -> MatchTwoSided, "pair_mode" -> PairMode,
    "absorb" -> AbsorbLoop)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      scale: Double, cores: Int, root: Path, out: Path)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", m.getOrElse("scale", "1").toDouble, req("cores").toInt,
      Paths.get(req("root")).toAbsolutePath, Paths.get(req("out")).toAbsolutePath)
  }

  def session(a: Args): SparkSession = {
    val build = a.root.resolve(".bench_build")
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", build.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", build.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Era tag: single-thread cascade throughput of a fixed scalar
    * probe, recorded beside (not among) the metrics so that runs can
    * be compared only within one era of the machine. */
  private def eraProbe(): Double = {
    val names = (0 until 2000).map { i =>
      Normalizer.namePreprocessing(PagesGen.mentionName(i / 4, i % 4), removePeople = false)
    }.filter(n => n != null && n.nonEmpty).toArray
    ScalarBench.run(names, 50000, 0)
    val pairs = 400000
    val t0 = System.nanoTime()
    ScalarBench.run(names, pairs, 1)
    pairs / ((System.nanoTime() - t0) / 1e9)
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else x.toString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = workloads.getOrElse(a.workload,
      sys.error(s"unknown workload '${a.workload}' (${workloads.keys.mkString(", ")})"))
    val era = eraProbe()

    // set-up, once: session, inputs, pair table or seed build, then one
    // untimed warm-up operation (JIT, codegen)
    val work = a.root.resolve(".bench_build/work").resolve(s"${a.workload}-${ProcessHandle.current.pid}")
    deleteTree(work)
    Files.createDirectories(work)
    val setup0 = System.nanoTime()
    val spark = session(a)
    val sc = spark.sparkContext
    val tracker = new TaskTracker
    val observed = new ObservedMetrics
    sc.addSparkListener(tracker)
    spark.listenerManager.register(observed)
    val prepared = w.setup(Env(spark, a.seed, a.scale, work, a.cores))
    val setupOnly = secondsSince(setup0)
    prepared.beforeOp()
    val warm0 = System.nanoTime()
    prepared.afterOp(prepared.warmUp())
    val warmup = secondsSince(warm0)
    spark.catalog.clearCache()

    // timed closed loop, one caller; the output checks run, untimed, on
    // the first operation that returns
    val walls = mutable.ArrayBuffer.empty[Double]
    val batches = mutable.ArrayBuffer.empty[Double]
    val shuffles = mutable.ArrayBuffer.empty[Double]
    val pairRates = mutable.ArrayBuffer.empty[Double]
    val residents = mutable.ArrayBuffer.empty[Double]
    val notes = mutable.ArrayBuffer.empty[String]
    var checked: Checked = null
    var checkSeconds = 0.0
    var attempted = 0
    var failed = 0
    val start = System.nanoTime()
    while (attempted < prepared.minOps || secondsSince(start) < a.seconds) {
      attempted += 1
      val span = s"timed-$attempted"
      val before = Trace.residentMb(spark)
      prepared.beforeOp()
      sc.setLocalProperty(Trace.SpanProp, span)
      val t0 = System.nanoTime()
      val out = try Some(prepared.op()) catch {
        case e: Exception =>
          notes += s"op $attempted failed: $e"
          None
      } finally sc.setLocalProperty(Trace.SpanProp, null)
      val wall = secondsSince(t0)
      out match {
        case Some(o) =>
          walls += wall
          batches ++= (if (o.batches.isEmpty) Seq(wall) else o.batches)
          org.apache.spark.perfbench.Bus.drain(sc)
          shuffles += Trace.mb(tracker.total(span).shuffleWrite)
          if (checked == null) {
            val check0 = System.nanoTime()
            checked = try prepared.check(o) catch {
              case e: Exception => Checked(Seq(s"check threw $e"), 0, 0, 0)
            }
            checkSeconds = secondsSince(check0)
            notes ++= checked.failures
            if (checked.failures.nonEmpty) failed += 1
            // the checks' own cache entries
            spark.catalog.clearCache()
          }
          pairRates += prepared.pairsIn(checked, tracker, span) / wall
          prepared.afterOp(o)
          // storage the operation left behind once the benchmark has
          // released what it holds itself
          residents += Trace.residentMb(spark) - before
        case None => failed += 1
      }
      spark.catalog.clearCache()
    }
    if (checked == null) checked = Checked(Seq("no operation returned"), 0, 0, 0)

    val wallMed = median(walls.toSeq)
    val e2e: Map[String, Double] = Map(
      "setup_s" -> (setupOnly + warmup),
      "wall_s" -> wallMed,
      "batch_p50_s" -> median(batches.toSeq),
      "batch_p90_s" -> quantile(batches.toSeq, 0.9),
      "mentions_per_s" -> prepared.mentions / wallMed,
      "pairs_per_s" -> median(pairRates.toSeq),
      "pair_precision" -> checked.precision,
      "pair_recall" -> checked.recall,
      "shuffle_mb" -> median(shuffles.toSeq))

    val layer: Map[String, Double] =
      if (!a.trace) Map.empty
      else {
        org.apache.spark.perfbench.Bus.drain(sc)
        observed.clear()
        val t = new Tracer(spark, tracker, observed)
        val before = Trace.residentMb(spark)
        prepared.beforeOp()
        val m = prepared.traced(t, checked)
        val wall = t.seconds("op")
        val c = t.counters("op")
        val attributed = prepared.attributedSeconds(t)
        t.release()
        val common = Map(
          "spark.task_busy_s" -> c.runMs / 1000.0,
          "spark.core_util" -> c.runMs / 1000.0 / (wall * a.cores),
          "spark.jobs" -> c.jobs.toDouble,
          "spark.gc_s" -> c.gcMs / 1000.0,
          "spark.spill_mb" -> Trace.mb(c.spill),
          "spark.resident_cache_mb" -> (Trace.residentMb(spark) - before),
          "trace.wall_s" -> wall,
          // the part of the untraced operation no layer accounts for
          "trace.unattributed_s" -> (wallMed - attributed),
          "trace.overhead_s" -> (wall - wallMed))
        spark.catalog.clearCache()
        common ++ m
      }

    val metrics = (if (a.trace) PerLayer else EndToEnd).map { case (k, unit) =>
      s"${str(k)}: {\"value\": ${num(if (a.trace) layer.getOrElse(k, 0.0) else e2e(k))}, " +
        s"\"unit\": ${str(unit)}}"
    }.mkString("{", ", ", "}")
    val all = (EndToEnd.map { case (k, _) => k -> e2e(k) } ++
      Seq("error_rate" -> failed.toDouble / attempted,
        "resident_cache_mb" -> median(residents.toSeq)))
      .map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
    val json =
      s"""{"correct": ${checked.failures.isEmpty && failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $metrics, """ +
        s""""meta": {"workload": ${str(a.workload)}, "seed": ${a.seed}, "cores": ${a.cores}, """ +
        s""""era_scalar_pairs_per_s": ${num(era)}, "setup_only_s": ${num(setupOnly)}, "warmup_s": ${num(warmup)}, "check_s": ${num(checkSeconds)}, """ +
        s""""wall_samples": ${walls.map(num).mkString("[", ", ", "]")}, "batch_samples": ${batches.map(num).mkString("[", ", ", "]")}, """ +
        s""""untraced": $all, "notes": ${notes.map(str).mkString("[", ", ", "]")}}}"""
    Files.write(a.out, json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
    deleteTree(work)
  }
}
