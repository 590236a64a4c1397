package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Task counters summed over the tasks of one span (or one job
  * description inside a span). */
final class Counters {
  var jobs = 0L
  var jobMs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  /** Rows counted by the engine's `observe()` metrics in result stages,
    * where an observation at the top of a plan runs. */
  var observedRows = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; jobMs += o.jobMs; runMs += o.runMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; spill += o.spill; observedRows += o.observedRows
  }
}

/** Attributes every job, and every task of it, to the benchmark span
  * that was open on the driver thread when the job started (the span
  * path travels as a local property, so it is in the job's properties)
  * and to the job description the engine set (`absorb: <phase>`). */
final class TaskTracker extends SparkListener {
  private val stageKey = new ConcurrentHashMap[Int, (String, String)]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, (String, String))]()
  private val counters = mutable.Map.empty[(String, String), Counters]

  private def at(key: (String, String)): Counters =
    counters.getOrElseUpdate(key, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Trace.SpanProp))).getOrElse("")
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    val key = (span, desc)
    e.stageIds.foreach(s => stageKey.putIfAbsent(s, key))
    jobStart.put(e.jobId, (e.time, key))
    synchronized { at(key).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, key) =>
      synchronized { at(key).jobMs += e.time - t0 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val key = stageKey.get(e.stageId)
    if (m != null && key != null) synchronized {
      val c = at(key)
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** `observe()` metrics are accumulators of this name; they count even
    * where no Dataset action runs (an eager checkpoint built from
    * `queryExecution.toRdd`), which a QueryExecutionListener misses. */
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val key = stageKey.get(info.stageId)
    if (key != null && org.apache.spark.perfbench.Bus.isResultStage(info)) {
      val rows = info.accumulables.values.collect {
        case a if a.name.contains(CollectMetricsExec.ACCUMULATOR_NAME) =>
          a.value match {
            case Some(r: InternalRow) if r.numFields > 0 && !r.isNullAt(0) => r.getLong(0)
            case _ => 0L
          }
      }.sum
      synchronized { at(key).observedRows += rows }
    }
  }

  /** Sum over spans whose path equals `span` or lies under it, and
    * whose job description starts with `descPrefix`. */
  def total(span: String, descPrefix: String = ""): Counters = synchronized {
    val out = new Counters
    counters.foreach { case ((s, d), c) =>
      if ((s == span || s.startsWith(span + "/")) && d.startsWith(descPrefix)) out += c
    }
    out
  }
}

/** Sums the engine's `observe()` metrics over every Dataset action
  * (a layer's `localCheckpoint` is one) since the last [[clear]]. */
final class ObservedMetrics extends QueryExecutionListener {
  private val seen = mutable.Map.empty[String, Long]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.observedMetrics.foreach { case (name, row) =>
        if (row.length > 0 && row.get(0).isInstanceOf[Long])
          seen(name) = seen.getOrElse(name, 0L) + row.getLong(0)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def clear(): Unit = synchronized(seen.clear())
  def get(name: String): Long = synchronized(seen.getOrElse(name, 0L))
}

/** One recorded span: name, path of the span that caused it, start and
  * end on the driver clock. */
final case class SpanRec(path: String, parent: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Driver-side spans kept in memory; each span's path is published as
  * a local property so the [[TaskTracker]] attributes its jobs. */
final class Tracer(spark: SparkSession, tracker: TaskTracker,
    observed: ObservedMetrics) {
  private val sc = spark.sparkContext
  private val open = mutable.Stack.empty[String]
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val held = mutable.ArrayBuffer.empty[DataFrame]

  def span[A](name: String)(f: => A): A = {
    val parent = open.headOption.getOrElse("")
    val path = if (parent.isEmpty) name else s"$parent/$name"
    open.push(path)
    sc.setLocalProperty(Trace.SpanProp, path)
    val t0 = System.nanoTime()
    try f
    finally {
      spans += SpanRec(path, parent, t0, System.nanoTime())
      open.pop()
      sc.setLocalProperty(Trace.SpanProp, if (parent.isEmpty) null else parent)
    }
  }

  /** A layer boundary: materialize `df` inside its own span, keep the
    * blocks until [[release]]. The returned query execution holds the
    * executed plan, so its SQL metrics can be read afterwards. */
  def layer(name: String)(df: => DataFrame): (DataFrame, QueryExecution) = span(name) {
    val d = df
    val out = d.localCheckpoint()
    held += out
    (out, d.queryExecution)
  }

  /** An `observe()` metric summed over the actions since the
    * listener was last cleared. */
  def observedMetric(name: String): Long = {
    org.apache.spark.perfbench.Bus.drain(sc)
    observed.get(name)
  }

  def seconds(path: String): Double =
    spans.filter(_.path == path).map(_.seconds).sum

  /** Seconds the direct children of a span cover. */
  def childSeconds(path: String): Double =
    spans.filter(_.parent == path).map(_.seconds).sum

  def counters(path: String, descPrefix: String = ""): Counters = {
    org.apache.spark.perfbench.Bus.drain(sc)
    tracker.total(path, descPrefix)
  }

  def release(): Unit = { held.foreach(Trace.releaseCheckpoint); held.clear() }
}

object Trace extends AdaptiveSparkPlanHelper {
  val SpanProp = "perfbench.span"

  /** Rows out of the blocking join nodes of an executed plan: inner
    * equi-joins that emit an (id_a, id_b) pair. */
  def pairJoinRows(qe: QueryExecution): Long = {
    def pairs(names: Seq[String]) = names.contains("id_a") && names.contains("id_b")
    collectWithSubqueries(qe.executedPlan) {
      case j: ShuffledHashJoinExec if j.joinType == Inner && pairs(j.output.map(_.name)) =>
        j.metrics("numOutputRows").value
      case j: SortMergeJoinExec if j.joinType == Inner && pairs(j.output.map(_.name)) =>
        j.metrics("numOutputRows").value
      case j: BroadcastHashJoinExec if j.joinType == Inner &&
          j.leftKeys.exists(_.references.exists(_.name == "key")) &&
          pairs(j.output.map(_.name)) =>
        j.metrics("numOutputRows").value
    }.sum
  }

  /** Release the executor blocks behind a checkpointed frame. */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(false)
      case _ => ()
    }

  /** Storage still held by cached RDD blocks, MB. */
  def residentMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6

  def mb(bytes: Long): Double = bytes / 1e6
}
