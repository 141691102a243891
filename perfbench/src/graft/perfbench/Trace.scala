package graft.perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch milliseconds; `parent` is the id
  * of the span that caused this one; spans of one op share `op`. */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
    parent: Option[Int], op: Int)

/** Listener events delivered while one op ran. */
final class OpEvents {
  val jobs = mutable.ArrayBuffer[(Int, Long, Long)]()
  val phases = mutable.ArrayBuffer[(String, Long, Long)]()
  var stages, tasks = 0L
  var runMs, cpuNs, gcMs, waitMs, shuffleRead, shuffleWrite = 0L
  val plan = mutable.Map[String, Long]().withDefaultValue(0L)
}

/** The traced run's instrumentation, all of it outside the program: a
  * `SparkListener` (jobs, stages, task metrics), a `QueryExecutionListener`
  * (Catalyst phase times from `qe.tracker`, the executed plans' SQL
  * metrics, which carry the dwrf scan and write `CustomMetric`s) and the
  * spans the runner records around each op. Spans stay in memory until
  * [[spans]] is written out at the end. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private var cur = new OpEvents
  private val jobStarts = mutable.Map[Int, Long]()
  private val stageSubmitted = mutable.Map[(Int, Int), Long]()
  private val recorded = mutable.ArrayBuffer[Span]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def spans: Seq[Span] = recorded.toSeq

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def begin(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized { cur = new OpEvents }
  }

  /** Closes op `op` that ran over `[startMs, endMs]`: records its spans and
    * returns its layer numbers. The op's wall time splits exactly into
    * `catalyst.self_ms` (Catalyst phases not overlapped by a job),
    * `executor.job_ms` (time covered by Spark jobs) and
    * `driver.residual_ms` (the rest: driver collects, commits,
    * group-filter passes). */
  def end(op: Int, kind: String, startMs: Double, endMs: Double): Map[String, Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    val ev = synchronized(cur)
    val opSpan = span(s"op.$kind", startMs, endMs, None, op)
    ev.phases.foreach { case (p, s, e) => span(s"catalyst.$p", s, e, Some(opSpan), op) }
    ev.jobs.foreach { case (id, s, e) => span(s"executor.job$id", s, e, Some(opSpan), op) }
    def clip(iv: Seq[(Double, Double)]) =
      iv.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }.filter(x => x._2 > x._1)
    val jobIv = Intervals.union(clip(ev.jobs.map(j => (j._2.toDouble, j._3.toDouble)).toSeq))
    val catIv = Intervals.union(clip(ev.phases.collect {
      case (p, s, e) if p != "parsing" => (s.toDouble, e.toDouble)
    }.toSeq))
    val jobMs = Intervals.length(jobIv)
    val catalystSelf = Intervals.length(Intervals.subtract(catIv, jobIv))
    def phase(p: String) = ev.phases.collect { case (`p`, s, e) => (e - s).toDouble }.sum
    def m(k: String) = ev.plan(k).toDouble
    Map(
      "op.wall_ms" -> (endMs - startMs),
      "catalyst.analysis_ms" -> phase("analysis"),
      "catalyst.optimization_ms" -> phase("optimization"),
      "catalyst.planning_ms" -> phase("planning"),
      "catalyst.self_ms" -> catalystSelf,
      "executor.job_ms" -> jobMs,
      "driver.residual_ms" -> (endMs - startMs - jobMs - catalystSelf),
      "spark.jobs_per_op" -> ev.jobs.size.toDouble,
      "spark.stages_per_op" -> ev.stages.toDouble,
      "spark.tasks_per_op" -> ev.tasks.toDouble,
      "executor.run_ms" -> ev.runMs.toDouble,
      "executor.cpu_ms" -> ev.cpuNs / 1e6,
      "executor.gc_ms" -> ev.gcMs.toDouble,
      "executor.sched_delay_ms" -> ev.waitMs.toDouble,
      "shuffle.read_bytes" -> ev.shuffleRead.toDouble,
      "shuffle.write_bytes" -> ev.shuffleWrite.toDouble,
      "pruning.stripes_read" -> m("stripesRead"),
      "pruning.stripes_skipped" -> m("stripesSkipped"),
      "pruning.strides_skipped" -> m("stridesSkipped"),
      "pruning.strides_bloom_skipped" -> m("stridesBloomSkipped"),
      "pruning.rows_surfaced" -> m("scanOutputRows"),
      "reader.bytes_read" -> m("bytesRead"),
      "reader.preads" -> m("preads"),
      "reader.batches" -> m("batchesEmitted"),
      "reader.decompress_ms" -> m("decompressMs"),
      "writer.encode_ms" -> m("writeEncodeMs"),
      "writer.compress_ms" -> m("writeCompressMs"),
      "writer.flush_ms" -> m("writeFlushMs"),
      "writer.compress_blocks" -> m("writeCompressBlocks")) ++
      ev.plan.map { case (k, v) => s"plan.$k" -> v.toDouble }
  }

  def span(name: String, startMs: Double, endMs: Double, parent: Option[Int], op: Int): Int =
    synchronized {
      recorded += Span(recorded.size, name, startMs, endMs, parent, op)
      recorded.size - 1
    }

  // ------------------------------------------------------ SparkListener

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => cur.jobs += ((e.jobId, s, e.time)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmitted((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    cur.stages += 1
    stageSubmitted.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      cur.runMs += m.executorRunTime
      cur.cpuNs += m.executorCpuTime
      cur.gcMs += m.jvmGCTime
      cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      // waited = queued after its stage was submitted + Spark's scheduler
      // delay (launch-to-finish time not spent deserializing, running or
      // shipping the result)
      val queued = stageSubmitted.get((e.stageId, e.stageAttemptId))
        .map(s => math.max(0L, i.launchTime - s)).getOrElse(0L)
      val fetching = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      val delay = (i.finishTime - i.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - fetching
      cur.waitMs += queued + math.max(0L, delay)
    }
  }

  // --------------------------------------------- QueryExecutionListener

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (p, s) => cur.phases += ((p, s.startTimeMs, s.endTimeMs)) }
    visit(qe.executedPlan)
  }

  private def visit(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
    case q: QueryStageExec => visit(q.plan)
    case c: CommandResultExec => visit(c.commandPhysicalPlan)
    case _: ReusedExchangeExec => // counted where it first ran
    case node =>
      node.metrics.foreach { case (k, v) =>
        val key = node match {
          case _: DataSourceV2ScanExecBase if k == "numOutputRows" => "scanOutputRows"
          case _ => k
        }
        cur.plan(key) += v.value
      }
      node.children.foreach(visit)
      node.subqueries.foreach(visit)
  }
}

/** Interval arithmetic for self times; intervals are half-open (start, end). */
object Intervals {
  def union(iv: Seq[(Double, Double)]): Seq[(Double, Double)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def length(iv: Seq[(Double, Double)]): Double = iv.map(x => x._2 - x._1).sum

  /** `a` minus `b`, both unions. */
  def subtract(a: Seq[(Double, Double)], b: Seq[(Double, Double)]): Seq[(Double, Double)] =
    a.flatMap { case (s, e) =>
      b.foldLeft(Seq((s, e))) { case (parts, (bs, be)) =>
        parts.flatMap { case (ps, pe) =>
          Seq((ps, math.min(pe, bs)), (math.max(ps, be), pe)).filter(x => x._2 > x._1)
        }
      }
    }
}
