package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ColumnarToRowExec, CommandResultExec,
  FilterExec, InputAdapter, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing from outside the program: a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener installed by the
  * benchmark. Each operation runs under its own job group; jobs from
  * other threads (pooled futures) are attributed by time, which is sound
  * because only one operation is in flight. After each operation the
  * listener bus is drained and the executed (post-AQE) plans are read for
  * graft's scan SQL metrics.
  *
  * Spans (name, start, end, parent, op id) are kept in memory and written
  * out at the end of the run.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  private final class Job(val group: String, val start: Long,
                          val stages: Seq[Int]) { var end: Long = -1L }
  private final class Agg {
    var tasks, runMs, cpuNs, gcMs, schedDelayMs, shufW, shufR, fetchWaitMs,
      spill, recW, writeRunMs = 0L
  }

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageAgg = mutable.HashMap[Int, Agg]()
  private val stageTimes = mutable.HashMap[Int, (Long, Long)]()
  private val qes = ArrayBuffer[QueryExecution]()
  private val progress = ArrayBuffer[(Long, Long, Long)]() // end ms, ms, rows

  val spans = ArrayBuffer[Map[String, Any]]()
  private var opId = ""
  private var opKind = ""
  private var t0 = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
        .orNull
      jobs(e.jobId) = new Job(g, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val i = e.stageInfo
        stageTimes(i.stageId) =
          (i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = stageAgg.getOrElseUpdate(e.stageId, new Agg)
        val info = e.taskInfo
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
          else 0L
        a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.shufR += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.diskBytesSpilled
        a.recW += m.outputMetrics.recordsWritten
        if (m.outputMetrics.recordsWritten > 0 || m.outputMetrics.bytesWritten > 0)
          a.writeRunMs += m.executorRunTime
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      lock.synchronized { qes += qe }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit =
      lock.synchronized { qes += qe }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = Option(p.batchDuration).map(_.toLong).getOrElse(0L)
      if (p.numInputRows > 0 || ms > 0) lock.synchronized {
        progress += ((System.currentTimeMillis(), ms, p.numInputRows))
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  private def drain(): Unit =
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  def beginOp(id: String, kind: String): Unit = {
    drain() // events of the previous operation's untimed check
    lock.synchronized {
      jobs.clear(); stageAgg.clear(); stageTimes.clear(); qes.clear()
      progress.clear()
    }
    opId = id
    opKind = kind
    t0 = System.currentTimeMillis()
  }

  /** Closes the operation's span and returns its layer metrics. */
  def endOp(writes: Boolean): Map[String, Double] = {
    val t1 = System.currentTimeMillis()
    drain()
    lock.synchronized { attribute(t1, writes) }
  }

  private def attribute(t1: Long, writes: Boolean): Map[String, Double] = {
    val mine = jobs.values.filter(j =>
      j.group == opId || (j.start >= t0 && j.start <= t1)).toSeq
    val ungrouped = mine.count(_.group != opId)
    val stageIds = mine.flatMap(_.stages).toSet
    val aggs = stageIds.toSeq.flatMap(stageAgg.get)
    def sumA(f: Agg => Long): Double = aggs.map(f).sum.toDouble
    val intervals = mine.filter(_.end >= 0)
      .map(j => (math.max(j.start, t0), math.min(j.end, t1)))
      .filter { case (a, b) => b >= a }
    val jobWall = unionMs(intervals)
    val wall = (t1 - t0).toDouble
    val runMs = sumA(_.runMs)

    // the op span and its children
    span(s"op:$opKind", t0, t1, "")
    mine.foreach { j =>
      span("spark.job", j.start, if (j.end >= 0) j.end else t1, s"op:$opKind")
      j.stages.flatMap(s => stageTimes.get(s)).foreach { case (a, b) =>
        if (a >= 0 && b >= a) span("spark.stage", a, b, "spark.job")
      }
    }

    var analysis, optimization, planning = 0.0
    var c2r = 0.0
    val scan = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    qes.foreach { qe =>
      val ph = qe.tracker.phases
      def phase(n: String): Double = ph.get(n).map { p =>
        span(s"spark.$n", p.startTimeMs, p.endTimeMs, s"op:$opKind")
        p.durationMs.toDouble
      }.getOrElse(0.0)
      analysis += phase("analysis")
      optimization += phase("optimization")
      planning += phase("planning")
      val nodes = Plans.nodes(qe.executedPlan)
      c2r += nodes.count {
        case _: ColumnarToRowExec | _: InMemoryTableScanExec => true
        case _ => false
      }
      Plans.scanMetrics(nodes).foreach { case (k, v) => scan(k) += v }
    }

    val lastJobEnd = mine.map(_.end).filter(_ >= 0).foldLeft(-1L)(math.max)
    val commitMs =
      if (writes && lastJobEnd >= 0) math.max(0L, t1 - lastJobEnd).toDouble
      else 0.0
    if (commitMs > 0) span("sources.v2.commit", lastJobEnd, t1, s"op:$opKind")
    progress.foreach { case (end, ms, _) =>
      span("streaming.batch", end - ms, end, s"op:$opKind")
    }
    val sc = spark.sparkContext
    val decoded = scan("rows_decoded")
    Map(
      "spark.analysis_ms" -> analysis,
      "spark.optimization_ms" -> optimization,
      "spark.planning_ms" -> planning,
      "spark.driver_self_ms" -> math.max(0.0, wall - jobWall),
      "spark.jobs" -> mine.size.toDouble,
      "spark.jobs_ungrouped" -> ungrouped.toDouble,
      "spark.stages" -> stageIds.size.toDouble,
      "spark.tasks" -> sumA(_.tasks),
      "spark.scheduler_delay_ms" -> sumA(_.schedDelayMs),
      "spark.core_idle_ms" -> math.max(0.0, cores * jobWall - runMs),
      "spark.task_cpu_ms" -> sumA(_.cpuNs) / 1e6,
      "spark.task_run_ms" -> runMs,
      "spark.gc_ms" -> sumA(_.gcMs),
      "spark.shuffle_write_bytes" -> sumA(_.shufW),
      "spark.shuffle_read_bytes" -> sumA(_.shufR),
      "spark.shuffle_fetch_wait_ms" -> sumA(_.fetchWaitMs),
      "spark.spill_bytes" -> sumA(_.spill),
      "spark.cached_rdds_after_op" -> sc.getPersistentRDDs.size.toDouble,
      "spark.cached_mem_bytes_after_op" ->
        sc.getRDDStorageInfo.map(_.memSize).sum.toDouble,
      "spark.c2r_boundaries" -> c2r,
      "sources.v2.scan.bytes_scanned" -> scan("bytes_scanned"),
      "sources.v2.scan.io_requests" -> scan("io_requests"),
      "sources.v2.scan.files_read" -> scan("files_read"),
      "sources.v2.scan.batches" -> scan("batches"),
      "sources.v2.scan.rows_decoded" -> decoded,
      "sources.v2.scan.rows_out" -> scan("rows_out"),
      "sources.v2.scan.decode_ms" -> scan("decode_ms"),
      "sources.v2.scan.stripes_pruned" -> scan("stripes_pruned"),
      "sources.v2.scan.stripes_matched" -> scan("stripes_matched"),
      "sources.v2.scan.stats_eval_ms" -> scan("stats_eval_ms"),
      "sources.v2.scan.metadata_load_ms" -> scan("metadata_load_ms"),
      "sources.v2.scan.eq_delete_keys" -> scan("eq_delete_keys"),
      "sources.v2.scan.predicate_errors" -> scan("predicate_errors"),
      "sources.v2.scan.corrupt_files_skipped" -> scan("corrupt_files_skipped"),
      "sources.v2.write.rows" -> (if (writes) sumA(_.recW) else 0.0),
      "sources.v2.write.task_ms" -> (if (writes) sumA(_.writeRunMs) else 0.0),
      "sources.v2.commit.driver_ms" -> commitMs,
      "streaming.batches" -> progress.size.toDouble,
      "streaming.batch_ms" -> progress.map(_._2).sum.toDouble,
      "streaming.rows_in" -> progress.map(_._3).sum.toDouble)
  }

  private def span(name: String, start: Long, end: Long, parent: String): Unit =
    spans += Map("name" -> name, "start_ms" -> start, "end_ms" -> end,
      "parent" -> parent, "op" -> opId)

  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }

  /** Self time per span name: a span's duration minus the union of its
    * children's intervals within the same operation.
    */
  def selfTimes: Map[String, Double] = {
    val byOp = spans.groupBy(_("op"))
    val out = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    byOp.values.foreach { ss =>
      ss.foreach { s =>
        val name = s("name").asInstanceOf[String]
        val a = s("start_ms").asInstanceOf[Long]
        val b = s("end_ms").asInstanceOf[Long]
        val kids = ss.filter(k => (k ne s) && k("parent") == name)
          .map(k => (math.max(a, k("start_ms").asInstanceOf[Long]),
            math.min(b, k("end_ms").asInstanceOf[Long])))
          .filter { case (x, y) => y > x }.toSeq
        val layer = if (name.startsWith("op:")) "op" else name
        out(layer) += math.max(0.0, (b - a) - unionMs(kids))
      }
    }
    out.toMap
  }
}

/** Reads graft's scan SQL metrics and plan shape from executed plans. */
object Plans extends AdaptiveSparkPlanHelper {
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val roots = plan match {
      case c: CommandResultExec => Seq(c, c.commandPhysicalPlan)
      case p => Seq(p)
    }
    roots.flatMap(r => collectWithSubqueries(r) { case n => n })
  }

  private val names = Map(
    "graftBytesScanned" -> "bytes_scanned",
    "graftIoRequests" -> "io_requests",
    "graftFilesRead" -> "files_read",
    "graftBatchesProduced" -> "batches",
    "graftRowsDecoded" -> "rows_decoded",
    "graftStripesPruned" -> "stripes_pruned",
    "graftStripesMatched" -> "stripes_matched",
    "graftEqDeleteKeys" -> "eq_delete_keys",
    "graftPredicateEvalErrors" -> "predicate_errors",
    "graftCorruptFilesSkipped" -> "corrupt_files_skipped")
  private val nanos = Map(
    "graftDecodeNs" -> "decode_ms",
    "graftStatsEvalNs" -> "stats_eval_ms",
    "graftMetadataLoadNs" -> "metadata_load_ms")

  private def isGraftScan(p: SparkPlan): Boolean = p match {
    case b: BatchScanExec => b.metrics.keySet.exists(_.startsWith("graft"))
    case _ => false
  }

  private def directScan(p: SparkPlan): Option[SparkPlan] = p match {
    case b if isGraftScan(b) => Some(b)
    case c: ColumnarToRowExec => directScan(c.child)
    case i: InputAdapter => directScan(i.child)
    case _ => None
  }

  def scanMetrics(ns: Seq[SparkPlan]): Map[String, Double] = {
    val out = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    ns.filter(isGraftScan).foreach { b =>
      b.metrics.foreach { case (k, m) =>
        names.get(k).foreach(n => out(n) += m.value.toDouble)
        nanos.get(k).foreach(n => out(n) += m.value / 1e6)
      }
    }
    // rows leaving the row filter right above a scan, or the scan itself
    // when nothing filters it
    val filtered = mutable.HashSet[SparkPlan]()
    ns.foreach {
      case f: FilterExec => directScan(f.child).foreach { b =>
        filtered += b
        out("rows_out") += f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }
      case _ =>
    }
    ns.filter(b => isGraftScan(b) && !filtered.contains(b)).foreach { b =>
      out("rows_out") += b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
    out.toMap
  }
}
