package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One workload, one seed: set up, warm up, and run the timed rounds in a
  * closed loop; with tracing on, the timed rounds alternate between
  * untraced and traced. Raw per-operation records, set-up times, layer
  * metrics and ambient context go to a detail JSON file that `run.py`
  * turns into the result.
  *
  *   Main --workload query_mix --seed 1 --seconds 18 --trace 0
  *        --work <dir> --out <file>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a.get("trace").contains("1")
    val work = new File(a("work")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors

    val loadStart = Proc.loadavg
    val wall = mutable.LinkedHashMap[String, Double]()
    var mark = System.nanoTime()
    def lap(name: String): Unit = {
      val now = System.nanoTime()
      wall(name) = (now - mark) / 1e9
      mark = now
    }
    val spark = session(cores, work)
    lap("session")
    val sessionS = wall("session")
    try {
      val wl: Workload = workload match {
        case "scan_x10" => new ScanX10(spark, seed, work)
        case "query_mix" => new QueryMix(spark, seed, work)
        case "lakehouse_rw" => new LakehouseRw(spark, seed, work)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val reps = (1 to wl.setupReps).map { rep =>
        val s0 = System.nanoTime()
        wl.setup(rep)
        (System.nanoTime() - s0) / 1e9
      }
      val setupS = sessionS + median(reps)
      lap("setup")
      wl.afterSetup()
      val ctl = controls(spark, work)
      lap("after_setup")
      val runner = new Runner(spark, wl, seed)
      val rounds = runner.rounds(seconds)
      val ops = mutable.ArrayBuffer[OpRec]()
      ops ++= runner.phase("warmup", wl.warmupRounds, None)
      lap("warmup")
      val phaseMetrics = mutable.LinkedHashMap[String, Map[String, Double]]()
      var layer = Map.empty[String, Double]
      var selfTimes = Map.empty[String, Double]
      if (!trace) {
        ops ++= runner.phase("timed", rounds, None)
        lap("timed")
      } else {
        // the same number of rounds, alternating untraced and traced (at
        // least one of each), so both see the same warmth and table state;
        // their difference is the tracing overhead
        val tracer = new Tracer(spark, cores)
        val traced = mutable.ArrayBuffer[OpRec]()
        (0 until math.max(2, rounds)).foreach { i =>
          if (i % 2 == 0) ops ++= runner.phase("timed", 1, None)
          else {
            tracer.install()
            traced ++= runner.phase("traced", 1, Some(tracer))
            tracer.uninstall()
          }
        }
        ops ++= traced
        lap("timed_and_traced")
        layer = Layers.aggregate(traced.toSeq) ++ wl.layerAtEnd() ++
          wl.phaseMetrics("traced").map { case (k, v) => s"sources.v2.$k" -> v }
        phaseMetrics("traced") = wl.phaseMetrics("traced")
        selfTimes = tracer.selfTimes
        writeLines(s"$work/spans.jsonl", tracer.spans.map(Json(_)))
      }
      phaseMetrics("timed") = wl.phaseMetrics("timed")
      val fin = wl.finish()
      lap("finish")
      val detail = Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "rounds" -> rounds, "trace" -> trace,
        "setup_s" -> setupS, "session_s" -> sessionS, "setup_reps_s" -> reps,
        "rss_peak_mb" -> Proc.vmHwmMb, "wall_s" -> wall,
        "ops" -> ops.map(_.toMap),
        "phase_metrics" -> phaseMetrics,
        "layer" -> layer, "self_ms" -> selfTimes,
        "finish" -> fin,
        "context" -> Map(
          "nproc" -> cores,
          "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
          "spark_version" -> spark.version,
          "seed" -> seed,
          "loadavg_start" -> loadStart, "loadavg_end" -> Proc.loadavg,
          "control" -> ctl))
      writeLines(a("out"), Seq(Json(detail)))
    } finally spark.stop()
  }

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/streaming")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One CPU-bound and one commit-bound control sample: if both drift
    * together the host is busy; if only the commit one does, the disk is.
    */
  private def controls(spark: SparkSession, work: String): Map[String, Double] = {
    val t0 = System.nanoTime()
    spark.range(1L << 22).agg(sum(col("id"))).collect()
    val cpuMs = (System.nanoTime() - t0) / 1e6
    val t1 = System.nanoTime()
    val commitMs = Try {
      spark.range(128).selectExpr("id", "id * 3 AS v").coalesce(1)
        .write.format("graft-orc").option("graft.manifest", "true")
        .mode("overwrite").save(s"$work/control")
      (System.nanoTime() - t1) / 1e6
    }.getOrElse(-1.0)
    Map("cpu_ms" -> cpuMs, "commit_ms" -> commitMs)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def writeLines(path: String, lines: Iterable[String]): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}

/** Turns the traced phase's per-operation layer records into per-layer
  * metrics: means per operation, except where the name says otherwise.
  */
object Layers {
  def aggregate(ops: Seq[OpRec]): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    def total(k: String, of: Seq[OpRec] = ops): Double =
      of.map(_.layer.getOrElse(k, 0.0)).sum
    val keys = ops.flatMap(_.layer.keys).distinct
    val perOp = keys.map(k => k -> total(k) / n).toMap
    val writes = ops.filter(_.writes)
    val nw = math.max(1, writes.size).toDouble
    val writeKeys = keys.filter(k => k.startsWith("sources.v2.write.") ||
      k == "sources.v2.commit.driver_ms")
    val compacts = ops.filter(_.kind == "compact")
    val batches = total("streaming.batches")
    val decoded = total("sources.v2.scan.rows_decoded")
    val kindMs = QueryMix.kinds.map { k =>
      val of = ops.filter(_.kind == k)
      s"operators.$k.ms" -> (if (of.isEmpty) 0.0 else of.map(_.ms).sum / of.size)
    }
    perOp ++ writeKeys.map(k => k -> total(k, writes) / nw) ++ kindMs ++ Map(
      "sources.v2.scan.rows_out_per_decoded" ->
        (if (decoded > 0) total("sources.v2.scan.rows_out") / decoded else 0.0),
      "sources.v2.maint.compact_ms" ->
        (if (compacts.isEmpty) 0.0 else compacts.map(_.ms).sum / compacts.size),
      "streaming.batch_ms" ->
        (if (batches > 0) total("streaming.batch_ms") / batches else 0.0))
  }
}
