package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.sql.SparkSession

/** How an operation's output was judged. `Pending` carries a result hash
  * that the runner script resolves against DuckDB or the exact pair set.
  */
sealed trait Verdict
case object Ok extends Verdict
final case class Bad(msg: String) extends Verdict
final case class Pending(hash: String) extends Verdict

/** One client operation. `run` is the timed call; `check` runs after the
  * clock stops and judges what `run` returned. `rows` counts the rows a
  * write submits.
  */
final case class Op(kind: String, run: () => Any, check: Any => Verdict,
                    writes: Boolean = false, rows: Long = 0L)

final case class OpRec(id: String, kind: String, phase: String, round: Int,
                       ms: Double, cpuMs: Double,
                       status: String, msg: String, hash: String,
                       writes: Boolean,
                       var layer: Map[String, Double] = Map.empty) {
  def toMap: Map[String, Any] = Map(
    "id" -> id, "kind" -> kind, "phase" -> phase, "round" -> round,
    "ms" -> ms, "cpu_ms" -> cpuMs, "status" -> status, "msg" -> msg,
    "hash" -> hash, "writes" -> writes, "layer" -> layer)
}

trait Workload {
  /** Rounds the timed phase runs per `--seconds`: the work is fixed for a
    * given duration, so a faster program finishes the same rounds sooner
    * instead of running a different mix.
    */
  def nominalRoundS: Double
  def warmupRounds: Int = 1
  def setupReps: Int = 2
  /** Builds inputs and table layout from scratch; timed as set-up. */
  def setup(rep: Int): Unit
  /** Untimed work after the last set-up (baselines, expected state). */
  def afterSetup(): Unit = ()
  /** The round's operations in their seeded order. Each factory runs
    * untimed just before its operation, so it sees the state left by the
    * operations before it.
    */
  def round(r: Int, rng: Random): Seq[() => Op]
  /** Untimed hook after each operation and its check. */
  def afterOp(op: Op, rec: OpRec): Unit = ()
  /** Workload metrics of one phase, read right after it. */
  def phaseMetrics(phase: String): Map[String, Double] = Map.empty
  /** Untimed end-of-run checks and workload metrics. */
  def finish(): Map[String, Any] = Map.empty
  /** Layer metrics read once at the end of a traced run. */
  def layerAtEnd(): Map[String, Double] = Map.empty
}

object Proc {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  private def statusKb(key: String): Double = Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(-1.0)
    finally src.close()
  }.getOrElse(-1.0)

  def vmHwmMb: Double = statusKb("VmHWM") / 1024.0

  def loadavg: String = Try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim finally src.close()
  }.getOrElse("")
}

/** The closed loop: one client, one operation in flight, the next starts
  * when the previous returns. Checks and hooks run with the clock stopped.
  */
final class Runner(spark: SparkSession, wl: Workload, seed: Long) {
  private var opSeq = 0L
  private var nextRound = 0

  def rng(r: Int): Random = new Random(seed * 1000003L + r * 7919L + 17L)

  def rounds(seconds: Int): Int =
    math.max(1, math.ceil(seconds / wl.nominalRoundS).toInt)

  def phase(label: String, nRounds: Int,
            tracer: Option[Tracer]): ArrayBuffer[OpRec] = {
    val recs = ArrayBuffer[OpRec]()
    val sc = spark.sparkContext
    (0 until nRounds).foreach { _ =>
      val r = nextRound
      nextRound += 1
      wl.round(r, rng(r)).foreach { factory =>
        val op = factory()
        opSeq += 1
        val id = f"op-$opSeq%05d"
        sc.setJobGroup(id, op.kind, interruptOnCancel = false)
        tracer.foreach(_.beginOp(id, op.kind))
        val cpu0 = Proc.cpuNs
        val t0 = System.nanoTime()
        val res = Try(op.run())
        val t1 = System.nanoTime()
        val cpu1 = Proc.cpuNs
        sc.clearJobGroup()
        val layer = tracer.map(_.endOp(op.writes)).getOrElse(Map.empty)
        val verdict = res match {
          case Success(v) => Try(op.check(v)) match {
            case Success(x) => x
            case Failure(e) => Bad(s"check threw: ${short(e)}")
          }
          case Failure(e) => Bad(s"error: ${short(e)}")
        }
        val (status, msg, hash) = verdict match {
          case Ok => ("ok", "", "")
          case Bad(m) => ("bad", m, "")
          case Pending(h) => ("pending", "", h)
        }
        val rec = OpRec(id, op.kind, label, r, (t1 - t0) / 1e6,
          (cpu1 - cpu0) / 1e6, status, msg, hash, op.writes, layer)
        if (status == "bad") System.err.println(s"[perfbench] $id ${op.kind}: $msg")
        wl.afterOp(op, rec)
        recs += rec
      }
    }
    recs
  }

  private def short(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("")}"
      .take(400)
  }
}
