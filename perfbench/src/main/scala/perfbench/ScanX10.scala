package perfbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `scan_x10`: the connector read path over a ×10 lineitem written once
  * through `graft-orc` with a manifest, range-ordered on `l_orderkey`, with
  * a bloom filter on `bk`. Decode and stripe pruning dominate; planning is
  * a small share.
  *
  * Scans and filters go to the `noop` sink with an observed row count;
  * the aggregates and the 100-row limit return their rows. Each execution is
  * checked against Spark's built-in ORC reader over the same files, whose
  * answers are computed once after set-up.
  */
final class ScanX10(spark: SparkSession, seed: Long, work: String)
    extends Workload {
  val nominalRoundS = 4.5
  // a round is short, and after one the JIT is still compiling the decode
  // and pruning paths: the first timed round ran 10-15% slower than the
  // second
  override val warmupRounds = 2

  val Orders = 1500000L // ×10 of sf0.1: 6M lines
  var dir: String = _

  private val rnd = new Random(seed)
  private val eqKey = (rnd.nextDouble() * Orders).toLong
  private val rangeLo = (rnd.nextDouble() * Orders * 0.9).toLong
  private val rangeHi = rangeLo + Orders / 50
  private val bloomKey = (rnd.nextDouble() * Orders).toLong
  private val bloomProbe = java.lang.Math.floorMod(bloomKey * 2654435761L,
    1000000007L)
  private val qtyCut = 10 + rnd.nextInt(30)
  private val flag = Seq("A", "N", "R")(rnd.nextInt(3))
  private def eqCond = col("l_orderkey") === eqKey
  private def rangeCond = col("l_orderkey").between(rangeLo, rangeHi)
  private def bloomCond = col("bk") === bloomProbe

  def setup(rep: Int): Unit = {
    dir = s"$work/scan_x10/rep$rep"
    Gen.lineitem(spark, seed, Orders, 8)
      .withColumn("bk", pmod(col("l_orderkey") * lit(2654435761L),
        lit(1000000007L)))
      .write.format("graft-orc")
      .option("graft.manifest", "true")
      .option("orc.bloom.filter.columns", "bk")
      .option("orc.stripe.size", (8L << 20).toString)
      .mode("overwrite").save(dir)
  }

  private def graftDf: DataFrame = spark.read.format("graft-orc").load(dir)
  // written once, so every data file of the layout is live
  private def builtinDf: DataFrame = spark.read.orc(s"$dir/w-*/*.orc")

  /** name -> (query over a reader, goes to the noop sink?) */
  private val shapes: Seq[(String, DataFrame => DataFrame, Boolean)] = Seq(
    ("full_scan", df => df, true),
    ("project_one", df => df.select("l_extendedprice"), true),
    ("filter_eq", df => df.filter(eqCond), true),
    ("filter_range", df => df.filter(rangeCond), true),
    ("bloom_lookup", df => df.filter(bloomCond), true),
    ("filter_agg", df => df.filter(col("l_returnflag") === flag)
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q")), false),
    ("proj_filter_limit", df => df.select("l_orderkey", "l_quantity")
      .filter(col("l_quantity") > qtyCut).limit(100), false))

  private var expected: Map[String, Any] = Map.empty

  override def afterSetup(): Unit = {
    // every expected count and aggregate from one pass of the built-in
    // reader; the filtered rows' content compared by checksum per filter
    def n(c: Column) = count(when(c, 1))
    val flagged = col("l_returnflag") === flag
    val b = builtinDf
    val r = b.agg(count(lit(1)), n(eqCond), n(rangeCond), n(bloomCond),
      n(flagged), sum(when(flagged, col("l_quantity"))),
      n(col("l_quantity") > qtyCut)).head()
    expected = Map("full_scan" -> r.getLong(0), "project_one" -> r.getLong(0),
      "footer_count" -> r.getLong(0), "filter_eq" -> r.getLong(1),
      "filter_range" -> r.getLong(2), "bloom_lookup" -> r.getLong(3),
      "filter_agg" -> Seq(Row(r.getLong(4), r.getDouble(5))),
      "proj_filter_limit" -> math.min(100L, r.getLong(6)))
    def digest(df: DataFrame): Row = df.agg(count(lit(1)),
      sum(pmod(xxhash64(df.columns.toSeq.map(col): _*), lit(1L << 31)))).head()
    Seq("filter_eq" -> eqCond, "filter_range" -> rangeCond,
      "bloom_lookup" -> bloomCond).foreach { case (k, c) =>
      contentOk(k) = digest(graftDf.filter(c)) == digest(b.filter(c))
    }
  }

  private val contentOk = scala.collection.mutable.HashMap[String, Boolean]()

  private def countOp(k: String, f: DataFrame => DataFrame): Op = {
    val ob = Observation(k)
    Op(k,
      () => {
        f(graftDf).observe(ob, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        ob
      },
      _ => {
        val n = ob.get("n").asInstanceOf[Long]
        val want = expected(k).asInstanceOf[Long]
        if (n != want) Bad(s"rows $n, built-in reader $want")
        else if (!contentOk.getOrElse(k, true)) Bad("content differs")
        else Ok
      })
  }

  def round(r: Int, rng: Random): Seq[() => Op] = {
    val ops: Seq[() => Op] = shapes.map { case (k, f, noop) => () =>
      if (noop) countOp(k, f)
      else if (k == "proj_filter_limit") Op(k, () => f(graftDf).collect(), res => {
        val rs = res.asInstanceOf[Array[Row]]
        if (rs.length != expected(k).asInstanceOf[Long]) Bad(s"rows ${rs.length} vs ${expected(k)}")
        else if (!rs.forall(_.getDouble(1) > qtyCut)) Bad("row fails the filter")
        else Ok
      })
      else Op(k, () => f(graftDf).collect(), res => {
        val got = res.asInstanceOf[Array[Row]].toSeq
        val want = expected(k).asInstanceOf[Seq[Row]]
        if (sameRows(got, want)) Ok else Bad(s"$got vs $want")
      })
    } :+ (() => Op("footer_count",
      () => spark.read.format("graft-orc")
        .option("orc.aggregate_pushdown", "true").load(dir)
        .agg(count(lit(1)).as("n")).collect(),
      res => {
        val n = res.asInstanceOf[Array[Row]].head.getLong(0)
        if (n == expected("footer_count").asInstanceOf[Long]) Ok
        else Bad(s"count $n vs ${expected("footer_count")}")
      }))
    rng.shuffle(ops)
  }

  private def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.length == y.length && (0 until x.length).forall { i =>
        (x.get(i), y.get(i)) match {
          case (p: Double, q: Double) =>
            math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(q))
          case (p, q) => p == q
        }
      }
    }

  override def finish(): Map[String, Any] = Map(
    "rows" -> Orders * 4, "table_bytes" -> Fs.treeBytes(spark, dir),
    "constants" -> Map("eq_key" -> eqKey, "range" -> Seq(rangeLo, rangeHi),
      "bloom_key" -> bloomKey, "qty_cut" -> qtyCut, "flag" -> flag),
    "content_checks" -> contentOk.toMap)
}
