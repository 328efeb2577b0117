package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** `query_mix`: `SparkEntry` queries, LLM-data operators and a cached aggregate
  * over seeded sf0.1-sized tables. Fixed per-query cost, shuffles and
  * operator CPU dominate; scans are small.
  *
  * Outputs are judged by the runner script: queries with a
  * `SparkEntry.oracleSql` entry against DuckDB over the same parquet,
  * `dd_minhash_lsh` against the exact Jaccard pairs, the rest by
  * invariants plus a result hash that must repeat on every execution.
  */
final class QueryMix(spark: SparkSession, seed: Long, work: String)
    extends Workload {
  val nominalRoundS = 15.0

  val Orders = 150000L
  val Docs = 5000L
  val Vectors = 2000L

  import QueryMix.kinds

  var dir: String = _
  private var cached: DataFrame = _
  private val results = mutable.LinkedHashMap[String, (Seq[String], Array[Row])]()

  def setup(rep: Int): Unit = {
    dir = s"$work/query_mix/rep$rep"
    def save(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    save(Gen.lineitem(spark, seed, Orders, 4), "lineitem")
    save(Gen.orders(spark, seed, Orders, 2), "orders")
    save(Gen.part(spark, seed), "part")
    save(Gen.documents(spark, seed, 0, Docs, 2), "documents")
    save(Gen.embeddings(spark, seed, Vectors), "embeddings")
  }

  /** The mem-table pattern: cache lineitem once, aggregate from memory on
    * every execution. The reversed projection keeps this cache private.
    */
  private def cachedAggregate(): DataFrame = {
    if (cached == null) {
      val src = spark.read.parquet(s"$dir/lineitem.parquet")
      cached = src.select(src.columns.reverse.toSeq.map(col): _*).cache()
    }
    cached.groupBy(col("l_returnflag")).agg(avg(col("l_quantity")).as("a"))
      .orderBy(col("l_returnflag"))
  }

  def round(r: Int, rng: Random): Seq[() => Op] =
    rng.shuffle(kinds).map { k => () =>
      Op(k,
        () => (if (k == "cached_aggregate") cachedAggregate()
               else SparkEntry.queries(k)(spark, dir)).collect(),
        res => {
          val rs = res.asInstanceOf[Array[Row]]
          if (!results.contains(k)) {
            val cols = if (rs.nonEmpty && rs.head.schema != null)
              rs.head.schema.fieldNames.toSeq else Nil
            results(k) = (cols, rs)
          }
          Pending(Checks.hash(rs))
        })
    }

  override def finish(): Map[String, Any] = {
    val oracles = SparkEntry.oracleSql
    Map(
      "data_dir" -> dir,
      "results" -> results.map { case (k, (cols, rs)) =>
        k -> Map("columns" -> cols, "rows" -> Checks.rows(rs),
          "hash" -> Checks.hash(rs),
          "oracle" -> (if (k == "cached_aggregate")
            Some("SELECT l_returnflag, avg(l_quantity) AS a FROM lineitem " +
              "GROUP BY 1 ORDER BY 1")
          else oracles.get(k)))
      },
      "sizes" -> Map("lineitem" -> Orders * 4, "orders" -> Orders,
        "part" -> Gen.Parts, "documents" -> Docs, "embeddings" -> Vectors))
  }

  /** Candidate and kept pairs of the MinHash LSH, read once after the
    * traced phase through the public LSH entry points.
    */
  override def layerAtEnd(): Map[String, Double] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val sigs = graft.functions.TextHashFunctions
      .minhashSignatures(docs, "doc_id", "text", 32)
    val cand = graft.operators.Dedup.lshCandidates(sigs).count().toDouble
    val kept = results.get("dd_minhash_lsh").map(_._2.length.toDouble)
      .getOrElse(0.0)
    Map("operators.dedup.candidate_pairs" -> cand,
      "operators.dedup.pairs_kept" -> kept,
      "operators.dedup.kept_per_candidate" ->
        (if (cand > 0) kept / cand else 0.0))
  }
}

object QueryMix {
  val kinds: Seq[String] = Seq("q01_pricing_summary", "q09_count_distinct",
    "q35_grouping_sets_join", "q40_exact_aggs", "q89_channel_union_report",
    "dd_minhash_lsh", "dd_semdedup", "ss_ann_ivf_det", "ta_perplexity_det",
    "cached_aggregate")
}
