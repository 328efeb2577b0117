package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generators for the TPC-H-like star schema, the document corpus
  * and the embedding table the graft queries read. Every value is a hash
  * of (seed, column salt, row id), so the same seed gives the same rows
  * whatever the partitioning. Schemas match the tables `graft.Tables`
  * loads.
  */
object Gen {
  val Parts = 20000L
  val Suppliers = 1000L
  val Customers = 15000L
  val Vocab = 20000L
  val Dim = 64

  private def h(seed: Long, salt: Int, cs: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cs): _*)
  private def u(seed: Long, salt: Int, n: Long, cs: Column*): Column =
    pmod(h(seed, salt, cs: _*), lit(n))
  private def pick(seed: Long, salt: Int, vals: Seq[String], cs: Column*): Column =
    element_at(array(vals.map(lit): _*), (u(seed, salt, vals.size, cs: _*) + 1).cast("int"))
  private def day(offset: Column): Column =
    date_add(lit("1992-01-01").cast("date"), offset.cast("int")).cast("timestamp")

  private val Cutoff = 2343 // 1998-06-01 as a day offset

  /** Four lines per order, ordered by `l_orderkey` within and across the
    * range partitions of `spark.range`, so a write keeps the key order.
    */
  def lineitem(s: SparkSession, seed: Long, orders: Long, parts: Int): DataFrame = {
    val id = col("id")
    val d = u(seed, 4, 2526, id)
    s.range(0, orders * 4, 1, parts).select(
      floor(id / 4).cast("long").as("l_orderkey"),
      u(seed, 1, Parts, id).as("l_partkey"),
      u(seed, 2, Suppliers, id).as("l_suppkey"),
      (pmod(id, lit(4L)) + 1).cast("int").as("l_linenumber"),
      (u(seed, 3, 50, id) + 1).cast("double").as("l_quantity"),
      (u(seed, 6, 11, id) / 100.0).as("l_discount"),
      (u(seed, 7, 9, id) / 100.0).as("l_tax"),
      when(d > Cutoff, "N").when(u(seed, 5, 2, id) === 0, "R").otherwise("A")
        .as("l_returnflag"),
      when(d > Cutoff, "O").otherwise("F").as("l_linestatus"),
      day(d).as("l_shipdate"))
      .withColumn("l_extendedprice", round(col("l_quantity") *
        (lit(900.0) + pmod(col("l_partkey"), lit(1000L)) / 10.0), 2))
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
  }

  def orders(s: SparkSession, seed: Long, n: Long, parts: Int): DataFrame = {
    val id = col("id")
    s.range(0, n, 1, parts).select(
      id.as("o_orderkey"),
      u(seed, 11, Customers, id).as("o_custkey"),
      pick(seed, 12, Seq("F", "O", "P"), id).as("o_orderstatus"),
      (u(seed, 13, 50000000L, id) / 100.0 + 1000.0).as("o_totalprice"),
      day(u(seed, 14, 2406, id)).as("o_orderdate"),
      pick(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW"), id).as("o_orderpriority"))
  }

  def part(s: SparkSession, seed: Long): DataFrame = {
    val id = col("id")
    s.range(0, Parts, 1, 2).select(
      id.as("p_partkey"),
      concat(pick(seed, 21, Seq("large", "small", "hot", "blue", "shiny"), id),
        lit(" "), pick(seed, 22, Seq("ring", "bolt", "anvil", "widget"), id))
        .as("p_name"),
      concat(lit("Brand#"), (u(seed, 23, 25, id) + 1).cast("string"))
        .as("p_brand"),
      pick(seed, 24, Seq("ECONOMY", "LARGE", "SMALL", "STANDARD", "MEDIUM",
        "PROMO"), id).as("p_type"),
      (u(seed, 25, 50, id) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(id, lit(1000L)) / 10.0, 2).as("p_retailprice"))
  }

  def customer(s: SparkSession, seed: Long, from: Long, n: Long): DataFrame = {
    val id = col("id")
    s.range(from, from + n, 1, 2).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      u(seed, 31, 25, id).cast("int").as("c_nationkey"),
      ((u(seed, 32, 1100000L, id) - 99999) / 100.0).as("c_acctbal"),
      pick(seed, 33, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY"), id).as("c_mktsegment"))
  }

  /** Documents in families of eight: member 0 is a base text; each other
    * member is, with probability 1/4, a copy of the base with a seeded
    * share of its words replaced (0 to 40%), else an unrelated text. So
    * the corpus holds near-duplicate pairs on both sides of Jaccard 0.4.
    */
  def documents(s: SparkSession, seed: Long, from: Long, n: Long,
                parts: Int): DataFrame = {
    val id = col("id")
    val family = id.bitwiseAND(lit(-8L))
    val isVariant = pmod(id, lit(8L)) =!= 0 && u(seed, 41, 4, id) === 0
    val tmpl = when(isVariant, family).otherwise(id)
    val rate = element_at(array(Seq(0, 30, 80, 150, 250, 400).map(lit): _*),
      (u(seed, 45, 6, id) + 1).cast("int"))
    val len = (u(seed, 44, 80, col("tmpl")) + 20).cast("int")
    def word(w: Column): Column = concat(lit("w"), w.cast("string"))
    s.range(from, from + n, 1, parts)
      .select(id, tmpl.as("tmpl"), when(isVariant, rate).otherwise(0).as("rate"))
      .select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), len - 1), i =>
          when(u(seed, 46, 1000, col("id"), i) < col("rate"),
            word(u(seed, 47, Vocab, col("id"), i)))
            .otherwise(word(u(seed, 43, Vocab, col("tmpl"), i))))).as("text"),
        pick(seed, 48, Seq("en", "de", "zh", "fr", "es"), col("id")).as("lang"),
        concat(lit("src"), u(seed, 49, 20, col("id")).cast("string"))
          .as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Ten labelled clusters: a seeded centre per label plus per-vector
    * noise, 64 float dimensions.
    */
  def embeddings(s: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    s.range(0, n, 1, 2)
      .select(id.as("vec_id"), u(seed, 51, 10, id).cast("int").as("label"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(Dim - 1)), j =>
          ((u(seed, 52, 3001, col("label"), j) - 1500) / 10000.0 +
            (u(seed, 53, 2001, col("vec_id"), j) - 1000) / 10000.0)
            .cast("float")).as("embedding"),
        col("label"))
  }
}
