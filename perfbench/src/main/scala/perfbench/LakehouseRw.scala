package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.IngestDedup

/** Recursive listing of a table directory. */
object Fs {
  def files(spark: SparkSession, dir: String): Map[String, Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Map.empty
    val it = fs.listFiles(p, true)
    val out = mutable.HashMap[String, Long]()
    while (it.hasNext) {
      val f = it.next()
      out(f.getPath.toString) = f.getLen
    }
    out.toMap
  }

  def treeBytes(spark: SparkSession, dir: String): Long = files(spark, dir).values.sum
}

/** `lakehouse_rw`: one long-lived merge-on-read manifest table in a
  * `GraftOrcCatalog`, seeded from `customer`. Each round appends, upserts
  * with MERGE (half existing keys, half new), deletes, reads two points and
  * a range over the deletion vectors, and lands one crawl commit that
  * `IngestDedup.ingest` folds into a clean table, then compacts and
  * expires snapshots, so every round is one full maintenance cycle.
  *
  * An expected-state model checks row count and an order-independent key
  * checksum after every commit, and every read against the model.
  */
final class LakehouseRw(spark: SparkSession, seed: Long, work: String)
    extends Workload {
  val nominalRoundS = 6.0
  // after one round every kind still ran 10-40% slower in the first timed
  // round than in the second
  override val warmupRounds = 2

  val SeedRows = 15000L
  val Batch = 200
  val CrawlDocs = 200L

  private var cat: String = _
  private var wh: String = _
  private def table = s"$cat.db.cust"
  private def clean = s"$cat.db.clean"
  private def tableDir = s"$wh/db/cust"
  private def crawlDir = s"$wh/crawl"
  private def ckpt = s"$wh/ckpt"

  // expected state: key -> version; clean table: text -> min doc id
  private val model = mutable.HashMap[Long, Long]()
  private var nextKey = 0L
  private var nextDoc = 0L
  private val cleanModel = mutable.HashMap[String, Long]()

  // write accounting for write_amp / space_amp
  private var seen: Map[String, Long] = Map.empty
  private var plainBytesPerRow = 0.0
  private val newBytes = mutable.HashMap[String, Long]().withDefaultValue(0L)
  private val submittedRows = mutable.HashMap[String, Long]().withDefaultValue(0L)
  private val compactions = mutable.HashMap[String, Int]().withDefaultValue(0)
  private val maint = mutable.HashMap[String, Double]()

  def setup(rep: Int): Unit = {
    cat = s"lh$rep"
    wh = s"$work/lakehouse_rw/rep$rep"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftOrcCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $table (c_custkey BIGINT, c_name STRING, " +
      "c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING, ver BIGINT) " +
      "TBLPROPERTIES('graft.delete_mode'='mor', 'graft.update_mode'='mor', " +
      "'graft.merge_mode'='mor')")
    Gen.customer(spark, seed, 0, SeedRows).withColumn("ver", lit(0L))
      .writeTo(table).append()
    spark.sql(s"CREATE TABLE $clean (fp BIGINT, doc_id BIGINT, src STRING, " +
      "n_chars BIGINT, fpb INT) PARTITIONED BY (fpb) " +
      "TBLPROPERTIES('graft.merge_mode'='mor', " +
      "'graft.distribution_mode'='hash')")
  }

  override def afterSetup(): Unit = {
    model.clear()
    (0L until SeedRows).foreach(k => model(k) = 0L)
    nextKey = SeedRows
    // the plain-ORC baseline: the seed rows written once, no manifest
    val plain = s"$wh/../plain_orc"
    Gen.customer(spark, seed, 0, SeedRows).withColumn("ver", lit(0L))
      .coalesce(1).write.mode("overwrite").orc(plain)
    plainBytesPerRow = Fs.files(spark, plain)
      .filter(_._1.endsWith(".orc")).values.sum.toDouble / SeedRows
    seen = Fs.files(spark, tableDir)
  }

  /** Generated rows materialised on the driver before the clock starts,
    * so a write op times the write and not the generator.
    */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  private def rowsOf(from: Long, n: Long, ver: Long): DataFrame =
    local(Gen.customer(spark, seed, from, n).withColumn("ver", lit(ver)))

  private def keysDf(keys: Seq[Long], ver: Long): DataFrame = {
    val lo = keys.min
    local(Gen.customer(spark, seed, lo, keys.max - lo + 1)
      .filter(col("c_custkey").isin(keys: _*)).withColumn("ver", lit(ver)))
  }

  private def tableCheck(): Verdict = {
    val r = spark.sql(s"SELECT count(*), " +
      s"coalesce(sum(pmod(c_custkey * 2654435761 + ver, 1000000007)), 0) " +
      s"FROM $table").head()
    val want = model.foldLeft(0L) { case (a, (k, v)) => a + Checks.term(k, v) }
    if (r.getLong(0) != model.size) Bad(s"rows ${r.getLong(0)} vs model ${model.size}")
    else if (r.getLong(1) != want) Bad(s"checksum ${r.getLong(1)} vs $want")
    else Ok
  }

  private def cleanCheck(): Verdict = {
    val r = spark.sql(s"SELECT count(*), coalesce(sum(doc_id), 0) FROM $clean").head()
    val want = cleanModel.values.sum
    if (r.getLong(0) != cleanModel.size)
      Bad(s"clean rows ${r.getLong(0)} vs model ${cleanModel.size}")
    else if (r.getLong(1) != want) Bad(s"clean doc-id sum ${r.getLong(1)} vs $want")
    else Ok
  }

  private def commitOp(kind: String, submitted: Long)(body: => Any)
                      (apply: => Unit): Op =
    Op(kind, () => body, _ => { apply; tableCheck() }, writes = true,
      rows = submitted)

  def round(r: Int, rng: Random): Seq[() => Op] = {
    val ver = r.toLong + 1
    val append = () => {
      val from = nextKey
      nextKey += Batch
      commitOp("append", Batch)(rowsOf(from, Batch, ver).writeTo(table).append()) {
        (from until from + Batch).foreach(k => model(k) = ver)
      }
    }
    val merge = () => {
      val live = model.keysIterator.toArray
      val old = Seq.fill(Batch / 2)(live(rng.nextInt(live.length))).distinct
      val from = nextKey
      nextKey += Batch / 2
      val fresh = from until from + Batch / 2
      val src = keysDf(old, ver + 1000).unionByName(rowsOf(from, Batch / 2, ver + 1000))
      commitOp("merge", old.size + fresh.size) {
        src.createOrReplaceTempView("pb_src")
        spark.sql(s"MERGE INTO $table t USING pb_src s " +
          "ON t.c_custkey = s.c_custkey " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      } { (old ++ fresh).foreach(k => model(k) = ver + 1000) }
    }
    val delete = () => {
      val live = model.keysIterator.toArray
      val keys = Seq.fill(Batch / 2)(live(rng.nextInt(live.length))).distinct
      commitOp("delete", 0)(spark.sql(
        s"DELETE FROM $table WHERE c_custkey IN (${keys.mkString(",")})")) {
        keys.foreach(model.remove)
      }
    }
    val point = () => {
      val live = model.keysIterator.toArray
      val k = live(rng.nextInt(live.length))
      Op("point_read", () => spark.sql(
        s"SELECT c_custkey, ver FROM $table WHERE c_custkey = $k").collect(),
        res => {
          val rs = res.asInstanceOf[Array[Row]]
          if (rs.length == 1 && rs.head.getLong(1) == model(k)) Ok
          else Bad(s"point $k: ${rs.toSeq} vs ver ${model(k)}")
        })
    }
    val range = () => {
      val lo = (rng.nextDouble() * nextKey * 0.95).toLong
      val hi = lo + math.max(1L, nextKey / 20)
      Op("range_read", () => spark.sql(
        s"SELECT count(*), coalesce(sum(pmod(c_custkey * 2654435761 + ver, " +
          s"1000000007)), 0) FROM $table " +
          s"WHERE c_custkey BETWEEN $lo AND $hi").collect(),
        res => {
          val row = res.asInstanceOf[Array[Row]].head
          val in = model.filter { case (k, _) => k >= lo && k <= hi }
          val sum = in.foldLeft(0L) { case (a, (k, v)) => a + Checks.term(k, v) }
          if (row.getLong(0) == in.size && row.getLong(1) == sum) Ok
          else Bad(s"range [$lo,$hi]: ${row} vs (${in.size},$sum)")
        })
    }
    // one crawl commit: fresh documents plus exact re-crawls of earlier
    // ones under new ids, then the streaming dedup folds it in
    val crawl = () => {
      val from = nextDoc
      nextDoc += CrawlDocs
      val docs = Gen.documents(spark, seed, from, CrawlDocs, 2)
        .select(col("doc_id"), col("text"), col("n_chars"), lit(s"r$r").as("src"))
      val recrawl = if (from == 0) None else Some(
        Gen.documents(spark, seed, 0, from, 2)
          .filter(pmod(col("doc_id") * lit(7L) + lit(r.toLong), lit(25L)) === 0)
          .select((col("doc_id") + lit(1000000000L + r * 1000000L)).as("doc_id"),
            col("text"), col("n_chars"), lit(s"x$r").as("src")))
      val batch = local(recrawl.fold(docs)(docs.unionByName))
      val texts = batch.select("doc_id", "text").collect()
      Op("crawl_commit", () => batch.repartition(2).write.format("graft-orc")
          .option("graft.manifest", "true").mode("append").save(crawlDir),
        _ => {
          texts.foreach { t =>
            val (id, text) = (t.getLong(0), t.getString(1))
            if (cleanModel.get(text).forall(_ > id)) cleanModel(text) = id
          }
          Ok
        }, writes = true)
    }
    val ingest = () => Op("ingest_dedup",
      () => IngestDedup.ingest(spark, crawlDir, clean, ckpt, buckets = Some(16)),
      _ => cleanCheck(), writes = true)
    // two point reads and one range read per round put as many fast
    // operations below the commits as slow ones above them, so the median
    // falls among the commits rather than on the edge of a latency gap
    val units: Seq[Seq[() => Op]] = Seq(Seq(append), Seq(merge), Seq(delete),
      Seq(point), Seq(point), Seq(range), Seq(crawl, ingest))
    val maintenance: Seq[() => Op] = Seq(
      () => Op("compact", () => spark.sql(
        s"CALL $cat.system.compact(table => 'db.cust')").collect(),
        res => {
          val row = res.asInstanceOf[Array[Row]].head
          maint("compact_files_removed") = maint.getOrElse("compact_files_removed",
            0.0) + (row.getInt(0) - row.getInt(1))
          maint("compact_bytes_rewritten") = maint.getOrElse(
            "compact_bytes_rewritten", 0.0) + row.getLong(3)
          tableCheck()
        }, writes = true),
      () => Op("expire_snapshots", () => spark.sql(
        s"CALL $cat.system.expire_snapshots('db.cust', retain => 3)").collect(),
        _ => tableCheck(), writes = true))
    rng.shuffle(units).flatten ++ maintenance
  }

  override def afterOp(op: Op, rec: OpRec): Unit = {
    if (!op.writes || op.kind == "crawl_commit" || op.kind == "ingest_dedup") return
    val now = Fs.files(spark, tableDir)
    val added = now.filter { case (p, _) => !seen.contains(p) }
    val addedBytes = added.values.sum
    val sidecar = added.filter { case (p, _) =>
      val n = new Path(p).getName
      n.startsWith("dv-") || n.startsWith("d-") || n.startsWith("eq-")
    }.values.sum
    seen = now
    newBytes(rec.phase) += addedBytes
    submittedRows(rec.phase) += op.rows
    if (op.kind == "compact") compactions(rec.phase) += 1
    rec.layer = rec.layer ++ Map(
      "sources.v2.write.bytes" -> addedBytes.toDouble,
      "sources.v2.write.files_created" -> added.size.toDouble,
      "sources.v2.write.sidecar_bytes" -> sidecar.toDouble)
  }

  override def phaseMetrics(phase: String): Map[String, Double] =
    amplification(phase)

  /** Write and space amplification of one phase, against the same rows
    * written once as plain ORC.
    */
  def amplification(phase: String): Map[String, Double] = Map(
    "write_amp" -> newBytes(phase) /
      math.max(1.0, submittedRows(phase) * plainBytesPerRow),
    "space_amp" -> Fs.treeBytes(spark, tableDir) /
      math.max(1.0, model.size * plainBytesPerRow))

  override def finish(): Map[String, Any] = Map(
    "plain_orc_bytes_per_row" -> plainBytesPerRow,
    "new_bytes" -> newBytes.toMap,
    "submitted_rows" -> submittedRows.toMap,
    "compactions" -> compactions.toMap,
    "live_rows" -> model.size,
    "table_dir_bytes" -> Fs.treeBytes(spark, tableDir),
    "clean_rows" -> cleanModel.size,
    "final_check" -> (tableCheck() match { case Ok => "ok"; case b => b.toString }))

  override def layerAtEnd(): Map[String, Double] = {
    val snaps = spark.sql(s"SELECT count(*) FROM $table.snapshots").head().getLong(0)
    val files = spark.sql(s"SELECT count(*) FROM $table.files").head().getLong(0)
    Map(
      "sources.v2.manifest.snapshots" -> snaps.toDouble,
      "sources.v2.manifest.live_files" -> files.toDouble,
      "sources.v2.manifest.bytes" -> Fs.treeBytes(spark, tableDir).toDouble,
      "sources.v2.maint.bytes_rewritten" ->
        maint.getOrElse("compact_bytes_rewritten", 0.0),
      "sources.v2.maint.files_removed" -> maint.getOrElse("compact_files_removed", 0.0),
      "streaming.hwm_probes_fired" ->
        graft.streaming.NearDupIngest.hwmProbeStats("fired").toDouble)
  }
}
