package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.IngestDedup

/** Streaming crawl-dedup ingestion (graft.streaming.IngestDedup): a
  * checkpointed micro-batch stream over a graft-orc crawl table MERGEs
  * each batch into a clean catalog table with keep-min semantics. The
  * contract under test is EXACTLY-ONCE-EQUIVALENCE: the clean table's
  * final state is a pure function of the set of documents ever
  * delivered — invariant to micro-batch boundaries, checkpoint
  * restarts between waves, and full at-least-once replays (a fresh
  * checkpoint re-reads the whole crawl; the re-MERGE must be a no-op).
  */
class GraftOrcStreamIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft-ingest-wh").toString
    spark.conf.set("spark.sql.catalog.ging",
      "graft.sources.v2.GraftOrcCatalog")
    spark.conf.set("spark.sql.catalog.ging.warehouse", dir)
    dir
  }

  private def uniq(tag: String): String =
    tag + java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  /** 30 docs, ids 0..29; text is a function of id so re-deliveries of
    * the same text under a new id collide on the fingerprint.
    */
  private def docs(ids: Seq[Int], idOff: Long, src: String): DataFrame =
    ids.toDF("base")
      .select((col("base") + idOff).as("doc_id"),
        concat(lit("document body number "), col("base")).as("text"),
        (col("base") % 7).cast("long").as("n_chars"),
        lit(src).as("src"))

  private def deliver(dir: String, df: DataFrame): Unit =
    df.select($"doc_id", $"text", $"n_chars", $"src").repartition(2)
      .write.format("graft-orc").option("graft.manifest", "true")
      .mode("append").save(dir)

  private def mkClean(name: String): String = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ging.default")
    val qt = s"ging.default.$name"
    spark.sql(s"CREATE TABLE $qt (fp BIGINT, doc_id BIGINT, " +
      "src STRING, n_chars BIGINT) " +
      "TBLPROPERTIES('graft.merge_mode'='mor')")
    qt
  }

  private def state(qt: String): Seq[(Long, Long, String, Long)] =
    spark.sql(s"SELECT fp, doc_id, src, n_chars FROM $qt ORDER BY fp")
      .as[(Long, Long, String, Long)].collect().toSeq

  test("keep-min ingest equals the batch dedup; restart between waves " +
    "and a full fresh-checkpoint replay both leave the state invariant") {
    assume(wh.nonEmpty)
    val crawl = Files.createTempDirectory("graft-ingest-crawl").toString
    val qt = mkClean(uniq("clean"))
    val ckpt = Files.createTempDirectory("graft-ingest-ck").toString + "/c"
    // commit 1: ids 0..19 as themselves; commit 2: ids 0..9 RE-delivered
    // under +100 (losers) plus fresh ids 20..24
    deliver(crawl, docs(0 until 20, 0L, "a"))
    deliver(crawl, docs(0 until 10, 100L, "b")
      .unionByName(docs(20 until 25, 0L, "b")))
    IngestDedup.ingest(spark, crawl, qt, ckpt)
    val afterWave1 = state(qt)
    // every text group's winner is the TRUE id (true ids all < 100)
    assert(afterWave1.size === 25)
    assert(afterWave1.forall(_._2 < 100L))
    // wave 2 lands while the stream is down: ids 25..29 fresh, PLUS the
    // true rows for 30..34 whose +100 variants arrive FIRST in the same
    // commit — within-batch collapse must pick the true id directly
    deliver(crawl, docs(25 until 30, 0L, "c")
      .unionByName(docs(30 until 35, 100L, "c"))
      .unionByName(docs(30 until 35, 0L, "c")))
    IngestDedup.ingest(spark, crawl, qt, ckpt)
    val full = state(qt)
    assert(full.size === 35)
    assert(full.forall(_._2 < 100L))
    assert(full.take(25).toSet.subsetOf(full.toSet) &&
      afterWave1.toSet.subsetOf(full.toSet),
      "wave-2 ingestion disturbed wave-1 winners")
    // FULL REPLAY: a fresh checkpoint re-reads every commit; keep-min
    // re-MERGEs to a no-op (at-least-once delivery is safe)
    val ckpt2 = Files.createTempDirectory("graft-ingest-ck2")
      .toString + "/c"
    IngestDedup.ingest(spark, crawl, qt, ckpt2)
    assert(state(qt) === full, "replay changed the clean table")
    // and an idle resume (no new commits) is also a no-op
    IngestDedup.ingest(spark, crawl, qt, ckpt)
    assert(state(qt) === full)
  }

  test("a later-arriving smaller id WINS (matched-update path) and its " +
    "payload travels with it; batch boundaries don't change the state") {
    assume(wh.nonEmpty)
    val crawlA = Files.createTempDirectory("graft-ingest-cA").toString
    val crawlB = Files.createTempDirectory("graft-ingest-cB").toString
    // variant ids (+100, src 'early') arrive one commit BEFORE the true
    // rows (src 'late'): the true rows must overwrite doc_id AND payload
    Seq(crawlA, crawlB).foreach { dir =>
      deliver(dir, docs(0 until 12, 100L, "early"))
      deliver(dir, docs(0 until 12, 0L, "late"))
    }
    val qtA = mkClean(uniq("cleanA"))
    val qtB = mkClean(uniq("cleanB"))
    IngestDedup.ingest(spark, crawlA, qtA,
      Files.createTempDirectory("gi-ckA").toString + "/c")
    // same deliveries consumed file-at-a-time: many more micro-batches,
    // same final state (order/boundary invariance)
    val ckB = Files.createTempDirectory("gi-ckB").toString + "/c"
    IngestDedup.ingest(spark, crawlB, qtB, ckB,
      maxFilesPerTrigger = Some(1))
    // boundary independence must actually have been EXERCISED: the
    // file-at-a-time run committed >= 4 micro-batches (2 commits x 2
    // files each), not one batch per wave
    val nBatches = Option(new java.io.File(ckB, "offsets").list())
      .map(_.count(!_.endsWith(".tmp"))).getOrElse(0)
    assert(nBatches >= 4,
      s"expected >= 4 micro-batches in the file-at-a-time run, got " +
        s"$nBatches")
    val a = state(qtA); val b = state(qtB)
    assert(a === b, "micro-batch boundaries changed the final state")
    assert(a.size === 12)
    assert(a.forall(r => r._2 < 100L && r._3 == "late"),
      s"late true rows did not win with their payload: $a")
  }

  test("CorpusStats: batch-id-guarded counters — a replayed batch is a " +
    "no-op, a later batch accumulates, restart between waves is exact") {
    assume(wh.nonEmpty)
    import graft.streaming.CorpusStats
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ging.default")
    val qt = s"ging.default.${uniq("stats")}"
    spark.sql(s"CREATE TABLE $qt (key STRING, docs BIGINT, " +
      "chars BIGINT, batch_id BIGINT) " +
      "TBLPROPERTIES('graft.merge_mode'='mor')")
    def counters(): Map[String, (Long, Long)] =
      spark.sql(s"SELECT key, docs, chars FROM $qt").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val b0 = Seq(("en", 100L), ("en", 50L), ("de", 30L))
      .toDF("lang", "n")
    // batch 0 lands, then REPLAYS (the foreachBatch at-least-once case:
    // merge committed, checkpoint write crashed, batch re-runs same id)
    CorpusStats.mergeBatch(b0, qt, "lang", col("n"), 0L)
    CorpusStats.mergeBatch(b0, qt, "lang", col("n"), 0L)
    assert(counters() === Map("en" -> (2L, 150L), "de" -> (1L, 30L)))
    // a later batch accumulates; an unseen key inserts
    val b1 = Seq(("en", 10L), ("fr", 7L)).toDF("lang", "n")
    CorpusStats.mergeBatch(b1, qt, "lang", col("n"), 1L)
    assert(counters() === Map("en" -> (3L, 160L), "de" -> (1L, 30L),
      "fr" -> (1L, 7L)))
    // and the replay guard holds for the insert-then-replay case too
    CorpusStats.mergeBatch(b1, qt, "lang", col("n"), 1L)
    assert(counters() === Map("en" -> (3L, 160L), "de" -> (1L, 30L),
      "fr" -> (1L, 7L)))
    // end-to-end: streamed counters equal the batch aggregation even
    // with a stop/restart between deliveries
    val crawl = Files.createTempDirectory("graft-stats-crawl").toString
    val ckpt = Files.createTempDirectory("graft-stats-ck").toString + "/c"
    val qt2 = s"ging.default.${uniq("stats2")}"
    spark.sql(s"CREATE TABLE $qt2 (key STRING, docs BIGINT, " +
      "chars BIGINT, batch_id BIGINT) " +
      "TBLPROPERTIES('graft.merge_mode'='mor')")
    deliver(crawl, docs(0 until 20, 0L, "a"))
    CorpusStats.maintain(spark, crawl, qt2, ckpt, keyCol = "src",
      charsCol = col("n_chars"))
    deliver(crawl, docs(20 until 50, 0L, "b"))
    CorpusStats.maintain(spark, crawl, qt2, ckpt, keyCol = "src",
      charsCol = col("n_chars"))
    val got = spark.sql(s"SELECT key, docs, chars FROM $qt2").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val expected = docs(0 until 20, 0L, "a")
      .unionByName(docs(20 until 50, 0L, "b"))
      .groupBy($"src").agg(count(lit(1)).as("docs"),
        sum($"n_chars").as("chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got === expected, s"streamed $got vs batch $expected")
  }

  private def mkNearDup(tag: String): (String, String) = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ging.default")
    val qt = s"ging.default.${uniq(tag)}"
    val sig = s"ging.default.${uniq(tag + "sig")}"
    // hash distribution: CI coverage of the clustered MERGE write path
    // the production ingest tables use (one file per partition per batch)
    spark.sql(s"CREATE TABLE $qt (doc_id BIGINT, src STRING, " +
      "n_chars BIGINT, db INT) PARTITIONED BY (db) " +
      "TBLPROPERTIES('graft.merge_mode'='mor', " +
      "'graft.distribution_mode'='hash')")
    spark.sql(s"CREATE TABLE $sig (band INT, key BIGINT, doc_id BIGINT, " +
      "kb INT) PARTITIONED BY (kb) " +
      "TBLPROPERTIES('graft.merge_mode'='mor', " +
      "'graft.distribution_mode'='hash')")
    (qt, sig)
  }

  test("NearDupIngest chain semantics: a doc colliding ONLY with a " +
    "DROPPED doc is still dropped (all-seen keys), across a restart") {
    assume(wh.nonEmpty)
    import graft.streaming.NearDupIngest
    // injected banding: d1 {(0,100)}, d2 {(0,100),(1,200)}, d3 {(1,200)},
    // d4 {(0,300)} — d2 drops against d1; d3 collides ONLY with d2 (a
    // dropped doc) and must still drop; d4 is clean
    val keyRows = Seq((1L, 0, 100L), (2L, 0, 100L), (2L, 1, 200L),
      (3L, 1, 200L), (4L, 0, 300L))
    val bk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      docs => docs.select($"doc_id")
        .join(keyRows.toDF("doc_id", "band", "key"), Seq("doc_id"))
    val crawl = Files.createTempDirectory("graft-nd-chain").toString
    val (qt, sig) = mkNearDup("ndchain")
    val ckpt = Files.createTempDirectory("graft-nd-chain-ck").toString + "/c"
    deliver(crawl, docs(Seq(1, 2), 0L, "w1"))
    NearDupIngest.ingest(spark, crawl, qt, sig, ckpt, bandKeys = bk)
    // d2 was dropped, but its keys must be IN the signature table
    assert(spark.sql(s"SELECT count(*) FROM $sig WHERE doc_id = 2")
      .head().getLong(0) === 2L)
    // restart; d3 arrives and must drop against the DROPPED d2's keys
    deliver(crawl, docs(Seq(3, 4), 0L, "w2"))
    NearDupIngest.ingest(spark, crawl, qt, sig, ckpt, bandKeys = bk)
    val kept = spark.sql(s"SELECT doc_id FROM $qt ORDER BY doc_id")
      .as[Long].collect().toSeq
    assert(kept === Seq(1L, 4L),
      s"chain did not collapse to the first survivor: $kept")
  }

  test("NearDupIngest high-water guard: a batch STRADDLING the clean " +
    "table's persisted high-water doc_id is refused loudly by default; " +
    "failOnOutOfOrder=false warns past it; a pure replay range is " +
    "always allowed") {
    assume(wh.nonEmpty)
    import graft.streaming.NearDupIngest
    // injected banding: every doc keys only to ITSELF, so no doc ever
    // collides — the test isolates the guard, not the dedup
    val selfKey: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      ds => ds.select($"doc_id", lit(0).as("band"), $"doc_id".as("key"))
    val crawl = Files.createTempDirectory("graft-nd-hwm").toString
    val (qt, sig) = mkNearDup("ndhwm")
    val ckpt = Files.createTempDirectory("graft-nd-hwm-ck").toString + "/c"
    deliver(crawl, docs(10 until 20, 0L, "w1"))
    NearDupIngest.ingest(spark, crawl, qt, sig, ckpt, bandKeys = selfKey)
    assert(spark.sql(s"SHOW TBLPROPERTIES $qt").collect().exists(r =>
      r.getString(0) == NearDupIngest.HwmProp && r.getString(1) == "19"),
      "first wave did not persist the high-water mark")
    // wave 2 straddles: new ids 5..9 BELOW the mark, 20..24 above
    deliver(crawl, docs((5 until 10) ++ (20 until 25), 0L, "w2"))
    val before = spark.sql(s"SELECT count(*) FROM $qt").head().getLong(0)
    val ex = intercept[Exception] {
      NearDupIngest.ingest(spark, crawl, qt, sig, ckpt,
        bandKeys = selfKey)
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(chain(ex).exists(_.contains("straddles")),
      s"expected the high-water refusal, got: ${chain(ex)}")
    assert(spark.sql(s"SELECT count(*) FROM $qt").head().getLong(0)
      === before, "a refused batch must leave the clean table unchanged")
    // the offset was never committed: opting out re-delivers the same
    // batch, which now lands (delivery-order semantics accepted)
    NearDupIngest.ingest(spark, crawl, qt, sig, ckpt,
      bandKeys = selfKey, failOnOutOfOrder = false)
    val kept = spark.sql(s"SELECT doc_id FROM $qt ORDER BY doc_id")
      .as[Long].collect().toSeq
    assert(kept === ((5L until 10L) ++ (10L until 25L)).sorted,
      s"self-keyed docs must all be kept, got $kept")
    assert(spark.sql(s"SHOW TBLPROPERTIES $qt").collect().exists(r =>
      r.getString(0) == NearDupIngest.HwmProp && r.getString(1) == "24"),
      "the accepted batch did not advance the high-water mark")
    // a fresh-checkpoint FULL replay re-delivers each commit as a pure
    // replay range (max <= mark): allowed under the DEFAULT guard and
    // a state no-op
    val ckpt2 = Files.createTempDirectory("graft-nd-hwm-ck2")
      .toString + "/c"
    NearDupIngest.ingest(spark, crawl, qt, sig, ckpt2,
      bandKeys = selfKey)
    assert(spark.sql(s"SELECT doc_id FROM $qt ORDER BY doc_id")
      .as[Long].collect().toSeq === kept, "replay changed state")
  }

  test("NearDupIngest high-water guard closes full reordering: a batch " +
    "of genuinely NEW ids entirely below the mark is refused (not " +
    "mistaken for a replay), while a replay whose docs were DROPPED " +
    "still passes via their signature rows") {
    assume(wh.nonEmpty)
    import graft.streaming.NearDupIngest
    // banding that collides ids sharing id % 5: within wave 1 (ids
    // 10..19) the smaller of each pair wins, so 15..19 are DROPPED —
    // present in the signature table only, never in the clean table
    val modKey: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      ds => ds.select($"doc_id", lit(0).as("band"),
        ($"doc_id" % 5).as("key"))
    val crawl = Files.createTempDirectory("graft-nd-reord").toString
    val (qt, sig) = mkNearDup("ndreord")
    val ckpt = Files.createTempDirectory("graft-nd-reord-ck")
      .toString + "/c"
    NearDupIngest.resetHwmProbeStats()
    deliver(crawl, docs(10 until 20, 0L, "w1"))
    NearDupIngest.ingest(spark, crawl, qt, sig, ckpt, bandKeys = modKey)
    val kept0 = spark.sql(s"SELECT doc_id FROM $qt ORDER BY doc_id")
      .as[Long].collect().toSeq
    assert(kept0 === (10L until 15L), s"expected 10..14 kept, got $kept0")
    // healthy ascending wave: the membership probe must not have run —
    // the hot path's zero-cost claim, pinned here so a refactor that
    // evaluates the probe eagerly fails THIS test, not just a receipt
    assert(NearDupIngest.hwmProbeStats ===
      Map("fired" -> 0L, "refused" -> 0L),
      "the membership probe fired on a healthy ascending wave")
    // wave 2: genuinely NEW ids 0..4, ENTIRELY below the mark (19) —
    // before the membership probe this passed as a "replay range"
    deliver(crawl, docs(0 until 5, 0L, "w2"))
    val ex = intercept[Exception] {
      NearDupIngest.ingest(spark, crawl, qt, sig, ckpt,
        bandKeys = modKey)
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(chain(ex).exists(_.contains("never processed")),
      s"expected the reorder refusal, got: ${chain(ex)}")
    assert(spark.sql(s"SELECT doc_id FROM $qt ORDER BY doc_id")
      .as[Long].collect().toSeq === kept0,
      "a refused batch must leave the clean table unchanged")
    // the reordered batch is exactly one probe firing and one refusal
    assert(NearDupIngest.hwmProbeStats ===
      Map("fired" -> 1L, "refused" -> 1L),
      "reordered at-or-below batch must fire the probe once and refuse")
    // a fresh-checkpoint replay of WAVE 1 ALONE (ids 10..19, half of
    // them dropped) must pass: the dropped ids are found in the
    // signature table. Replay delivery = a second crawl dir holding
    // only wave 1's rows.
    val crawl2 = Files.createTempDirectory("graft-nd-reord2").toString
    deliver(crawl2, docs(10 until 20, 0L, "w1"))
    val ckpt2 = Files.createTempDirectory("graft-nd-reord-ck2")
      .toString + "/c"
    NearDupIngest.resetHwmProbeStats()
    NearDupIngest.ingest(spark, crawl2, qt, sig, ckpt2,
      bandKeys = modKey)
    assert(spark.sql(s"SELECT doc_id FROM $qt ORDER BY doc_id")
      .as[Long].collect().toSeq === kept0, "replay changed state")
    // a true replay fires the probe (at-or-below range) but passes it
    assert(NearDupIngest.hwmProbeStats ===
      Map("fired" -> 1L, "refused" -> 0L),
      "a true replay must fire the probe exactly once, refusing nothing")
    // the same replay delivered as two commits and read one commit per
    // micro-batch: EVERY at-or-below batch pays the probe, none refuses,
    // and the multi-batch replay is still a state no-op (every batch
    // runs the signature MERGE, so its hook counts the batches)
    val crawl3 = Files.createTempDirectory("graft-nd-reord3").toString
    deliver(crawl3, docs(10 until 15, 0L, "w1"))
    deliver(crawl3, docs(15 until 20, 0L, "w1"))
    val ckpt3 = Files.createTempDirectory("graft-nd-reord-ck3")
      .toString + "/c"
    val batches = new java.util.concurrent.atomic.AtomicLong()
    NearDupIngest.resetHwmProbeStats()
    NearDupIngest.ingest(spark, crawl3, qt, sig, ckpt3,
      bandKeys = modKey, maxFilesPerTrigger = Some(2),
      onMerge = (which, _) => if (which == "sig") batches.incrementAndGet())
    assert(batches.get() >= 2L, s"expected a multi-batch replay, got $batches")
    assert(spark.sql(s"SELECT doc_id FROM $qt ORDER BY doc_id")
      .as[Long].collect().toSeq === kept0, "multi-batch replay changed state")
    assert(NearDupIngest.hwmProbeStats ===
      Map("fired" -> batches.get(), "refused" -> 0L),
      "every replay batch must fire the probe once, refusing nothing")
    NearDupIngest.resetHwmProbeStats()
    // opting out accepts the reordered batch under delivery-order
    // semantics (the stream's offset was never committed past it)
    NearDupIngest.ingest(spark, crawl, qt, sig, ckpt,
      bandKeys = modKey, failOnOutOfOrder = false)
    val after = spark.sql(s"SELECT doc_id FROM $qt ORDER BY doc_id")
      .as[Long].collect().toSeq
    assert(after === ((0L until 5L) ++ (10L until 15L)),
      s"delivery-order opt-in should land 0..4, got $after")
  }

  test("NearDupIngest: a batch whose rows ALL have null doc_id is a " +
    "no-op (nothing to decide, no bound arithmetic on a null min); " +
    "normal waves before and after are unaffected") {
    assume(wh.nonEmpty)
    import graft.streaming.NearDupIngest
    val crawl = Files.createTempDirectory("graft-nd-nullid").toString
    val (qt, sig) = mkNearDup("ndnullid")
    val ckpt = Files.createTempDirectory("graft-nd-nullid-ck")
      .toString + "/c"
    deliver(crawl, docs(Seq(1, 2), 0L, "w1"))
    NearDupIngest.ingest(spark, crawl, qt, sig, ckpt)
    // an all-null-id wave (upstream junk) must not fail the stream
    deliver(crawl, spark.range(3).select(
      lit(null).cast("long").as("doc_id"),
      lit("junk").as("text"), lit(4L).as("n_chars"),
      lit("w2").as("src")))
    NearDupIngest.ingest(spark, crawl, qt, sig, ckpt)
    deliver(crawl, docs(Seq(3), 0L, "w3"))
    NearDupIngest.ingest(spark, crawl, qt, sig, ckpt)
    val kept = spark.sql(s"SELECT doc_id FROM $qt ORDER BY doc_id")
      .as[Long].collect().toSeq
    assert(kept === Seq(1L, 2L, 3L), s"got $kept")
  }

  test("graft.compact_after on the clean table: streaming-ingest MERGE " +
    "commits run the maintenance themselves — fewer files than the " +
    "unmaintained twin, identical state") {
    assume(wh.nonEmpty)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ging.default")
    val qa = s"ging.default.${uniq("autoc")}"
    val qb = s"ging.default.${uniq("noauto")}"
    spark.sql(s"CREATE TABLE $qa (fp BIGINT, doc_id BIGINT, " +
      "src STRING, n_chars BIGINT) TBLPROPERTIES(" +
      "'graft.merge_mode'='mor', 'graft.compact_after'='4', " +
      "'graft.compact_zorder'='fp')")
    spark.sql(s"CREATE TABLE $qb (fp BIGINT, doc_id BIGINT, " +
      "src STRING, n_chars BIGINT) " +
      "TBLPROPERTIES('graft.merge_mode'='mor')")
    def run(qt: String, tag: String): Unit = {
      val crawl = Files.createTempDirectory(s"graft-ac-$tag").toString
      val ckpt = Files.createTempDirectory(s"graft-ac-$tag-ck")
        .toString + "/c"
      (0 until 6).foreach { i =>
        deliver(crawl, docs(i * 10 until (i + 1) * 10, 0L, s"w$i"))
        IngestDedup.ingest(spark, crawl, qt, ckpt)
      }
    }
    run(qa, "a"); run(qb, "b")
    assert(state(qa) === state(qb),
      "auto-compaction changed the ingested state")
    def files(t: String): Long =
      spark.sql(s"SELECT count(*) FROM $t.files").head().getLong(0)
    val (fa, fb) = (files(qa), files(qb))
    assert(fa < fb,
      s"expected the maintained table to carry fewer files, got $fa vs $fb")
  }

  test("NearDupIngest: an all-keyless batch is still ingested — keyless " +
    "docs never collide, so they are kept, and the signature MERGE is " +
    "skipped (no empty IN list)") {
    assume(wh.nonEmpty)
    import graft.streaming.NearDupIngest
    // wave 1: banding yields NOTHING (e.g. every text empty) — the
    // contract says a doc is dropped iff it SHARES a key, so all kept
    val noKeys: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      docs => docs.select($"doc_id", lit(0).as("band"), lit(0L).as("key"))
        .where(lit(false))
    val crawl = Files.createTempDirectory("graft-nd-keyless").toString
    val (qt, sig) = mkNearDup("ndkeyless")
    val ckpt = Files.createTempDirectory("graft-nd-keyless-ck")
      .toString + "/c"
    deliver(crawl, docs(Seq(1, 2, 3), 0L, "w1"))
    NearDupIngest.ingest(spark, crawl, qt, sig, ckpt, bandKeys = noKeys)
    assert(spark.sql(s"SELECT count(*) FROM $qt").head().getLong(0) === 3L,
      "an all-keyless batch must still land in the clean table")
    assert(spark.sql(s"SELECT count(*) FROM $sig").head().getLong(0) === 0L)
    // wave 2 with REAL banding: earlier keyless docs have no signature
    // rows, so they can never drop a later doc; fresh docs band normally
    deliver(crawl, docs(Seq(4, 5), 0L, "w2"))
    NearDupIngest.ingest(spark, crawl, qt, sig, ckpt)
    val kept = spark.sql(s"SELECT doc_id FROM $qt ORDER BY doc_id")
      .as[Long].collect().toSeq
    assert(kept === Seq(1L, 2L, 3L, 4L, 5L), s"got $kept")
  }

  test("NearDupIngest det banding equals the batch no-smaller-collider " +
    "twin; micro-batch boundaries and a fresh-checkpoint replay are " +
    "both invariant") {
    assume(wh.nonEmpty)
    import graft.streaming.NearDupIngest
    import graft.operators.Dedup
    // ascending waves: 0..14, then 15..29 + exact re-crawls of 0..9
    // under +100 (guaranteed full-band collisions with their originals)
    val w1 = docs(0 until 15, 0L, "w1")
    val w2 = docs(15 until 30, 0L, "w2")
      .unionByName(docs(0 until 10, 100L, "re"))
    val corpus = w1.unionByName(w2)
    // batch twin: kept = docs with NO strictly-smaller band collider
    val bands = Dedup.detBandKeys(corpus.select($"doc_id", $"text"))
    val coll = bands.as("a")
      .join(bands.select($"band", $"key", $"doc_id".as("e_id")).as("b"),
        Seq("band", "key"))
      .where($"e_id" < $"doc_id").select($"doc_id").distinct()
    val expected = corpus.join(coll, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"src", $"n_chars")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(expected.nonEmpty && expected.size < 40,
      s"twin degenerate: ${expected.size}")
    def run(tag: String, mfpt: Option[Int]): Seq[(Long, String, Long)] = {
      val crawl = Files.createTempDirectory(s"graft-nd-$tag").toString
      val (qt, sig) = mkNearDup(s"nd$tag")
      val ckpt = Files.createTempDirectory(s"graft-nd-$tag-ck")
        .toString + "/c"
      // file-at-a-time batches split a wave's random repartition files,
      // so batch id ranges interleave (no COLLIDING pair is reversed —
      // re-crawls always carry larger ids than their originals, and
      // originals land in the earlier wave): opt out of the high-water
      // guard so the run exercises exactly boundary invariance
      val ooo = mfpt.isEmpty
      deliver(crawl, w1)
      NearDupIngest.ingest(spark, crawl, qt, sig, ckpt,
        maxFilesPerTrigger = mfpt, failOnOutOfOrder = ooo)
      deliver(crawl, w2)
      NearDupIngest.ingest(spark, crawl, qt, sig, ckpt,
        maxFilesPerTrigger = mfpt, failOnOutOfOrder = ooo)
      // fresh-checkpoint FULL replay must be a no-op (insert-only keyed
      // MERGEs + strictly-smaller-id decisions)
      val ckpt2 = Files.createTempDirectory(s"graft-nd-$tag-ck2")
        .toString + "/c"
      NearDupIngest.ingest(spark, crawl, qt, sig, ckpt2,
        failOnOutOfOrder = ooo)
      spark.sql(s"SELECT doc_id, src, n_chars FROM $qt ORDER BY doc_id")
        .as[(Long, String, Long)].collect().toSeq
    }
    val whole = run("whole", None)
    assert(whole === expected, "streamed result diverged from the twin")
    val fileAtATime = run("file", Some(1))
    assert(fileAtATime === expected,
      "micro-batch boundaries changed the final state")
  }

  test("CorpusStats epoch guard: a FRESH checkpoint against a non-empty " +
    "stats table is refused loudly; truncate-then-rerun rebuilds " +
    "exactly; file-at-a-time micro-batches accumulate the same counters") {
    assume(wh.nonEmpty)
    import graft.streaming.CorpusStats
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ging.default")
    val qt = s"ging.default.${uniq("statsg")}"
    spark.sql(s"CREATE TABLE $qt (key STRING, docs BIGINT, " +
      "chars BIGINT, batch_id BIGINT) " +
      "TBLPROPERTIES('graft.merge_mode'='mor')")
    val crawl = Files.createTempDirectory("graft-statsg-crawl").toString
    deliver(crawl, docs(0 until 20, 0L, "a"))
    deliver(crawl, docs(20 until 32, 0L, "b"))
    def counters(): Set[(String, Long, Long)] =
      spark.sql(s"SELECT key, docs, chars FROM $qt").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val expected = docs(0 until 20, 0L, "a")
      .unionByName(docs(20 until 32, 0L, "b"))
      .groupBy($"src").agg(count(lit(1)).as("docs"),
        sum($"n_chars").as("chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    // file-at-a-time: 2 commits x 2 files = >= 4 micro-batches, each
    // with its own guarded batch id — same counters as the batch agg
    val ckpt1 = Files.createTempDirectory("graft-statsg-ck1")
      .toString + "/c"
    CorpusStats.maintain(spark, crawl, qt, ckpt1, keyCol = "src",
      charsCol = col("n_chars"), maxFilesPerTrigger = Some(1))
    val nBatches = Option(new java.io.File(ckpt1, "offsets").list())
      .map(_.count(!_.endsWith(".tmp"))).getOrElse(0)
    assert(nBatches >= 4, s"expected >= 4 micro-batches, got $nBatches")
    assert(counters() === expected)
    // a FRESH checkpoint restarts batch ids at 0: accumulating into the
    // non-truncated table would double-count — refused LOUDLY, state
    // untouched (this used to be a documentation-only caveat)
    val ckpt2 = Files.createTempDirectory("graft-statsg-ck2")
      .toString + "/c"
    val ex = intercept[IllegalStateException] {
      CorpusStats.maintain(spark, crawl, qt, ckpt2, keyCol = "src",
        charsCol = col("n_chars"))
    }
    assert(ex.getMessage.contains("epoch"), ex.getMessage)
    assert(counters() === expected, "the refused run changed state")
    // the documented rebuild path: truncate first, then the fresh
    // checkpoint reproduces the exact same counters
    spark.sql(s"DELETE FROM $qt")
    CorpusStats.maintain(spark, crawl, qt, ckpt2, keyCol = "src",
      charsCol = col("n_chars"))
    assert(counters() === expected, "truncate-then-rerun diverged")
    // and the ORIGINAL checkpoint is now the mismatched one
    val ex2 = intercept[IllegalStateException] {
      CorpusStats.maintain(spark, crawl, qt, ckpt1, keyCol = "src",
        charsCol = col("n_chars"))
    }
    assert(ex2.getMessage.contains("epoch"), ex2.getMessage)
    // resuming with the MATCHING checkpoint stays a clean no-op
    CorpusStats.maintain(spark, crawl, qt, ckpt2, keyCol = "src",
      charsCol = col("n_chars"))
    assert(counters() === expected)
  }
}
