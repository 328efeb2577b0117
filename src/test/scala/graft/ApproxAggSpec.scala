package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Error contracts for the sketch aggregates (q40): sketches are
  * engine-specific so the driver check is rows-only — the numeric
  * guarantees live here.
  */
class ApproxAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("approx_count_distinct within 5% of exact; approx median between true neighbors") {
    val li = Tables.lineitem(spark, TestSpark.sf0001)
    val exactOrders = li.select($"l_orderkey").distinct().count()
    val row = SparkEntry.queries("q40_approx_aggs")(spark, TestSpark.sf0001)
      .collect().head
    val approxOrders = row.getAs[Long]("approx_orders")
    assert(math.abs(approxOrders - exactOrders).toDouble / exactOrders < 0.05,
      s"HLL err: approx=$approxOrders exact=$exactOrders")

    val qs = li.stat.approxQuantile("l_quantity", Array(0.45, 0.55), 0.0)
    val med = row.getAs[Double]("median_qty")
    assert(med >= qs(0) && med <= qs(1),
      s"approx median $med outside exact [${qs(0)}, ${qs(1)}]")
  }

  test("sketch aggregation is partial-merge shaped (no exact-distinct expand)") {
    val df = SparkEntry.queries("q40_approx_aggs")(spark, TestSpark.sf0001)
    val plan = df.queryExecution.executedPlan.toString
    // HLL must plan as partial/final ObjectHashAggregate — NOT the
    // Expand+double-shuffle that exact count(distinct) requires
    assert(!plan.contains("Expand"), plan.take(600))
  }

  test("q40_exact_aggs: both overlapped passes carry the CALLER's job " +
    "group, not the group of an earlier call") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    def run(group: String): Unit = {
      sc.setJobGroup(group, group)
      try SparkEntry.queries("q40_exact_aggs")(spark, TestSpark.sf0001)
        .collect()
      finally sc.clearJobGroup()
    }
    run("q40-group-a")
    org.apache.spark.GraftSparkBridge.waitUntilListenerBusEmpty(sc)
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    sc.addSparkListener(listener)
    try {
      run("q40-group-b")
      org.apache.spark.GraftSparkBridge.waitUntilListenerBusEmpty(sc)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val seen = groups.asScala.toSeq
    assert(seen.nonEmpty)
    assert(seen.forall(_ == "q40-group-b"),
      s"jobs of the second call ran under groups $seen")
  }
}
