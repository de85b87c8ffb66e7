package graft

import graft.sources.BucketedTable
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class BucketedTableSpec extends AnyFunSuite with TempDirs {

  private val warehouse =
    tempDir("graft_bucket_wh").toString

  private lazy val spark: SparkSession = {
    // the warehouse + broadcast configs are load-bearing: a leftover
    // default session from another suite would silently drop them and
    // flip the join to a BroadcastExchange
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", warehouse)
      // force the sort-merge path so the assertion is about bucketing,
      // not broadcast thresholds
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private def writeFixtures(): Unit = {
    import spark.implicits._
    val a = (0 until 5000).map(i => (i.toLong % 97, i.toLong)).toDF("k", "va")
    val b = (0 until 300).map(i => (i.toLong % 97, s"p$i")).toDF("k", "vb")
    BucketedTable.writeBucketed(a, "bt_a", "k", numBuckets = 8)
    BucketedTable.writeBucketed(b, "bt_b", "k", numBuckets = 8)
  }

  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()

  test("same-bucketed tables join with ZERO exchanges and correct rows") {
    import spark.implicits._
    writeFixtures()
    val a = (0 until 5000).map(i => (i.toLong % 97, i.toLong)).toDF("k", "va")
    val b = (0 until 300).map(i => (i.toLong % 97, s"p$i")).toDF("k", "vb")
    val joined = BucketedTable.bucketedJoin(spark, "bt_a", "bt_b", "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
    // correctness: same multiset as the plain join of the source frames
    val got = joined.select("k", "va", "vb").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val want = a.join(b, "k").select("k", "va", "vb").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(got.toSeq == want.toSeq)
    // one sorted file per bucket: the repartition-by-key write keeps the
    // file count at numBuckets, not tasks x buckets
    val dir = new java.io.File(warehouse, "bt_a")
    val files = dir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 8, s"expected 8 bucket files, found $files")
  }

  test("group-by on the bucket key also skips the exchange") {
    if (spark.catalog.tableExists("bt_a") == false) writeFixtures()
    val agg = spark.table("bt_a").groupBy("k").count()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed agg must not shuffle:\n$plan")
    assert(agg.count() == 97L)
  }
}
