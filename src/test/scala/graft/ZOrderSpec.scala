package graft

import graft.operators.ZOrder
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order clustering: the interleave law on known values, partition-
  * box locality of clusterByZ, and the behavioral payoff — parquet
  * row-group skipping on BOTH dimensions, where a linear sort only
  * ever skips on its leading column. */
class ZOrderSpec extends AnyFunSuite with TempDirs {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("zorder-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit =
    try if (spark != null) spark.stop() finally super.afterAll()

  test("zvalue interleaves bits into disjoint slots") {
    val sp = spark
    import sp.implicits._
    val rows = Seq((1L, 0L), (0L, 1L), (3L, 3L), (2L, 1L), (1023L, 1023L))
      .toDF("x", "y")
      .select(ZOrder.zvalue(Seq(col("x"), col("y")), 10).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // x bit i -> 2i, y bit i -> 2i+1
    assert(rows == Seq(1L, 2L, 15L, 6L, (1L << 20) - 1))
    intercept[IllegalArgumentException] {
      ZOrder.zvalue(Seq(col("x"), col("y")), 32)
    }
  }

  test("clusterByZ partitions cover compact boxes in every dimension") {
    val grid = spark.range(0, 256 * 256).selectExpr(
      "id % 256 AS x", "id DIV 256 AS y")
    def boxSum(df: org.apache.spark.sql.DataFrame): Long =
      df.withColumn("p", spark_partition_id()).groupBy("p")
        .agg(((max("x") - min("x") + 1) * (max("y") - min("y") + 1)).as("a"))
        .agg(sum("a")).head().getLong(0)
    val z = boxSum(ZOrder.clusterByZ(grid, Seq("x", "y"), 8, 16))
    val rand = boxSum(grid.repartition(16))
    // 16 z-partitions tile the 65536-cell domain into near-disjoint
    // boxes (sum ~ domain); 16 random partitions each span everything
    assert(z <= 3 * 256 * 256, s"z partition boxes too loose: $z")
    assert(rand >= 14L * 256 * 256, s"random baseline unexpectedly tight: $rand")
    assert(z * 4 < rand, s"no locality win: z=$z rand=$rand")
  }

  test("z-layout skips parquet row groups on BOTH dims; linear sort only on its leader") {
    val n = 1 << 16
    val grid = spark.range(0, n).selectExpr(
      "CAST(id % 256 AS BIGINT) AS x", "CAST(id DIV 256 AS BIGINT) AS y",
      "CAST(id AS BIGINT) AS payload")
    def write(df: org.apache.spark.sql.DataFrame): String = {
      val dir = tempDir("zo_").toString + "/t"
      df.coalesce(1).write.option("parquet.block.size", 16 * 1024).parquet(dir)
      dir
    }
    val zDir = write(ZOrder.clusterByZ(grid, Seq("x", "y"), 8, 1))
    val xDir = write(grid.orderBy("x", "y"))
    def scanRows(dir: String, filter: org.apache.spark.sql.Column): Long = {
      val q = spark.read.parquet(dir).where(filter)
      q.collect()
      q.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
    }
    val yFilter = col("y") >= 16 && col("y") <= 31
    val xFilter = col("x") >= 16 && col("x") <= 31
    // both layouts skip on x-ranges...
    assert(scanRows(zDir, xFilter) < n / 2)
    assert(scanRows(xDir, xFilter) < n / 2)
    // ...but only the z layout also skips on a pure y-range: the
    // x-sorted file's row groups all span the full y domain
    val zy = scanRows(zDir, yFilter)
    val xy = scanRows(xDir, yFilter)
    assert(zy < n / 2, s"z layout failed to skip on y: scanned $zy of $n")
    // (a couple of boundary row groups can still have narrow y stats,
    // so "no skipping" means scanning essentially everything)
    assert(xy > n * 95L / 100, s"x-sorted layout unexpectedly skipped on y: $xy")
    assert(zy * 4 < xy, s"z layout not meaningfully better: z=$zy linear=$xy")
  }

  test("hilbert: bijective, origin-anchored, every curve step is a unit move") {
    graft.functions.GeoFunctions.register(spark)
    for (bits <- 1 to 5) {
      val n = 1L << bits
      val cells = spark.range(n * n)
        .select((col("id") % n).as("x"), floor(col("id") / n).cast("long").as("y"))
        .withColumn("h", ZOrder.hilbert(col("x"), col("y"), bits))
        .collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
        .sortBy(_._1)
      // bijection onto [0, 4^bits)
      assert(cells.map(_._1).toSeq == (0L until n * n).toSeq,
        s"bits=$bits: indexes not a permutation")
      assert(cells.head._2 == ((0L, 0L)), s"bits=$bits: curve must start at origin")
      // the Hilbert property z-order lacks: consecutive indexes are
      // ALWAYS edge-adjacent cells (no seam jumps)
      cells.sliding(2).foreach { w =>
        val (_, (x1, y1)) = w(0); val (_, (x2, y2)) = w(1)
        assert((x1 - x2).abs + (y1 - y2).abs == 1,
          s"bits=$bits: non-unit step ($x1,$y1)->($x2,$y2)")
      }
    }
    // masking: out-of-range inputs wrap to the low bits
    val sp = spark
    import sp.implicits._
    val m = Seq((5L + 32L, 2L), (5L, 2L)).toDF("x", "y")
      .select(ZOrder.hilbert(col("x"), col("y"), 5).as("h"))
      .collect().map(_.getLong(0))
    assert(m(0) == m(1))
  }

  test("clusterByHilbert: rows preserved, contiguous index ranges per partition") {
    val sp = spark
    import sp.implicits._
    val grid = spark.range(1024L)
      .select((col("id") % 32).as("x"), floor(col("id") / 32).cast("long").as("y"))
    val out = ZOrder.clusterByHilbert(grid, "x", "y", 5, 4)
    assert(out.count() == 1024L)
    val ranges = out
      .withColumn("h", ZOrder.hilbert(col("x"), col("y"), 5))
      .withColumn("p", spark_partition_id())
      .groupBy("p").agg(min("h").as("lo"), max("h").as("hi"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // range partitioning: partitions tile the index space without overlap
    ranges.sliding(2).foreach { w =>
      if (w.length == 2) assert(w(0)._2 < w(1)._1,
        s"overlapping hilbert ranges: ${w.toSeq}")
    }
    assert(ranges.map(_._3).sum == 1024L)
  }
}
