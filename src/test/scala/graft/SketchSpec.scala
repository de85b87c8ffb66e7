package graft

import graft.operators.Sketch
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** HLL sketch overlap: determinism, parquet persistence + later merge
  * (the "sketch once, union across days" contract), estimate accuracy
  * against exact overlap, and the small-set exactness regime. */
class SketchSpec extends AnyFunSuite with TempDirs {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("sketch-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit =
    try if (spark != null) spark.stop() finally super.afterAll()

  private def fixture = {
    val sp = spark
    import sp.implicits._
    // groups g0 {0..999}, g1 {500..1499}, g2 {0..99} — known overlaps
    ((0 until 1000).map(i => ("g0", s"v$i")) ++
     (500 until 1500).map(i => ("g1", s"v$i")) ++
     (0 until 100).map(i => ("g2", s"v$i"))).toDF("g", "v")
  }

  test("estimates track exact overlap within the documented union-relative bound") {
    val sk = Sketch.groupSketches(fixture, "g", "v")
    val est = Sketch.overlapEstimates(sk, "g").collect()
      .map(r => (r.getAs[String]("grp_a"), r.getAs[String]("grp_b")) ->
        (r.getAs[Long]("est_ab"), r.getAs[Long]("est_union"))).toMap
    val exact = Map(("g0", "g1") -> 500L, ("g0", "g2") -> 100L, ("g1", "g2") -> 0L)
    val unions = Map(("g0", "g1") -> 1500L, ("g0", "g2") -> 1000L, ("g1", "g2") -> 1100L)
    for ((pair, nAb) <- exact) {
      val (estAb, estU) = est(pair)
      assert(math.abs(estAb - nAb) <= 0.05 * unions(pair),
        s"$pair: est $estAb vs exact $nAb (union ${unions(pair)})")
      assert(math.abs(estU - unions(pair)) <= 0.05 * unions(pair))
    }
    // exactOverlap agrees with the constructed truth (zero-overlap pair absent)
    val ex = Sketch.exactOverlap(fixture, "g", "v").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(ex == exact.filter(_._2 > 0))
  }

  test("merge order shifts estimates only within the error band; persisted shards merge") {
    // EMPIRICAL pin of a real Datasketches property: the hll_union
    // merge path is order-INSENSITIVE only up to the sketch's error
    // band, not bit-exact (measured here: 998 vs 1003 on a 1000-value
    // set under repartitioning). Anything gating on sketch output must
    // therefore budget the union-relative error bound, never equality —
    // which is exactly how q169's est_ok and overlapEstimates document
    // it. Within ONE plan (fixed partitioning) results stay stable.
    val sk1 = Sketch.groupSketches(fixture, "g", "v")
    val sk2 = Sketch.groupSketches(fixture.repartition(7), "g", "v")
    def ests(df: org.apache.spark.sql.DataFrame) =
      df.select(col("g"), expr("hll_sketch_estimate(sk)").as("e"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (e1, e2) = (ests(sk1), ests(sk2))
    val truth = Map("g0" -> 1000L, "g1" -> 1000L, "g2" -> 100L)
    for ((g, n) <- truth; e <- Seq(e1(g), e2(g)))
      assert(math.abs(e - n) <= 0.05 * n, s"$g: $e vs true $n")

    // persist per-"day" sketches, read back, merge with hll_union_agg:
    // the merged estimate tracks the one-shot estimate within the band
    val dir = tempDir("sk_").toString
    val day1 = fixture.where(substring(col("v"), 2, 10).cast("int") % 2 === 0)
    val day2 = fixture.where(substring(col("v"), 2, 10).cast("int") % 2 === 1)
    Sketch.groupSketches(day1, "g", "v").write.parquet(s"$dir/d1")
    Sketch.groupSketches(day2, "g", "v").write.parquet(s"$dir/d2")
    val merged = spark.read.parquet(s"$dir/d1").unionByName(spark.read.parquet(s"$dir/d2"))
      .groupBy("g").agg(expr("hll_union_agg(sk)").as("sk"))
    for ((g, n) <- truth)
      assert(math.abs(ests(merged)(g) - n) <= 0.05 * n,
        "union of persisted shard sketches must track the true cardinality")
  }

  test("small sets estimate exactly (HLL sparse mode) and n_exact matches") {
    val sp = spark
    import sp.implicits._
    val tiny = Seq(("a", "x"), ("a", "y"), ("a", "x"), ("b", "x")).toDF("g", "v")
    val sk = Sketch.groupSketches(tiny, "g", "v")
    val rows = sk.select(col("g"), expr("hll_sketch_estimate(sk)"), col("n_exact"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSet == Set(("a", 2L, 2L), ("b", 1L, 1L)))
    val ov = Sketch.overlapEstimates(sk, "g").collect()
    assert(ov.length == 1)
    assert(ov.head.getAs[Long]("est_ab") == 1L)
  }

  test("lgK bounds are enforced") {
    intercept[IllegalArgumentException] {
      Sketch.groupSketches(fixture, "g", "v", lgK = 2)
    }
  }
}
