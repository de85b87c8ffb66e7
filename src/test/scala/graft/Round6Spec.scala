package graft

import graft.util.Round6.rz6
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** rz6 as one expression node against the Column formula it replaces,
  * `signum(c) * floor(abs(c) * 1e6 + 0.5) / 1e6`: bit-identical on the
  * values where rounding laws usually part ways, in generated code and in
  * interpreted evaluation. */
class Round6Spec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("round6-spec").getOrCreate()

  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()

  private def formula(c: Column): Column =
    signum(c) * floor(abs(c) * 1e6 + lit(0.5)) / 1e6

  private val edge2p53 = math.pow(2, 53) / 1e6
  private val values: Seq[java.lang.Double] = (Seq(
      0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, -Double.MinPositiveValue, Double.MaxValue, -Double.MaxValue,
      // exact halves at the 6th place and their neighbours
      0.0000005, -0.0000005, 1.0000005, -2.5e-6, 0.1234565, 4.875 * 0.052972,
      0.005 * 0.0363, 0.2582385, 123456.7890125,
      // around 2^53/1e6, where the scaled value stops holding halves
      edge2p53, -edge2p53, math.nextUp(edge2p53), math.nextDown(edge2p53),
      edge2p53 * 2, 9.2233720368547e12, 1e13, -1e13) ++
    (1 to 200).map(i => math.sin(i * 0.7) * math.pow(10, i % 9 - 3)))
    .flatMap(v => Seq(v, math.nextUp(v), math.nextDown(v))).map(Double.box) :+ null

  private def bits(v: Any): Option[Long] =
    Option(v).map(d => java.lang.Double.doubleToLongBits(d.asInstanceOf[Double]))

  test("rz6 is bit-identical to the Column formula, codegen and interpreted") {
    val schema = StructType(Seq(StructField("v", DoubleType)))
    val rows = values.map(v => org.apache.spark.sql.Row(v))
    import scala.jdk.CollectionConverters._
    // an RDD-backed frame runs whole-stage codegen; a local one is folded
    // by the optimizer with interpreted evaluation
    val codegen = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val interpreted = spark.createDataFrame(rows.asJava, schema)
    for (df <- Seq(codegen, interpreted)) {
      val out = df.select(col("v"), rz6(col("v")).as("new"), formula(col("v")).as("old"))
        .collect()
      assert(out.length == values.length)
      val diffs = out.filter(r => bits(r.get(1)) != bits(r.get(2)))
      assert(diffs.isEmpty, diffs.take(5).mkString(", "))
    }
    // null in, null out; nested rz6 keeps the law
    val nested = codegen.select(rz6(rz6(col("v") * 3.0) / 7.0).as("new"),
        formula(formula(col("v") * 3.0) / 7.0).as("old")).collect()
    assert(nested.forall(r => bits(r.get(0)) == bits(r.get(1))))
  }
}
