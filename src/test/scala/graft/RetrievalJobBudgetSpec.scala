package graft

import java.util.concurrent.atomic.AtomicLong

import graft.operators.{Retrieval, TextAnalysis}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Job budgets of the retrieval chain on the sf0.001 fixture: every job
  * an operator starts is counted, from building its DataFrame to running
  * it to a no-op sink. Each scheduled job costs driver round trips
  * whatever its size, so the chain's operators keep to the counts below;
  * a change that stacks another exchange or broadcast into one of them
  * fails here. Inputs are built before counting, so each count is the
  * operator's own work on them. */
class RetrievalJobBudgetSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private val started = new AtomicLong

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("retrieval-job-budget").getOrCreate()
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    })
    s
  }

  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()

  /** jobs started while building `df` and running it to a no-op sink */
  private def jobsOf(df: => DataFrame): Long = {
    org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
    val before = started.get
    df.write.format("noop").mode("overwrite").save()
    org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
    started.get - before
  }

  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val queries = {
    val sp = spark
    import sp.implicits._
    Seq((0L, "hash join"), (1L, "slow scan filter"), (2L, "vector window spark"),
      (3L, "nosuchtoken")).toDF("qid", "qtext")
  }
  /** ten candidate documents per query, as a first stage would hand over */
  private lazy val cands = local(emb.select(col("vec_id").as("doc_id"))
    .crossJoin(emb.where(col("vec_id") < 4).select(col("vec_id").as("qid")))
    .where(pmod(col("doc_id") * 7 + col("qid"), lit(50)) < 1)
    .select("qid", "doc_id"))

  test("bm25TopK: at most 6 jobs") {
    val (corpus, batch) = (docs, queries)
    val n = jobsOf(TextAnalysis.bm25TopK(corpus, "doc_id", "text", batch,
      "qid", "qtext", k = 20))
    assert(n <= 6, s"bm25TopK ran $n jobs")
  }

  test("maxSimRerank: at most 5 jobs") {
    val qbags = emb.where(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), array(col("embedding")).as("qvecs"))
    val dbags = emb.select(col("vec_id").as("doc_id"),
      array(col("embedding"), transform(col("embedding"), x => -x)).as("dvecs"))
    val pairs = cands
    val n = jobsOf(Retrieval.maxSimRerank(qbags, dbags, pairs, k = 10))
    assert(n <= 5, s"maxSimRerank ran $n jobs")
  }

  test("retrievalMetrics: at most 4 jobs") {
    val results = cands.withColumn("rnk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy("doc_id")).cast("int"))
    val rankedLocal = local(results)
    val qrels = emb.where(col("vec_id") < 4).select(col("vec_id").as("qid"))
      .crossJoin(emb.select(col("vec_id").as("doc_id")))
      .withColumn("rel", when(pmod(col("doc_id") + col("qid"), lit(5)) === 0, 2)
        .when(pmod(col("doc_id") + col("qid"), lit(5)) === 1, 1).otherwise(0))
    val n = jobsOf(Retrieval.retrievalMetrics(rankedLocal, qrels, k = 10))
    assert(n <= 4, s"retrievalMetrics ran $n jobs")
  }

  test("q244_retrieval_e2e: at most 17 jobs from call to result") {
    val q244 = SparkEntry.queries("q244_retrieval_e2e")
    q244(spark, dir) // registers the fixture views (schema reads are jobs too)
    val n = jobsOf(q244(spark, dir))
    assert(n <= 17, s"q244_retrieval_e2e ran $n jobs")
  }
}
