package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted BM25 index: indexed retrieval ≡ in-memory bm25TopK
  * row-for-row, partition pruning really skips unprobed token buckets,
  * sidecar integrity. */
class Bm25IndexSpec extends AnyFunSuite with TempDirs {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("bm25-index-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit =
    try if (spark != null) spark.stop() finally super.afterAll()

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "text")

  private def queriesDf = {
    val sp = spark
    import sp.implicits._
    Seq((0L, "hash join"), (1L, "slow scan filter"),
      (2L, "vector window spark"), (3L, "nosuchtoken"))
      .toDF("qid", "qtext")
  }

  test("indexed retrieval reproduces bm25TopK row-for-row") {
    val dir = tempDir("bm25_").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", dir)
    val mem = TextAnalysis.bm25TopK(docs, "doc_id", "text",
        queriesDf, "qid", "qtext", k = 10)
      .orderBy("qid", "rnk").collect().map(_.toSeq).toSeq
    val idx = TextAnalysis.bm25SearchIndex(spark, dir, queriesDf,
        "qid", "qtext", k = 10)
      .orderBy("qid", "rnk").collect().map(_.toSeq).toSeq
    assert(idx == mem)
    assert(mem.nonEmpty)
  }

  test("probe prunes to the query tokens' buckets (corrupt unprobed, still works)") {
    val dir = tempDir("bm25_p_").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", dir, buckets = 16)
    val q1 = queriesDf.where(col("qid") === 0L)
    val probed = q1
      .select(explode(split(col("qtext"), " ")).as("t"))
      .select(pmod(hash(col("t")), lit(16)).as("pt"))
      .distinct().collect().map(_.getInt(0)).toSet
    val unprobed = (0 until 16).filterNot(probed.contains)
    assert(unprobed.nonEmpty)
    val expect = TextAnalysis.bm25SearchIndex(spark, dir, q1,
      "qid", "qtext", k = 10).collect().map(_.toSeq).toSeq
    val dataDir = graft.util.FsIO.indexDataDir(spark, dir)
    for (sub <- Seq("postings", "dfreq"); bad <- unprobed) {
      val d = new java.io.File(s"$dataDir/$sub/pt=$bad")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.write(f.toPath,
          "not a parquet file".getBytes))
    }
    val after = TextAnalysis.bm25SearchIndex(spark, dir, q1,
      "qid", "qtext", k = 10).collect().map(_.toSeq).toSeq
    assert(after == expect,
      "corrupting unprobed buckets must not change (or break) the probe")
  }

  test("append-grown index scores identically to a one-shot index of the union") {
    val h1 = docs.where(col("doc_id") % 3 =!= 2)
    val h2 = docs.where(col("doc_id") % 3 === 2)
    val grown = tempDir("bm25_g_").toString
    TextAnalysis.writeBm25Index(h1, "doc_id", "text", grown)
    TextAnalysis.appendToBm25Index(spark, grown, h2, "doc_id", "text")
    val oneShot = tempDir("bm25_o_").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", oneShot)
    def run(dir: String) = TextAnalysis.bm25SearchIndex(spark, dir,
        queriesDf, "qid", "qtext", k = 10)
      .orderBy("qid", "rnk").collect().map(_.toSeq).toSeq
    val (g, o) = (run(grown), run(oneShot))
    assert(g == o, "delta sums must reproduce the one-shot aggregates")
    assert(g.nonEmpty)
  }

  test("write/append release their postings cache (no persisted-RDD leak)") {
    // the writers persist the postings aggregation across their three
    // write actions (r22); a leaked cache entry would accumulate
    // executor memory across builds in a long-lived session
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val dir = tempDir("bm25_l_").toString
    TextAnalysis.writeBm25Index(docs.where(col("doc_id") % 3 =!= 2),
      "doc_id", "text", dir)
    TextAnalysis.appendToBm25Index(spark, dir,
      docs.where(col("doc_id") % 3 === 2), "doc_id", "text")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"postings cache leaked RDD ids: $leaked")
  }

  test("all-OOV and empty query batches return empty, not error") {
    val sp = spark
    import sp.implicits._
    val dir = tempDir("bm25_e_").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", dir)
    val oov = Seq((9L, "zzzz qqqq")).toDF("qid", "qtext")
    assert(TextAnalysis.bm25SearchIndex(spark, dir, oov, "qid", "qtext", 5)
      .count() == 0)
    val empty = Seq.empty[(Long, String)].toDF("qid", "qtext")
    assert(TextAnalysis.bm25SearchIndex(spark, dir, empty, "qid", "qtext", 5)
      .count() == 0)
  }

  test("missing sidecar fails loudly") {
    val dir = tempDir("bm25_m_").toString
    intercept[java.io.IOException] {
      TextAnalysis.bm25SearchIndex(spark, dir, queriesDf, "qid", "qtext", 5)
    }
  }
}
