package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The round-12 map-only curation operators are usable UNCHANGED inside
  * Structured Streaming: their plans are stateless projections (no
  * window, no multi-pass), so `readStream → operator → writeStream`
  * must produce exactly the batch operator's rows. This spec drives
  * each through a real MemoryStream micro-batch run and compares
  * against the batch path — the contract a streaming ingest pipeline
  * (score-and-route on arrival) relies on. Operators with corpus-wide
  * state (BM25 idf, PCA moments, BPE learning, hashed-embedding NORMS)
  * are deliberately absent: they aggregate over the corpus and belong
  * in foreachBatch with a pre-built model, like q123/q133 demonstrate
  * for dedup. */
class StreamCompatSpec extends AnyFunSuite with TempDirs {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("stream-compat").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GeoFunctions.register(spark)
  }

  override def afterAll(): Unit =
    try if (spark != null) spark.stop() finally super.afterAll()

  private val docs = Seq(
    (0L, "alpha beta gamma delta epsilon zeta eta theta."),
    (1L, "école naïve plain."),
    (2L, ""),
    (3L, "enable javascript to view this page.\nreal sentence here."))

  test("BPE tokenCounts, c4Clean, gopherFlags, text_normalize stream unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val s = spark
    import s.implicits._
    val batchDf = docs.toDF("doc_id", "text")
    val merges = graft.operators.Bpe.learnFromCounts(
      Seq(("alpha", 3L), ("beta", 2L)), numMerges = 4)

    val mem = MemoryStream[(Long, String)]
    val streamDf = mem.toDF().toDF("doc_id", "text")

    def run(name: String, f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      val q = f(streamDf).writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      (q, () => { q.processAllAvailable(); q.stop(); spark.table(name) })
    }

    val (q1, get1) = run("s_bpe",
      df => graft.operators.Bpe.tokenCounts(df, "doc_id", "text", merges))
    val (q2, get2) = run("s_c4",
      df => graft.operators.Curation.c4Clean(df, "doc_id", "text",
        badwords = Seq("badword"), minSentences = 1))
    val (q3, get3) = run("s_norm",
      df => df.selectExpr("doc_id", "text_normalize(text, 'nfc') AS t"))
    val (q4, get4) = run("s_gopher",
      df => graft.operators.TextAnalysis.gopherFlags(df, "doc_id", "text"))
    mem.addData(docs: _*)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq

    assert(rows(get1()) == rows(
      graft.operators.Bpe.tokenCounts(batchDf, "doc_id", "text", merges)))
    assert(rows(get2()) == rows(
      graft.operators.Curation.c4Clean(batchDf, "doc_id", "text",
        badwords = Seq("badword"), minSentences = 1)))
    assert(rows(get3()) == rows(
      batchDf.selectExpr("doc_id", "text_normalize(text, 'nfc') AS t")))
    assert(rows(get4()) == rows(
      graft.operators.TextAnalysis.gopherFlags(batchDf, "doc_id", "text")))
    assert(rows(get1()).size == 4)
  }

  test("windowedDistinctSketch: streaming windowed distinct via HLL blobs") {
    implicit val sqlCtx = spark.sqlContext
    val s = spark
    import s.implicits._
    val mem = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = mem.toDF().toDF("ts", "k", "v")
    val q = graft.streaming.StreamOps
      .windowedDistinctSketch(df, "ts", "k", "v",
        windowLen = "10 minutes", watermark = "10 minutes")
      .writeStream.format("memory").queryName("s_sketch")
      .outputMode("append").start()
    def t(min: Int) = new java.sql.Timestamp(min * 60000L)
    mem.addData((t(0), "a", "x"), (t(1), "a", "y"), (t(2), "a", "x"),
      (t(3), "b", "x"))
    q.processAllAvailable()
    // advance the watermark past window [0,10) so append mode emits it
    mem.addData((t(60), "a", "z"))
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("s_sketch")
      .selectExpr("k", "n_distinct_est").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // sparse-mode HLL is exact at these cardinalities
    assert(emitted == Map("a" -> 2L, "b" -> 1L))
    // the emitted blobs keep merging downstream: cross-window rollup per
    // key and a global union both via hll_union_agg on the SINK table
    val rollup = spark.table("s_sketch").groupBy("k")
      .agg(org.apache.spark.sql.functions.expr(
        "hll_sketch_estimate(hll_union_agg(sk))").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rollup == Map("a" -> 2L, "b" -> 1L))
  }

  test("heavy hitters stream in complete mode == batch mg_topk") {
    implicit val sqlCtx = spark.sqlContext
    val s = spark
    import s.implicits._
    val events = (0 until 400).map(i =>
      (if (i % 2 == 0) "a" else "b", s"tok${i % (if (i % 2 == 0) 5 else 9)} filler"))
    val mem = MemoryStream[(String, String)]
    val q = graft.operators.Freq.heavyHitterTokens(
        mem.toDF().toDF("g", "text"), "g", "text", capacity = 64, k = 3)
      .writeStream.format("memory").queryName("s_hh")
      .outputMode("complete").start()
    mem.addData(events.take(150): _*)
    q.processAllAvailable()
    mem.addData(events.drop(150): _*) // second batch re-aggregates ALL state
    q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("g", "rnk").collect().map(_.toSeq).toSeq
    val batch = graft.operators.Freq.heavyHitterTokens(
      events.toDF("g", "text"), "g", "text", capacity = 64, k = 3)
    assert(rows(spark.table("s_hh")) == rows(batch))
  }

  test("cms maintenance: incremental == one-shot; batch retry is idempotent") {
    val s = spark
    import s.implicits._
    val dir = tempDir("cms-state-").toString
    val state = new graft.streaming.CompactingKeyState(spark, dir, compactEvery = 1)
    val b0 = (0 until 300).map(i => (i % 17).toLong).toDF("k")
    val b1 = (0 until 200).map(i => (i % 23).toLong).toDF("k")
    val (w, d) = (16, 2)
    graft.streaming.StreamOps.cmsAppendBatch(state, b0, "k", w, d, batchId = 0L)
    graft.streaming.StreamOps.cmsAppendBatch(state, b1, "k", w, d, batchId = 1L)
    // a foreachBatch RETRY: same batch, same id — byte-identical delta
    // rows collapse under the state's set semantics
    graft.streaming.StreamOps.cmsAppendBatch(state, b1, "k", w, d, batchId = 1L)
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val incremental = cells(graft.streaming.StreamOps.cmsReadSketch(state).get)
    val oneShot = cells(graft.operators.Freq.cmsBuild(b0.unionByName(b1), "k", w, d))
    assert(incremental == oneShot)
  }
}
