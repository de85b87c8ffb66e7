package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Misra–Gries maintenance across micro-batches (StreamOps.mgAppendBatch
  * / mgReadSummary): the folded summary must carry the one-shot MG
  * guarantee over the union of batches — every item with true count
  * > N/(capacity+1) survives, estimates never exceed truth and
  * undercount by at most N/(capacity+1) — and appends must be
  * exactly-once under foreachBatch retries (same batchId re-append is a
  * no-op). With capacity >= distinct items the summary is exact (the
  * q208 oracle regime). */
class StreamMgSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()

  private def scratch(): String =
    tempDir("mgstate").toString + "/state"

  // skewed stream: item i appears ~ (40 - i)^2 times, shuffled
  // deterministically across 3 batches
  private lazy val stream: Seq[String] = {
    val rnd = new scala.util.Random(7)
    rnd.shuffle((0 until 40).flatMap(i =>
      Seq.fill((40 - i) * (40 - i))(s"k$i")))
  }

  private def truth: Map[String, Long] =
    stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  private def run(capacity: Int, retry: Boolean = false,
      compactEvery: Int = 1): Map[String, Long] = {
    val sp = spark
    import sp.implicits._
    val state = new graft.streaming.CompactingKeyState(spark, scratch(),
      compactEvery = compactEvery)
    val batches = stream.grouped((stream.size + 2) / 3).toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      graft.streaming.StreamOps.mgAppendBatch(state,
        b.toDF("k"), "k", capacity, batchId = i.toLong)
      if (retry && i == 1) // a foreachBatch retry re-runs the same batch
        graft.streaming.StreamOps.mgAppendBatch(state,
          b.toDF("k"), "k", capacity, batchId = i.toLong)
    }
    graft.streaming.StreamOps.mgReadSummary(state, capacity).get
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("capacity >= distinct items: folded summary is the exact count table") {
    assert(run(capacity = 64) == truth)
  }

  test("under capacity: the one-shot MG guarantee holds over the union") {
    val cap = 8
    val got = run(cap)
    val n = stream.size.toLong
    // bounds cross-multiplied so the real N/(cap+1) needs no rounding
    assert(got.size <= cap, s"summary exceeded capacity: ${got.size}")
    got.foreach { case (k, est) =>
      assert(est <= truth(k), s"$k overestimated: $est > ${truth(k)}")
      assert((truth(k) - est) * (cap + 1) <= n,
        s"$k undercut by ${truth(k) - est} > $n/${cap + 1}")
    }
    truth.filter { case (_, t) => t * (cap + 1) > n }.keys.foreach { k =>
      assert(got.contains(k), s"true heavy hitter $k evicted (count ${truth(k)})")
    }
  }

  test("foreachBatch retry with the same batchId is a no-op") {
    assert(run(capacity = 8, retry = true) == run(capacity = 8))
    assert(run(capacity = 64, retry = true) == truth)
  }

  // between compactions the state is a MULTISET: with compactEvery > 1 a
  // retried batch's byte-identical rows sit in TWO deltas, and only the
  // read-side distinct keeps the fold exactly-once — this is the case
  // that slipped round 14 (every prior exercise ran compactEvery = 1,
  // where the append-side distinct already collapsed the copies)
  test("retry is a no-op at compactEvery > 1 (duplicate deltas uncompacted)") {
    assert(run(capacity = 64, retry = true, compactEvery = 8) == truth)
    assert(run(capacity = 8, retry = true, compactEvery = 8) ==
      run(capacity = 8, compactEvery = 8))
  }

  // same multiset gap for the CM sketch fold: a retried batch's
  // identical (row, bucket, cnt, batch_id) cells must not double-count
  test("cms retry is a no-op at compactEvery > 1") {
    val sp = spark
    import sp.implicits._
    def cms(retry: Boolean): Map[(Long, Long), Long] = {
      val state = new graft.streaming.CompactingKeyState(spark, scratch(),
        compactEvery = 8)
      val batches = stream.grouped((stream.size + 2) / 3).toSeq
      batches.zipWithIndex.foreach { case (b, i) =>
        graft.streaming.StreamOps.cmsAppendBatch(state, b.toDF("k"), "k",
          width = 64, depth = 3, batchId = i.toLong)
        if (retry && i == 1)
          graft.streaming.StreamOps.cmsAppendBatch(state, b.toDF("k"), "k",
            width = 64, depth = 3, batchId = i.toLong)
      }
      graft.streaming.StreamOps.cmsReadSketch(state).get.collect()
        .map(r => (r.getAs[Number]("row").longValue,
          r.getAs[Number]("bucket").longValue) ->
          r.getAs[Number]("cnt").longValue).toMap
    }
    val clean = cms(retry = false)
    assert(clean.values.sum == stream.size.toLong * 3,
      "each depth row must carry the full stream mass")
    assert(cms(retry = true) == clean)
  }
}
