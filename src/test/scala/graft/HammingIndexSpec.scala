package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted hamming/simhash index (Dedup.writeHammingIndex family):
  * probe-against-history must equal the one-shot in-memory pair search
  * over (history ∪ batch) restricted to batch-touching pairs, appends
  * must use the index's recorded band law, and compaction must merge
  * band shards without changing a probe. */
class HammingIndexSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()

  private def scratch(): String =
    tempDir("hamidx").toString + "/idx"

  // near-dup families: base sentences with 0-2 word substitutions — the
  // same corpus shape simhashNearDups is specced on
  private def docsDf = {
    val sp = spark
    import sp.implicits._
    val bases = Seq(
      "the quick brown fox jumps over the lazy dog every single morning",
      "spark shuffles hash partitions across the cluster during wide stages",
      "training data pipelines deduplicate documents before tokenization begins")
    (0L until 90L).map { i =>
      val b = bases((i % 3).toInt).split(" ")
      val v = (i / 3) % 4 match {
        case 0 => b
        case 1 => b.updated(2, "swapped")
        case 2 => b.updated(5, "changed")
        case _ => b.updated(2, "swapped").updated(5, "changed")
      }
      (i, v.mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("simhash probe against grown index == one-shot pairs restricted to batch") {
    val docs = docsDf
    val h1 = docs.where(col("doc_id") % 3 === 0)
    val h2 = docs.where(col("doc_id") % 3 === 1)
    val batch = docs.where(col("doc_id") % 3 === 2)
    val path = scratch()
    graft.operators.Dedup.writeSimhashIndex(h1, "doc_id", "text", path, bands = 4)
    graft.operators.Dedup.appendToSimhashIndex(spark, path, h2, "doc_id", "text")
    val got = pairSet(graft.operators.Dedup.simhashIndexPairs(
      spark, path, batch, "doc_id", "text", maxHamming = 3))
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val oneShot = pairSet(graft.operators.Dedup.simhashNearDups(
        docs, "doc_id", "text", maxHamming = 3, bands = 4))
      .filter { case (a, b, _) => batchIds(a) || batchIds(b) }
    assert(got == oneShot, s"probe != one-shot: ${got.diff(oneShot)} / ${oneShot.diff(got)}")
    assert(got.nonEmpty, "fixture produced no near-dup pairs (vacuous)")
  }

  test("simhash dedup loop from text: streamed batches + replay land on the one-shot clusters") {
    val docs = docsDf
    val h = docs.where(col("doc_id") % 3 === 0)
    val b1 = docs.where(col("doc_id") % 3 === 1)
    val b2 = docs.where(col("doc_id") % 3 === 2)
    val root = tempDir("simloop").toString
    val idx = s"$root/idx"; val reg = s"$root/reg"; val snap = s"$root/snap"
    graft.operators.Dedup.writeSimhashIndex(h, "doc_id", "text", idx, bands = 4)
    graft.operators.Dedup.writeRegistry(
      docs.where(lit(false)).select(col("doc_id").as("ida"), col("doc_id").as("idb")),
      "ida", "idb", reg)
    graft.operators.Dedup.writeClusterSnapshot(spark, reg, snap)
    graft.streaming.StreamOps.simhashDedupLoopBatch(idx, reg, snap, b1, "doc_id", "text")
    // retry of the whole loop body: probe set unchanged (batch already
    // indexed), duplicate facts, strict-no-op refresh
    graft.streaming.StreamOps.simhashDedupLoopBatch(idx, reg, snap, b1, "doc_id", "text")
    graft.streaming.StreamOps.simhashDedupLoopBatch(idx, reg, snap, b2, "doc_id", "text")
    // expected evidence = one-shot near-dup pairs touching b1 ∪ b2
    // (b1's probe sees h ∪ b1, b2's probe sees everything)
    val batchIds = (0L until 90L).filter(i => i % 3 != 0).toSet
    val sp = spark
    import sp.implicits._
    val expectedEdges = pairSet(graft.operators.Dedup.simhashNearDups(
        docs, "doc_id", "text", maxHamming = 3, bands = 4))
      .filter { case (a, b, _) => batchIds(a) || batchIds(b) }
      .map { case (a, b, _) => (a, b) }.toSeq.toDF("a", "b")
    val expect = graft.operators.Dedup
      .connectedComponents(expectedEdges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(expect.nonEmpty, "fixture produced no pair evidence (vacuous)")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(toMap(graft.operators.Dedup.registryClusters(spark, reg)) == expect,
      "registry clusters != one-shot CC over batch-touching evidence")
    assert(toMap(graft.operators.Dedup.readClusterSnapshot(spark, snap)) == expect,
      "snapshot != one-shot CC over batch-touching evidence")
  }

  test("compaction merges band shards; probe planned before it still runs") {
    val docs = docsDf
    val path = scratch()
    graft.operators.Dedup.writeSimhashIndex(
      docs.where(col("doc_id") % 3 === 0), "doc_id", "text", path, bands = 4)
    graft.operators.Dedup.appendToSimhashIndex(spark, path,
      docs.where(col("doc_id") % 3 === 1), "doc_id", "text")
    val batch = docs.where(col("doc_id") % 3 === 2)
    val before = pairSet(graft.operators.Dedup.simhashIndexPairs(
      spark, path, batch, "doc_id", "text"))
    val planned = graft.operators.Dedup.simhashIndexPairs(
      spark, path, batch, "doc_id", "text")
    graft.operators.Dedup.compactHammingIndex(spark, path)
    assert(pairSet(planned) == before,
      "pre-compaction plan must keep reading its resolved version")
    assert(pairSet(graft.operators.Dedup.simhashIndexPairs(
      spark, path, batch, "doc_id", "text")) == before)
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val perBand = new java.io.File(s"$dataDir/buckets").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("band="))
      .map(d => d.getName ->
        d.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet")))
      .toMap
    assert(perBand.nonEmpty && perBand.values.forall(_ == 1),
      s"bands not merged to one file: $perBand")
  }

  test("adaptive probe: a batch past broadcastMaxRows takes the shuffle path, same pairs") {
    val docs = docsDf
    val path = scratch()
    graft.operators.Dedup.writeSimhashIndex(
      docs.where(col("doc_id") % 3 < 2), "doc_id", "text", path, bands = 4)
    val batch = docs.where(col("doc_id") % 3 === 2)
    val viaBroadcast = graft.operators.Dedup.simhashIndexPairs(
      spark, path, batch, "doc_id", "text", maxHamming = 3)
    // broadcastMaxRows = 0 forces every batch onto the shuffle shape
    val viaShuffle = graft.operators.Dedup.simhashIndexPairs(
      spark, path, batch, "doc_id", "text", maxHamming = 3,
      broadcastMaxRows = 0L)
    assert(pairSet(viaShuffle) == pairSet(viaBroadcast))
    assert(pairSet(viaShuffle).nonEmpty, "vacuous fixture")
    // the hint really is gone: the small path plans broadcast hints,
    // the large path must not force any (AQE stays free to choose)
    assert(viaBroadcast.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("broadcast"))
    assert(!viaShuffle.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("broadcast"),
      "forced-shuffle probe must carry no broadcast hint")
    // the LSH probe obeys the same knob
    val lsh = scratch()
    graft.operators.Dedup.writeLshIndex(docs.where(col("doc_id") % 3 < 2),
      "doc_id", "text", lsh, numHashes = 32, bands = 8)
    val lshB = graft.operators.Dedup.lshIndexCandidates(
        spark, lsh, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshS = graft.operators.Dedup.lshIndexCandidates(
        spark, lsh, batch, "doc_id", "text", broadcastMaxRows = 0L)
    assert(lshS.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == lshB)
    assert(!lshS.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("broadcast"))
  }

  test("radius >= bands is rejected (pigeonhole completeness guard)") {
    val path = scratch()
    graft.operators.Dedup.writeSimhashIndex(docsDf, "doc_id", "text", path,
      bands = 4)
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.simhashIndexPairs(spark, path, docsDf.limit(5),
        "doc_id", "text", maxHamming = 4)
    }
  }

  test("oversized combined buckets are dropped before their members are gathered") {
    val sp = spark
    import sp.implicits._
    // 30 history docs share one fingerprint and batch doc 30 joins them:
    // every band's combined bucket holds 31 rows, over the cap of 10; the
    // near pair (hamming 1, buckets of 2) survives
    val same = (0L to 30L).map(i => (i, 0x0123456789abcdefL))
    val near = Seq((100L, 0x7edcba9876543210L), (101L, 0x7edcba9876543211L))
    val all = (same ++ near).toDF("doc_id", "sh")
    val path = scratch()
    graft.operators.Dedup.writeHammingIndex(
      all.where(col("doc_id") < 30L || col("doc_id") === 100L), "doc_id", "sh", path)
    val batch = all.where(col("doc_id") === 30L || col("doc_id") === 101L)
    def probe(maxBucket: Int) = graft.operators.Dedup.hammingIndexPairs(
      spark, path, batch, "doc_id", "sh", maxBucket = maxBucket)
    assert(pairSet(probe(10)) == Set((100L, 101L, 1)))
    assert(pairSet(probe(31)).size == 31, "uncapped, doc 30 pairs with all 30 (vacuous)")
    // the window's count filter sits below the only member gather
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Window}
    val gathers = probe(10).queryExecution.optimizedPlan.collect {
      case a: Aggregate
          if a.aggregateExpressions.exists(_.find(_.isInstanceOf[CollectList]).isDefined) => a
    }
    assert(gathers.size == 1 && gathers.head.child.find {
      case f: Filter => f.child.isInstanceOf[Window]
      case _ => false
    }.isDefined, s"no capped window below the gather: $gathers")
  }
}
