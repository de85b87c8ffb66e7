package graft

import graft.operators.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted MinHash-LSH index: probe-equals-one-shot, incremental
  * append, parameter-sidecar integrity. The 100 TB contract under test:
  * dedup a new batch against corpus history WITHOUT rehashing history —
  * the batch's bucket keys broadcast against the band-partitioned
  * bucket table, candidates exact-Jaccard refined. */
class LshIndexSpec extends AnyFunSuite with TempDirs {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("lsh-index-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit =
    try if (spark != null) spark.stop() finally super.afterAll()

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "text")

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("ida", "idb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("probe against persisted index ≡ one-shot near-dups restricted to batch pairs") {
    val hist = docs.where(col("doc_id") % 3 =!= 2)
    val batch = docs.where(col("doc_id") % 3 === 2)
    val dir = tempDir("lsh_").toString
    Dedup.writeLshIndex(hist, "doc_id", "text", dir, numHashes = 64, bands = 64)
    val probed = pairs(Dedup.nearDupsAgainstLshIndex(spark, dir, batch,
      "doc_id", "text", corpus = docs, threshold = 0.35, minBandHits = 4))
    val oneShot = pairs(Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.35, numHashes = 64, bands = 64,
        refineOnShingles = true, minBandHits = 4))
      .filter { case (a, b) => a % 3 == 2 || b % 3 == 2 }
    assert(probed == oneShot, "probe must equal the one-shot restriction")
    assert(probed.nonEmpty, "fixture must exercise at least one pair")
    // probe finds only batch-touching pairs
    assert(probed.forall { case (a, b) => a % 3 == 2 || b % 3 == 2 })
  }

  test("append to index: probe after appends ≡ probe of one-shot index") {
    val h1 = docs.where(col("doc_id") % 3 === 0)
    val h2 = docs.where(col("doc_id") % 3 === 1)
    val batch = docs.where(col("doc_id") % 3 === 2)
    val grown = tempDir("lsh_a_").toString
    Dedup.writeLshIndex(h1, "doc_id", "text", grown, numHashes = 64, bands = 64)
    Dedup.appendToLshIndex(spark, grown, h2, "doc_id", "text")
    val oneShot = tempDir("lsh_b_").toString
    Dedup.writeLshIndex(h1.unionByName(h2), "doc_id", "text", oneShot,
      numHashes = 64, bands = 64)
    def probe(dir: String) = pairs(Dedup.nearDupsAgainstLshIndex(spark, dir,
      batch, "doc_id", "text", corpus = docs, threshold = 0.35, minBandHits = 4))
    assert(probe(grown) == probe(oneShot))
    // append used the sidecar's parameters: bucket row counts match
    def buckets(root: String): String =
      graft.util.FsIO.indexDataDir(spark, root) + "/buckets"
    val na = spark.read.parquet(buckets(grown)).count()
    val nb = spark.read.parquet(buckets(oneShot)).count()
    assert(na == nb)
  }

  test("lshRecallFrame: recall laws — full banding finds all, crippled banding does not") {
    // 64 single-row bands: a J >= 0.35 pair escapes with p <= 0.65^64,
    // so on this corpus the deterministic recall must be 1.0; ONE
    // 64-row band demands all 64 minhashes equal — near-dups that are
    // not exact dups are missed and recall drops strictly below 1
    val full = Dedup.lshRecallFrame(docs, "doc_id", "text",
      threshold = 0.35, numHashes = 64, bands = 64).collect()(0)
    assert(full.getLong(0) > 0L, "fixture has no qualifying pairs (vacuous)")
    assert(full.getDouble(2) == 1.0, s"full banding must find all: $full")
    val crippled = Dedup.lshRecallFrame(docs, "doc_id", "text",
      threshold = 0.35, numHashes = 64, bands = 1).collect()(0)
    assert(crippled.getDouble(2) < 1.0,
      s"one 64-row band cannot find non-identical near-dups: $crippled")
    // deterministic sampling: same sampleOneIn -> same numbers twice
    val a = Dedup.lshRecallFrame(docs, "doc_id", "text", threshold = 0.35,
      sampleOneIn = 3).collect()(0)
    val b = Dedup.lshRecallFrame(docs, "doc_id", "text", threshold = 0.35,
      sampleOneIn = 3).collect()(0)
    assert(a.toSeq == b.toSeq, "sampled recall must be deterministic")
    // empty exact set (impossible threshold) -> recall 1.0 by convention
    val empty = Dedup.lshRecallFrame(docs.limit(3), "doc_id", "text",
      threshold = 1.1).collect()(0)
    assert(empty.getLong(0) == 0L && empty.getDouble(2) == 1.0)
  }

  test("missing or corrupt sidecar fails loudly, not with a silent law change") {
    val dir = tempDir("lsh_c_").toString
    intercept[java.io.IOException] {
      Dedup.appendToLshIndex(spark, dir, docs.limit(5), "doc_id", "text")
    }
    Dedup.writeLshIndex(docs.limit(20), "doc_id", "text", dir)
    // corrupt the ACTIVE version's sidecar (the root holds only the pointer)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(
        graft.util.FsIO.indexDataDir(spark, dir), "_lsh_params.json"),
      """{"numHashes":64}""".getBytes)
    intercept[java.io.IOException] {
      Dedup.lshIndexCandidates(spark, dir, docs.limit(5), "doc_id", "text")
    }
  }

  test("oversized combined buckets are dropped from candidate generation") {
    val sp = spark
    import sp.implicits._
    // 30 identical docs + 2 near-dups: identical docs land in one bucket
    // of size 30 per band; cap 10 drops them, the pair among distinct
    // near-dups (bucket of 2) survives
    val same = (0L until 30L).map(i => (i, "alpha beta gamma delta epsilon"))
    val near = Seq((100L, "one two three four five six seven"),
      (101L, "one two three four five six eight"))
    val all = (same ++ near).toDF("doc_id", "text")
    val dir = tempDir("lsh_d_").toString
    Dedup.writeLshIndex(all.where(col("doc_id") =!= 101L), "doc_id", "text", dir,
      numHashes = 64, bands = 64)
    val batch = all.where(col("doc_id") === 101L)
    val capped = pairs(Dedup.nearDupsAgainstLshIndex(spark, dir, batch,
      "doc_id", "text", corpus = all, threshold = 0.35, maxBucket = 10))
    assert(capped == Set((100L, 101L)))
  }
}
