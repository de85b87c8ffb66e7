package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Compaction of persisted indexes (BM25 / LSH / IVF / IVF-PQ): the two
  * laws are (1) compaction never changes a search result — searches
  * before and after must be row-identical — and (2) it actually merges
  * the append shards: every partition directory (pt= / band= / list=)
  * ends with exactly ONE data file, where appends had left several,
  * sorted as its compactor documents. */
class IndexCompactionSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()

  private def scratch(prefix: String): String =
    tempDir(prefix).toString + "/idx"

  /** the ACTIVE version directory of a versioned index root */
  private def dataDir(path: String): String =
    graft.util.FsIO.indexDataDir(spark, path)

  /** data-file counts per partition directory under `dir` (recursing one
    * level), ignoring _SUCCESS and hidden checksum files */
  private def filesPerPartDir(dir: String): Map[String, Int] = {
    val root = new java.io.File(dir)
    root.listFiles().filter(_.isDirectory)
      .filter(_.getName.contains("="))
      .map(d => d.getName ->
        d.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet")))
      .toMap
  }

  /** every data file in `dir`'s partition directories, read alone and
    * in file order, is sorted by `cols` */
  private def assertFileOrder(dir: String, cols: String*): Unit =
    for (d <- new java.io.File(dir).listFiles() if d.isDirectory && d.getName.contains("=");
         f <- d.listFiles() if f.isFile && f.getName.endsWith(".parquet")) {
      val rows = spark.read.parquet(f.getPath).select(cols.map(col): _*).collect()
        .map(_.toSeq.map(_.asInstanceOf[Comparable[Any]]))
      val ordered = rows.sliding(2).forall {
        case Array(a, b) =>
          a.zip(b).map { case (x, y) => x.compareTo(y) }.find(_ != 0).forall(_ < 0)
        case _ => true
      }
      assert(ordered, s"$f is not sorted by ${cols.mkString(", ")}")
    }

  private def docsDf = {
    val sp = spark
    import sp.implicits._
    val words = Seq("alpha", "beta", "gamma", "delta", "hash", "join",
      "scan", "filter", "spark", "window", "vector", "index")
    (0L until 120L).map { i =>
      val body = (0 until 8).map(j => words(((i * 7 + j * 3) % 12).toInt))
      (i, body.mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("BM25: compact folds deltas, one file per bucket, search unchanged") {
    val docs = docsDf
    val path = scratch("bm25cpt")
    graft.operators.TextAnalysis.writeBm25Index(
      docs.where(col("doc_id") % 3 === 0), "doc_id", "text", path, buckets = 8)
    graft.operators.TextAnalysis.appendToBm25Index(spark, path,
      docs.where(col("doc_id") % 3 === 1), "doc_id", "text")
    graft.operators.TextAnalysis.appendToBm25Index(spark, path,
      docs.where(col("doc_id") % 3 === 2), "doc_id", "text")
    val sp = spark
    import sp.implicits._
    val queries = Seq((0L, "hash join"), (1L, "vector index spark"),
      (2L, "nosuchtoken")).toDF("qid", "qtext")
    def search() = graft.operators.TextAnalysis.bm25SearchIndex(
        spark, path, queries, "qid", "qtext", k = 5)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val before = search()
    val postShards = filesPerPartDir(s"${dataDir(path)}/postings")
    assert(postShards.values.exists(_ > 1), s"appends should shard: $postShards")
    graft.operators.TextAnalysis.compactBm25Index(spark, path)
    assert(search() == before, "compaction changed a BM25 search result")
    val postAfter = filesPerPartDir(s"${dataDir(path)}/postings")
    assert(postAfter.nonEmpty && postAfter.values.forall(_ == 1),
      s"postings not fully compacted: $postAfter")
    val dfreqAfter = filesPerPartDir(s"${dataDir(path)}/dfreq")
    assert(dfreqAfter.nonEmpty && dfreqAfter.values.forall(_ == 1),
      s"dfreq not fully compacted: $dfreqAfter")
    assertFileOrder(s"${dataDir(path)}/postings", "tok", "doc")
    assertFileOrder(s"${dataDir(path)}/dfreq", "tok")
    // deltas folded: at most one dfreq row per token
    val dup = spark.read.parquet(s"${dataDir(path)}/dfreq")
      .groupBy("tok").count().where(col("count") > 1).count()
    assert(dup == 0L, "dfreq deltas not folded")
    assert(spark.read.parquet(s"${dataDir(path)}/stats").count() == 1L, "stats not folded")
    // versioned residue bounded: only the published version and the one
    // it superseded remain (in-flight readers of the old one survive)
    val vdirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.matches("v\\d+")).sorted
    assert(vdirs.length <= 2, s"stale versions not GCed: ${vdirs.toSeq}")
  }

  test("BM25 streaming deltas: retry is a no-op, compaction folds the delta dirs") {
    val sp = spark
    import sp.implicits._
    val docs = docsDf
    val path = scratch("bm25sd")
    graft.operators.TextAnalysis.writeBm25Index(
      docs.where(col("doc_id") % 3 === 0), "doc_id", "text", path, buckets = 8)
    graft.operators.TextAnalysis.appendBm25BatchExactlyOnce(spark, path,
      docs.where(col("doc_id") % 3 === 1), "doc_id", "text", batchId = 0L)
    // a foreachBatch retry rewrites the same delta dirs — must not double-count
    graft.operators.TextAnalysis.appendBm25BatchExactlyOnce(spark, path,
      docs.where(col("doc_id") % 3 === 1), "doc_id", "text", batchId = 0L)
    graft.operators.TextAnalysis.appendBm25BatchExactlyOnce(spark, path,
      docs.where(col("doc_id") % 3 === 2), "doc_id", "text", batchId = 1L)
    val queries = Seq((0L, "hash join"), (1L, "vector index spark"))
      .toDF("qid", "qtext")
    def search() = graft.operators.TextAnalysis.bm25SearchIndex(
        spark, path, queries, "qid", "qtext", k = 5)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    // one-shot ground truth over the union
    val oneShot = {
      val p = scratch("bm25sd_one")
      graft.operators.TextAnalysis.writeBm25Index(docs, "doc_id", "text", p,
        buckets = 8)
      graft.operators.TextAnalysis.bm25SearchIndex(spark, p, queries,
        "qid", "qtext", k = 5).collect().map(_.toSeq).toSeq.sortBy(_.toString)
    }
    assert(search() == oneShot,
      "streamed deltas (with a retry) must search like the one-shot index")
    graft.operators.TextAnalysis.compactBm25Index(spark, path)
    assert(search() == oneShot, "compaction changed the search")
    // the delta directories are folded into the new version's base
    val dd = new java.io.File(dataDir(path))
    val strays = dd.listFiles().map(_.getName)
      .filter(n => n.contains("_b0") || n.contains("_b1"))
    assert(strays.isEmpty, s"delta dirs survived compaction: ${strays.toSeq}")
  }

  test("LSH: compact merges band shards, probe unchanged") {
    val docs = docsDf
    val path = scratch("lshcpt")
    graft.operators.Dedup.writeLshIndex(
      docs.where(col("doc_id") % 3 === 0), "doc_id", "text", path,
      numHashes = 32, bands = 8)
    graft.operators.Dedup.appendToLshIndex(spark, path,
      docs.where(col("doc_id") % 3 === 1), "doc_id", "text")
    val batch = docs.where(col("doc_id") % 3 === 2)
    def probe() = graft.operators.Dedup.lshIndexCandidates(
        spark, path, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probe()
    assert(filesPerPartDir(s"${dataDir(path)}/buckets").values.exists(_ > 1))
    graft.operators.Dedup.compactLshIndex(spark, path)
    assert(probe() == before, "compaction changed an LSH probe result")
    val after = filesPerPartDir(s"${dataDir(path)}/buckets")
    assert(after.nonEmpty && after.values.forall(_ == 1), s"bands not merged: $after")
    assertFileOrder(s"${dataDir(path)}/buckets", "bucket", "doc")
  }

  test("exact-hash index: probe ≡ one-shot election, compact folds to 1 row/hash") {
    val sp = spark
    import sp.implicits._
    // 90 docs in 10 content classes; history = ids < 60, batch = ids >= 60
    val all = (0L until 90L).map(i => (i, s"content ${i % 10}"))
    val hist = all.filter(_._1 < 60)
    val batch = all.filter(_._1 >= 60)
    val path = scratch("exactidx")
    graft.operators.Dedup.writeExactIndex(
      hist.filter(_._1 < 30).toDF("id", "t"), "id", "t", path, buckets = 8)
    graft.operators.Dedup.appendToExactIndex(spark, path,
      hist.filter(_._1 >= 30).toDF("id", "t"), "id", "t")
    def probe() = graft.operators.Dedup.exactIndexHits(spark, path,
        batch.toDF("id", "t"), "id", "t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = batch.map { case (i, t) =>
      i -> hist.filter(_._2 == t).map(_._1).min }.toMap
    assert(probe() == want, "append-grown probe must equal one-shot election")
    graft.operators.Dedup.compactExactIndex(spark, path)
    assert(probe() == want, "compaction changed a probe result")
    val after = filesPerPartDir(s"${dataDir(path)}/hashes")
    assert(after.nonEmpty && after.values.forall(_ == 1), s"not merged: $after")
    assertFileOrder(s"${dataDir(path)}/hashes", "h")
    // deltas folded: one row per hash
    val dup = spark.read.parquet(s"${dataDir(path)}/hashes")
      .groupBy("h").count().where(col("count") > 1).count()
    assert(dup == 0L, "hash deltas not min-folded")
    // novel-content batch probes to zero hits through the bucket pruning
    assert(graft.operators.Dedup.exactIndexHits(spark, path,
      Seq((999L, "never seen")).toDF("id", "t"), "id", "t").count() == 0L)
  }

  private def embDf(ids: Range) = {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(41)
    val vecs = (0 until 200).map(_ =>
      Array.fill(16)(rnd.nextFloat() * 2f - 1f))
    ids.map(i => (i.toLong, vecs(i).toSeq)).toDF("vec_id", "embedding")
  }

  test("IVF: compact merges list shards, full+partial search unchanged") {
    val base = embDf(0 until 160)
    val extra = embDf(160 until 200)
    val queries = embDf(0 until 5)
    val path = scratch("ivfcpt")
    val built = graft.operators.Ann.buildIvf(base, nlist = 4, iters = 3)
    graft.operators.Ann.writeIvfIndex(built, path)
    graft.operators.Ann.appendToIvfIndex(spark, path, extra)
    def search(nProbe: Int) = {
      val ix = graft.operators.Ann.readIvfIndex(spark, path)
      graft.operators.Ann.ivfSearch(ix, queries, k = 3, nProbe = nProbe)
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    }
    val (fullB, partB) = (search(4), search(2))
    assert(filesPerPartDir(dataDir(path)).values.exists(_ > 1))
    graft.operators.Ann.compactIvfIndex(spark, path)
    assert(search(4) == fullB && search(2) == partB,
      "compaction changed an IVF search result")
    val after = filesPerPartDir(dataDir(path))
    assert(after.nonEmpty && after.values.forall(_ == 1), s"lists not merged: $after")
    assertFileOrder(dataDir(path), "nid")
  }

  test("IVF-PQ: same compactor handles the codes layout, codebook survives") {
    val base = embDf(0 until 160)
    val extra = embDf(160 until 200)
    val queries = embDf(0 until 5)
    val path = scratch("ivfpqcpt")
    val built = graft.operators.Ann.buildIvfPq(base, nlist = 4, m = 4,
      ksub = 16, byResidual = true)
    graft.operators.Ann.writeIvfPqIndex(built, path)
    graft.operators.Ann.appendToIvfPqIndex(spark, path, extra)
    def search() = {
      val ix = graft.operators.Ann.readIvfPqIndex(spark, path)
      graft.operators.Ann.ivfSearchPq(ix, queries, k = 3, nProbe = 4)
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    }
    val before = search()
    graft.operators.Ann.compactIvfIndex(spark, path)
    assert(search() == before, "compaction changed an IVF-PQ search result")
    val after = filesPerPartDir(dataDir(path))
    assert(after.nonEmpty && after.values.forall(_ == 1), s"lists not merged: $after")
    // the codebook sidecar must have been carried over
    assert(new java.io.File(dataDir(path), "_pq_codebook.json").exists())
  }

  test("hamming index and registry compaction keep their in-file order") {
    val fp = spark.range(0, 4000).select(col("id").as("doc"), xxhash64(col("id")).as("sh"))
    val ham = scratch("hamorder")
    graft.operators.Dedup.writeHammingIndex(
      fp.where(col("doc") % 2 === 0), "doc", "sh", ham, bands = 4)
    graft.operators.Dedup.appendToHammingIndex(spark, ham,
      fp.where(col("doc") % 2 === 1), "doc", "sh")
    graft.operators.Dedup.compactHammingIndex(spark, ham)
    assertFileOrder(s"${dataDir(ham)}/buckets", "bucket", "doc")
    val edges = spark.range(0, 2000).select(
      pmod(xxhash64(col("id")), lit(500L)).as("a"),
      pmod(xxhash64(col("id"), lit(1)), lit(500L)).as("b"))
    val reg = scratch("regorder")
    graft.operators.Dedup.writeRegistry(edges.where(col("a") % 2 === 0), "a", "b", reg)
    graft.operators.Dedup.appendToRegistry(spark, reg,
      edges.where(col("a") % 2 === 1), "a", "b")
    graft.operators.Dedup.compactRegistry(spark, reg)
    assertFileOrder(s"${dataDir(reg)}/edges", "a", "b")
  }
}
