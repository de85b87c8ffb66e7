package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The versioned index roots (FsIO.indexDataDir / nextVersionDir /
  * publishVersion): rebuilds and compactions must be INVISIBLE to
  * concurrent readers. The old swapDir scheme had a window between its
  * two renames where the index directory did not exist, so a probe that
  * planned (or executed) during a compaction failed spuriously; under
  * the pointer scheme a reader resolves its version once and that
  * version survives until a SECOND publish garbage-collects it. */
class IndexVersioningSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()

  private def scratch(prefix: String): String =
    tempDir(prefix).toString + "/idx"

  private def versions(path: String): Seq[String] =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).filter(_.matches("v\\d+"))
      .sortBy(_.drop(1).toLong).toSeq

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

  test("FsIO: legacy fallback, version sequencing, publish GC") {
    val root = scratch("fsio_ver")
    // no _current sidecar -> a legacy flat index resolves to the root
    assert(graft.util.FsIO.indexDataDir(spark, root) == root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mkVersion(): org.apache.hadoop.fs.Path = {
      val v = graft.util.FsIO.nextVersionDir(spark, root)
      fs.mkdirs(v)
      v
    }
    val v1 = mkVersion()
    assert(v1.getName == "v1")
    graft.util.FsIO.publishVersion(spark, root, v1)
    assert(graft.util.FsIO.indexDataDir(spark, root).endsWith("/v1"))
    val v2 = mkVersion()
    assert(v2.getName == "v2")
    graft.util.FsIO.publishVersion(spark, root, v2)
    // v1 (superseded) survives for in-flight readers
    assert(versions(root) == Seq("v1", "v2"))
    assert(graft.util.FsIO.indexDataDir(spark, root).endsWith("/v2"))
    val v3 = mkVersion()
    graft.util.FsIO.publishVersion(spark, root, v3)
    // second publish GCs v1; an unpublished orphan is swept too
    assert(versions(root) == Seq("v2", "v3"))
    val orphan = mkVersion() // v4, never published (a crashed rebuild)
    assert(orphan.getName == "v4")
    val v5 = mkVersion()
    graft.util.FsIO.publishVersion(spark, root, v5)
    assert(versions(root) == Seq("v3", "v5"))
  }

  test("FsIO: corrupt _current throws instead of silently falling back to the root") {
    val root = scratch("fsio_corrupt")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root))
    graft.util.FsIO.writeStringAtomic(spark,
      new org.apache.hadoop.fs.Path(root, "_current"), "not-a-version")
    assertThrows[java.io.IOException](graft.util.FsIO.indexDataDir(spark, root))
    // a CONFIRMED-absent pointer still means legacy flat
    fs.delete(new org.apache.hadoop.fs.Path(root, "_current"), false)
    assert(graft.util.FsIO.indexDataDir(spark, root) == root)
  }

  test("FsIO: keepVersions retains a deeper superseded lineage") {
    val root = scratch("fsio_keep")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mkVersion(): org.apache.hadoop.fs.Path = {
      val v = graft.util.FsIO.nextVersionDir(spark, root)
      fs.mkdirs(v); v
    }
    val v1 = mkVersion(); graft.util.FsIO.publishVersion(spark, root, v1, keepVersions = 2)
    val v2 = mkVersion(); graft.util.FsIO.publishVersion(spark, root, v2, keepVersions = 2)
    val v3 = mkVersion(); graft.util.FsIO.publishVersion(spark, root, v3, keepVersions = 2)
    // a reader planned at v1 has survived TWO publishes
    assert(versions(root) == Seq("v1", "v2", "v3"))
    val v4 = mkVersion(); graft.util.FsIO.publishVersion(spark, root, v4, keepVersions = 2)
    assert(versions(root) == Seq("v2", "v3", "v4"))
    // the knob applies per publish: the next default publish trims to 1
    val v5 = mkVersion(); graft.util.FsIO.publishVersion(spark, root, v5)
    assert(versions(root) == Seq("v4", "v5"))
  }

  test("FsIO: keepVersions=2 keeps an exact-index probe's version alive across two compactions") {
    val sp = spark
    import sp.implicits._
    val all = (0L until 90L).map(i => (i, s"content ${i % 10}"))
    val path = scratch("exact_keep2")
    graft.operators.Dedup.writeExactIndex(
      all.filter(_._1 < 60).toDF("id", "t"), "id", "t", path, buckets = 8)
    val batch = all.filter(_._1 >= 60).toDF("id", "t")
    val expect = graft.operators.Dedup.exactIndexHits(spark, path,
      batch, "id", "t").collect().map(_.toSeq).toSet
    val planned = graft.operators.Dedup.exactIndexHits(spark, path,
      batch, "id", "t")
    // two maintenance cycles with keepVersions=2: both rewrite the index
    // into a fresh version; the probe's resolved version must survive both
    for (_ <- 1 to 2) {
      val dataDir = graft.util.FsIO.indexDataDir(spark, path)
      val ver = graft.util.FsIO.nextVersionDir(spark, path)
      spark.read.parquet(s"$dataDir/hashes")
        .groupBy("h").agg(min("doc").as("doc"))
        .withColumn("pt", org.apache.spark.sql.functions.pmod(hash(col("h")), lit(8)))
        .write.partitionBy("pt").parquet(s"$ver/hashes")
      for (name <- Seq("_exact_params.json", "_schema_hashes.ddl"))
        graft.util.FsIO.readString(spark,
            new org.apache.hadoop.fs.Path(dataDir, name))
          .foreach(s => graft.util.FsIO.writeStringAtomic(spark,
            new org.apache.hadoop.fs.Path(ver, name), s))
      graft.util.FsIO.publishVersion(spark, path, ver, keepVersions = 2)
    }
    assert(planned.collect().map(_.toSeq).toSet == expect,
      "a probe planned at vN must survive two keepVersions=2 publishes")
  }

  test("FsIO: legacy flat tables survive the migrating publish, die at the next") {
    val root = scratch("fsio_flat")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a legacy flat index: data dir + sidecar at the root
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "buckets"))
    graft.util.FsIO.writeStringAtomic(spark,
      new org.apache.hadoop.fs.Path(root, "_old_params.json"), "{}")
    def mkVersion(): org.apache.hadoop.fs.Path = {
      val v = graft.util.FsIO.nextVersionDir(spark, root)
      fs.mkdirs(v); v
    }
    // migrating publish: flat tables are the superseded snapshot - kept
    graft.util.FsIO.publishVersion(spark, root, mkVersion())
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "buckets")),
      "flat tables must survive the migrating publish for in-flight readers")
    // a FOREIGN file co-located at the root AFTER migration (user notes,
    // an exported model dir) is not flat-epoch data and must never be
    // swept by later publishes (ADVICE r16: the old blanket sweep
    // destroyed any non-version child)
    graft.util.FsIO.writeStringAtomic(spark,
      new org.apache.hadoop.fs.Path(root, "NOTES.md"), "user file")
    // next publish: the flat copy is a full cycle stale - swept (exactly
    // the RECORDED migration-time children), so the ambiguous
    // legacy-fallback target can never persist
    graft.util.FsIO.publishVersion(spark, root, mkVersion())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "buckets")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_old_params.json")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "NOTES.md")),
      "a post-migration foreign file must survive the sweep")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_flat_children")),
      "the migration record is consumed by the sweep")
    assert(versions(root) == Seq("v1", "v2"))
    // a third publish sweeps nothing further
    graft.util.FsIO.publishVersion(spark, root, mkVersion())
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "NOTES.md")))
  }

  test("appends fail loudly when a publish supersedes their version mid-write") {
    val sp = spark
    import sp.implicits._
    val path = scratch("exact_race")
    val docs = (0L until 40L).map(i => (i, s"content ${i % 10}")).toDF("id", "t")
    graft.operators.Dedup.writeExactIndex(docs, "id", "t", path, buckets = 4)
    val resolvedBeforePublish = graft.util.FsIO.indexDataDir(spark, path)
    // a normal append against the current version passes the guard
    graft.operators.Dedup.appendToExactIndex(spark, path,
      Seq((100L, "content 1")).toDF("id", "t"), "id", "t")
    // a concurrent compaction publishes v2; the stale writer's
    // post-append check must throw instead of silently losing rows
    graft.operators.Dedup.compactExactIndex(spark, path)
    assertThrows[java.util.ConcurrentModificationException](
      graft.util.FsIO.assertStillCurrent(spark, path, resolvedBeforePublish))
    assert(graft.util.FsIO.indexDataDir(spark, path) != resolvedBeforePublish)
  }

  test("BM25: a probe planned BEFORE a compaction executes correctly after it") {
    val sp = spark
    import sp.implicits._
    val path = scratch("bm25_conc")
    val docs = docsDf
    graft.operators.TextAnalysis.writeBm25Index(
      docs.where(col("doc_id") % 2 === 0), "doc_id", "text", path, buckets = 8)
    graft.operators.TextAnalysis.appendToBm25Index(spark, path,
      docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
    val queries = Seq((0L, "hash join"), (1L, "vector index spark"))
      .toDF("qid", "qtext")
    val expect = graft.operators.TextAnalysis.bm25SearchIndex(
        spark, path, queries, "qid", "qtext", k = 5)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    // plan a probe NOW (resolves the current version), compact, THEN run
    val planned = graft.operators.TextAnalysis.bm25SearchIndex(
      spark, path, queries, "qid", "qtext", k = 5)
    graft.operators.TextAnalysis.compactBm25Index(spark, path)
    assert(planned.collect().map(_.toSeq).toSeq.sortBy(_.toString) == expect,
      "pre-compaction plan must keep reading its resolved version")
    // a probe planned after the compaction sees the new version, same rows
    assert(graft.operators.TextAnalysis.bm25SearchIndex(
        spark, path, queries, "qid", "qtext", k = 5)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString) == expect)
    assert(versions(path).size == 2) // compacted + superseded
  }

  test("exact index: probe planned before compact survives; LSH likewise") {
    val sp = spark
    import sp.implicits._
    val all = (0L until 90L).map(i => (i, s"content ${i % 10}"))
    val path = scratch("exact_conc")
    graft.operators.Dedup.writeExactIndex(
      all.filter(_._1 < 60).toDF("id", "t"), "id", "t", path, buckets = 8)
    val batch = all.filter(_._1 >= 60).toDF("id", "t")
    val expect = graft.operators.Dedup.exactIndexHits(spark, path,
      batch, "id", "t").collect().map(_.toSeq).toSet
    val planned = graft.operators.Dedup.exactIndexHits(spark, path,
      batch, "id", "t")
    graft.operators.Dedup.compactExactIndex(spark, path)
    assert(planned.collect().map(_.toSeq).toSet == expect)

    val docs = docsDf
    val lsh = scratch("lsh_conc")
    graft.operators.Dedup.writeLshIndex(docs.where(col("doc_id") % 3 =!= 2),
      "doc_id", "text", lsh, numHashes = 32, bands = 8)
    val probeBatch = docs.where(col("doc_id") % 3 === 2)
    val lshExpect = graft.operators.Dedup.lshIndexCandidates(
        spark, lsh, probeBatch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshPlanned = graft.operators.Dedup.lshIndexCandidates(
      spark, lsh, probeBatch, "doc_id", "text")
    graft.operators.Dedup.compactLshIndex(spark, lsh)
    assert(lshPlanned.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == lshExpect)
  }

  test("IVF: a search planned before compaction executes correctly after it") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(43)
    val emb = (0 until 160).map(i =>
      (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    val path = scratch("ivf_conc")
    graft.operators.Ann.writeIvfIndex(
      graft.operators.Ann.buildIvf(emb, nlist = 4, iters = 3), path)
    graft.operators.Ann.appendToIvfIndex(spark, path, emb.where(col("vec_id") < 20))
    val queries = emb.where(col("vec_id") < 3)
    val idx = graft.operators.Ann.readIvfIndex(spark, path)
    val expect = graft.operators.Ann.ivfSearch(idx, queries, k = 3, nProbe = 4)
      .collect().map(_.toSeq).toSet
    val planned = graft.operators.Ann.ivfSearch(
      graft.operators.Ann.readIvfIndex(spark, path), queries, k = 3, nProbe = 4)
    graft.operators.Ann.compactIvfIndex(spark, path)
    assert(planned.collect().map(_.toSeq).toSet == expect)
    assert(graft.operators.Ann.ivfSearch(
        graft.operators.Ann.readIvfIndex(spark, path), queries, k = 3, nProbe = 4)
      .collect().map(_.toSeq).toSet == expect)
  }
}
