package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The layered navigable-neighbor-graph ANN (NavGraph): build / search /
  * append / compact on the versioned-root lifecycle.
  *
  * Fixture geometry (the provable-recall construction shared with the
  * q238 contract): clusters of `cSize` consecutive ids; cluster g's
  * vectors live in the plane spanned by axes a(g) = g % 61 and
  * b(g) = 61 + (g / 61) % 23 of an 84-dim space, member mm at angle
  * 0.04·mm inside the plane. Two clusters share at most ONE axis, so
  * cross-cluster cosine <= ~0.79 while in-cluster cosine >= cos(0.28)
  * ~= 0.96 — every node's exact top-(cSize-1) is exactly its
  * co-members, with a margin float noise cannot cross. */
class NavGraphSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()

  private def scratch(): String =
    tempDir("nav").toString + "/idx"

  private def vecOf(i: Long, cSize: Int): Array[Float] = {
    val g = i / cSize; val mm = (i % cSize).toInt
    val a = (g % 61).toInt; val b = 61 + ((g / 61) % 23).toInt
    val th = 0.04 * mm
    val v = new Array[Float](84)
    v(a) = ((math.cos(th) + math.sin(th)) / math.sqrt(2)).toFloat
    v(b) = ((math.cos(th) - math.sin(th)) / math.sqrt(2)).toFloat
    v
  }

  private def corpusDf(n: Int, cSize: Int,
      keep: Long => Boolean = _ => true): DataFrame = {
    val sp = spark
    import sp.implicits._
    (0L until n.toLong).filter(keep).map(i => (i, vecOf(i, cSize).toSeq))
      .toDF("vec_id", "embedding")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding")
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def coMembers(queries: Seq[Long], n: Long, cSize: Int,
      alive: Long => Boolean = _ => true): Set[(Long, Long)] =
    (for {
      q <- queries
      m <- (q / cSize * cSize) until math.min(n, q / cSize * cSize + cSize)
      if m != q && alive(m)
    } yield (q, m)).toSet

  test("build + search: exact co-member top-k, brute and IVF paths agree") {
    val n = 128; val cSize = 8
    val corpus = corpusDf(n, cSize)
    val queries = corpus.where("vec_id % 8 = 5")
    val brutePath = scratch(); val ivfPath = scratch()
    graft.operators.NavGraph.buildNavGraph(corpus, brutePath, m = 8,
      maxLevel = 1)
    // bruteMax = 1 forces the IVF-probed construction; nProbe = nlist
    // keeps it exact, so the two graphs must search identically
    graft.operators.NavGraph.buildNavGraph(corpus, ivfPath, m = 8,
      maxLevel = 1, nlist = 4, nProbe = 4, bruteMax = 1L)
    val got = graft.operators.NavGraph.navSearch(spark, brutePath, queries,
      k = 7, ef = 16, rounds = 2)
    val expect = coMembers((0L until n).filter(_ % 8 == 5), n, cSize)
    assert(pairs(got) == expect, "beam search must return exactly the co-members")
    val gotIvf = graft.operators.NavGraph.navSearch(spark, ivfPath, queries,
      k = 7, ef = 16, rounds = 2)
    assert(pairs(gotIvf) == expect, "IVF-built graph must search identically")
    // and both agree with brute force including ranks (same cosine
    // kernel, same tie-break)
    val bf = graft.operators.Ann.bruteForceTopK(queries, corpus, 7)
    assert(got.select("qid", "nid", "rnk").collect().map(_.toSeq).toSet ==
      bf.collect().map(_.toSeq).toSet)
  }

  test("append links new nodes reachably; replayed append changes nothing") {
    val n = 128; val cSize = 8
    val all = corpusDf(n, cSize)
    val base = corpusDf(n, cSize, keep = _ % 8 <= 5)
    val batch = corpusDf(n, cSize, keep = _ % 8 >= 6)
    val path = scratch()
    graft.operators.NavGraph.buildNavGraph(base, path, m = 8, maxLevel = 1)
    graft.operators.NavGraph.appendToNavGraph(spark, path, batch)
    val queries = all.where("vec_id % 8 = 5")
    def run() = pairs(graft.operators.NavGraph.navSearch(spark, path,
      queries, k = 7, ef = 16, rounds = 2))
    val expect = coMembers((0L until n).filter(_ % 8 == 5), n, cSize)
    assert(run() == expect,
      "appended co-members must be reachable through back-edges")
    // a foreachBatch retry: duplicate node/edge facts every read distincts
    graft.operators.NavGraph.appendToNavGraph(spark, path, batch)
    assert(run() == expect, "a replayed append must not change the search")
    // compaction folds the duplicates + over-length lists; search unchanged
    graft.operators.NavGraph.compactNavGraph(spark, path)
    assert(graft.util.FsIO.indexDataDir(spark, path).endsWith("v2"))
    assert(run() == expect, "compaction must preserve the search")
    // pruned lists: no node carries more than m = 8 neighbors per level
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val maxList = spark.read.parquet(s"$dataDir/edges")
      .groupBy("level", "src").count().agg(org.apache.spark.sql.functions.max("count"))
      .collect()(0).getLong(0)
    assert(maxList <= 8L, s"compaction must prune lists to m (got $maxList)")
  }

  test("append reuses the build-time codebook frozen (no retrain), through compaction") {
    val n = 128; val cSize = 8
    val base = corpusDf(n, cSize, keep = _ % 8 <= 5)
    val batch = corpusDf(n, cSize, keep = _ % 8 >= 6)
    val path = scratch()
    // bruteMax = 1 forces the IVF path, so build persists cents_l<L>
    graft.operators.NavGraph.buildNavGraph(base, path, m = 8, maxLevel = 1,
      nlist = 4, nProbe = 4, bruteMax = 1L)
    val v1 = graft.util.FsIO.indexDataDir(spark, path)
    assert(new java.io.File(s"$v1/cents_l0").exists(),
      "IVF-built layers must persist their codebook")
    def cents(dir: String) = spark.read.parquet(s"$dir/cents_l0")
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1)).sortBy(_._1).toSeq
    val atBuild = cents(v1)
    graft.operators.NavGraph.appendToNavGraph(spark, path, batch,
      nlist = 4, nProbe = 4, bruteMax = 1L)
    assert(cents(v1) == atBuild, "append must not retrain or rewrite the codebook")
    val queries = corpusDf(n, cSize).where("vec_id % 8 = 5")
    def run() = pairs(graft.operators.NavGraph.navSearch(spark, path,
      queries, k = 7, ef = 16, rounds = 2))
    val expect = coMembers((0L until n).filter(_ % 8 == 5), n, cSize)
    assert(run() == expect, "frozen-codebook append must stay exact at full probe")
    graft.operators.NavGraph.compactNavGraph(spark, path)
    val v2 = graft.util.FsIO.indexDataDir(spark, path)
    assert(v2.endsWith("v2") && cents(v2) == atBuild,
      "compaction must carry the codebook into the next version")
    assert(run() == expect)
  }

  test("two layers: descent from a sparse entry layer stays exact") {
    // clusters of 16 consecutive ids: every cluster min has level >= 2
    // (16 | id), so the maxLevel = 2 entry layer still covers every
    // cluster and the exactness argument holds through the descent
    val n = 256; val cSize = 16
    val corpus = corpusDf(n, cSize)
    val path = scratch()
    graft.operators.NavGraph.buildNavGraph(corpus, path, m = 16, maxLevel = 2)
    val queries = corpus.where("vec_id % 16 = 9")
    val got = graft.operators.NavGraph.navSearch(spark, path, queries,
      k = 15, ef = 32, rounds = 2)
    assert(pairs(got) == coMembers((0L until n).filter(_ % 16 == 9), n, cSize))
    // levels obey the base-4 valuation law
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val lv = spark.read.parquet(s"$dataDir/nodes").select("nid", "level")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    (0L until n).foreach { i =>
      val want = if (i % 16 == 0) 2 else if (i % 4 == 0) 1 else 0
      assert(lv(i) == want, s"level($i)")
    }
    // the node table is (level, pt)-partitioned so entry scans prune to
    // the top level's directories and beam rounds prune to the
    // candidates' hash buckets
    val levelDirs = new java.io.File(s"$dataDir/nodes").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("level=")).sorted
    assert(levelDirs.toSeq == Seq("level=0", "level=1", "level=2"))
    assert(new java.io.File(s"$dataDir/nodes/level=2").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("pt=")))
  }

  test("navRecallFrame reads 1.0 on the exact fixture") {
    val n = 64; val cSize = 8
    val corpus = corpusDf(n, cSize)
    val path = scratch()
    graft.operators.NavGraph.buildNavGraph(corpus, path, m = 8, maxLevel = 1)
    val r = graft.operators.NavGraph.navRecallFrame(spark, path,
      corpus.where("vec_id % 8 = 3"), k = 7, ef = 16, rounds = 2)
      .collect()(0)
    assert(r.getLong(0) == 56L && r.getLong(1) == 56L && r.getDouble(2) == 1.0)
  }

  test("bootstrap promotion: a corpus the level law leaves without a top layer still searches") {
    // ids 1..15 with maxLevel = 2: no id is a multiple of 4^2 = 16, so
    // the valuation law alone leaves level 2 EMPTY and the entry scan
    // would return nothing — the build must promote the minimum id
    val cSize = 8
    val corpus = corpusDf(16, cSize, keep = _ >= 1)
    val path = scratch()
    graft.operators.NavGraph.buildNavGraph(corpus, path, m = 8,
      maxLevel = 2)
    val got = pairs(graft.operators.NavGraph.navSearch(spark, path,
      corpus.where("vec_id % 8 = 5"), k = 7, ef = 16, rounds = 2))
    // query 5's cluster lost id 0, so its top-7 carries one
    // cross-cluster filler — assert the analytic co-members are all
    // found and both queries return full k
    assert(coMembers(Seq(5L, 13L), 16L, cSize, alive = _ >= 1).subsetOf(got)
      && got.size == 14)
  }

  test("degenerate corpora: 0- and 1-row builds publish searchable (empty-edge) graphs") {
    val one = corpusDf(1, 8)
    val p1 = scratch()
    graft.operators.NavGraph.buildNavGraph(one, p1, m = 4, maxLevel = 1)
    // an external query (disjoint id) finds the lone node
    val sp = spark
    import sp.implicits._
    val q = Seq((1000L, vecOf(0L, 8).toSeq)).toDF("vec_id", "embedding")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding")
    assert(pairs(graft.operators.NavGraph.navSearch(spark, p1, q,
      k = 3, ef = 4)) == Set((1000L, 0L)))
    // empty build publishes too; a later append bootstraps the entry layer
    val p0 = scratch()
    graft.operators.NavGraph.buildNavGraph(one.where("vec_id < 0"), p0,
      m = 4, maxLevel = 1)
    graft.operators.NavGraph.appendToNavGraph(spark, p0, corpusDf(16, 8))
    val got = pairs(graft.operators.NavGraph.navSearch(spark, p0,
      corpusDf(16, 8).where("vec_id % 8 = 5"), k = 7, ef = 16, rounds = 2))
    assert(got == coMembers(Seq(5L, 13L), 16L, 8))
  }

  test("ef = k returns k rows for corpus-member queries (reserved self slot)") {
    val corpus = corpusDf(64, 8)
    val path = scratch()
    graft.operators.NavGraph.buildNavGraph(corpus, path, m = 8, maxLevel = 1)
    val out = graft.operators.NavGraph.navSearch(spark, path,
      corpus.where("vec_id % 8 = 5"), k = 7, ef = 7, rounds = 2)
    val counts = out.groupBy("qid").count().collect().map(_.getLong(1))
    assert(counts.nonEmpty && counts.forall(_ == 7L))
  }

  test("auto-sizing: a build with NO explicit sizing searches exactly") {
    val n = 128; val cSize = 8
    val corpus = corpusDf(n, cSize)
    val path = scratch()
    // maxLevel and nlist both left at their -1 sentinels: the build
    // derives maxLevel from the corpus count and nlist per layer
    graft.operators.NavGraph.buildNavGraph(corpus, path, m = 8)
    val got = graft.operators.NavGraph.navSearch(spark, path,
      corpus.where("vec_id % 8 = 5"), k = 7, ef = 16, rounds = 2)
    assert(pairs(got) == coMembers((0L until n).filter(_ % 8 == 5), n, cSize))
    // the derived maxLevel is the documented law and is persisted
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val params = scala.io.Source.fromFile(s"$dataDir/_nav_params.json").mkString
    assert(params.contains(s""""maxLevel":${graft.operators.NavGraph.autoMaxLevel(n)}"""))
  }

  test("auto-sizing law: entry layer stays ~256 rows at any corpus size") {
    import graft.operators.NavGraph.autoMaxLevel
    assert(autoMaxLevel(100L) == 1)
    assert(autoMaxLevel(100000L) == 5)        // 100k / 4^5 ~ 98 entries
    assert(autoMaxLevel(100000000L) == 10)    // 100M / 4^10 ~ 95 entries
    // entry rows n / 4^L land in (16, 256] for n > 256 (law: ceil log4)
    for (n <- Seq(300L, 5000L, 123456L, 10000000L)) {
      val entries = n.toDouble / math.pow(4, autoMaxLevel(n))
      assert(entries <= 256.0 && entries > 16.0, s"n=$n entries=$entries")
    }
  }

  test("candidate-join volume pre-check fails loudly BEFORE the join") {
    // 50k tiny vectors with nlist = 1, nProbe = 1: the estimated level-0
    // candidate join is 2.5e9 scored rows, far over the per-core cap
    // (1.5e7 x 4 cores here) — the build must fail with the actionable
    // remedies in the message, not OOM
    val corpus = spark.range(50000L).selectExpr("id AS vec_id",
      "array(CAST(id % 97 AS FLOAT), 1.0F) AS embedding")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.NavGraph.buildNavGraph(corpus, scratch(), m = 4,
        maxLevel = 0, nlist = 1, nProbe = 1, bruteMax = 1L)
    }
    assert(ex.getMessage.contains("Raise nlist")
      && ex.getMessage.contains("candRowsPerCore"))
    // the estimate is probe-side x occupancy, NOT corpus²: a SMALL
    // batch appended against a grown layer must pass even where that
    // layer's own self-join estimate (1340 x 4 x 335 ≈ 1.8e6) exceeds
    // the cap — its true join is batch x occupancy = 40 x 4 x 335 ≈
    // 5.4e4. Pinned by tightening the per-core budget (threaded as the
    // candRowsPerCore ARGUMENT — no global sysprop mutation a parallel
    // suite could observe) between a brute build and the append.
    val base = spark.range(1300L).selectExpr("id AS vec_id",
      "array(CAST(id % 97 AS FLOAT), 1.0F) AS embedding")
    val path = scratch()
    graft.operators.NavGraph.buildNavGraph(base, path, m = 4, maxLevel = 0,
      nlist = 4, nProbe = 4, bruteMax = 2000L)
    graft.operators.NavGraph.appendToNavGraph(spark, path,
      spark.range(1300L, 1340L).selectExpr("id AS vec_id",
        "array(CAST(id % 97 AS FLOAT), 1.0F) AS embedding"),
      nlist = 4, nProbe = 4, bruteMax = 1000L,
      candRowsPerCore = 25000.0) // cap = 1e5 on local[4]
  }

  test("brute-path volume pre-check: a raised bruteMax fails loudly, not via broadcast OOM") {
    // 5000² = 2.5e7 scored rows against a 1e5 cap (25k/core x 4): the
    // brute branch must refuse BEFORE broadcasting, with the remedy in
    // the message — before this guard a caller-raised bruteMax
    // broadcast the whole side unchecked (the IVF branch's pre-check
    // never saw it)
    val corpus = spark.range(5000L).selectExpr("id AS vec_id",
      "array(CAST(id % 97 AS FLOAT), 1.0F) AS embedding")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.NavGraph.buildNavGraph(corpus, scratch(), m = 4,
        maxLevel = 0, bruteMax = 100000L, candRowsPerCore = 25000.0)
    }
    assert(ex.getMessage.contains("Lower bruteMax")
      && ex.getMessage.contains("candRowsPerCore"))
  }

  test("malformed params sidecar throws a structural error, not a silent mis-read") {
    val corpus = corpusDf(32, 8)
    val path = scratch()
    graft.operators.NavGraph.buildNavGraph(corpus, path, m = 8, maxLevel = 1)
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val sidecar = java.nio.file.Paths.get(dataDir, "_nav_params.json")
    val good = new String(java.nio.file.Files.readAllBytes(sidecar), "UTF-8")
    // raw rewrites invalidate the Hadoop local-FS checksum sibling; drop
    // it so the read reaches the PARSER (the graceful-read path would
    // otherwise mask the malformed content as "absent")
    def write(s: String): Unit = {
      java.nio.file.Files.write(sidecar, s.getBytes("UTF-8"))
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dataDir, "._nav_params.json.crc"))
    }
    // structural damage: a non-integer value must throw with the entry named
    write("""{"m":8,"maxLevel":junk}""")
    val ex = intercept[java.io.IOException] {
      graft.operators.NavGraph.navSearch(spark, path,
        corpus.where("vec_id % 8 = 5"), k = 3, ef = 8)
    }
    assert(ex.getMessage.contains("non-integer")
      || ex.getMessage.contains("malformed"))
    // a missing required key is equally loud
    write("""{"m":8}""")
    val ex2 = intercept[java.io.IOException] {
      graft.operators.NavGraph.navSearch(spark, path,
        corpus.where("vec_id % 8 = 5"), k = 3, ef = 8)
    }
    assert(ex2.getMessage.contains("maxLevel"))
    write(good)
  }

  test("autoCompactAfter: the cadence self-compacts exactly once, searches green throughout") {
    val n = 128; val cSize = 8
    val base = corpusDf(n, cSize, keep = _ % 8 <= 4)
    val path = scratch()
    graft.operators.NavGraph.buildNavGraph(base, path, m = 8, maxLevel = 1,
      keepVersions = 2)
    // three single-mm batches at cadence 3: appends 1-2 stay in v1,
    // append 3 hits the threshold and runs the self-compaction (-> v2)
    for (mm <- 5 to 7) {
      graft.operators.NavGraph.appendToNavGraph(spark, path,
        corpusDf(n, cSize, keep = _ % 8 == mm), autoCompactAfter = 3,
        keepVersions = 2)
      val ver = graft.util.FsIO.indexDataDir(spark, path)
      assert(ver.endsWith(if (mm < 7) "v1" else "v2"),
        s"after mm=$mm append: $ver")
      val got = pairs(graft.operators.NavGraph.navSearch(spark, path,
        corpusDf(n, cSize).where("vec_id % 8 = 5"), k = 7, ef = 16, rounds = 2))
      val expect = coMembers((0L until n.toLong).filter(_ % 8 == 5), n, cSize,
        alive = i => i % 8 <= mm)
      assert(got.filter(p => expect.contains(p)) == expect,
        s"co-members appended so far must be found after mm=$mm")
    }
    // the self-compaction pruned every list back to m and reset the
    // cadence counter (the next append starts a fresh window)
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val maxList = spark.read.parquet(s"$dataDir/edges")
      .groupBy("level", "src").count()
      .agg(org.apache.spark.sql.functions.max("count")).collect()(0).getLong(0)
    assert(maxList <= 8L, s"self-compaction must prune lists to m (got $maxList)")
    val params = scala.io.Source.fromFile(s"$dataDir/_nav_params.json").mkString
    assert(params.contains(""""appends":0"""), params)
  }

  test("edge table is (level, ept)-bucketed and the beam's scan shape partition-prunes") {
    val n = 128; val cSize = 8
    val corpus = corpusDf(n, cSize)
    val path = scratch()
    graft.operators.NavGraph.buildNavGraph(corpus, path, m = 8, maxLevel = 1)
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    // layout: level dirs with ept= hash-bucket subdirectories
    val l0 = new java.io.File(s"$dataDir/edges/level=0")
    assert(l0.listFiles().exists(f => f.isDirectory && f.getName.startsWith("ept=")),
      "edges must be bucketed by src hash under each level")
    // the beam's per-round predicate (level = L AND ept IN frontier
    // buckets) reaches the scan as a STATIC partition filter — only the
    // frontier's directories are read
    val ddl = scala.io.Source.fromFile(s"$dataDir/_schema_edges.ddl").mkString
    val edges = spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .parquet(s"$dataDir/edges")
    import org.apache.spark.sql.functions.col
    val planStr = edges.where(col("level") === 0 && col("ept").isin(3, 7))
      .queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters: ["), planStr)
    assert(!planStr.matches("(?s).*PartitionFilters: \\[\\s*\\].*"), planStr)
    // and the search over the bucketed layout is still exact
    val got = graft.operators.NavGraph.navSearch(spark, path,
      corpus.where("vec_id % 8 = 5"), k = 7, ef = 16, rounds = 2)
    assert(pairs(got) == coMembers((0L until n.toLong).filter(_ % 8 == 5), n, cSize))
  }

  test("persisted assignments: appends extend the table at batch size, replay folds at compaction") {
    val n = 128; val cSize = 8
    val base = corpusDf(n, cSize, keep = _ % 8 <= 5)
    val batch = corpusDf(n, cSize, keep = _ % 8 >= 6)
    val path = scratch()
    // bruteMax = 1 forces the IVF path: the build must persist the
    // per-level assignment tables alongside the codebooks
    graft.operators.NavGraph.buildNavGraph(base, path, m = 8, maxLevel = 1,
      nlist = 4, nProbe = 4, bruteMax = 1L)
    val v1 = graft.util.FsIO.indexDataDir(spark, path)
    def assignRows(dir: String) = spark.read.parquet(s"$dir/assign_l0")
      .select("nid").collect().map(_.getLong(0)).toSeq
    assert(new java.io.File(s"$v1/assign_l0").exists()
      && new java.io.File(s"$v1/assign_l1").exists(),
      "IVF-built layers must persist their assignment tables")
    assert(assignRows(v1).sorted == (0L until n.toLong).filter(_ % 8 <= 5).sorted,
      "build assigns exactly the layer")
    // the append adds EXACTLY the batch's rows (batch-cost by
    // construction: old rows are never rewritten)
    graft.operators.NavGraph.appendToNavGraph(spark, path, batch,
      nlist = 4, nProbe = 4, bruteMax = 1L)
    assert(assignRows(v1).sorted == (0L until n.toLong).sorted,
      "append extends the assignment table by the batch only")
    val queries = corpusDf(n, cSize).where("vec_id % 8 = 5")
    def run() = pairs(graft.operators.NavGraph.navSearch(spark, path,
      queries, k = 7, ef = 16, rounds = 2))
    val expect = coMembers((0L until n.toLong).filter(_ % 8 == 5), n, cSize)
    assert(run() == expect, "probed-from-stored-assignments append stays exact")
    // a replayed append duplicates assign FACTS the scored-pair dedup
    // absorbs; compaction folds them back to one row per id
    graft.operators.NavGraph.appendToNavGraph(spark, path, batch,
      nlist = 4, nProbe = 4, bruteMax = 1L)
    assert(assignRows(v1).length == n + batchCount(batch),
      "replay appends duplicate assign facts (reader-deduped)")
    assert(run() == expect, "replayed append changes nothing")
    graft.operators.NavGraph.compactNavGraph(spark, path)
    val v2 = graft.util.FsIO.indexDataDir(spark, path)
    assert(assignRows(v2).sorted == (0L until n.toLong).sorted,
      "compaction folds assignment facts to one row per id")
    assert(run() == expect, "compaction preserves the search")
  }

  private def batchCount(df: DataFrame): Int = df.count().toInt

  test("navDegreeFrame: build reads deg = m, appends push n_over_m up, compaction restores") {
    val n = 128; val cSize = 8
    val base = corpusDf(n, cSize, keep = _ % 8 <= 5)
    val path = scratch()
    graft.operators.NavGraph.buildNavGraph(base, path, m = 8, maxLevel = 1)
    def frame() = graft.operators.NavGraph.navDegreeFrame(spark, path)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    val atBuild = frame()
    assert(atBuild(0)._1 == 96L && atBuild(0)._2 <= 8L && atBuild(0)._3 == 0L,
      s"fresh build must carry pruned lists: $atBuild")
    graft.operators.NavGraph.appendToNavGraph(spark, path,
      corpusDf(n, cSize, keep = _ % 8 >= 6))
    val afterAppend = frame()
    assert(afterAppend(0)._3 > 0L,
      s"append back-edges must push some list past m: $afterAppend")
    graft.operators.NavGraph.compactNavGraph(spark, path)
    val afterCompact = frame()
    assert(afterCompact(0)._1 == 128L && afterCompact(0)._2 <= 8L
      && afterCompact(0)._3 == 0L,
      s"compaction must restore deg <= m over all nodes: $afterCompact")
  }

  test("bootstrap promotion survives a replayed append and compaction") {
    // ids with NO multiple of 4: the law top layer (maxLevel = 1) is
    // empty, so the first append into an empty-built graph promotes the
    // batch minimum (id 1) to level 1. The REPLAYED append re-derives
    // law levels only, leaving id 1 with TWO level facts — compaction
    // must keep the max-level fact (an arbitrary pick could drop the
    // only entry-layer node and blank every search)
    val cSize = 8
    val batch = corpusDf(16, cSize, keep = i => i % 4 != 0)
    val path = scratch()
    graft.operators.NavGraph.buildNavGraph(batch.where("vec_id < 0"), path,
      m = 8, maxLevel = 1)
    graft.operators.NavGraph.appendToNavGraph(spark, path, batch)
    graft.operators.NavGraph.appendToNavGraph(spark, path, batch) // replay
    graft.operators.NavGraph.compactNavGraph(spark, path)
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val lv = spark.read.parquet(s"$dataDir/nodes").select("nid", "level")
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    assert(lv.length == lv.map(_._1).distinct.length,
      "compaction must leave one node fact per id")
    assert(lv.toMap.apply(1L) == 1,
      "the promoted id must keep its entry-layer level, not its law level")
    val queries = batch.where("vec_id % 8 = 5")
    val got = pairs(graft.operators.NavGraph.navSearch(spark, path, queries,
      k = 7, ef = 16, rounds = 2))
    // each cluster lost its multiples of 4, so the top-7 legitimately
    // fills 2 slots with cross-cluster rows — assert the analytic
    // co-members are all found and both queries return full k (without
    // the level-aware dedupe the search returns ZERO rows here)
    val alive: Long => Boolean = i => i % 4 != 0
    assert(coMembers(Seq(5L, 13L), 16L, cSize, alive).subsetOf(got)
      && got.size == 14)
  }

  test("navSearchWhere: exact allowed top-k where a post-filter loses rows") {
    val n = 128; val cSize = 8
    val corpus = corpusDf(n, cSize)
    val path = scratch()
    graft.operators.NavGraph.buildNavGraph(corpus, path, m = 8, maxLevel = 1)
    val queries = corpus.where("vec_id % 8 = 5")
    val allowedMm = Set(1L, 2L, 3L, 4L, 6L)
    val allowed = corpus.where(s"vec_id % 8 IN (${allowedMm.mkString(",")})")
    val got = graft.operators.NavGraph.navSearchWhere(spark, path, queries,
      k = 5, allowed = allowed)
    val expect = coMembers((0L until n).filter(_ % 8 == 5), n, cSize)
      .filter(p => allowedMm(p._2 % 8))
    assert(pairs(got) == expect,
      "pre-filter semantics: exactly the k best ALLOWED co-members")
    val counts = got.groupBy("qid").count().collect().map(_.getLong(1))
    assert(counts.forall(_ == 5L), "every query fills k allowed rows")
    // the loss a post-filter would cause: the unfiltered top-5 of query
    // mm=5 is {4,6,3,7,2} by angular distance; filtering it to the
    // allow-set keeps only 4 rows and never surfaces allowed member 1
    val post = graft.operators.NavGraph.navSearch(spark, path, queries,
        k = 5, ef = 16, rounds = 2)
      .join(allowed.selectExpr("vec_id AS nid"), Seq("nid"), "left_semi")
    val postCounts = post.groupBy("qid").count().collect().map(_.getLong(1))
    assert(postCounts.forall(_ == 4L),
      "fixture sanity: the post-filtered read demonstrably under-fills k")
  }

  test("navRecallFrameWhere reads 1.0 against brute force over the allowed sub-corpus") {
    val n = 128; val cSize = 8
    val corpus = corpusDf(n, cSize)
    val path = scratch()
    graft.operators.NavGraph.buildNavGraph(corpus, path, m = 8, maxLevel = 1)
    val r = graft.operators.NavGraph.navRecallFrameWhere(spark, path,
      corpus.where("vec_id % 8 = 5"), k = 5,
      allowed = corpus.where("vec_id % 8 IN (1, 2, 3, 4, 6)"),
      ef = 16, rounds = 2).collect()(0)
    // 16 queries x 5 allowed co-members each, all found
    assert(r.getLong(0) == 80L && r.getLong(1) == 80L && r.getDouble(2) == 1.0)
  }

  test("sparse allow-sets: near neighbors stay exact, distant-allowed recall is MEASURED") {
    // allow only mm = 2 (12.5% of the corpus): each query's nearest
    // allowed row is its own cluster's mm = 2 (cos ~0.993) — always
    // visited (q238's traversal proof), so recall@1 must be exactly 1.
    // At k = 3 the true allowed top-3 adds CROSS-cluster rows the beam
    // may legitimately never visit — the inherent filtered-graph-ANN
    // trade the scaladoc documents ("raise ef/rounds for sparse
    // allow-sets") — so the frame must still count every query's own
    // co-member (recall >= 1/3) and report the shortfall honestly
    // instead of padding ranks.
    val n = 128; val cSize = 8
    val corpus = corpusDf(n, cSize)
    val path = scratch()
    graft.operators.NavGraph.buildNavGraph(corpus, path, m = 8, maxLevel = 1)
    val queries = corpus.where("vec_id % 8 = 5")
    val allowed = corpus.where("vec_id % 8 = 2")
    val r1 = graft.operators.NavGraph.navRecallFrameWhere(spark, path,
      queries, k = 1, allowed = allowed, ef = 16, rounds = 2).collect()(0)
    assert(r1.getLong(0) == 16L && r1.getDouble(2) == 1.0,
      s"nearest allowed row must always be found (got $r1)")
    val r3 = graft.operators.NavGraph.navRecallFrameWhere(spark, path,
      queries, k = 3, allowed = allowed, ef = 16, rounds = 2).collect()(0)
    assert(r3.getLong(0) == 48L && r3.getLong(1) >= 16L
      && r3.getLong(1) <= 48L, s"honest partial recall (got $r3)")
  }

  test("selfExclude = false keeps a colliding corpus id as a neighbor") {
    val corpus = corpusDf(8, 8) // one cluster, ids 0..7
    val path = scratch()
    graft.operators.NavGraph.buildNavGraph(corpus, path, m = 8, maxLevel = 1)
    // an EXTERNAL query whose id happens to collide with corpus id 3
    val sp = spark
    import sp.implicits._
    val q = Seq((3L, vecOf(5L, 8).toSeq)).toDF("vec_id", "embedding")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding")
    val withSelf = pairs(graft.operators.NavGraph.navSearch(spark, path, q,
      k = 8, ef = 8, selfExclude = false))
    assert(withSelf == (0L until 8L).map((3L, _)).toSet,
      "selfExclude=false must return every corpus node, collision included")
    val without = pairs(graft.operators.NavGraph.navSearch(spark, path, q,
      k = 8, ef = 8))
    assert(without == (0L until 8L).filter(_ != 3L).map((3L, _)).toSet,
      "the default drops the colliding id (the documented convention)")
    // filtered search honors the flag through the same core
    val filtered = pairs(graft.operators.NavGraph.navSearchWhere(spark, path,
      q, k = 4, allowed = corpus.where("vec_id < 4"), selfExclude = false))
    assert(filtered == (0L until 4L).map((3L, _)).toSet)
  }

  test("integer vec_id corpora normalize to BIGINT ids end to end") {
    val sp = spark
    import sp.implicits._
    val corpus = (0 until 32).map(i => (i, vecOf(i.toLong, 8).toSeq))
      .toDF("vec_id", "embedding")
      .selectExpr("CAST(vec_id AS INT) AS vec_id",
        "CAST(embedding AS ARRAY<FLOAT>) AS embedding")
    val path = scratch()
    graft.operators.NavGraph.buildNavGraph(corpus, path, m = 8, maxLevel = 1)
    graft.operators.NavGraph.appendToNavGraph(spark, path,
      (32 until 40).map(i => (i, vecOf(i.toLong, 8).toSeq))
        .toDF("vec_id", "embedding")
        .selectExpr("CAST(vec_id AS INT) AS vec_id",
          "CAST(embedding AS ARRAY<FLOAT>) AS embedding"))
    val got = pairs(graft.operators.NavGraph.navSearch(spark, path,
      corpus.where("vec_id % 8 = 5"), k = 7, ef = 16, rounds = 2))
    assert(got == coMembers(Seq(5L, 13L, 21L, 29L), 40L, 8))
  }

  test("assign probe prune pushes the probed LIST ids into the parquet scan") {
    val n = 128; val cSize = 8
    val path = scratch()
    // bruteMax = 1 forces the IVF path so assign_l0 exists
    graft.operators.NavGraph.buildNavGraph(corpusDf(n, cSize), path, m = 8,
      maxLevel = 1, nlist = 4, nProbe = 4, bruteMax = 1L)
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val assigned = spark.read.schema(
        org.apache.spark.sql.types.StructType.fromDDL(
          "`nid` BIGINT,`cv` ARRAY<FLOAT>,`list` INT,`lb` INT"))
      .parquet(s"$dataDir/assign_l0")
    val sp = spark
    import sp.implicits._
    val probed = Seq((0L, 1), (1L, 3)).toDF("qid", "list")
    val slicedPlan = graft.operators.NavGraph
      .pruneAssignForProbe(assigned, probed)
      .queryExecution.executedPlan.toString
    // lb partition filter survives (static, non-empty) ...
    assert(slicedPlan.contains("PartitionFilters: ["), slicedPlan)
    assert(!slicedPlan.matches("(?s).*PartitionFilters: \\[\\s*\\].*"), slicedPlan)
    // ... AND the list ids reach the scan as a pushed data filter, so
    // row-group stats (rows are list-sorted within each lb directory)
    // prune within buckets — the wide-batch append's I/O bound
    assert(slicedPlan.matches("(?s).*PushedFilters: \\[[^\\]]*list[^\\]]*\\].*"),
      slicedPlan)
    // and the prune is semantically a pure filter: exactly lists {1, 3}
    val lists = graft.operators.NavGraph.pruneAssignForProbe(assigned, probed)
      .select("list").distinct().collect().map(_.getInt(0)).toSet
    assert(lists.subsetOf(Set(1, 3)), s"pruned scan leaked lists: $lists")
  }

  // The ListPushLimit boundary, both sides. Fixture: assigned rows in
  // lists {0, 64, 320000} (lb 0) and {1, 65} (lb 1); probes over
  // multiples of 64 — every probed list has lb 0, and 320000 sits past
  // the largest probed multiple (64·ListPushLimit = 262144), so it is
  // bucket-colocated with probed lists but never probed itself. Which
  // side of the cap the probe lands on decides the push's GRANULARITY:
  // the push path filters to the probed LIST ids; past the cap the id
  // set is too big to ship, but the sorted-range fallback still pushes
  // `list BETWEEN min AND max` of the probed lists — 320000 > 262144,
  // so it is dropped on BOTH sides of the cap (the old bucket-granular
  // fallback kept it; the in-bucket `list` sort makes the range prune
  // row groups a whole-bucket read would pay for).
  private def capFixture(): (DataFrame, Int => DataFrame) = {
    val assigned = spark.createDataFrame(Seq(
      (10L, 0, 0), (11L, 64, 0), (12L, 320000, 0),
      (13L, 1, 1), (14L, 65, 1)))
      .toDF("nid", "list", "lb")
      .selectExpr("nid", "array(CAST(0.5 AS FLOAT)) AS cv", "list", "lb")
    val probed = (nLists: Int) => spark.range(0, nLists)
      .selectExpr("id AS qid", "CAST(id * 64 AS INT) AS list")
    (assigned, probed)
  }

  test("assign probe prune at EXACTLY the push cap stays list-granular") {
    val (assigned, probed) = capFixture()
    val kept = graft.operators.NavGraph
      .pruneAssignForProbe(assigned, probed(graft.operators.NavGraph.ListPushLimit))
      .select("list").collect().map(_.getInt(0)).toSet
    assert(kept == Set(0, 64), s"push path must keep exactly the probed lists: $kept")
  }

  test("assign probe prune past the push cap falls back to a sorted-range push") {
    val (assigned, probed) = capFixture()
    val pruned = graft.operators.NavGraph
      .pruneAssignForProbe(assigned, probed(graft.operators.NavGraph.ListPushLimit + 1))
    val kept = pruned.select("list").collect().map(_.getInt(0)).toSet
    // completeness: every PROBED list's rows survive; 320000 is never
    // probed and sits past the probed range [0, 64·ListPushLimit], so
    // the range push drops it (the old bucket-granular fallback kept
    // it — strictly more I/O for the same downstream join)
    assert(kept == Set(0, 64),
      s"range fallback must keep exactly the in-range rows: $kept")
  }

  test("assign probe range fallback pushes the list range into the parquet scan") {
    // real parquet-backed assign table so the plan shows PushedFilters
    val n = 128; val cSize = 8
    val path = scratch()
    graft.operators.NavGraph.buildNavGraph(corpusDf(n, cSize), path, m = 8,
      maxLevel = 1, nlist = 4, nProbe = 4, bruteMax = 1L)
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val assigned = spark.read.schema(
        org.apache.spark.sql.types.StructType.fromDDL(
          "`nid` BIGINT,`cv` ARRAY<FLOAT>,`list` INT,`lb` INT"))
      .parquet(s"$dataDir/assign_l0")
    val probed = spark.range(0,
        graft.operators.NavGraph.ListPushLimit.toLong + 1)
      .selectExpr("id AS qid", "CAST(id * 64 AS INT) AS list")
    val plan = graft.operators.NavGraph.pruneAssignForProbe(assigned, probed)
      .queryExecution.executedPlan.toString
    // static lb partition filter survives the fallback ...
    assert(plan.contains("PartitionFilters: ["), plan)
    assert(!plan.matches("(?s).*PartitionFilters: \\[\\s*\\].*"), plan)
    // ... AND the probed-list range reaches the scan as pushed
    // GreaterThanOrEqual/LessThanOrEqual data filters on `list`, so
    // row-group min/max stats prune within the surviving buckets
    assert(plan.matches(
      "(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(list[^\\]]*\\].*"), plan)
    assert(plan.matches(
      "(?s).*PushedFilters: \\[[^\\]]*LessThanOrEqual\\(list[^\\]]*\\].*"), plan)
  }

  test("beam edge prune pushes frontier SRC ids into the parquet scan") {
    val n = 128; val cSize = 8
    val path = scratch()
    graft.operators.NavGraph.buildNavGraph(corpusDf(n, cSize), path, m = 8,
      maxLevel = 1)
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val edges = spark.read.schema(
        org.apache.spark.sql.types.StructType.fromDDL(
          "`src` BIGINT,`dst` BIGINT,`cos` DOUBLE,`level` INT,`ept` INT"))
      .parquet(s"$dataDir/edges")
    val sp = spark
    import sp.implicits._
    val frontier = Seq(5L, 13L).toDF("nid")
    val pruned = graft.operators.NavGraph.pruneEdgesForFrontier(
      edges.where(org.apache.spark.sql.functions.col("level") === 0),
      frontier, bucketed = true)
    val plan = pruned.queryExecution.executedPlan.toString
    // ept partition filter survives (static, non-empty) ...
    assert(plan.contains("PartitionFilters: ["), plan)
    assert(!plan.matches("(?s).*PartitionFilters: \\[\\s*\\].*"), plan)
    // ... AND the frontier ids reach the scan as a pushed `src` data
    // filter, so row-group stats (rows are src-sorted within each
    // (level, ept) directory) prune within buckets — the search-side
    // twin of the assign-table list push
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*src[^\\]]*\\].*"), plan)
    // and the prune is semantically a pure filter: exactly those srcs
    val srcs = pruned.select("src").distinct().collect().map(_.getLong(0)).toSet
    assert(srcs == Set(5L, 13L), s"pruned edge scan leaked srcs: $srcs")
  }

  test("beam edge prune past SrcPushLimit falls back to bucket granularity") {
    // synthetic edge frame (no build needed): srcs 0..9 hashed into ept
    val edges = spark.range(10).selectExpr("id AS src", "id + 1 AS dst",
      "0.5 AS cos", "0 AS level",
      "CAST(pmod(xxhash64(id), 64) AS INT) AS ept")
    val over = spark.range(
        graft.operators.NavGraph.SrcPushLimit.toLong + 1)
      .selectExpr("id AS nid")
    val kept = graft.operators.NavGraph
      .pruneEdgesForFrontier(edges, over, bucketed = true)
      .select("src").distinct().collect().map(_.getLong(0)).toSet
    // completeness: with > cap frontier ids, every bucket-colocated
    // edge survives (frontier covers ids 0..9, so all 10 src buckets
    // are probed; the downstream frontier join drops non-frontier
    // srcs — the prune itself must not lose a frontier src's edges)
    assert(kept == (0L until 10L).toSet, s"fallback lost edges: $kept")
    // and under the cap, the src data filter keeps only frontier srcs
    val sp = spark
    import sp.implicits._
    val under = Seq(3L, 7L).toDF("nid")
    val keptUnder = graft.operators.NavGraph
      .pruneEdgesForFrontier(edges, under, bucketed = true)
      .select("src").distinct().collect().map(_.getLong(0)).toSet
    assert(keptUnder == Set(3L, 7L), s"push path leaked srcs: $keptUnder")
  }

  test("compaction folds ORPHAN facts from a crashed append (assign + edge ghosts)") {
    val n = 128; val cSize = 8
    val corpus = corpusDf(n, cSize)
    val path = scratch()
    graft.operators.NavGraph.buildNavGraph(corpus, path, m = 8, maxLevel = 1,
      nlist = 4, nProbe = 4, bruteMax = 1L)
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    // simulate the crash window: an append writes its assign delta (and
    // here, edges) but dies before the node write — ids 9000+ are GHOSTS
    // with no node fact
    val sp = spark
    import sp.implicits._
    val ghostAssign = Seq((9000L, vecOf(0L, cSize).toSeq, 1),
        (9001L, vecOf(1L, cSize).toSeq, 3))
      .toDF("nid", "cv", "list")
      .selectExpr("nid", "CAST(cv AS ARRAY<FLOAT>) AS cv", "list",
        "pmod(list, 64) AS lb")
    ghostAssign.write.mode("append").partitionBy("lb")
      .parquet(s"$dataDir/assign_l0")
    val ghostEdges = Seq((0L, 9000L, 0.99), (9001L, 1L, 0.99))
      .toDF("src", "dst", "cos")
      .selectExpr("src", "dst", "cos", "CAST(0 AS INT) AS level",
        "CAST(pmod(xxhash64(src), 64) AS INT) AS ept")
    ghostEdges.write.mode("append").partitionBy("level", "ept")
      .parquet(s"$dataDir/edges")
    graft.operators.NavGraph.compactNavGraph(spark, path, keepVersions = 2)
    val v2 = graft.util.FsIO.indexDataDir(spark, path)
    val assignIds = spark.read.parquet(s"$v2/assign_l0")
      .select("nid").collect().map(_.getLong(0)).toSet
    assert(!assignIds.exists(_ >= 9000L),
      "compaction must fold assign rows whose id has no node fact")
    val edgeIds = spark.read.parquet(s"$v2/edges")
      .selectExpr("src", "dst").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(!edgeIds.exists(_ >= 9000L),
      "compaction must fold edges touching ghost endpoints")
    // and the compacted graph still searches exactly
    val got = pairs(graft.operators.NavGraph.navSearch(spark, path,
      corpus.where("vec_id % 8 = 5"), k = 7, ef = 16, rounds = 2))
    assert(got == coMembers((0L until n.toLong).filter(_ % 8 == 5), n, cSize))
  }

  test("brute volume guard: default-bruteMax volumes are exempt, raised ones still fail") {
    val n = 128; val cSize = 8
    val path = scratch()
    // 128² = 16384 is inside the DefaultBruteMax² exemption, so even a
    // pathological per-core budget (cap = 1·4 cores) must not throw —
    // the documented default build never fails on a small session
    graft.operators.NavGraph.buildNavGraph(corpusDf(n, cSize), path, m = 8,
      maxLevel = 1, candRowsPerCore = 1.0)
    // a RAISED bruteMax whose volume exceeds both the exemption and the
    // budget still fails loudly before the join
    val big = spark.range(5000L).selectExpr("id AS vec_id",
      "transform(sequence(0, 7), d -> CAST(sin(id + d) AS FLOAT)) AS embedding")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.NavGraph.buildNavGraph(big, scratch(), m = 8,
        maxLevel = 1, bruteMax = 5000L, candRowsPerCore = 1.0)
    }
    assert(ex.getMessage.contains("brute-force"), ex.getMessage)
  }

  test("append bump preserves sidecar keys it does not know (forward compat)") {
    val n = 64; val cSize = 8
    val path = scratch()
    graft.operators.NavGraph.buildNavGraph(corpusDf(n, cSize, _ % 8 <= 6),
      path, m = 8, maxLevel = 1)
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    // a newer writer version added a key this version doesn't know
    graft.util.FsIO.writeStringAtomic(spark,
      new org.apache.hadoop.fs.Path(dataDir, "_nav_params.json"),
      """{"m":8,"maxLevel":1,"appends":0,"future_knob":7}""")
    graft.operators.NavGraph.appendToNavGraph(spark, path,
      corpusDf(n, cSize, _ % 8 == 7))
    val json = scala.io.Source.fromFile(s"$dataDir/_nav_params.json").mkString
    assert(json.contains(""""future_knob":7"""), json)
    assert(json.contains(""""appends":1"""), json)
  }

  test("streaming maintenance rides the cadence: mid-stream self-compactions keep searches green") {
    val n = 128; val cSize = 8
    val work = tempDir("navstream").toString
    val path = s"$work/idx"
    graft.operators.NavGraph.buildNavGraph(
      corpusDf(n, cSize, keep = _ % 8 <= 3), path, m = 8, maxLevel = 1)
    // stage four single-mm micro-batch files (mtime-ordered so the file
    // source triggers them in mm order)
    val inDir = java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(work, "in"))
    for (mm <- 4 to 7) {
      val tmp = s"$work/stage_$mm"
      corpusDf(n, cSize, keep = _ % 8 == mm).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = inDir.resolve(s"b$mm.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mm * 1000000L))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    // cadence 2 over 4 micro-batches = TWO self-compactions mid-stream;
    // a search runs INSIDE foreachBatch right after each append, so a
    // compaction-induced breakage would fail here, not just at the end
    val midStream = collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.toString)
      .writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$work/ck")
      .foreachBatch { (b: DataFrame, _: Long) =>
        graft.streaming.StreamOps.navAppendBatch(path, b,
          autoCompactAfter = 2)
        midStream += graft.operators.NavGraph.navSearch(spark, path,
          corpusDf(n, cSize).where("vec_id % 8 = 5"), k = 7, ef = 16,
          rounds = 2).count()
        ()
      }
      .start()
    q.awaitTermination()
    assert(midStream.size == 4 && midStream.forall(_ > 0L),
      s"every mid-stream search must return rows: $midStream")
    // two cadence compactions happened (v1 -> v3) and the final state
    // searches exactly: all co-members, lists pruned back to m
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    assert(dataDir.endsWith("v3"), dataDir)
    val got = pairs(graft.operators.NavGraph.navSearch(spark, path,
      corpusDf(n, cSize).where("vec_id % 8 = 5"), k = 7, ef = 16, rounds = 2))
    assert(got == coMembers((0L until n.toLong).filter(_ % 8 == 5), n, cSize))
    val maxList = spark.read.parquet(s"$dataDir/edges")
      .groupBy("level", "src").count()
      .agg(org.apache.spark.sql.functions.max("count")).collect()(0).getLong(0)
    assert(maxList <= 8L, s"the last cadence compaction prunes lists to m: $maxList")
  }

  test("self-compaction retains the prior version even at keepVersions = 1") {
    val n = 64; val cSize = 8
    val path = scratch()
    graft.operators.NavGraph.buildNavGraph(corpusDf(n, cSize, _ % 8 <= 4),
      path, m = 8, maxLevel = 1)
    // default keepVersions = 1 on the append: the cadence-triggered
    // compaction must still publish with max(keepVersions, 2). A bare
    // keepVersions = 1 retains only ONE superseded version, so after
    // TWO cadence compactions a reader planned at v1 would lose its
    // data mid-scan; the floor keeps two superseded versions alive.
    for (mm <- Seq(5, 6, 7, 7)) // the replayed 7 is a legal no-op append
      graft.operators.NavGraph.appendToNavGraph(spark, path,
        corpusDf(n, cSize, _ % 8 == mm), autoCompactAfter = 2)
    val root = new java.io.File(path)
    val vers = root.listFiles().map(_.getName).filter(_.startsWith("v")).toSet
    assert(vers.contains("v3"), s"two cadence compactions expected: $vers")
    assert(vers.contains("v1") && vers.contains("v2"),
      s"two superseded versions must survive the self-compaction: $vers")
  }
}
