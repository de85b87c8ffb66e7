package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Persisted dedup-cluster registry (Dedup.writeRegistry family) and the
  * classifier calibration profile (TextAnalysis.calibrationProfile). */
class RegistryCalibrationSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()

  private def scratch(): String =
    tempDir("reg").toString + "/idx"

  test("registry: appends + retry + compact cluster like one-shot CC") {
    val sp = spark
    import sp.implicits._
    // two separate star components plus a bridge arriving in a later
    // batch: the registry must MERGE clusters across batches
    val b1 = Seq((1L, 2L), (1L, 3L), (10L, 11L)).toDF("x", "y")
    val b2 = Seq((11L, 12L), (3L, 10L)).toDF("x", "y") // bridge 3-10
    val path = scratch()
    graft.operators.Dedup.writeRegistry(b1, "x", "y", path, buckets = 4)
    graft.operators.Dedup.appendToRegistry(spark, path, b2, "x", "y")
    graft.operators.Dedup.appendToRegistry(spark, path, b2, "x", "y") // retry
    def clusters() = graft.operators.Dedup.registryClusters(spark, path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 1L, 11L -> 1L, 12L -> 1L)
    assert(clusters() == expect, "bridge batch must merge the components")
    graft.operators.Dedup.compactRegistry(spark, path)
    assert(clusters() == expect, "compaction changed the clusters")
    // compaction folded the log: distinct edges only, 1 file per bucket
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val edges = spark.read.parquet(s"$dataDir/edges")
    assert(edges.count() == edges.distinct().count())
    val perPt = new java.io.File(s"$dataDir/edges").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("pt="))
      .map(_.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet")))
    assert(perPt.nonEmpty && perPt.forall(_ == 1), s"not folded: ${perPt.toSeq}")
  }

  test("cluster snapshot: delta refresh == full CC; re-refresh is a no-op") {
    val sp = spark
    import sp.implicits._
    // batch 1: two components {1,2,3} and {10,11}; batch 2 bridges them
    // and introduces a brand-new pair {50,51}; batch 3 replays batch 2
    val b1 = Seq((1L, 2L), (1L, 3L), (10L, 11L)).toDF("x", "y")
    val b2 = Seq((11L, 12L), (3L, 10L), (50L, 51L)).toDF("x", "y")
    val reg = scratch()
    val snap = scratch()
    graft.operators.Dedup.writeRegistry(b1, "x", "y", reg)
    graft.operators.Dedup.writeClusterSnapshot(spark, reg, snap)
    def clusters() = graft.operators.Dedup.readClusterSnapshot(spark, snap)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters() == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    graft.operators.Dedup.appendToRegistry(spark, reg, b2, "x", "y")
    graft.operators.Dedup.refreshClusterSnapshot(spark, snap, b2, "x", "y")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      12L -> 1L, 50L -> 50L, 51L -> 50L)
    assert(clusters() == expect, "delta refresh must merge across the bridge")
    // the incremental map equals the full CC over the grown registry
    val full = graft.operators.Dedup.registryClusters(spark, reg)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters() == full)
    // replaying the same delta (a foreachBatch retry) is a strict no-op:
    // no new delta dirs, same clusters
    def deltaDirs() = new java.io.File(
        graft.util.FsIO.indexDataDir(spark, snap)).listFiles()
      .map(_.getName).filter(n => n.startsWith("new_d") || n.startsWith("remap_d"))
      .sorted.toSeq
    val before = deltaDirs()
    graft.operators.Dedup.refreshClusterSnapshot(spark, snap, b2, "x", "y")
    assert(clusters() == expect)
    assert(deltaDirs() == before, "a replayed delta must write nothing")
    // the refresh APPENDED batch-sized deltas into v1 - no base rewrite,
    // no publish (that is the whole point of the delta layout)
    assert(graft.util.FsIO.indexDataDir(spark, snap).endsWith("v1"))
    assert(before.exists(_.startsWith("remap_d")) &&
      before.exists(_.startsWith("new_d")), s"expected delta dirs: $before")
    // compaction folds base + deltas into v2; read-identical
    graft.operators.Dedup.compactClusterSnapshot(spark, snap)
    assert(graft.util.FsIO.indexDataDir(spark, snap).endsWith("v2"))
    assert(deltaDirs().isEmpty, "compaction must fold the deltas away")
    assert(clusters() == expect, "compaction changed the clusters")
  }

  test("snapshot verdict: the snapshot side sits only under a LeftSemi (no history-sized exchange)") {
    val sp = spark
    import sp.implicits._
    // a refresh first, so the verdict's read view carries the remap
    // broadcast join — the audit must hold through the full read shape
    val b1 = Seq((1L, 2L), (10L, 11L)).toDF("x", "y")
    val b2 = Seq((2L, 10L)).toDF("x", "y")
    val reg = scratch(); val snap = scratch()
    graft.operators.Dedup.writeRegistry(b1, "x", "y", reg)
    graft.operators.Dedup.writeClusterSnapshot(spark, reg, snap)
    graft.operators.Dedup.refreshClusterSnapshot(spark, snap, b2, "x", "y")
    val batch = Seq(1L, 11L, 99L).toDF("doc_id")
    val verdict = graft.operators.Dedup
      .snapshotDedupVerdict(spark, snap, batch, "doc_id")
    // correctness through the pruned shape
    val got = verdict.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got == Map(1L -> (1L, true), 11L -> (1L, false), 99L -> (99L, true)))
    // plan shape: every scan of the snapshot's files must be a
    // descendant of a LeftSemi join (the batch-id pruning) — a snapshot
    // scan OUTSIDE one means the history-sized map meets the batch
    // directly (the r16 full-history shuffle per admitted batch)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val snapDir = snap
    def isSnapScan(p: SparkPlan): Boolean = p match {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.toString.contains(snapDir))
      case _ => false
    }
    val plan = verdict.queryExecution.sparkPlan
    assert(plan.collect { case p if isSnapScan(p) => p }.nonEmpty,
      "expected the plan to scan the snapshot at all")
    def scansOutsideSemi(p: SparkPlan): Seq[SparkPlan] = p match {
      case j: BaseJoinExec if j.joinType == LeftSemi => Seq.empty
      case s if isSnapScan(s) => Seq(s)
      case other => other.children.flatMap(scansOutsideSemi)
    }
    assert(scansOutsideSemi(plan).isEmpty,
      s"snapshot scan outside the LeftSemi prune:\n$plan")
  }

  test("snapshot: >= 50 chained remap deltas still read as the full CC") {
    val sp = spark
    import sp.implicits._
    // bootstrap 53 two-node components {10i, 10i+1}, then merge them
    // DESCENDING — refresh i adds edge (10(i-1), 10i), so remap delta i
    // holds exactly (10i -> 10(i-1)) and resolving node 520 must follow
    // a 52-hop chain ACROSS deltas (the path-compressed composition)
    val boot = (0 to 52).map(i => (10L * i, 10L * i + 1)).toDF("x", "y")
    val reg = scratch(); val snap = scratch()
    graft.operators.Dedup.writeRegistry(boot, "x", "y", reg)
    graft.operators.Dedup.writeClusterSnapshot(spark, reg, snap)
    for (i <- 52 to 1 by -1)
      graft.operators.Dedup.refreshClusterSnapshot(spark, snap,
        Seq((10L * (i - 1), 10L * i)).toDF("x", "y"), "x", "y",
        autoCompactAfter = 0)
    val dataDir = graft.util.FsIO.indexDataDir(spark, snap)
    val remaps = new java.io.File(dataDir).listFiles()
      .map(_.getName).count(_.startsWith("remap_d"))
    assert(remaps >= 50, s"fixture must exercise the many-delta path (got $remaps)")
    val clusters = graft.operators.Dedup.readClusterSnapshot(spark, snap)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = (0 to 52).flatMap(i =>
      Seq(10L * i -> 0L, (10L * i + 1) -> 0L)).toMap
    assert(clusters == expect, "chained remap composition must equal the full CC")
  }

  test("snapshot: a cyclic (corrupt) remap delta fails loudly instead of hanging") {
    val sp = spark
    import sp.implicits._
    val boot = Seq((10L, 11L), (20L, 21L)).toDF("x", "y")
    val reg = scratch(); val snap = scratch()
    graft.operators.Dedup.writeRegistry(boot, "x", "y", reg)
    graft.operators.Dedup.writeClusterSnapshot(spark, reg, snap)
    // forge a remap delta with a cycle (10 -> 20 -> 10): only corrupt
    // or hand-restored dirs can contain one — the walk must throw the
    // decreasing-invariant message, never spin the driver
    val dataDir = graft.util.FsIO.indexDataDir(spark, snap)
    Seq((10L, 20L), (20L, 10L)).toDF("__oc", "__nc")
      .coalesce(1).write.parquet(s"$dataDir/remap_d00001")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.readClusterSnapshot(spark, snap).collect()
    }
    assert(e.getMessage.contains("cycle"), e.getMessage)
  }

  test("snapshot: autoCompactAfter folds the deltas mid-refresh") {
    val sp = spark
    import sp.implicits._
    val boot = (0 to 8).map(i => (10L * i, 10L * i + 1)).toDF("x", "y")
    val reg = scratch(); val snap = scratch()
    graft.operators.Dedup.writeRegistry(boot, "x", "y", reg)
    graft.operators.Dedup.writeClusterSnapshot(spark, reg, snap)
    assert(graft.util.FsIO.indexDataDir(spark, snap).endsWith("v1"))
    for (i <- 1 to 5)
      graft.operators.Dedup.refreshClusterSnapshot(spark, snap,
        Seq((10L * (i - 1), 10L * i)).toDF("x", "y"), "x", "y",
        autoCompactAfter = 5)
    // the 5th refresh hit the threshold and compacted: new version, no
    // deltas left, clusters unchanged
    assert(graft.util.FsIO.indexDataDir(spark, snap).endsWith("v2"),
      "the threshold refresh must publish a compacted version")
    val dataDir = graft.util.FsIO.indexDataDir(spark, snap)
    val deltas = new java.io.File(dataDir).listFiles().map(_.getName)
      .count(n => n.startsWith("new_d") || n.startsWith("remap_d"))
    assert(deltas == 0, "auto-compaction must fold the deltas away")
    val clusters = graft.operators.Dedup.readClusterSnapshot(spark, snap)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 to 5).foreach(i => assert(clusters(10L * i) == 0L))
    (6 to 8).foreach(i => assert(clusters(10L * i) == 10L * i))
  }

  test("snapshot: a reader planned at vN survives keepVersions=2 compactions") {
    val sp = spark
    import sp.implicits._
    val b1 = Seq((1L, 2L), (10L, 11L)).toDF("x", "y")
    val reg = scratch(); val snap = scratch()
    graft.operators.Dedup.writeRegistry(b1, "x", "y", reg)
    graft.operators.Dedup.writeClusterSnapshot(spark, reg, snap)
    // plan the read at v1 (remap collect happens now; the base scan is
    // lazy and pinned to v1's files)
    val reader = graft.operators.Dedup.readClusterSnapshot(spark, snap)
    graft.operators.Dedup.compactClusterSnapshot(spark, snap, keepVersions = 2)
    graft.operators.Dedup.compactClusterSnapshot(spark, snap, keepVersions = 2)
    assert(graft.util.FsIO.indexDataDir(spark, snap).endsWith("v3"))
    // v1 is still on disk (retained by keepVersions=2), so the v1 reader
    // must still execute correctly
    val got = reader.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L),
      "a reader planned at v1 must survive two keepVersions=2 publishes")
  }

  test("snapshot: compaction flags a racing refresh's late deltas loudly") {
    val sp = spark
    import sp.implicits._
    val b1 = Seq((1L, 2L), (10L, 11L)).toDF("x", "y")
    val reg = scratch(); val snap = scratch()
    graft.operators.Dedup.writeRegistry(b1, "x", "y", reg)
    graft.operators.Dedup.writeClusterSnapshot(spark, reg, snap)
    graft.operators.Dedup.refreshClusterSnapshot(spark, snap,
      Seq((2L, 10L)).toDF("x", "y"), "x", "y")
    val v1 = new java.io.File(graft.util.FsIO.indexDataDir(spark, snap))
    // inject a "racing refresh": once the compactor starts writing its
    // next version (v2 appears), drop a later-ordinal delta dir into the
    // still-current v1 — after the pointer flips, the compactor's
    // post-publish re-list must see it and throw
    val injector = new Thread(() => {
      val v2 = new java.io.File(v1.getParentFile, "v2")
      while (!v2.exists()) Thread.sleep(2)
      new java.io.File(v1, "new_d00050").mkdir()
    })
    injector.setDaemon(true)
    injector.start()
    val e = intercept[java.util.ConcurrentModificationException] {
      graft.operators.Dedup.compactClusterSnapshot(spark, snap)
    }
    injector.join(5000)
    assert(e.getMessage.contains("single-writer rule violated"))
  }

  test("calibration: clamped bins, exact per-bin laws, ECE") {
    val sp = spark
    import sp.implicits._
    // scores outside [0,1] clamp into the edge bins; a perfectly
    // calibrated two-bin fixture has gap 0 in one bin
    val rows = Seq(
      (-0.5, false), (0.1, false), (0.1, false), (0.1, false), (0.1, true),
      (0.9, true), (0.9, true), (0.9, true), (0.9, false), (1.7, true))
      .toDF("score", "y")
    val got = graft.operators.TextAnalysis
      .calibrationProfile(rows, "score", "y", bins = 2)
      .orderBy("bin").collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(0, 1), "clamping must land edge bins")
    val bin0 = got(0)
    // bin0: scores {-0.5, .1 x4} -> mean (-0.5 + 0.4)/5 = -0.02; 1 of 5 pos
    assert(bin0.getLong(1) == 5L)
    assert(math.abs(bin0.getDouble(2) - (-0.02)) < 1e-9)
    assert(math.abs(bin0.getDouble(3) - 0.2) < 1e-9)
    val bin1 = got(1)
    // bin1: {0.9 x4, 1.7} -> mean 1.06; 4 of 5 pos -> gap 0.26
    assert(math.abs(bin1.getDouble(2) - 1.06) < 1e-9)
    assert(math.abs(bin1.getDouble(3) - 0.8) < 1e-9)
    assert(math.abs(bin1.getDouble(4) - 0.26) < 1e-9)
    // ece = (5*0.22 + 5*0.26)/10 = 0.24, identical on every row
    assert(got.map(_.getDouble(5)).distinct.toSeq == Seq(0.24))
  }

  test("calibration: NULL scores are dropped, never an ECE-deflating NULL bin") {
    val sp = spark
    import sp.implicits._
    val base = Seq(
      (Some(0.1), false), (Some(0.1), true), (Some(0.9), true), (Some(0.9), true))
    val withNulls = base ++ Seq((Option.empty[Double], true),
      (Option.empty[Double], false))
    val clean = graft.operators.TextAnalysis
      .calibrationProfile(base.toDF("score", "y"), "score", "y", bins = 2)
      .orderBy("bin").collect().map(_.toSeq).toSeq
    val dirty = graft.operators.TextAnalysis
      .calibrationProfile(withNulls.toDF("score", "y"), "score", "y", bins = 2)
      .orderBy("bin").collect().map(_.toSeq).toSeq
    assert(dirty == clean,
      "NULL scores must not add a bin row or shift any bin stat or the ECE")
  }
}
