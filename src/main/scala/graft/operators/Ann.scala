package graft.operators

import graft.functions.GeoFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>).
  *
  * Scale design:
  *  - Brute force broadcasts the (small) query set against the corpus —
  *    a map-only scan, no shuffle until the final per-query top-k, which
  *    moves only k rows per query per partition (rank pushdown via the
  *    window's partial top-k is handled by AQE/TakeOrdered at small k).
  *  - The LSH variant buckets both sides by random-hyperplane sign bits
  *    and compares only within (multi-probed) buckets: the corpus scan
  *    becomes a bucket-equi-join, i.e. a shuffle keyed by bucket instead
  *    of a full cross product — the n·q term drops to Σ bucket-collisions.
  *  - IVF-style variant: k-means-free coarse quantization using the LSH
  *    bucket as the inverted-list key; `nProbe` flips of the lowest-margin
  *    bits emulate multi-probe search.
  */
object Ann {

  /** Exact top-k by cosine for each query vector (brute force baseline).
    * Output: (qid, nid, rnk). `queries` must be small enough to broadcast. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      qid: String = "vec_id", qvec: String = "embedding",
      cid: String = "vec_id", cvec: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(qid).as("qid"), col(qvec).as("qv")))
    val c = corpus.select(col(cid).as("nid"), col(cvec).as("cv"))
    val scored = q.join(c, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), vec_cosine(col("qv"), col("cv")).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select("qid", "nid", "rnk")
  }

  /** LSH-bucketed approximate top-k: candidates share the query's
    * hyperplane signature on at least one probe — the exact bucket plus
    * `nProbe` margin-aware multi-probe buckets (subsets of the
    * lowest-|margin| planes flipped, ordered by collision probability —
    * Lv et al., VLDB'07). Exact cosine then ranks within the candidate
    * set. Recall grows with nProbe; cost stays ~bucket-sized, and only
    * the small query side pays the probe enumeration. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nPlanes: Int = 12, nProbe: Int = 4, seed: Long = 42L): DataFrame = {
    val c = corpus.select(col("vec_id").as("nid"), col("embedding").as("cv"),
      vec_lsh_sig(col("embedding"), lit(nPlanes), lit(seed)).as("bucket"))
    val q = broadcast(queries
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        explode(vec_lsh_probes(col("embedding"), lit(nPlanes), lit(seed), lit(nProbe)))
          .as("bucket")))
    val scored = q.join(c, Seq("bucket"))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), vec_cosine(col("qv"), col("cv")).as("cos"))
      .dropDuplicates("qid", "nid")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select("qid", "nid", "rnk")
  }

  /** Train IVF coarse centroids: Lloyd iterations (cosine assignment,
    * mean update) on a bounded sample pulled to the driver — the standard
    * IVF recipe; at 100 TB the sample size holds while the corpus grows,
    * and the k and iteration count don't change. Sampling is a seeded
    * per-partition reservoir: ONE pass over the corpus (no count()
    * pre-scan), every partition contributes ~maxSample/numPartitions
    * rows, so an ingest-clustered corpus (the common layout) still yields
    * centroids spanning all clusters — a head `limit` would train on the
    * first files only. Deterministic for a fixed corpus layout. */
  def trainCentroids(corpus: DataFrame, nlist: Int, iters: Int = 5,
      maxSample: Int = 20000, seed: Long = 42L,
      vecCol: String = "embedding"): Array[Array[Float]] = {
    val vecs = corpus.select(col(vecCol))
    val nParts = math.max(1, vecs.rdd.getNumPartitions)
    val perPart = math.max(1, (maxSample + nParts - 1) / nParts)
    val pooled = vecs.rdd.mapPartitionsWithIndex { (pid, it) =>
      val rnd = new java.util.Random(seed ^ (pid.toLong * 0x9e3779b97f4a7c15L))
      val buf = new Array[Array[Float]](perPart)
      var n = 0
      it.foreach { row =>
        val v = row.getSeq[Float](0)
        if (n < perPart) buf(n) = v.toArray
        else {
          val j = rnd.nextInt(n + 1)
          if (j < perPart) buf(j) = v.toArray
        }
        n += 1
      }
      buf.iterator.take(math.min(n, perPart))
    }.collect()
    // second-level reservoir over the collected per-partition samples:
    // a plain take(maxSample) would keep only the lowest-index partitions
    // when the pooled sample overshoots, re-introducing layout bias
    val sample =
      if (pooled.length <= maxSample) pooled
      else {
        val rnd = new java.util.Random(seed)
        val buf = new Array[Array[Float]](maxSample)
        var n = 0
        pooled.foreach { v =>
          if (n < maxSample) buf(n) = v
          else {
            val j = rnd.nextInt(n + 1)
            if (j < maxSample) buf(j) = v
          }
          n += 1
        }
        buf
      }
    require(sample.length >= nlist, s"sample ${sample.length} < nlist $nlist")
    lloydOnSample(sample, nlist, iters)
  }

  /** Deterministic-regardless-of-layout variant of [[trainCentroids]]:
    * the training sample is the `maxSample` rows with the LOWEST
    * xxhash64(seed, vector) — a content-keyed threshold sample
    * (TakeOrdered, no full sort materialized), so identical input CONTENT
    * yields identical centroids no matter how the DataFrame is
    * partitioned. Use where downstream behavior must not move when an
    * upstream repartition does (e.g. [[kmeansAssignTwoLevel]]'s coarse
    * quantizer, whose cell boundaries decide which fine shards a row
    * probes). Equal-hash ties at the sample boundary are the only
    * residual layout sensitivity (64-bit collisions; negligible). */
  def trainCentroidsDeterministic(corpus: DataFrame, nlist: Int,
      iters: Int = 5, maxSample: Int = 20000, seed: Long = 42L,
      vecCol: String = "embedding"): Array[Array[Float]] = {
    val sample = corpus
      .select(col(vecCol), xxhash64(lit(seed), col(vecCol)).as("__h"))
      .orderBy(col("__h")).limit(maxSample)
      .collect().map(_.getSeq[Float](0).toArray)
    require(sample.length >= nlist, s"sample ${sample.length} < nlist $nlist")
    lloydOnSample(sample, nlist, iters)
  }

  /** Shared driver-side Lloyd refinement over a collected sample:
    * deterministic ANGULAR farthest-point (maximin) seeding, cosine
    * assignment, mean update. Maximin replaced the original stride
    * seeding (round 12): stride can land two seeds inside one tight
    * cluster and Lloyd never splits the pair, which leaves a
    * merged inverted list whose members' residuals are bimodal —
    * poison for by-residual PQ and a wasted list for every IVF search.
    * Seed 0 is sample(0); each next seed is the sample vector with the
    * LOWEST maximum cosine to the seeds chosen so far. Deterministic
    * for a fixed sample order (the content-keyed/reservoir samples
    * upstream are). */
  private def lloydOnSample(sample: Array[Array[Float]], nlist: Int,
      iters: Int): Array[Array[Float]] = {
    def cosOf(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var d = 0
      while (d < a.length) {
        val x = a(d).toDouble; val y = b(d).toDouble
        dot += x * y; na += x * x; nb += y * y
        d += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val seeds = new Array[Array[Float]](nlist)
    seeds(0) = sample(0).clone()
    val maxCos = sample.map(cosOf(_, seeds(0)))
    var s = 1
    while (s < nlist) {
      var far = 0
      var i = 1
      while (i < sample.length) {
        if (maxCos(i) < maxCos(far)) far = i
        i += 1
      }
      seeds(s) = sample(far).clone()
      i = 0
      while (i < sample.length) {
        val c = cosOf(sample(i), seeds(s))
        if (c > maxCos(i)) maxCos(i) = c
        i += 1
      }
      s += 1
    }
    var cents = seeds
    for (_ <- 0 until iters) {
      val sums = Array.fill(nlist)(new Array[Double](cents(0).length))
      val counts = new Array[Int](nlist)
      sample.foreach { v =>
        val c = nearestIdx(v, cents)
        counts(c) += 1
        var d = 0
        while (d < v.length) { sums(c)(d) += v(d); d += 1 }
      }
      cents = Array.tabulate(nlist) { c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(s => (s / counts(c)).toFloat)
      }
    }
    cents
  }

  private def nearestIdx(v: Array[Float], cents: Array[Array[Float]]): Int = {
    var best = 0; var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var d = 0
      while (d < v.length) {
        val x = v(d).toDouble; val y = cents(c)(d).toDouble
        dot += x * y; na += x * x; nb += y * y
        d += 1
      }
      val s = dot / (math.sqrt(na) * math.sqrt(nb))
      if (s > bestScore) { bestScore = s; best = c }
      c += 1
    }
    best
  }

  /** A built IVF index: trained coarse centroids plus the corpus with its
    * inverted-list assignment (`nid`, `cv`, `list`). */
  final case class IvfIndex(centroids: Array[Array[Float]], assigned: DataFrame)

  /** Per-centroid L2 norms, accumulated exactly as
    * [[graft.functions.VecKernels.decodeCentroids]] does — computed once
    * on the driver and shipped inside broadcast payloads. */
  private def centroidNorms(cents: Array[Array[Float]]): Array[Double] =
    cents.map { cent =>
      var nb = 0.0
      var i = 0
      while (i < cent.length) { val y = cent(i).toDouble; nb += y * y; i += 1 }
      math.sqrt(nb)
    }

  /** Assign every corpus row to its nearest centroid's inverted list —
    * one map-only pass over the corpus. Same literal/broadcast codebook
    * switch as the probe scorer: above [[LiteralProbeMaxNlist]] lists the
    * codebook ships per-executor via torrent broadcast instead of inside
    * every task binary (the two assignment kernels are bit-identical,
    * spec-pinned). */
  def buildIvf(corpus: DataFrame, nlist: Int = 16, iters: Int = 5,
      seed: Long = 42L): IvfIndex =
    assignToCentroids(trainCentroids(corpus, nlist, iters, seed = seed), corpus)

  /** [[buildIvf]]'s assignment pass with FROZEN centroids: index
    * `corpus` against an existing codebook without retraining. The
    * building block of [[appendToIvfIndex]], and the reference shape
    * for proving append ≡ rebuild: assignment is a pure per-row
    * function of (vector, centroids), so indexing rows in any number
    * of batches against the same codebook yields the same lists. */
  def assignToCentroids(cents: Array[Array[Float]], corpus: DataFrame): IvfIndex = {
    val assign =
      if (cents.length <= LiteralProbeMaxNlist)
        vec_nearest_centroid(col("embedding"), typedLit(cents.map(_.toSeq).toSeq))
      else vec_nearest_centroid_bcast(col("embedding"),
        corpus.sparkSession.sparkContext.broadcast((cents, centroidNorms(cents))))
    IvfIndex(cents, corpus.select(col("vec_id").as("nid"),
      col("embedding").as("cv"), assign.as("list")))
  }

  /** Incrementally add vectors to a PERSISTED index — no rebuild: the
    * new rows are assigned with the index's own (frozen) centroids and
    * appended as new part-files inside the matching `list=` partition
    * directories, so partition-pruned probes keep working and existing
    * data is never rewritten. Because assignment is deterministic per
    * row, search over the appended index equals search over an index
    * built in one shot from the union WITH THE SAME CENTROIDS, at any
    * probe depth (contract row q167 pins it at full and partial probe).
    *
    * What appending cannot give you: centroids that REFLECT the new
    * data. If appended vectors drift from the trained distribution,
    * they crowd into few (or ill-fitting) lists and partial-probe
    * recall decays — measure it with [[ivfRecall]] (partial- vs
    * full-probe on a query sample) and rebuild when it drops below the
    * pipeline's floor. */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, rows: DataFrame): Unit = {
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val idx = readIvfIndexAt(spark, dataDir)
    assignToCentroids(idx.centroids, rows)
      .assigned.write.mode("append").partitionBy("list").parquet(dataDir)
    graft.util.FsIO.assertStillCurrent(spark, path, dataDir)
  }

  /** Hard-negative mining for retrieval/contrastive training: per
    * query, the top-`k` most similar corpus vectors that are NEITHER
    * the query itself NOR one of its labeled positives — the
    * highest-value negatives a contrastive loss can see. Implemented
    * as over-fetch + exclude + re-rank with a PER-QUERY pad: each
    * query's candidate window is cut at `k` + its OWN labeled-positive
    * count (a broadcast join of the positives-table-sized counts —
    * never a driver action, and a heavily-labeled outlier query no
    * longer inflates every other query's search depth). Self-pairs are
    * already excluded by the probe join, so the pad covers exactly the
    * rows an exclusion can remove; removal never reorders survivors,
    * so at full probe the result is EXACTLY brute-force
    * top-k-excluding (the q213 oracle); at partial probe it inherits
    * [[ivfSearch]]'s recall semantics. The whole mine is one lazy
    * plan. */
  def hardNegatives(index: IvfIndex, queries: DataFrame, positives: DataFrame,
      qidCol: String, posCol: String, k: Int, nProbe: Int): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    val excl = positives
      .select(col(qidCol).as("qid"), col(posCol).as("nid")).distinct()
    val posN = excl.groupBy("qid").agg(count(lit(1)).as("__np"))
    val scored = probedPairs(index, queries, nProbe)
      .select(col("qid"), col("nid"), vec_cosine(col("qv"), col("cv")).as("cos"))
      .dropDuplicates("qid", "nid")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    val windowed = scored.withColumn("rnk", row_number().over(w))
      .join(broadcast(posN), Seq("qid"), "left")
      .where(col("rnk") <= lit(k) + coalesce(col("__np"), lit(0L)))
    val wn = Window.partitionBy("qid").orderBy(col("rnk").asc)
    windowed
      .join(excl, Seq("qid", "nid"), "left_anti")
      .withColumn("neg_rnk", row_number().over(wn))
      .where(col("neg_rnk") <= k)
      .select(col("qid"), col("nid"), col("neg_rnk").cast("int").as("rnk"))
  }

  /** Compact a persisted IVF (or IVF-PQ) index in place: every
    * [[appendToIvfIndex]] / [[appendToIvfPqIndex]] adds part-files to
    * the touched `list=` directories, so probe fan-out grows with
    * append count. Compaction rewrites each inverted list as ONE file
    * (rows sorted by `nid` for a deterministic layout) and carries the
    * centroid — and, when present, PQ codebook — sidecars over
    * verbatim, so it works on both layouts without reading a vector
    * column. Rows are facts (no deltas to fold), hence search after
    * compaction is trivially identical to before (q205 pins it through
    * the q167 append≡rebuild gate; the spec pins 1 file/list). Same
    * next-version + pointer-flip discipline as the BM25 compactor —
    * concurrent probes keep their resolved version; not
    * concurrent-WRITER safe. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, keepVersions: Int = 1): Unit = {
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val idx = readIvfIndexAt(spark, dataDir) // validates the sidecar, nlist
    val ver = graft.util.FsIO.nextVersionDir(spark, path)
    idx.assigned
      .repartition(idx.centroids.length, col("list"))
      .sortWithinPartitions("list", "nid")
      .write.partitionBy("list").parquet(ver.toString)
    for (name <- Seq("_ivf_centroids.json", "_pq_codebook.json"))
      graft.util.FsIO.readString(spark,
          new org.apache.hadoop.fs.Path(dataDir, name))
        .foreach(s => graft.util.FsIO.writeStringAtomic(spark,
          new org.apache.hadoop.fs.Path(ver, name), s))
    graft.util.FsIO.publishVersion(spark, path, ver, keepVersions)
  }

  /** The drift guard: fraction of full-probe (exact within the index)
    * top-k pairs that an `nProbe`-deep search still recovers. Run on a
    * query sample after appends; a drop below the pipeline's recall
    * floor is the rebuild signal. */
  def ivfRecall(index: IvfIndex, queries: DataFrame, k: Int,
      nProbe: Int): Double =
    ivfRecallFrame(index, queries, k, nProbe).head().getDouble(0)

  /** [[ivfRecall]] as a LAZY one-row frame (`recall` double): the same
    * hit/total ratio expressed engine-side, so gate rows can embed the
    * drift guard inside an auditable physical plan instead of a
    * driver-computed literal. Empty exact set ⇒ recall 1.0, matching
    * [[recall]]. */
  def ivfRecallFrame(index: IvfIndex, queries: DataFrame, k: Int,
      nProbe: Int): DataFrame = {
    val approx = ivfSearch(index, queries, k, nProbe)
    val exact = ivfSearch(index, queries, k, index.centroids.length)
    approx.join(exact, Seq("qid", "nid")).agg(count(lit(1)).as("__hit"))
      .crossJoin(exact.agg(count(lit(1)).as("__tot")))
      .select(when(col("__tot") === 0, lit(1.0))
        .otherwise(col("__hit").cast("double") / col("__tot")).as("recall"))
  }

  /** Persist a built index as parquet PARTITIONED BY inverted list, plus a
    * centroid sidecar — the "build once, query many" shape a training
    * pipeline actually runs: a later [[readIvfIndex]] + [[ivfSearch]]
    * reads ONLY the probed list directories (partition pruning), skipping
    * the rest of the corpus entirely. */
  def writeIvfIndex(index: IvfIndex, path: String): Unit = {
    val spark = index.assigned.sparkSession
    val ver = graft.util.FsIO.nextVersionDir(spark, path)
    index.assigned.write.mode("overwrite").partitionBy("list").parquet(ver.toString)
    val json = index.centroids.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    graft.util.FsIO.writeStringAtomic(spark,
      new org.apache.hadoop.fs.Path(ver, "_ivf_centroids.json"), json)
    graft.util.FsIO.publishVersion(spark, path, ver)
  }

  def readIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex =
    readIvfIndexAt(spark, graft.util.FsIO.indexDataDir(spark, path))

  private def readIvfIndexAt(spark: org.apache.spark.sql.SparkSession,
      dataDir: String): IvfIndex = {
    val json = graft.util.FsIO.readString(spark,
        new org.apache.hadoop.fs.Path(dataDir, "_ivf_centroids.json"))
      .getOrElse(throw new java.io.IOException(
        s"IVF index at $dataDir has no readable _ivf_centroids.json sidecar"))
    val cents = json.stripPrefix("[").stripSuffix("]").split("\\],\\[")
      .map(_.stripPrefix("[").stripSuffix("]").split(',').map(_.toFloat))
    IvfIndex(cents, spark.read.parquet(dataDir))
  }

  /** Above this nlist the probe scorer stops folding the codebook into
    * the plan as an array-of-structs literal (which lands in EVERY task
    * binary — the anti-pattern [[kmeansAssignBcast]] exists to avoid)
    * and ships it once per executor as a torrent broadcast instead.
    * Both scorers produce the identical probe set AND order (ties to
    * the higher list index, spec-pinned), so the switch can never
    * change a search result. */
  private val LiteralProbeMaxNlist = 64

  /** Per-query probe assignments: each query scores the codebook and
    * explodes into its `nProbe` best (qid, qv, list) rows. */
  private def probeAssignments(index: IvfIndex, queries: DataFrame,
      nProbe: Int): DataFrame =
    if (index.centroids.length <= LiteralProbeMaxNlist)
      probeAssignmentsLiteral(index, queries, nProbe)
    else probeAssignmentsBcast(index, queries, nProbe)

  private[graft] def probeAssignmentsLiteral(index: IvfIndex,
      queries: DataFrame, nProbe: Int): DataFrame = {
    val cents = index.centroids
    val nlist = cents.length
    queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .withColumn("scored", array((0 until nlist).map { i =>
        struct(vec_cosine(col("qv"), typedLit(cents(i).toSeq)).as("s"), lit(i).as("list"))
      }: _*))
      .withColumn("probe", slice(reverse(array_sort(col("scored"))), 1, nProbe))
      .withColumn("p", explode(col("probe")))
      .select(col("qid"), col("qv"), col("p.list").as("list"))
  }

  private[graft] def probeAssignmentsBcast(index: IvfIndex,
      queries: DataFrame, nProbe: Int): DataFrame = {
    val cents = index.centroids
    val bc = queries.sparkSession.sparkContext.broadcast((cents, centroidNorms(cents)))
    queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .withColumn("list", explode(vec_top_centroids_bcast(col("qv"), bc, nProbe)))
      .select(col("qid"), col("qv"), col("list"))
  }

  /** The distinct inverted lists a query batch probes, sorted. One tiny
    * job over the query side (small/broadcast by contract). */
  def probedLists(index: IvfIndex, queries: DataFrame, nProbe: Int): Array[Int] =
    probeAssignments(index, queries, nProbe)
      .select("list").distinct().collect().map(_.getInt(0)).sorted

  /** Search a built index: each query scores the codebook (literal or
    * broadcast per [[LiteralProbeMaxNlist]]), probes its `nProbe` best
    * lists, and exact cosine ranks within the probed candidates.
    *
    * The probe assignments are evaluated ONCE and collected: the query
    * side is broadcast-sized by contract (the join below collects it to
    * the driver anyway), so this costs no extra memory — and it
    * guarantees the static `list IN (...)` filter derives from the SAME
    * evaluated rows as the join side. A nondeterministic `queries`
    * (sample, unordered limit) could otherwise probe one list set in
    * the filter job and another in the join job, silently dropping
    * candidates. On a [[readIvfIndex]]-loaded index the filter is a
    * partition filter over the `list=` directories, so unprobed
    * partitions are never listed or read — guaranteed at plan time, not
    * left to runtime DPP. At 100 TB the corpus-sized assigned table is
    * the whole cost; scanning nProbe/nlist of it is the point of IVF.
    * (The per-call codebook broadcast is reclaimed by Spark's
    * ContextCleaner once the returned DataFrame is unreachable.) */
  def ivfSearch(index: IvfIndex, queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val scored = probedPairs(index, queries, nProbe)
      .select(col("qid"), col("nid"), vec_cosine(col("qv"), col("cv")).as("cos"))
      .dropDuplicates("qid", "nid")
    topkByCos(scored, k)
  }

  /** FILTERED ANN search — [[ivfSearch]] restricted to an allow-set of
    * corpus ids (the "vector search with a metadata predicate" read:
    * license == permissive, lang == en, date in range). `allowed` is
    * any DataFrame whose `allowedIdCol` holds the passing corpus ids —
    * typically a filter over an attribute table, kept DECLARATIVE so
    * Catalyst plans it as a hash semi-join inside the probed scan.
    *
    * PRE-filter semantics, not post-filter: the allow-set prunes the
    * probed candidates BEFORE the top-k, so k survivors come back
    * whenever the probed lists hold k passing vectors. Post-filtering
    * an unfiltered top-k would return k·selectivity rows and lose
    * recall exactly on selective predicates — the known failure mode of
    * naive filtered vector search. At `nProbe = nlist` this is EXACT
    * filtered search whatever the selectivity (the q241 contract); at
    * partial probe the usual IVF recall argument applies to the
    * passing sub-corpus, so size `nProbe` against selectivity·corpus,
    * not the raw corpus (rule of thumb: raise nProbe by ~1/selectivity
    * until [[ivfRecallFrame]] on a filtered truth sample clears the
    * gate).
    *
    * Scale design (100 TB): the semi-join keys are (id) only — the
    * allow-set never carries vectors — and it applies inside the
    * `list IN (probed)` partition-pruned scan, so cost is
    * ~nProbe/nlist of the corpus scan plus a hash join against the
    * allow-set, which AQE broadcasts when the predicate is selective.
    * Nothing unfiltered is ever ranked or shuffled. */
  def ivfSearchWhere(index: IvfIndex, queries: DataFrame, k: Int,
      nProbe: Int, allowed: DataFrame, allowedIdCol: String = "vec_id")
      : DataFrame = {
    // no distinct(): LEFT SEMI is set-semantied on the probe side
    // already, so deduplicating the allow-set would only add a shuffle
    val allowIds = allowed.select(col(allowedIdCol).as("nid"))
    val filtered = index.copy(assigned =
      index.assigned.join(allowIds, Seq("nid"), "left_semi"))
    ivfSearch(filtered, queries, k, nProbe)
  }

  /** Shared probe skeleton of the IVF searches: evaluate + collect the
    * (broadcast-sized) probe assignments once, derive the static probed
    * `list IN (...)` partition filter from the SAME rows, and join the
    * broadcast query rows to the surviving candidates. Returns one row
    * per (query, candidate) with both payloads. */
  private def probedPairs(index: IvfIndex, queries: DataFrame,
      nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    val probeDF = probeAssignments(index, queries, nProbe)
    val rows = probeDF.collect()
    val listAt = probeDF.schema.fieldIndex("list")
    val probed = rows.map(_.getInt(listAt)).distinct.sorted
    val q = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), probeDF.schema))
    val candidates =
      if (probed.isEmpty) index.assigned
      else index.assigned.where(col("list").isin(probed.map(Int.box): _*))
    q.join(candidates, Seq("list")).where(col("qid") =!= col("nid"))
  }

  private def topkByCos(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select("qid", "nid", "rnk")
  }

  /** IVF top-k in one shot: build (train + assign, a map-only corpus
    * pass) then search. For repeated query batches, [[buildIvf]] +
    * [[writeIvfIndex]] once and [[ivfSearch]] per batch instead. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nProbe: Int = 4, iters: Int = 5, seed: Long = 42L): DataFrame =
    ivfSearch(buildIvf(corpus, nlist, iters, seed), queries, k, nProbe)

  /** Corpus k-nearest-neighbor GRAPH — every vector's top-`k` neighbors,
    * the backbone artifact of graph-based curation (cluster dedup,
    * density scoring, DCLM-style neighborhood pruning). Both sides are
    * the corpus, so nothing is collected or broadcast except the
    * coarse codebook: each vector probes its `nProbe` nearest inverted
    * lists map-side (torrent-broadcast codebook), the candidate join is
    * keyed by LIST — a bucket shuffle carrying ~`nProbe`/`nlist` of the
    * all-pairs volume, never a cross product — and exact cosine ranks
    * within buckets (rank-pushdown top-k window per vector).
    *
    * Approximate by construction: a true neighbor living only in
    * unprobed lists is missed; recall rises with `nProbe` and the graph
    * is EXACT at `nProbe = nlist` (every pair shares a probed list —
    * the q159 contract fixture). Returns (qid, nid, rnk). */
  def knnGraph(corpus: DataFrame, k: Int, nlist: Int = 16, nProbe: Int = 4,
      iters: Int = 5, seed: Long = 42L): DataFrame = {
    require(k > 0 && nProbe >= 1 && nProbe <= nlist,
      s"need k > 0, 1 <= nProbe <= nlist (got k=$k nProbe=$nProbe nlist=$nlist)")
    val index = buildIvf(corpus, nlist, iters, seed)
    val probes = probeAssignmentsBcast(index, corpus, nProbe)
    val scored = probes.join(index.assigned, Seq("list"))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), vec_cosine(col("qv"), col("cv")).as("cos"))
      .dropDuplicates("qid", "nid")
    topkByCos(scored, k)
  }

  /** Threshold similarity edges over the corpus — every pair with
    * cosine ≥ `threshold`, emitted once (`a < b`), through the same
    * list-keyed probing as [[knnGraph]]: the candidate join carries
    * ~`nProbe`/`nlist` of the all-pairs volume and only pairs sharing a
    * probed list are tested. Exact at `nProbe = nlist` (q162's
    * contract fixture); at partial probing, a pair whose members never
    * co-probe is missed — for near-duplicate thresholds (≥ ~0.7) true
    * pairs are clustered and co-probe with high probability, the same
    * recall argument as [[cosineNearDups]]' LSH banding. */
  def cosineEdges(corpus: DataFrame, threshold: Double, nlist: Int = 16,
      nProbe: Int = 4, iters: Int = 5, seed: Long = 42L): DataFrame = {
    require(nProbe >= 1 && nProbe <= nlist,
      s"need 1 <= nProbe <= nlist (got $nProbe, $nlist)")
    val index = buildIvf(corpus, nlist, iters, seed)
    val probes = probeAssignmentsBcast(index, corpus, nProbe)
    probes.join(index.assigned, Seq("list"))
      .where(col("qid") < col("nid"))
      .select(col("qid").as("a"), col("nid").as("b"),
        vec_cosine(col("qv"), col("cv")).as("cos"))
      .where(col("cos") >= threshold)
      .dropDuplicates("a", "b")
  }

  /** Graph near-duplicate clustering: connected components over
    * [[cosineEdges]], every corpus id mapped to its component (its own
    * id for isolated vectors) — the DCLM-style alternative to
    * centroid-bucketed [[semanticDedup]] when duplicate chains matter
    * (A≈B≈C with A̸≈C must land in ONE cluster; SemDeDup can split it
    * across centroid cells). Compose with [[Dedup.clusterKeepBest]] to
    * elect survivors by quality. Components come from the large-star /
    * small-star iteration — O(log² n) rounds of min-aggregates, no
    * driver state. */
  def cosineClusters(corpus: DataFrame, threshold: Double, nlist: Int = 16,
      nProbe: Int = 4, iters: Int = 5, seed: Long = 42L): DataFrame =
    graft.operators.Dedup.dedupClusters(
      corpus.select(col("vec_id")), "vec_id",
      cosineEdges(corpus, threshold, nlist, nProbe, iters, seed), "a", "b")

  // ---- quantized IVF (IVF-SQ8) -------------------------------------------

  /** [[buildIvf]] with int8-quantized inverted lists (IVF-SQ8): the
    * assigned table stores `(nid, q tinyint[], qscale, list)` instead of
    * float vectors — 4x fewer bytes per row, which at billion-vector
    * scale is the whole list-scan cost ([[ivfSearch]] reads nProbe/nlist
    * of the corpus; on the quantized index the same probe reads a
    * quarter of THOSE bytes). [[writeIvfIndex]] / [[readIvfIndex]]
    * persist it unchanged (they are schema-agnostic), keeping the
    * `list=` partition pruning of the float index.
    *
    * Candidate ranking uses [[cosineVsQuantized]] — cosine is
    * scale-invariant, so the stored `qscale` is not needed to score
    * (it is kept for consumers that must DEQUANTIZE: dot-product or L2
    * ranking, reconstruction, re-quantization audits). */
  def buildIvfQ(corpus: DataFrame, nlist: Int = 16, iters: Int = 5,
      seed: Long = 42L): IvfIndex = {
    val base = buildIvf(corpus, nlist, iters, seed)
    // scale stored as float32: 7 significant digits on a magnitude-only
    // factor keeps dequantization error ~1e-7 relative — a double would
    // double the per-row scale bytes in every list for nothing
    IvfIndex(base.centroids,
      quantizeI8(base.assigned, "cv")
        .select(col("nid"), col("q"), col("qscale").cast("float").as("qscale"),
          col("list")))
  }

  /** Search a quantized ([[buildIvfQ]]) index. With `rerank = 0` the
    * quantized cosine order IS the result. With `rerank = r > 0`, the
    * top `max(r, k)` candidates per query by quantized score are
    * re-scored with exact float cosine against `corpus` and the final
    * top-k comes from that — the standard two-stage shape: the cheap
    * int8 scan bounds the float work to r rows per query, and the
    * re-rank join broadcasts the (queries × r)-sized candidate side, so
    * the corpus is touched only by the probed list scan. Given the same
    * probe set, exact re-ranking can only improve recall over the
    * quantized order (it picks the true-best k of the same candidate
    * pool), so `rerank` trades a small float join for the quantization
    * noise. */
  def ivfSearchQ(index: IvfIndex, queries: DataFrame, k: Int, nProbe: Int,
      rerank: Int = 0, corpus: Option[DataFrame] = None): DataFrame = {
    val scored = probedPairs(index, queries, nProbe)
      .select(col("qid"), col("qv"), col("nid"),
        cosineVsQuantized(col("qv"), col("q")).as("cos"))
      .dropDuplicates("qid", "nid")
    if (rerank <= 0) topkByCos(scored.drop("qv"), k)
    else rerankExact(scored, k, rerank, corpus.getOrElse(
      throw new IllegalArgumentException(
        "ivfSearchQ: rerank > 0 needs a float (vec_id, embedding) frame to re-score")))
  }

  /** Two-stage finish shared by the quantized searches ([[ivfSearchQ]],
    * [[ivfSearchPq]]): keep the top max(rerank, k) candidates per query
    * by approximate score, re-score them with exact float cosine against
    * `corpus`, and take the true top-k of that pool. The broadcast of
    * the (queries x r)-sized shortlist makes the float fetch a map-side
    * join that streams `corpus` once with no shuffle; callers at extreme
    * scale can pass a pre-restricted float frame (e.g. the float index's
    * assigned table filtered to the probed lists) to bound that stream
    * too. */
  private def rerankExact(scored: DataFrame, k: Int, rerank: Int,
      corpus: DataFrame): DataFrame = {
    val r = math.max(rerank, k)
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    val shortlist = scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= r).select("qid", "qv", "nid")
    val exact = broadcast(shortlist)
      .join(corpus.select(col("vec_id").as("nid"), col("embedding").as("cv")), Seq("nid"))
      .select(col("qid"), col("nid"), vec_cosine(col("qv"), col("cv")).as("cos"))
    topkByCos(exact, k)
  }

  // ---- product-quantized IVF (IVF-PQ) ------------------------------------

  /** A trained product quantizer: m subspaces of dsub dims, ksub
    * sub-centroids each, flattened [j][c][d] → flat[(j*ksub+c)*dsub+d]. */
  final case class PqCodebook(m: Int, ksub: Int, dsub: Int, flat: Array[Float])

  /** An IVF-PQ index: coarse centroids + PQ codebook + the corpus as
    * (`nid`, `codes` binary(m), `list`) — m BYTES per vector where the
    * float index stores 4*dim and SQ8 stores dim. At the default m=8 on
    * 64-dim embeddings that is 32x less list-scan I/O than float, 8x
    * less than SQ8 — at billion-vector scale the list scan IS the search
    * cost, so compression is throughput. */
  final case class IvfPqIndex(centroids: Array[Array[Float]],
      codebook: PqCodebook, assigned: DataFrame, residual: Boolean = false)

  /** L2 Lloyd on a driver-side sample — the per-subspace PQ trainer.
    * L2, not cosine: subvector magnitudes carry into the reconstructed
    * inner product, so the codebook must approximate the subvectors
    * themselves, not their directions. Seeding is deterministic
    * farthest-point (maximin): stride seeding can land two seeds in one
    * well-separated cluster and Lloyd never splits the pair — a local
    * minimum that costs a whole sub-centroid of resolution; maximin
    * picks one seed per separated mode by construction. Empty-cluster
    * handling as [[lloydOnSample]]. */
  private def lloydL2OnSample(sample: Array[Array[Float]], k: Int,
      iters: Int): Array[Array[Float]] = {
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
      s
    }
    val seeds = new Array[Array[Float]](k)
    seeds(0) = sample(0).clone()
    val minD = sample.map(d2(_, seeds(0)))
    var s = 1
    while (s < k) {
      var far = 0; var i = 1
      while (i < sample.length) { if (minD(i) > minD(far)) far = i; i += 1 }
      seeds(s) = sample(far).clone()
      i = 0
      while (i < sample.length) {
        val d = d2(sample(i), seeds(s))
        if (d < minD(i)) minD(i) = d
        i += 1
      }
      s += 1
    }
    var cents = seeds
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](cents(0).length))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        val c = nearestIdxL2(v, cents)
        counts(c) += 1
        var d = 0
        while (d < v.length) { sums(c)(d) += v(d); d += 1 }
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(s => (s / counts(c)).toFloat)
      }
    }
    cents
  }

  private def nearestIdxL2(v: Array[Float], cents: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var dist = 0.0; var d = 0
      while (d < v.length) {
        val diff = v(d).toDouble - cents(c)(d)
        dist += diff * diff; d += 1
      }
      if (dist < bestD) { bestD = dist; best = c }
      c += 1
    }
    best
  }

  /** Unit-L2 normalization of a driver-side vector — double
    * accumulation, float32 out, zero vectors unchanged: bit-identical
    * to [[graft.functions.VecKernels.normalizeF]], so driver-computed
    * query LUTs and executor-encoded corpus codes see the same
    * normalization. */
  private def normalizeArr(v: Array[Float]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < v.length) { val x = v(i).toDouble; s += x * x; i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v.clone() else v.map(x => (x / n).toFloat)
  }

  /** Train a product quantizer on a content-keyed deterministic sample
    * (the [[trainCentroidsDeterministic]] recipe: lowest
    * xxhash64(seed, vector) rows — identical content yields an identical
    * codebook under any partitioning). Vectors are L2-normalized before
    * subspace splitting, so PQ inner products approximate COSINE of the
    * raw vectors; codes are one byte (ksub <= 256). At 100 TB the
    * sample bound holds while the corpus grows — training cost is
    * constant, like the coarse quantizer's. */
  def trainPq(corpus: DataFrame, m: Int = 8, ksub: Int = 256,
      iters: Int = 10, maxSample: Int = 20000, seed: Long = 42L,
      vecCol: String = "embedding"): PqCodebook =
    trainPqOnSample(pqSample(corpus, maxSample, seed, vecCol), m, ksub, iters)

  /** Content-keyed deterministic sample of normalized vectors. */
  private def pqSample(corpus: DataFrame, maxSample: Int, seed: Long,
      vecCol: String): Array[Array[Float]] =
    corpus.select(col(vecCol), xxhash64(lit(seed), col(vecCol)).as("__h"))
      .orderBy(col("__h")).limit(maxSample)
      .collect().map(r => normalizeArr(r.getSeq[Float](0).toArray))

  private def trainPqOnSample(sample: Array[Array[Float]], m: Int,
      ksub: Int, iters: Int): PqCodebook = {
    require(m >= 1, s"m must be >= 1 (got $m)")
    require(ksub >= 1 && ksub <= 256,
      s"ksub must be in [1, 256] — one byte per code (got $ksub)")
    require(sample.nonEmpty, "trainPq: empty corpus")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subquantizers")
    require(sample.length >= ksub,
      s"sample ${sample.length} < ksub $ksub — lower ksub or raise maxSample")
    val dsub = dim / m
    val flat = new Array[Float](m * ksub * dsub)
    for (j <- 0 until m) {
      val sub = sample.map(v =>
        java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      val cents = lloydL2OnSample(sub, ksub, iters)
      for (c <- 0 until ksub)
        System.arraycopy(cents(c), 0, flat, (j * ksub + c) * dsub, dsub)
    }
    PqCodebook(m, ksub, dsub, flat)
  }

  /** [[buildIvf]] with product-quantized inverted lists: coarse
    * train/assign exactly as the float index, then one more map-only
    * pass encodes each (normalized) vector as m bytes via the broadcast
    * codebook — the same task-binary discipline as the large-nlist
    * assignment path. [[writeIvfPqIndex]] persists it with the `list=`
    * partition pruning of the float index intact.
    *
    * `byResidual = true` (the FAISS-default refinement) encodes the
    * residual v_n − ĉ(list) against a codebook TRAINED on residuals
    * (ĉ = unit-normalized coarse centroid, same space as v_n): the
    * codebook's bits describe within-list offsets instead of
    * re-describing the centroid every list member shares, which is
    * where PQ accuracy comes from when the corpus actually clusters.
    * Search adds the per-(query, list) constant dot(q_n, ĉ) back to
    * the ADC sum — computed driver-side with the probe rows, zero
    * per-candidate cost. */
  def buildIvfPq(corpus: DataFrame, nlist: Int = 16, m: Int = 8,
      ksub: Int = 256, iters: Int = 5, pqIters: Int = 10,
      maxSample: Int = 20000, seed: Long = 42L,
      byResidual: Boolean = false): IvfPqIndex = {
    val base = buildIvf(corpus, nlist, iters, seed)
    if (!byResidual) {
      val cb = trainPq(corpus, m, ksub, pqIters, maxSample, seed)
      IvfPqIndex(base.centroids, cb,
        encodeAssigned(base.assigned, base.centroids, cb, residual = false),
        residual = false)
    } else {
      val cN = base.centroids.map(normalizeArr)
      // driver-side residual sample: cosine assignment (normalization-
      // invariant, so it matches the executor kernel's argmax on raw
      // centroids), then subtract the normalized centroid
      val resSample = pqSample(corpus, maxSample, seed, "embedding").map { vn =>
        val c = cN(nearestIdx(vn, base.centroids))
        val r = new Array[Float](vn.length)
        var d = 0
        while (d < vn.length) { r(d) = vn(d) - c(d); d += 1 }
        r
      }
      val cb = trainPqOnSample(resSample, m, ksub, pqIters)
      IvfPqIndex(base.centroids, cb,
        encodeAssigned(base.assigned, base.centroids, cb, residual = true),
        residual = true)
    }
  }

  /** The encode pass shared by [[buildIvfPq]] and the append path: an
    * already-assigned (nid, cv, list) frame → (nid, codes, list) under
    * a FIXED codebook (plain or by-residual). Pure per-row given
    * (centroids, codebook), which is what makes appends equal a
    * one-shot frozen encode. */
  private def encodeAssigned(assigned: DataFrame, cents: Array[Array[Float]],
      cb: PqCodebook, residual: Boolean): DataFrame =
    if (!residual) {
      val bc = assigned.sparkSession.sparkContext.broadcast((cb.flat, cb.m, cb.ksub))
      assigned.select(col("nid"),
        pq_encode_bcast(vec_normalize(col("cv")), bc).as("codes"), col("list"))
    } else {
      val bc = assigned.sparkSession.sparkContext
        .broadcast((cb.flat, cb.m, cb.ksub, cents.map(normalizeArr)))
      assigned.select(col("nid"),
        pq_encode_residual_bcast(vec_normalize(col("cv")), col("list"), bc)
          .as("codes"), col("list"))
    }

  /** [[appendToIvfIndex]]'s IVF-PQ twin: assign new rows with the
    * persisted index's frozen coarse centroids, encode them with its
    * frozen codebook (plain or by-residual per the sidecar), and append
    * the code rows as new part-files inside the matching `list=`
    * partition directories. The same frozen-law theorem holds — search
    * after append equals search over a one-shot encode of the union
    * with the same centroids + codebook at any probe depth (q173) —
    * and the same caveat: neither centroids nor codebook reflect
    * appended data, so drifting appends degrade ADC accuracy as well
    * as list balance; watch partial- vs full-probe recall and rebuild
    * below the pipeline's floor. */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, rows: DataFrame): Unit = {
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val idx = readIvfPqIndexAt(spark, dataDir)
    encodeAssigned(assignToCentroids(idx.centroids, rows).assigned,
        idx.centroids, idx.codebook, idx.residual)
      .write.mode("append").partitionBy("list").parquet(dataDir)
    graft.util.FsIO.assertStillCurrent(spark, path, dataDir)
  }

  /** [[assignToCentroids]]' IVF-PQ analog: re-index `corpus` under an
    * existing index's FROZEN centroids + codebook, training nothing —
    * the reference shape for proving append ≡ one-shot (q173) and the
    * tool for re-encoding a corpus against a shared published
    * codebook. */
  def encodeToIvfPq(idx: IvfPqIndex, corpus: DataFrame): IvfPqIndex =
    idx.copy(assigned = encodeAssigned(
      assignToCentroids(idx.centroids, corpus).assigned,
      idx.centroids, idx.codebook, idx.residual))

  /** Persist an IVF-PQ index: codes partitioned by inverted list (same
    * pruning layout as [[writeIvfIndex]]) + centroid and codebook
    * sidecars. */
  def writeIvfPqIndex(index: IvfPqIndex, path: String): Unit = {
    val spark = index.assigned.sparkSession
    val ver = graft.util.FsIO.nextVersionDir(spark, path)
    index.assigned.write.mode("overwrite").partitionBy("list").parquet(ver.toString)
    val centJson = index.centroids.map(_.mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    graft.util.FsIO.writeStringAtomic(spark,
      new org.apache.hadoop.fs.Path(ver, "_ivf_centroids.json"), centJson)
    val cb = index.codebook
    // "flat" stays LAST: the reader locates it as the first '[' in the
    // sidecar, so every scalar field must precede it
    val cbJson = s"""{"m":${cb.m},"ksub":${cb.ksub},"dsub":${cb.dsub},""" +
      s""""residual":${index.residual},"flat":[${cb.flat.mkString(",")}]}"""
    graft.util.FsIO.writeStringAtomic(spark,
      new org.apache.hadoop.fs.Path(ver, "_pq_codebook.json"), cbJson)
    graft.util.FsIO.publishVersion(spark, path, ver)
  }

  def readIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfPqIndex =
    readIvfPqIndexAt(spark, graft.util.FsIO.indexDataDir(spark, path))

  private def readIvfPqIndexAt(spark: org.apache.spark.sql.SparkSession,
      dataDir: String): IvfPqIndex = {
    val base = readIvfIndexAt(spark, dataDir)
    val s = graft.util.FsIO.readString(spark,
        new org.apache.hadoop.fs.Path(dataDir, "_pq_codebook.json"))
      .getOrElse(throw new java.io.IOException(
        s"IVF-PQ index at $dataDir has no readable _pq_codebook.json sidecar"))
    def intField(name: String): Int =
      ("\"" + name + "\":(\\d+)").r.findFirstMatchIn(s)
        .getOrElse(throw new java.io.IOException(
          s"_pq_codebook.json at $dataDir is missing field $name"))
        .group(1).toInt
    // "flat" is the only array field and the scalar fields precede it
    val flat = s.substring(s.indexOf('[') + 1, s.lastIndexOf(']'))
      .split(',').map(_.toFloat)
    // absent on pre-residual sidecars → false (those were non-residual)
    val residual = "\"residual\":true".r.findFirstIn(s).isDefined
    IvfPqIndex(base.centroids,
      PqCodebook(intField("m"), intField("ksub"), intField("dsub"), flat),
      base.assigned, residual)
  }

  /** [[probedPairs]] for a PQ index: identical collected-probe skeleton
    * (static `list IN` partition filter from the SAME evaluated rows),
    * but each broadcast query row additionally carries its ADC lookup
    * table, computed ONCE per query on the driver — the query side is
    * collected here anyway, and the LUT is what turns per-candidate
    * scoring from dim mults into m table adds. */
  private def probedPairsPq(index: IvfPqIndex, queries: DataFrame,
      nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    val probeDF = probeAssignments(IvfIndex(index.centroids, index.assigned),
      queries, nProbe)
    val rows = probeDF.collect()
    val listAt = probeDF.schema.fieldIndex("list")
    val qidAt = probeDF.schema.fieldIndex("qid")
    val qvAt = probeDF.schema.fieldIndex("qv")
    val probed = rows.map(_.getInt(listAt)).distinct.sorted
    val cb = index.codebook
    // residual path: ĉ = unit-normalized centroids; each probe row also
    // carries dot(q_n, ĉ(list)) — the per-(query, list) constant the ADC
    // sum of residual codes needs added back. Non-residual: constant 0.
    val cN = if (index.residual) index.centroids.map(normalizeArr) else null
    val qns = collection.mutable.Map.empty[Any, Array[Float]]
    val luts = collection.mutable.Map.empty[Any, Seq[Float]]
    val enriched = rows.map { r =>
      val qn = qns.getOrElseUpdate(r.get(qidAt),
        normalizeArr(r.getSeq[Float](qvAt).toArray))
      val lut = luts.getOrElseUpdate(r.get(qidAt),
        graft.functions.VecKernels.pqLut(qn, cb.flat, cb.m, cb.ksub).toSeq)
      val lc =
        if (cN == null) 0.0
        else {
          val c = cN(r.getInt(listAt))
          var s = 0.0; var d = 0
          while (d < qn.length) { s += qn(d).toDouble * c(d); d += 1 }
          s
        }
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ lut :+ lc)
    }
    val schema = probeDF.schema.add("lut",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = false))
      .add("lc", org.apache.spark.sql.types.DoubleType)
    val q = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(enriched: _*), schema))
    val candidates =
      if (probed.isEmpty) index.assigned
      else index.assigned.where(col("list").isin(probed.map(Int.box): _*))
    q.join(candidates, Seq("list")).where(col("qid") =!= col("nid"))
  }

  /** Search a [[buildIvfPq]] index. Candidates rank by the codegen'd ADC
    * score (approximate cosine: unit query against the PQ reconstruction
    * of the unit corpus vector); `rerank = r > 0` re-scores the top
    * max(r, k) per query with exact float cosine via [[rerankExact]] —
    * the standard two-stage shape, bounding float work to r rows per
    * query while the list scan reads only m bytes per candidate. */
  def ivfSearchPq(index: IvfPqIndex, queries: DataFrame, k: Int, nProbe: Int,
      rerank: Int = 0, corpus: Option[DataFrame] = None): DataFrame = {
    val scored = probedPairsPq(index, queries, nProbe)
      .select(col("qid"), col("qv"), col("nid"),
        (col("lc") + pq_adc(col("lut"), col("codes"),
          lit(index.codebook.ksub))).as("cos"))
      .dropDuplicates("qid", "nid")
    if (rerank <= 0) topkByCos(scored.drop("qv"), k)
    else rerankExact(scored, k, rerank, corpus.getOrElse(
      throw new IllegalArgumentException(
        "ivfSearchPq: rerank > 0 needs a float (vec_id, embedding) frame to re-score")))
  }

  // ---- k-means clustering over the full corpus ---------------------------

  private def centroidsLit(cents: Array[Array[Float]]): Column =
    typedLit(cents.map(_.toSeq).toSeq)

  /** Map-only cluster assignment: the (small) centroid array rides into a
    * codegen'd argmax-by-cosine kernel as a folded literal — no k× row
    * blow-up, no shuffle, no driver involvement per row. Ties go to the
    * lowest centroid index (kernel keeps the first strict max). */
  def kmeansAssign(corpus: DataFrame, cents: Array[Array[Float]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol), col(vecCol),
      vec_nearest_centroid(col(vecCol), centroidsLit(cents)).as("cluster"))

  /** Map-only cluster assignment for LARGE k: the centroids arrive as a
    * DataFrame of (cluster ∈ [0,k) contiguous, cv array<float>), are
    * materialized once on the driver, and ship to executors through a
    * TORRENT BROADCAST referenced by a dedicated expression — never
    * inside task binaries or the plan. A folded literal re-ships k·dim
    * floats inside EVERY task's serialized plan (the SemDeDup recipe
    * k ~ n/1000 puts that at ~256 MB per task for a billion-vector
    * corpus); the broadcast ships once per executor, and the per-centroid
    * norms are computed once on the DRIVER and ride inside the broadcast
    * value — nothing codebook-sized is ever recomputed per task. Same
    * exact
    * argmax-by-cosine arithmetic as [[kmeansAssign]] → bit-identical
    * results. Practical k moves from ~10⁴ to broadcast/driver-memory
    * bounded ~10⁶·dim; per-row cost is still the exact k·dim scan —
    * beyond either bound, [[kmeansAssignTwoLevel]] shards the codebook
    * by a coarse quantizer instead of holding it anywhere whole. */
  def kmeansAssignBcast(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      clusterCol: String = "cluster", cvCol: String = "cv"): DataFrame = {
    val rows = centroids.select(col(clusterCol).cast("int"), col(cvCol)).collect()
    val k = rows.length
    require(k > 0, "centroids DataFrame is empty")
    val cents = new Array[Array[Float]](k)
    rows.foreach { r =>
      val cid = r.getInt(0)
      require(cid >= 0 && cid < k,
        s"cluster ids must be exactly 0..${k - 1} (got $cid over $k rows)")
      require(cents(cid) == null, s"duplicate cluster id $cid")
      cents(cid) = r.getSeq[Float](1).toArray
    }
    // norms computed once HERE on the driver and shipped inside the
    // broadcast value — a lazy val on the expression would rerun them per
    // task (expressions are deserialized per task, not per executor)
    val bc = corpus.sparkSession.sparkContext.broadcast((cents, centroidNorms(cents)))
    corpus.select(col(idCol), col(vecCol),
      vec_nearest_centroid_bcast(col(vecCol), bc).as("cluster"))
  }

  /** Two-level coarse/fine assignment for k beyond even broadcast reach
    * (or to cut the flat k·dim per-row scan): the centroid SET is itself
    * quantized into `coarseK` cells ([[trainCentroidsDeterministic]] over
    * the centroid DataFrame — driver state is coarseK·dim floats, never
    * k, and the cell boundaries depend only on centroid CONTENT, not on
    * how the centroid DataFrame happens to be partitioned); each corpus
    * row scores the small coarse codebook map-only, probes its `nProbe`
    * best cells, and runs the exact argmax only inside the probed cells'
    * fine-centroid shards — a cell-keyed shuffle join, so the fine
    * centroids are PARTITIONED across the cluster instead of broadcast
    * or folded anywhere. Per-row cost drops from k·dim to
    * (coarseK + nProbe·k/coarseK)·dim.
    *
    * Shuffle shape: the corpus vector travels nProbe× into the cell join
    * (inherent to probing), but the post-join argmax moves only
    * (id, cos, cluster) — vectors never ride through the aggregation.
    * With `keepVec` (the default, matching [[kmeansAssign]]'s output
    * shape) the vector is re-attached by an id-keyed join, one more 1×
    * vector shuffle; pass keepVec = false when the caller only needs
    * (id, cluster) and no vector leaves the cell join at all.
    *
    * No row is ever dropped: rows probe the nProbe best NON-EMPTY cells
    * (the occupied-cell list is collected to the driver — at most coarseK
    * ints), so every probed shard exists and the id-keyed plan retains
    * every corpus row.
    *
    * APPROXIMATE: exact iff the true nearest fine centroid lies in a
    * probed cell (guaranteed when nProbe covers every occupied cell,
    * which a spec pins against [[kmeansAssignBcast]]); recall rises with
    * nProbe exactly like IVF search. `coarseK` is clamped to the fine
    * centroid count (a tiny k degenerates to one-cell = flat assignment)
    * and to 4096 (driver/task codebook bound). Tie-breaks match the flat
    * kernel: highest cosine, then lowest cluster id. */
  def kmeansAssignTwoLevel(corpus: DataFrame, centroids: DataFrame,
      coarseK: Int = 64, nProbe: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      clusterCol: String = "cluster", cvCol: String = "cv",
      seed: Long = 42L, keepVec: Boolean = true): DataFrame = {
    val kFine = centroids.count()
    require(kFine > 0, "centroids DataFrame is empty")
    val coarseKeff = math.min(math.min(coarseK.toLong, 4096L), kFine).toInt
    val coarse = trainCentroidsDeterministic(centroids, coarseKeff,
      vecCol = cvCol, seed = seed)
    val fine = centroids.select(col(clusterCol).cast("int").as("__fc"),
      col(cvCol).as("__fv"))
    // shard the fine centroids by coarse cell, packed in cluster-id order
    // so the in-cell argmax tie-breaks to the lowest id
    val cellOf = kmeansAssign(fine, coarse, "__fc", "__fv")
      .withColumnRenamed("cluster", "__cell")
    val packed = cellOf
      .groupBy("__cell")
      .agg(array_sort(collect_list(struct(col("__fc"), col("__fv")))).as("__p"))
      .select(col("__cell"),
        transform(col("__p"), s => s.getField("__fv")).as("__cents"),
        transform(col("__p"), s => s.getField("__fc")).as("__ids"))
    // occupied cells only: probing an empty cell would silently drop the
    // row at the inner cell join — restricting the probe universe to
    // cells that actually hold fine centroids makes row loss impossible
    // (one extra pass over the CENTROID table, never the corpus)
    val usedCells = cellOf.select("__cell").distinct()
      .collect().map(_.getInt(0)).sorted
    val probeN = math.min(nProbe, usedCells.length)
    val probes = corpus
      .withColumn("__scored", array(usedCells.map { i =>
        struct(vec_cosine(col(vecCol), typedLit(coarse(i).toSeq)).as("s"),
          lit(i).as("cell"))
      }.toSeq: _*))
      .withColumn("__probe",
        explode(slice(reverse(array_sort(col("__scored"))), 1, probeN)))
      .select(col(idCol), col(vecCol), col("__probe.cell").as("__cell"))
    val local = probes.join(packed, Seq("__cell"))
      .withColumn("__li", vec_nearest_centroid(col(vecCol), col("__cents")))
      .select(col(idCol),
        vec_cosine(col(vecCol), element_at(col("__cents"), col("__li") + 1))
          .as("__cos"),
        element_at(col("__ids"), col("__li") + 1).as("__cl"))
    val assign = local.groupBy(idCol)
      .agg(max(struct(col("__cos"), (-col("__cl")).as("n"))).as("__best"))
      .select(col(idCol), (-col("__best.n")).cast("int").as("cluster"))
    if (keepVec)
      corpus.select(col(idCol), col(vecCol)).join(assign, Seq(idCol))
    else assign
  }

  /** One distributed Lloyd refinement over the FULL corpus (unlike
    * [[trainCentroids]]'s bounded-sample training): assign map-only, then
    * per-(cluster, dimension) mean via posexplode + hash aggregate — the
    * shuffle moves k·dim partial sums per partition, never vectors, and
    * the driver materializes exactly k·dim doubles. */
  def kmeansLloydStep(corpus: DataFrame, cents: Array[Array[Float]],
      vecCol: String = "embedding"): Array[Array[Float]] = {
    val dims = cents(0).length
    val rows = corpus
      .select(vec_nearest_centroid(col(vecCol), centroidsLit(cents)).as("cluster"),
        posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy("cluster", "dim").agg(avg(col("x")).as("m"))
      .collect()
    val out = cents.map(_.clone())
    rows.foreach { r =>
      val c = r.getInt(0); val d = r.getInt(1)
      if (c < out.length && d < dims) out(c)(d) = r.getDouble(2).toFloat
    }
    out
  }

  /** Full-corpus k-means: centroids seeded from the k lowest-id vectors
    * (no RNG — the SEED is reproducible across runs and engines), refined
    * with `iters` distributed Lloyd steps. Driver state is k·dim floats
    * regardless of corpus size.
    *
    * Determinism caveat: seeding and per-centroid ASSIGNMENT are exact,
    * but each Lloyd step's `avg()` is a floating-point sum whose rounding
    * depends on aggregation order — refined centroids can differ in the
    * last ulp across partitionings, and an assignment sitting exactly on
    * a tie boundary could flip with them. Fixed input partitioning →
    * bit-identical output; across repartitionings the result is stable
    * up to that floating-point tolerance, not guaranteed bit-equal. */
  def kmeans(corpus: DataFrame, k: Int, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // cached: seeding + every Lloyd step re-reads (id, vec); without the
    // persist each of the iters+1 passes replays corpus's full upstream
    // lineage. Unpersisted (non-blocking) before returning — the final
    // lazy assignment recomputes the projection once, the repeated
    // driver-materialized passes above all hit the cache.
    val work = corpus.select(col(idCol), col(vecCol)).cache()
    try {
      var cents = work.orderBy(col(idCol)).limit(k)
        .select(col(vecCol)).collect()
        .map(_.getSeq[Float](0).toArray)
      require(cents.length == k, s"corpus has ${cents.length} rows < k=$k")
      for (_ <- 0 until iters) cents = kmeansLloydStep(work, cents, vecCol)
      kmeansAssign(corpus, cents, idCol, vecCol)
    } finally work.unpersist(false)
  }

  /** Embedding near-duplicate pairs at scale: corpus rows are bucketed by
    * `bands` independent hyperplane signatures (different seeds), pairs
    * are generated INSIDE buckets off one collect_list pass, deduped
    * across bands, and refined with exact cosine >= threshold — the
    * all-pairs O(n²) scan becomes O(Σ bucket²), one shuffle on the bucket
    * key. Precision is exact (every emitted pair is cosine-checked);
    * recall comes from banding: a pair at angle θ survives one band with
    * (1-θ/π)^nPlanes, and misses all bands with (1-p)^bands — for the
    * near-dup regime (cos >= 0.95) that's < 1e-2 at the defaults and
    * falls geometrically with `bands`. `maxBucket` bounds degenerate
    * buckets exactly like MinHash-LSH dedup. */
  def cosineNearDups(corpus: DataFrame, threshold: Double,
      nPlanes: Int = 8, bands: Int = 8, seed: Long = 42L, maxBucket: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("v"))
    val banded = c.select(col("nid"),
      posexplode(array((0 until bands).map { b =>
        vec_lsh_sig(col("v"), lit(nPlanes), lit(seed + b.toLong * 7919L))
      }: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val pairs = Dedup.explodeBucketPairs(
      banded.groupBy("band", "bucket")
        .agg(sort_array(collect_list(col("nid"))).as("ds")),
      maxBucket)
      .distinct()
    // no broadcast hint on the candidate side: its size is bounded only
    // by bands·maxBucket² on degenerate (duplicate-heavy) corpora, so a
    // forced broadcast is a driver-OOM cliff — AQE sees the actual size
    // at runtime and picks the broadcast itself when candidates are small
    c.withColumnRenamed("nid", "ida").withColumnRenamed("v", "va")
      .join(pairs, "ida")
      .join(c.withColumnRenamed("nid", "idb").withColumnRenamed("v", "vb"), "idb")
      .withColumn("cos", vec_cosine(col("va"), col("vb")))
      .where(col("cos") >= threshold)
      .select("ida", "idb", "cos")
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic deduplication by
    * clustering the embedding space and removing, within each cluster,
    * every vector whose cosine similarity to a LOWER-ID cluster-mate
    * reaches `threshold` (keep-lowest-id, transitively safe because the
    * lowest id of any duplicate group survives every pair test).
    *
    * Scale design (100 TB): assignment is the map-only
    * [[kmeansAssign]] (centroids ride as a folded literal); the duplicate
    * scan is a self-join keyed by CLUSTER, so the pairwise cost is m² per
    * cluster, never n² — pick k so the expected cluster size fits the
    * budget (SemDeDup's own recipe: k ~ n/1000..n/10000), and AQE's
    * skew-join split bounds a hot cluster's task. The anti-join back is
    * id-keyed. Returns the KEPT rows of `corpus` with their assignments.
    */
  def semanticDedup(corpus: DataFrame, cents: Array[Array[Float]],
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    semanticDedupAssigned(kmeansAssign(corpus, cents, idCol, vecCol),
      threshold, idCol, vecCol)

  /** [[semanticDedup]] for LARGE k: assignment joins the broadcast
    * centroid DataFrame ([[kmeansAssignBcast]]) instead of folding the
    * centroids into the plan — same exact kernel, so results are
    * bit-identical to the literal path on the same centroids, but k is
    * bounded by broadcast memory (~10⁶·dim) rather than per-task plan
    * size. The SemDeDup recipe k ~ n/1000 on a billion-vector corpus
    * needs exactly this. */
  def semanticDedupBcast(corpus: DataFrame, centroids: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    semanticDedupAssigned(kmeansAssignBcast(corpus, centroids, idCol, vecCol),
      threshold, idCol, vecCol)

  /** Per-cluster coreset selection — the diversity/prototypicality
    * sampling step that follows SemDeDup in embedding-curation stacks
    * (SemDeDup prunes duplicates; this prunes to a REPRESENTATIVE or
    * DIVERSE subset): assign every vector to its nearest centroid, rank
    * within each cluster by cosine to that centroid (6dp-rounded, id
    * tie-break — a total order), and keep the top `perCluster` rows.
    * `mode = "prototypes"` keeps the most central exemplars (highest
    * cosine — the "typical" sample); `mode = "diverse"` keeps the
    * cluster fringe (lowest cosine — boundary/outlier mining). Output:
    * (`idCol`, `cluster`, `cos`, `rk`); join back by id for payloads.
    *
    * Scale design (100 TB): assignment is the map-only
    * [[kmeansAssign]] scan; the rank window shuffles ONLY
    * (id, cluster, cos) rows — vectors never ride the exchange — and
    * each reducer holds one cluster's scalars. Selection size is
    * k·perCluster by construction. For k beyond plan-literal size, use
    * [[kmeansAssignBcast]] and rank its output with the same window. */
  def clusterCoreset(corpus: DataFrame, cents: Array[Array[Float]],
      perCluster: Int, mode: String = "prototypes",
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(perCluster > 0, "perCluster must be positive")
    require(mode == "prototypes" || mode == "diverse",
      s"mode must be 'prototypes' or 'diverse' (got '$mode')")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cdf = broadcast(
      cents.toIndexedSeq.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
        .toDF("cluster", "__cv"))
    val assigned = kmeansAssign(corpus, cents, idCol, vecCol)
      .join(cdf, Seq("cluster"))
      .select(col(idCol), col("cluster"),
        round(vec_cosine(col(vecCol), col("__cv")), 6).as("cos"))
    val order =
      if (mode == "prototypes") Seq(col("cos").desc, col(idCol).asc)
      else Seq(col("cos").asc, col(idCol).asc)
    val w = Window.partitionBy("cluster").orderBy(order: _*)
    assigned.withColumn("rk", row_number().over(w))
      .where(col("rk") <= perCluster)
  }

  /** Incremental SemDeDup for `foreachBatch` pipelines: emit the
    * batch's rows that no PRECEDING row in the same cluster duplicates
    * at `threshold` — preceding = any row in `seen` (previous batches),
    * or a lower-id row of this batch. The SemDeDup drop rule tests
    * preceding siblings REGARDLESS of whether those were themselves
    * dropped, which makes it prefix-decomposable: with batches arriving
    * in id order, the union of the emissions is EXACTLY
    * [[semanticDedup]] of the concatenated corpus. Out-of-id-order
    * arrival degrades gracefully to arrival-precedence dedup (still a
    * valid dedup policy, keyed by arrival instead of id); a replayed
    * batch (foreachBatch retry) emits nothing, because its own rows are
    * already in `seen` at self-cosine 1.
    *
    * `seen` holds the (cluster, id, vec) rows of processed batches —
    * [[semanticKeyset]], appended by the caller AFTER emitting
    * ([[graft.streaming.CompactingKeyState]] is the intended store; its
    * `prune` retention hook bounds state when the duplication horizon
    * is bounded). State carries the VECTORS — exact incremental
    * SemDeDup needs them; at scale pair the stored side with
    * [[quantizeI8]] to cut it 4x. Scale shape per batch: one map-only
    * assignment + one cluster-keyed join of batch x (seen ∩ clusters
    * present in the batch) — the per-batch cost tracks batch size times
    * in-cluster density, never the full corpus. */
  def semanticDedupIncremental(batch: DataFrame, cents: Array[Array[Float]],
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding", seen: Option[DataFrame] = None): DataFrame = {
    val assigned = kmeansAssign(batch, cents, idCol, vecCol)
    val inBatch = assigned.select(col("cluster").as("__cl"),
      col(idCol).as("__pid"), col(vecCol).as("__pv"), lit(false).as("__prior"))
    val preceding = seen.map(_.select(col("cluster").as("__cl"),
        col(idCol).as("__pid"), col(vecCol).as("__pv"), lit(true).as("__prior")))
      .fold(inBatch)(inBatch.unionByName(_))
    val dropped = assigned
      .join(preceding, col("cluster") === col("__cl"))
      .where((col("__prior") || col("__pid") < col(idCol)) &&
        vec_cosine(col("__pv"), col(vecCol)) >= threshold)
      .select(col(idCol).as("__dropid")).distinct()
    assigned.join(dropped, assigned(idCol) === dropped("__dropid"), "left_anti")
  }

  /** The (cluster, id, vec) slice of a batch for
    * [[semanticDedupIncremental]]'s state store. */
  def semanticKeyset(batch: DataFrame, cents: Array[Array[Float]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    kmeansAssign(batch, cents, idCol, vecCol)
      .select(col("cluster"), col(idCol), col(vecCol))

  /** The SemDeDup duplicate scan over any (id, vec, cluster) assignment:
    * cluster-keyed self-join (m² per cluster, AQE skew split), id-keyed
    * anti-join back. */
  private def semanticDedupAssigned(assigned: DataFrame, threshold: Double,
      idCol: String, vecCol: String): DataFrame = {
    val slim = assigned.select(col("cluster").as("__cl"), col(idCol).as("__id"),
      col(vecCol).as("__v"))
    val dropped = slim.as("a")
      .join(slim.select(col("__cl"), col("__id").as("__idb"), col("__v").as("__vb")).as("b"),
        Seq("__cl"))
      .where(col("__id") < col("__idb") &&
        vec_cosine(col("__v"), col("__vb")) >= threshold)
      .select(col("__idb").as("__dropid")).distinct()
    assigned.join(dropped, assigned(idCol) === dropped("__dropid"), "left_anti")
  }

  /** Recall of an approximate result against the exact one: fraction of
    * (qid, nid) pairs recovered. Both inputs shaped (qid, nid, rnk). */
  def recall(approx: DataFrame, exact: DataFrame): Double = {
    val hit = approx.join(exact, Seq("qid", "nid")).count().toDouble
    val total = exact.count().toDouble
    if (total == 0) 1.0 else hit / total
  }

  /** Symmetric int8 quantization of an embedding column — the 4× memory /
    * bandwidth lever for 100 TB vector corpora (a 64-dim float corpus
    * shrinks from 256 B to 64 B per row before any index is built; cosine
    * ranking is scale-invariant, so top-k over dequantized vectors is
    * unchanged up to quantization noise).
    *
    * Per row: `scale = maxabs / 127` and `q[i] = round_half_away(
    * v[i] * 127 / maxabs)` as tinyint (an all-zero vector quantizes to
    * zeros with scale 0). Everything is built-in higher-order functions
    * over a materialized maxabs column — one codegen'd map pass, no
    * shuffle, no UDF. Rounding is `sign · floor(|x| + 0.5)` (half away
    * from zero) so results are reproducible across engines that disagree
    * on banker's rounding. |q[i]| never exceeds 127 by construction. */
  def quantizeI8(df: DataFrame, vecCol: String, outCol: String = "q",
      scaleCol: String = "qscale"): DataFrame = {
    val maxabs = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    df.withColumn("__mx", maxabs)
      .withColumn(outCol,
        when(col("__mx") > 0, transform(col(vecCol), { x =>
          val v = x.cast("double") * lit(127.0) / col("__mx")
          (signum(v) * floor(abs(v) + lit(0.5))).cast("tinyint")
        })).otherwise(transform(col(vecCol), _ => lit(0).cast("tinyint"))))
      .withColumn(scaleCol, col("__mx") / lit(127.0))
      .drop("__mx")
  }

  /** Cosine similarity between a float/double array column and an integer
    * (quantized) array column, computed on the integer codes directly —
    * cosine is scale-invariant, so dequantization cancels and never needs
    * to materialize. Pure higher-order functions, stays in codegen. */
  def cosineVsQuantized(vec: Column, q: Column): Column = {
    val dot = aggregate(zip_with(vec, q, (a, b) => a.cast("double") * b.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val n1 = sqrt(aggregate(transform(vec, a => a.cast("double") * a.cast("double")),
      lit(0.0), (acc, x) => acc + x))
    val n2 = sqrt(aggregate(transform(q, b => b.cast("double") * b.cast("double")),
      lit(0.0), (acc, x) => acc + x))
    dot / (n1 * n2)
  }
}
