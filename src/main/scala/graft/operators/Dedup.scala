package graft.operators

import graft.functions.GeoFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines.
  *
  * Scale design (100 TB / 1000 executors):
  *  - Exact dedup is a single hash-aggregate: one shuffle keyed by the
  *    content hash, map-side partial aggregation, no data skew beyond the
  *    duplicate distribution itself.
  *  - MinHash-LSH emits `bands` rows per document (band id + bucket key),
  *    shuffles once on the bucket key, and self-joins only WITHIN buckets
  *    — candidate generation is linear in Σ bucket² instead of n². Bucket
  *    keys are 64-bit hashes of 4-row signature slices; huge buckets
  *    (degenerate content) are dropped by the `maxBucket` cap in
  *    [[minhashCandidates]], bounding the worst case at
  *    O(bands · maxBucket²) pairs.
  *  - SimHash near-dup uses band-rotation on the 64-bit hash (4×16-bit
  *    bands): pairs within Hamming distance <= 3 share at least one band,
  *    so the same bucket-join pattern applies.
  */
object Dedup {

  /** Exact dedup: one row per distinct content hash with the lowest id as
    * the canonical survivor and the duplicate count. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** Exact dedup that KEEPS the surviving rows — all columns of the
    * lowest-id row per distinct content, which is what a corpus-curation
    * pipeline actually writes back out. One shuffle on the content hash
    * (window partition), rank filter inside the codegen'd window stage. */
  def exactKeepFirst(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol).cast("binary")))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact dedup electing the BEST copy instead of the first: per
    * distinct content, keep the row with the highest `scoreCol`
    * (quality-LR probability, DSIR weight, a recency stamp — whatever
    * the pipeline ranks by), ties by ascending id. Real curation keeps
    * the best-provenance duplicate, not the numerically-smallest one;
    * [[exactKeepFirst]] is the scoreless special case. Same single
    * content-hash window shuffle. NULL scores sort LAST (a row without
    * a score must never beat a scored one). */
  def exactKeepBest(df: DataFrame, idCol: String, textCol: String,
      scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol).cast("binary")))
      .orderBy(col(scoreCol).desc_nulls_last, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Cluster-survivor election by SCORE: given [[dedupClusters]]-style
    * pairs, pick each connected component's highest-`scoreCol` member
    * (ties by ascending id) as its canonical survivor. Returns one row
    * per input doc: (id, component, keep_id, keep) — `keep` marks the
    * elected member, so both the survivor set and the redirect map fall
    * out of one frame. The election shuffles only (component, id,
    * score) scalars; text never rides it. */
  def clusterKeepBest(df: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val assign = dedupClusters(df, idCol, pairs, aCol, bCol)
    val scored = df.select(col(idCol).as("id"), col(scoreCol).as("__s"))
      .join(assign, Seq("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component")
      .orderBy(col("__s").desc_nulls_last, col("id").asc)
    scored
      .withColumn("keep_id", first(col("id")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .select(col("id"), col("component"), col("keep_id"),
        (col("id") === col("keep_id")).as("keep"))
  }

  /** Rows of (band, bucket) per document — the LSH scatter phase.
    * numHashes must be divisible by bands; each bucket key hashes
    * `numHashes / bands` signature entries. */
  def minhashBuckets(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    df.select(col(idCol).as("doc"), minhash_sig(col(textCol), lit(numHashes)).as("sig"))
      .select(col("doc"), posexplode(sliceBands(col("sig"), bands, rows)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  private def sliceBands(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      // 64-bit bucket key per band: xxhash over the band's signature slice
      xxhash64(slice(sig, b * rows + 1, rows))
    }: _*)

  /** Candidate near-duplicate pairs from LSH bucket collisions. One
    * shuffle on (band, bucket); joins happen only within buckets.
    *
    * `maxBucket` caps the self-join blow-up on degenerate corpora
    * (boilerplate, near-empty docs): a (band, bucket) group larger than
    * the cap is dropped from candidate generation for that band. Recall
    * is preserved in practice because a true near-dup pair collides in
    * MANY bands, and a bucket that huge means the pair is also discovered
    * by exact dedup upstream. The cap bounds the worst case at
    * O(bands · maxBucket²) pairs instead of O(n²).
    *
    * `minBandHits` demands that many band collisions before a pair
    * survives: with fine banding (rows per band → 1), background pairs
    * sharing a single shingle collide SOMEWHERE with high probability,
    * but only in ~J·bands bands, while a true near-dup collides in many —
    * a Binomial(bands, ~J) separation. The filter rides the partial
    * aggregation (map-side combine on the pair key), so the low-J noise
    * never reaches the expensive refine join. 1 = classic LSH behavior. */
  /** Shared LSH pair-generation kernel: a grouped frame carrying a sorted
    * id array `ds` per bucket → exploded (ida < idb) pairs, buckets over
    * `maxBucket` dropped. Pairs are generated INSIDE each group off one
    * collect_list — the upstream hashing runs once over the corpus (a
    * self-join would evaluate it per side) and the bucket cap is a plain
    * size() filter. Used by MinHash-LSH dedup and embedding near-dup. */
  private[operators] def explodeBucketPairs(grouped: DataFrame,
      maxBucket: Int): DataFrame =
    grouped
      .where(size(col("ds")) >= 2 && size(col("ds")) <= maxBucket)
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
             transform(slice(ds, i + 2, size(ds)), y -> struct(x AS ida, y AS idb))))"""))
        .as("p"))
      .select(col("p.ida").as("ida"), col("p.idb").as("idb"))

  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16,
      maxBucket: Int = 10000, minBandHits: Int = 1): DataFrame =
    explodeBucketPairs(
      minhashBuckets(df, idCol, textCol, numHashes, bands)
        .groupBy("band", "bucket").agg(sort_array(collect_list(col("doc"))).as("ds")),
      maxBucket)
      .groupBy("ida", "idb").agg(count(lit(1)).as("__hits"))
      .where(col("__hits") >= minBandHits)
      .select("ida", "idb")

  /** (band, bucket, size) for buckets over the cap — the observability
    * companion to [[minhashCandidates]]'s drop: run it to log what a cap
    * setting would discard before committing to it. */
  def oversizedBuckets(df: DataFrame, idCol: String, textCol: String,
      maxBucket: Int, numHashes: Int = 64, bands: Int = 16): DataFrame =
    minhashBuckets(df, idCol, textCol, numHashes, bands)
      .groupBy("band", "bucket").agg(count(lit(1)).as("size"))
      .where(col("size") > maxBucket)

  /** Distinct word-n-gram strings; n=3 is the string twin of the hashed
    * shingle universe MinHash signatures are computed over, so an exact
    * Jaccard on these matches what the signature estimates. Documents
    * shorter than n tokens collapse to one whole-text gram, mirroring
    * TextKernels.shingleHashes. `toks` MUST be a materialized attribute
    * (not a split(...) expression): lambda bodies re-evaluate captured
    * expressions per element, so an inline split would re-tokenize the
    * text O(tokens) times per row. */
  private def ngramSet(text: Column, toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*))))
      .otherwise(array(text))

  private def shingleSet(text: Column, toks: Column): Column = ngramSet(text, toks, 3)

  /** EXACT word-n-gram Jaccard near-duplicate pairs via an inverted-index
    * join: explode distinct grams, group postings per gram, generate
    * in-posting pairs (each shared gram contributes one pair row), count
    * rows per pair = |intersection|, then close the formula with per-doc
    * set sizes. One shuffle on the gram key + one on the pair key — never
    * an all-pairs scan; cost is Σ posting², so `maxDocFreq` caps the
    * postings of boilerplate grams (the skew guard; with the cap above
    * the true max document-frequency the result is exact). The LSH route
    * ([[minhashNearDups]]) approximates this at lower cost; this is the
    * exact counterpart for thresholds/audits. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3, maxDocFreq: Int = 10000): DataFrame = {
    // postings carry BARE ids: the pair-explosion stage dominates cost
    // (|pairs| x shared-grams rows), so its rows must stay narrow —
    // measured 2x faster than carrying (doc, size) structs through the
    // pairs. Set sizes come from the same exploded-grams subtree (grams
    // are distinct per doc, so groupBy(doc).count IS the set size); the
    // corpus-side set build evaluates twice (once per shuffle key), which
    // is linear and cheap next to the pair stage.
    val grams = df
      .select(col(idCol).as("doc"), col(textCol).as("__text"),
        split(col(textCol), " ").as("__t"))
      .select(col("doc"), ngramSet(col("__text"), col("__t"), n).as("gs"))
      .select(col("doc"), explode(col("gs")).as("g"))
    val sizes = grams.groupBy("doc").agg(count(lit(1)).cast("int").as("sz"))
    val inter = explodeBucketPairs(
        grams.groupBy("g").agg(sort_array(collect_list(col("doc"))).as("ds")),
        maxDocFreq)
      .groupBy("ida", "idb").agg(count(lit(1)).cast("int").as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc", "ida").withColumnRenamed("sz", "sza"), "ida")
      .join(sizes.withColumnRenamed("doc", "idb").withColumnRenamed("sz", "szb"), "idb")
      .withColumn("uni", col("sza") + col("szb") - col("inter"))
      .where(col("inter").cast("double") / col("uni") >= threshold)
      .select(col("ida"), col("idb"), col("inter"), col("uni"),
        (col("inter").cast("double") / col("uni")).as("jaccard"))
  }

  /** MinHash-LSH banding RECALL against exact shingle-Jaccard ground
    * truth on a deterministic corpus sample — the tuning/drift guard
    * for (numHashes, bands), mirroring [[graft.operators.Ann.ivfRecallFrame]]:
    * the fraction of truly-qualifying sample pairs (exact n-gram
    * Jaccard >= threshold, via [[ngramJaccardPairs]]) that banding
    * ([[minhashCandidates]]) surfaces as candidates. Raise `bands` (or
    * lower rows-per-band) until the measured recall clears the
    * pipeline's floor, then commit those parameters to
    * [[writeLshIndex]]; re-run on fresh samples as the corpus drifts.
    *
    * The sample is every doc whose `xxhash64(id)` ≡ 0 mod
    * `sampleOneIn` — deterministic, so reruns are comparable — and
    * bounds the exact side's quadratic cost at (n/sampleOneIn)² while
    * the banded side exercises the real candidate machinery on the
    * same docs. Lazy 1-row frame `(n_true, n_found, recall)`; an empty
    * exact set yields recall 1.0 (nothing to find). */
  def lshRecallFrame(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 64, bands: Int = 16,
      n: Int = 3, sampleOneIn: Int = 1, maxBucket: Int = 10000): DataFrame = {
    require(sampleOneIn >= 1, s"sampleOneIn must be >= 1 (got $sampleOneIn)")
    val sample =
      if (sampleOneIn == 1) df
      else df.where(pmod(xxhash64(col(idCol)), lit(sampleOneIn)) === 0)
    val exact = ngramJaccardPairs(sample, idCol, textCol, threshold, n)
      .select("ida", "idb")
    val cands = minhashCandidates(sample, idCol, textCol, numHashes, bands,
      maxBucket).select("ida", "idb")
    val hit = exact.join(cands, Seq("ida", "idb"), "left_semi")
      .agg(count(lit(1)).as("n_found"))
    exact.agg(count(lit(1)).as("n_true")).crossJoin(broadcast(hit))
      .select(col("n_true"), col("n_found"),
        when(col("n_true") === 0, lit(1.0))
          .otherwise(col("n_found").cast("double") / col("n_true"))
          .as("recall"))
  }

  /** LSH candidates refined by an exact set Jaccard >= threshold —
    * token sets by default, 3-token shingle sets when `refineOnShingles`
    * (the faithful choice: MinHash signatures estimate SHINGLE Jaccard).
    * The refine join touches only candidate ids — at scale AQE broadcasts
    * the candidate set when its runtime size fits. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 64, bands: Int = 16,
      maxBucket: Int = 10000, refineOnShingles: Boolean = false,
      minBandHits: Int = 1): DataFrame = {
    val cands = minhashCandidates(df, idCol, textCol, numHashes, bands, maxBucket,
      minBandHits)
    refineJaccard(cands, df, idCol, textCol, threshold, refineOnShingles)
  }

  /** Shared exact-Jaccard refine: join candidate (ida, idb) pairs to the
    * corpus's token/shingle sets on both sides and keep pairs at or over
    * `threshold`. No forced broadcast on the candidate side: it is
    * USUALLY tiny, but a degenerate duplicate-heavy corpus can emit up
    * to bands*maxBucket² pairs and a broadcast hint would then OOM the
    * driver. AQE sees the post-shuffle size at runtime and broadcasts
    * only when it actually fits (same policy as cosineNearDups). */
  private def refineJaccard(cands: DataFrame, df: DataFrame, idCol: String,
      textCol: String, threshold: Double, refineOnShingles: Boolean): DataFrame = {
    val sets =
      if (refineOnShingles) shingleSet(col("__text"), col("__t"))
      else array_distinct(col("__t"))
    val toks = df
      .select(col(idCol).as("doc"), col(textCol).as("__text"),
        split(col(textCol), " ").as("__t"))
      .select(col("doc"), sets.as("toks"))
    toks.withColumnRenamed("doc", "ida").withColumnRenamed("toks", "ta")
      .join(cands, "ida")
      .join(toks.withColumnRenamed("doc", "idb").withColumnRenamed("toks", "tb"), "idb")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("uni", size(col("ta")) + size(col("tb")) - col("inter"))
      .where(col("inter").cast("double") / col("uni") >= threshold)
      .select(col("ida"), col("idb"), col("inter"), col("uni"),
        (col("inter").cast("double") / col("uni")).as("jaccard"))
  }

  // ---- persisted MinHash-LSH index: incremental corpus dedup ----------

  /** Persist the corpus's LSH bucket table under `path` — `buckets/`
    * (doc, bucket) parquet PARTITIONED BY band plus a `_lsh_params.json`
    * sidecar pinning (numHashes, bands), so every later append or probe
    * is guaranteed the identical signature law. This is the
    * daily-ingest contract at 100 TB: hash history ONCE, then each new
    * batch probes + appends in cost proportional to the batch (plus one
    * linear scan of the bucket table per probe) — never a recompute of
    * the historical corpus. The index stores ids and 64-bit bucket keys
    * only (~`bands`·16 B/doc); the exact-Jaccard refine reads the
    * matched docs' text from the corpus table, which a probe touches
    * only for candidate ids.
    *
    * Layout: a VERSIONED root ([[graft.util.FsIO.publishVersion]]) —
    * tables and sidecars live in `path/v<N>/`, activated by flipping
    * the `_current` pointer, so a rebuild over an existing index is
    * invisible to concurrent probes until complete (every persisted
    * index family here shares this discipline). */
  def writeLshIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, numHashes: Int = 64, bands: Int = 16): Unit = {
    val spark = df.sparkSession
    val ver = graft.util.FsIO.nextVersionDir(spark, path)
    minhashBuckets(df, idCol, textCol, numHashes, bands)
      .write.mode("overwrite").partitionBy("band").parquet(s"$ver/buckets")
    graft.util.FsIO.writeStringAtomic(spark,
      new org.apache.hadoop.fs.Path(ver, "_lsh_params.json"),
      s"""{"numHashes":$numHashes,"bands":$bands}""")
    graft.util.FsIO.publishVersion(spark, path, ver)
  }

  /** (numHashes, bands) from a resolved version/data directory. */
  private def lshParams(spark: org.apache.spark.sql.SparkSession,
      dataDir: String): (Int, Int) = {
    val json = graft.util.FsIO.readString(spark,
        new org.apache.hadoop.fs.Path(dataDir, "_lsh_params.json"))
      .getOrElse(throw new java.io.IOException(
        s"LSH index at $dataDir has no readable _lsh_params.json sidecar"))
    def field(k: String): Int =
      s""""$k":(\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toInt)
        .getOrElse(throw new java.io.IOException(
          s"LSH index sidecar at $dataDir lacks $k: $json"))
    (field("numHashes"), field("bands"))
  }

  /** Add a batch to a persisted index: bucket rows are computed with the
    * index's OWN recorded parameters and appended as new part-files in
    * the matching `band=` directories — existing data is never
    * rewritten. Signatures are a pure per-row function of (text,
    * numHashes), so an index built by appends equals one built in one
    * shot over the union (the q170 contract pins the probe-level
    * consequence). Probe ([[lshIndexCandidates]]) BEFORE appending the
    * same batch, or every batch doc pairs with itself. */
  def appendToLshIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      df: DataFrame, idCol: String, textCol: String): Unit = {
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val (numHashes, bands) = lshParams(spark, dataDir)
    minhashBuckets(df, idCol, textCol, numHashes, bands)
      .write.mode("append").partitionBy("band").parquet(s"$dataDir/buckets")
    graft.util.FsIO.assertStillCurrent(spark, path, dataDir)
  }

  // ---- persisted EXACT-hash index: incremental exact dedup ------------

  /** Persist the corpus's content-hash election table under `path` —
    * `hashes/` rows `(h, doc)` (md5 hex of the text, doc id) parquet
    * PARTITIONED BY `pt = pmod(hash(h), buckets)` with a params
    * sidecar — the exact-dedup complement of [[writeLshIndex]]: daily
    * ingest probes each new batch against ALL history in cost
    * proportional to the batch (bucket-pruned scans), never rehashing
    * the historical corpus. Index semantics per hash: the MINIMUM doc
    * id ever indexed is the canonical keeper; reads fold min over
    * delta rows, so [[appendToExactIndex]] ≡ one-shot by min's
    * associativity (q217 chains write → append → compact → probe
    * against a one-shot oracle). Schema sidecars let probes read with
    * an explicit schema — no footer of an unprobed file is opened. */
  def writeExactIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, buckets: Int = 64): Unit = {
    require(buckets > 0, s"buckets must be positive (got $buckets)")
    val spark = df.sparkSession
    val ver = graft.util.FsIO.nextVersionDir(spark, path)
    val rows = df.select(
      md5(coalesce(col(textCol).cast("string"), lit("")).cast("binary")).as("h"),
      col(idCol).as("doc"))
      .withColumn("pt", pmod(hash(col("h")), lit(buckets)))
    rows.write.mode("overwrite").partitionBy("pt").parquet(s"$ver/hashes")
    graft.util.FsIO.writeStringAtomic(spark,
      new org.apache.hadoop.fs.Path(ver, "_schema_hashes.ddl"),
      rows.schema.toDDL)
    graft.util.FsIO.writeStringAtomic(spark,
      new org.apache.hadoop.fs.Path(ver, "_exact_params.json"),
      s"""{"buckets":$buckets}""")
    graft.util.FsIO.publishVersion(spark, path, ver)
  }

  private def exactIndexBuckets(spark: org.apache.spark.sql.SparkSession,
      dataDir: String): Int = {
    val json = graft.util.FsIO.readString(spark,
        new org.apache.hadoop.fs.Path(dataDir, "_exact_params.json"))
      .getOrElse(throw new java.io.IOException(
        s"exact index at $dataDir has no readable _exact_params.json sidecar"))
    """"buckets":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toInt)
      .getOrElse(throw new java.io.IOException(
        s"exact index sidecar at $dataDir lacks buckets: $json"))
  }

  private def readExactIndex(spark: org.apache.spark.sql.SparkSession,
      dataDir: String): DataFrame = {
    val ddl = graft.util.FsIO.readString(spark,
        new org.apache.hadoop.fs.Path(dataDir, "_schema_hashes.ddl"))
      .getOrElse(throw new java.io.IOException(
        s"exact index at $dataDir has no readable _schema_hashes.ddl sidecar"))
    spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .parquet(s"$dataDir/hashes")
  }

  /** Append a batch's (hash, doc) rows as new part-files in their
    * buckets — nothing rewritten; probe-before-append, like the LSH
    * index, or batch docs elect against themselves. Retry-SAFE by
    * min-idempotency: probes fold min(doc) per hash, and re-appending
    * the identical batch adds only duplicate rows that min ignores —
    * so a foreachBatch pipeline can call this without extra
    * exactly-once bookkeeping (the q223 stream gate pins it). */
  def appendToExactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, idCol: String, textCol: String): Unit = {
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val buckets = exactIndexBuckets(spark, dataDir)
    df.select(
        md5(coalesce(col(textCol).cast("string"), lit("")).cast("binary")).as("h"),
        col(idCol).as("doc"))
      .withColumn("pt", pmod(hash(col("h")), lit(buckets)))
      .write.mode("append").partitionBy("pt").parquet(s"$dataDir/hashes")
    graft.util.FsIO.assertStillCurrent(spark, path, dataDir)
  }

  /** Probe a batch against the persisted exact index: one row per
    * batch doc whose content hash already exists in history —
    * `(id, keep_id)` with the history's minimum doc id as keeper.
    * The batch's bucket set becomes a static `pt IN (...)` partition
    * filter (tiny driver collect of ≤ buckets ints), so the scan
    * touches only buckets the batch can hit; min-folding the delta
    * rows makes appended indexes probe identically to one-shot ones. */
  def exactIndexHits(spark: org.apache.spark.sql.SparkSession, path: String,
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val buckets = exactIndexBuckets(spark, dataDir)
    val batch = df.select(col(idCol).as("id"),
      md5(coalesce(col(textCol).cast("string"), lit("")).cast("binary")).as("h"))
    val probed = batch
      .select(pmod(hash(col("h")), lit(buckets)).as("pt"))
      .distinct().collect().map(_.getInt(0)).sorted
    val idx =
      if (probed.isEmpty) readExactIndex(spark, dataDir).where(lit(false))
      else readExactIndex(spark, dataDir)
        .where(col("pt").isin(probed.map(Int.box): _*))
    batch.join(
        idx.groupBy("h").agg(min("doc").as("keep_id")), Seq("h"))
      .select(col("id"), col("keep_id"))
  }

  /** Compact the exact index: fold every hash's delta rows to its
    * min-doc row and rewrite one sorted file per bucket. Probe-
    * identical before and after (min-fold is what probes compute
    * anyway); same next-version + pointer-flip discipline as the other
    * compactors — concurrent probes keep their resolved version. */
  def compactExactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, keepVersions: Int = 1): Unit = {
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val buckets = exactIndexBuckets(spark, dataDir)
    val ver = graft.util.FsIO.nextVersionDir(spark, path)
    readExactIndex(spark, dataDir)
      .groupBy("h").agg(min("doc").as("doc"))
      .withColumn("pt", pmod(hash(col("h")), lit(buckets)))
      .repartition(buckets, col("pt")).sortWithinPartitions("pt", "h")
      .write.partitionBy("pt").parquet(s"$ver/hashes")
    for (name <- Seq("_exact_params.json", "_schema_hashes.ddl"))
      graft.util.FsIO.readString(spark,
          new org.apache.hadoop.fs.Path(dataDir, name))
        .foreach(s => graft.util.FsIO.writeStringAtomic(spark,
          new org.apache.hadoop.fs.Path(ver, name), s))
    graft.util.FsIO.publishVersion(spark, path, ver, keepVersions)
  }

  /** Corpus snapshot diff by content hash: `(id, status)` for every id
    * whose presence or content changed between `old` and `new` —
    * `added` (id only in new), `removed` (id only in old), `changed`
    * (both, different text hash); unchanged ids produce no row. The
    * changelog a periodic recrawl/reingest pipeline publishes. One
    * full-outer hash join on id; only (id, 16-byte hash) ever
    * shuffles, never text. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def hashed(df: DataFrame, hName: String) = df.select(col(idCol).as("id"),
      md5(coalesce(col(textCol).cast("string"), lit("")).cast("binary")).as(hName))
    hashed(oldDf, "__ho").join(hashed(newDf, "__hn"), Seq("id"), "full_outer")
      .withColumn("status",
        when(col("__ho").isNull, lit("added"))
          .when(col("__hn").isNull, lit("removed"))
          .when(col("__ho") =!= col("__hn"), lit("changed")))
      .where(col("status").isNotNull)
      .select(col("id").as(idCol), col("status"))
  }

  /** Compact a persisted LSH index in place: each [[appendToLshIndex]]
    * adds part-files to the `band=` directories, growing every later
    * probe's scan fan-out. Bucket rows are facts (no deltas), so
    * compaction just rewrites each band as ONE file
    * ([[compactBandedIndex]]). Probe results are identical before and
    * after (q206 pins it through the q170 gate; the spec pins 1
    * file/band). The rewrite lands in the NEXT version directory and
    * activates by pointer flip ([[graft.util.FsIO.publishVersion]]), so
    * concurrent probes — including ones planned mid-compaction — keep
    * reading the version they resolved; not concurrent-WRITER safe. */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, keepVersions: Int = 1): Unit = {
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    compactBandedIndex(spark, path, dataDir, lshParams(spark, dataDir)._2,
      "_lsh_params.json", keepVersions)
  }

  /** Candidate near-dup pairs TOUCHING a new batch, against the
    * persisted bucket table: [[bandedIndexProbe]] over the batch's
    * bucket rows (hashed under the index's recorded law), prefiltered
    * on `xxhash64(band, bucket)`. Pair semantics equal
    * [[minhashCandidates]] over (history ∪ batch) restricted to pairs
    * with at least one batch doc: bucket caps count the COMBINED
    * bucket, band hits are distinct bands, pairs come back id-ordered
    * (`ida < idb`). */
  def lshIndexCandidates(spark: org.apache.spark.sql.SparkSession,
      path: String, newDf: DataFrame, idCol: String, textCol: String,
      maxBucket: Int = 10000, minBandHits: Int = 1,
      broadcastMaxRows: Long = 4000000L): DataFrame = {
    // resolve the version ONCE: params and bucket scan come from the
    // same snapshot even if a compaction publishes mid-probe
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val (numHashes, bands) = lshParams(spark, dataDir)
    bandedIndexProbe(spark, dataDir,
        minhashBuckets(newDf, idCol, textCol, numHashes, bands),
        xxhash64(col("band"), col("bucket")), maxBucket, broadcastMaxRows)
      .groupBy(col("pa.doc").as("ida"), col("pb.doc").as("idb"))
      .agg(countDistinct(col("band")).as("__hits"))
      .where(col("__hits") >= minBandHits)
      .select("ida", "idb")
  }

  /** [[minhashNearDups]] against a PERSISTED index: candidates touching
    * the new batch from [[lshIndexCandidates]], exact-Jaccard refined
    * against `corpus` (any frame carrying id + text for every doc a
    * candidate can name — typically the corpus table history was built
    * from plus the batch). Equals the one-shot [[minhashNearDups]] over
    * (history ∪ batch) restricted to batch-touching pairs, at batch
    * cost. */
  def nearDupsAgainstLshIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, newDf: DataFrame, idCol: String, textCol: String,
      corpus: DataFrame, threshold: Double, maxBucket: Int = 10000,
      minBandHits: Int = 1, refineOnShingles: Boolean = true,
      broadcastMaxRows: Long = 4000000L): DataFrame = {
    // materialize the (bounded: band-hit-filtered) candidate pairs once,
    // then SEMI-JOIN the corpus down to candidate ids BEFORE shingling:
    // without it the refine shingles and shuffles the whole corpus to
    // meet a batch-sized candidate set (measured 871 MB of exchange for
    // a 5k-doc probe against 100k docs; candidate-only refine moves
    // only the named docs' sets). AQE broadcasts the id list when it
    // fits — no forced hint, degenerate corpora stay safe.
    val cands = lshIndexCandidates(spark, path, newDf, idCol, textCol,
      maxBucket, minBandHits, broadcastMaxRows).localCheckpoint()
    val ids = cands.select(col("ida").as("__cid"))
      .unionByName(cands.select(col("idb").as("__cid"))).distinct()
    val slim = corpus.join(ids, col(idCol) === col("__cid"), "left_semi")
    refineJaccard(cands, slim, idCol, textCol, threshold, refineOnShingles)
  }

  /** Cross-document shingle sharing: for each document, how many of its
    * distinct word-n-grams also appear in at least `minDocs` documents —
    * the contamination/boilerplate signal behind "duplicate n-gram
    * fraction" corpus audits (a doc whose shingles are mostly shared is
    * template text even when no single pair crosses a Jaccard threshold).
    *
    * Scale design: one shuffle on the gram key (document frequency), one
    * back-join keyed by the same gram, one aggregation per doc. Grams are
    * distinct per document, so the gram-key count IS the document
    * frequency — and unlike pair generation, everything here is LINEAR in
    * gram rows (each gram row joins to exactly one count), so no posting
    * cap is needed even on boilerplate-heavy corpora.
    *
    * Output per doc: `n_shingles` (distinct), `n_shared`. */
  def sharedShingleStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minDocs: Int = 2): DataFrame = {
    val grams = df
      .select(col(idCol).as("doc"), col(textCol).as("__text"),
        split(col(textCol), " ").as("__t"))
      .select(col("doc"), explode(ngramSet(col("__text"), col("__t"), n)).as("g"))
    val docFreq = grams.groupBy("g").agg(count(lit(1)).as("df"))
    grams.join(docFreq, Seq("g"))
      .groupBy("doc").agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= minDocs, 1L).otherwise(0L)).as("n_shared"))
      .withColumnRenamed("doc", idCol)
  }

  /** (doc, sh, band, bucket) per row: an arbitrary 64-bit fingerprint
    * expression sliced into `bands` equal bit-windows, one bucket row
    * per band — the shared banding layer under [[simhashNearDups]] and
    * [[hammingPairs64]]. */
  private def hashBands64(df: DataFrame, idCol: String, hash: Column,
      bands: Int): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    df.select(col(idCol).as("doc"), hash.as("sh"))
      .select(col("doc"), col("sh"), posexplode(array(
        (0 until bands).map(b =>
          shiftrightunsigned(col("sh"), b * width).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** (doc, sh, band, bucket) per document: the 64-bit simhash sliced into
    * `bands` equal bit-windows, one bucket row per band. */
  private def simhashBands(df: DataFrame, idCol: String, textCol: String,
      bands: Int): DataFrame =
    hashBands64(df, idCol, simhash64(col(textCol)), bands)

  /** Hamming-radius near-dup pairs over a PRECOMPUTED 64-bit hash
    * column — the [[simhashNearDups]] machinery exposed for any
    * fingerprint (image perceptual hashes, audio fingerprints, custom
    * simhashes computed upstream). By pigeonhole, any pair within
    * `maxHamming < bands` differing bits shares at least one identical
    * band, so banding finds every such pair; candidates are refined by
    * the exact codegen'd popcount. Same `maxBucket` degeneracy cap and
    * id-ordered `(ida, idb, hamming)` contract as the simhash form.
    *
    * Scale design: identical to simhash — one ×bands map-only fan-out,
    * a (band, bucket)-keyed aggregation, in-bucket pair explosion
    * bounded by `maxBucket`², exact refine on the pair rows only. */
  def hammingPairs64(df: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, bands: Int = 4, maxBucket: Int = 10000): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0 (got $maxHamming)")
    // pigeonhole completeness: maxHamming differing bits can touch at
    // most maxHamming bands, so a shared identical band is guaranteed
    // only when maxHamming <= bands - 1 — reject silent recall loss
    require(maxHamming < bands,
      s"banding is complete only for maxHamming < bands (got $maxHamming >= $bands); raise bands")
    explodeBucketPairs(
        hashBands64(df, idCol, col(hashCol).cast("long"), bands)
          .groupBy("band", "bucket")
          .agg(sort_array(collect_list(struct(col("doc"), col("sh")))).as("ds")),
        maxBucket)
      .select(col("ida.doc").as("ida"), col("idb.doc").as("idb"),
        hamming64(col("ida.sh"), col("idb.sh")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** SimHash pairs within a Hamming-distance radius, found via `bands`
    * equal bit-slices of the 64-bit hash: by pigeonhole, any pair with
    * hamming <= bands-1 shares at least one band, so the bucket join is
    * complete for maxHamming <= bands-1 (default 4 bands → radius 3) —
    * PROVIDED no (band, bucket) group exceeds `maxBucket`.
    *
    * Pair generation goes through the same capped kernel as MinHash-LSH
    * ([[explodeBucketPairs]]): buckets larger than `maxBucket` are
    * dropped, bounding a degenerate corpus (thousands of boilerplate docs
    * sharing a 16-bit band) at O(bands · maxBucket²) pairs instead of
    * Σ bucket². The cap is a recall trade, not a free lunch: docs in an
    * oversized bucket share only that one band's bits, so a dropped pair
    * is not necessarily a near-duplicate pair — audit a cap setting with
    * [[simhashOversizedBuckets]] before committing to it (exact dedup
    * upstream still catches identical docs, the common cause of huge
    * buckets). Each bucket entry carries (doc, sh) so the exact-hamming
    * refine runs directly on the generated pairs — no join back to the
    * corpus. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bands: Int = 4, maxBucket: Int = 10000): DataFrame = {
    require(maxHamming < bands,
      s"banding is complete only for maxHamming < bands (got $maxHamming >= $bands); raise bands")
    explodeBucketPairs(
        simhashBands(df, idCol, textCol, bands).groupBy("band", "bucket")
          .agg(sort_array(collect_list(struct(col("doc"), col("sh")))).as("ds")),
        maxBucket)
      .select(col("ida.doc").as("ida"), col("idb.doc").as("idb"),
        hamming64(col("ida.sh"), col("idb.sh")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** (band, bucket, size) for simhash band-buckets over the cap — the
    * observability companion to [[simhashNearDups]]'s drop (same contract
    * as [[oversizedBuckets]] for MinHash): run it to see what a
    * `maxBucket` setting would discard from the pigeonhole guarantee. */
  def simhashOversizedBuckets(df: DataFrame, idCol: String, textCol: String,
      maxBucket: Int, bands: Int = 4): DataFrame =
    simhashBands(df, idCol, textCol, bands)
      .groupBy("band", "bucket").agg(count(lit(1)).as("size"))
      .where(col("size") > maxBucket)

  // ---- persisted HAMMING / SIMHASH index: incremental hamming dedup ----

  /** Persist the banded 64-bit-fingerprint table under `path` —
    * `buckets/` rows `(doc, sh, band, bucket)` parquet PARTITIONED BY
    * band plus a `_hamming_params.json` sidecar pinning `bands` — the
    * hamming-granularity complement of [[writeLshIndex]]: daily ingest
    * probes each new batch's fingerprints against ALL history in cost
    * proportional to the batch, never re-hashing the historical corpus.
    * Rows carry the full 64-bit hash, so probes refine exactly with the
    * codegen'd popcount and never join back to the corpus. Versioned
    * root like every persisted index here
    * ([[graft.util.FsIO.publishVersion]]). Works for ANY 64-bit
    * fingerprint column (image aHash, audio fingerprints);
    * [[writeSimhashIndex]] is the text-simhash instance. */
  def writeHammingIndex(df: DataFrame, idCol: String, hashCol: String,
      path: String, bands: Int = 4): Unit = {
    require(64 % bands == 0, "bands must divide 64")
    val spark = df.sparkSession
    val ver = graft.util.FsIO.nextVersionDir(spark, path)
    hashBands64(df, idCol, col(hashCol).cast("long"), bands)
      .write.mode("overwrite").partitionBy("band").parquet(s"$ver/buckets")
    graft.util.FsIO.writeStringAtomic(spark,
      new org.apache.hadoop.fs.Path(ver, "_hamming_params.json"),
      s"""{"bands":$bands}""")
    graft.util.FsIO.publishVersion(spark, path, ver)
  }

  /** [[writeHammingIndex]] over the corpus's text simhashes — the
    * persisted form of [[simhashNearDups]]'s state. */
  def writeSimhashIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, bands: Int = 4): Unit =
    writeHammingIndex(
      df.select(col(idCol), simhash64(col(textCol)).as("__sh64")),
      idCol, "__sh64", path, bands)

  private def hammingParams(spark: org.apache.spark.sql.SparkSession,
      dataDir: String): Int = {
    val json = graft.util.FsIO.readString(spark,
        new org.apache.hadoop.fs.Path(dataDir, "_hamming_params.json"))
      .getOrElse(throw new java.io.IOException(
        s"hamming index at $dataDir has no readable _hamming_params.json sidecar"))
    """"bands":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toInt)
      .getOrElse(throw new java.io.IOException(
        s"hamming index sidecar at $dataDir lacks bands: $json"))
  }

  /** Append a batch's banded fingerprints under the index's OWN
    * recorded band law — new part-files in the matching `band=`
    * directories, nothing rewritten. Probe BEFORE appending the same
    * batch, or every batch doc pairs with itself. */
  def appendToHammingIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, idCol: String, hashCol: String): Unit = {
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val bands = hammingParams(spark, dataDir)
    hashBands64(df, idCol, col(hashCol).cast("long"), bands)
      .write.mode("append").partitionBy("band").parquet(s"$dataDir/buckets")
    graft.util.FsIO.assertStillCurrent(spark, path, dataDir)
  }

  /** [[appendToHammingIndex]] for text simhashes. */
  def appendToSimhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, idCol: String, textCol: String): Unit =
    appendToHammingIndex(spark, path,
      df.select(col(idCol), simhash64(col(textCol)).as("__sh64")),
      idCol, "__sh64")

  /** The probe skeleton under [[hammingIndexPairs]] and
    * [[lshIndexCandidates]]: member pairs `(band, pa, pb)` — structs of
    * `nb`'s non-bucket columns, `pa.doc < pb.doc`, at least one a batch
    * row — of every bucket of history ∪ batch `nb` holding a batch row.
    * Rows with a NULL doc or bucket never pair.
    *  - Prefilter: history rows survive a left-semi join on ONE long
    *    `key` over (band, bucket), whose broadcast builds a
    *    `LongHashedRelation` sized to its rows; a composite key's
    *    `UnsafeHashedRelation` pins a whole Tungsten page (16 MB at a
    *    3 GB heap and 4 slots) however few rows it holds. A colliding
    *    key only lets extra rows in: groups form on the true
    *    (band, bucket), and one without a batch row yields no pair.
    *  - Cap: a window counts each bucket's combined rows, and buckets
    *    over `maxBucket` drop BEFORE members are gathered, so the cap
    *    bounds memory: a degenerate bucket is never collected whole.
    *  - Pairs: each surviving bucket gathers its members once and pairs
    *    each batch member with every other one — no self-join.
    *  - ADAPTIVE shape: past `broadcastMaxRows` banded batch rows the
    *    hint drops and the semi-join shuffles instead of OOMing
    *    executors on a forced build side; same rows either way. */
  private def bandedIndexProbe(spark: org.apache.spark.sql.SparkSession,
      dataDir: String, nb: DataFrame, key: Column, maxBucket: Int,
      broadcastMaxRows: Long): DataFrame = {
    // banded ONCE: the count, the key side and the union all read it
    val batch = nb.where(col("bucket").isNotNull).localCheckpoint()
    val keys = batch.select(key.as("__k"))
    val hist = spark.read.parquet(s"$dataDir/buckets")
      .select(nb.columns.map(col): _*)
      .join(if (batch.count() <= broadcastMaxRows) broadcast(keys) else keys,
        key === col("__k"), "left_semi")
    val bucket = Window.partitionBy("band", "bucket")
    val member = struct((Seq("__b") ++ nb.columns.filterNot(Set("band", "bucket")))
      .map(col): _*)
    hist.withColumn("__b", lit(false))
      .unionByName(batch.withColumn("__b", lit(true)))
      .withColumn("__n", count(lit(1)).over(bucket))
      .where(col("__n") <= maxBucket)
      .groupBy("band", "bucket").agg(collect_list(member).as("__ms"))
      .select(col("band"), explode(flatten(transform(
        filter(col("__ms"), _.getField("__b")),
        x => transform(
          filter(col("__ms"), y => y.getField("doc") =!= x.getField("doc")),
          y => when(x.getField("doc") < y.getField("doc"),
              struct(x.as("pa"), y.as("pb")))
            .otherwise(struct(y.as("pa"), x.as("pb"))))))).as("__p"))
      .select(col("band"), col("__p.pa").as("pa"), col("__p.pb").as("pb"))
  }

  /** Hamming-radius pairs TOUCHING a new batch, against the persisted
    * index: [[bandedIndexProbe]] over the batch's banded fingerprints,
    * prefiltered on the exact key `band << (64 / bands) | bucket` (the
    * bucket alone when `bands = 1`), candidates refined by the exact
    * codegen'd popcount carried on the rows themselves — no corpus
    * join anywhere. Equals [[hammingPairs64]] over (history ∪ batch)
    * restricted to pairs with at least one batch doc; completeness
    * needs `maxHamming < bands` (pigeonhole), the same `require` as
    * the in-memory form. Rows with a NULL fingerprint have NULL
    * buckets and never pair; fingerprint upstream with a non-null law
    * (the simhash wrappers coalesce text to '') if that matters.
    * Output `(ida, idb, hamming)`, id-ordered. */
  def hammingIndexPairs(spark: org.apache.spark.sql.SparkSession,
      path: String, newDf: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, maxBucket: Int = 10000,
      broadcastMaxRows: Long = 4000000L): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0 (got $maxHamming)")
    // resolve the version ONCE: params and bucket scan from one snapshot
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val bands = hammingParams(spark, dataDir)
    require(maxHamming < bands,
      s"banding is complete only for maxHamming < bands (got $maxHamming >= $bands); rebuild with more bands")
    bandedIndexProbe(spark, dataDir,
        hashBands64(newDf, idCol, col(hashCol).cast("long"), bands),
        if (bands == 1) col("bucket")
        else shiftleft(col("band").cast("long"), 64 / bands).bitwiseOR(col("bucket")),
        maxBucket, broadcastMaxRows)
      .select(col("pa.doc").as("ida"), col("pb.doc").as("idb"),
        hamming64(col("pa.sh"), col("pb.sh")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** [[hammingIndexPairs]] with the batch fingerprinted by text
    * simhash — incremental [[simhashNearDups]] against history. */
  def simhashIndexPairs(spark: org.apache.spark.sql.SparkSession,
      path: String, newDf: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 10000,
      broadcastMaxRows: Long = 4000000L): DataFrame =
    hammingIndexPairs(spark, path,
      newDf.select(col(idCol), simhash64(col(textCol)).as("__sh64")),
      idCol, "__sh64", maxHamming, maxBucket, broadcastMaxRows)

  /** Compact a persisted hamming index: bucket rows are facts (no
    * deltas), so compaction rewrites each band as ONE file
    * ([[compactBandedIndex]]) — probe-identical before and after, same
    * next-version + pointer-flip discipline as the other compactors. */
  def compactHammingIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, keepVersions: Int = 1): Unit = {
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    compactBandedIndex(spark, path, dataDir, hammingParams(spark, dataDir),
      "_hamming_params.json", keepVersions)
  }

  /** The banded compactors' rewrite: one file per `band=` directory,
    * rows sorted by (bucket, doc) so a probed bucket sits in one
    * row-group neighborhood, and the validated params sidecar carried
    * over. The sort leads with `band`: a partitioned write sorts by its
    * partition columns unless its input is already so ordered, and a
    * sort on `band` alone would replace the in-file order. */
  private def compactBandedIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, dataDir: String, bands: Int, sidecar: String,
      keepVersions: Int): Unit = {
    val ver = graft.util.FsIO.nextVersionDir(spark, path)
    spark.read.parquet(s"$dataDir/buckets")
      .repartition(bands, col("band")).sortWithinPartitions("band", "bucket", "doc")
      .write.partitionBy("band").parquet(s"$ver/buckets")
    graft.util.FsIO.readString(spark, new org.apache.hadoop.fs.Path(dataDir, sidecar))
      .foreach(s => graft.util.FsIO.writeStringAtomic(spark,
        new org.apache.hadoop.fs.Path(ver, sidecar), s))
    graft.util.FsIO.publishVersion(spark, path, ver, keepVersions)
  }

  // ---- persisted dedup-cluster REGISTRY: cross-batch pair evidence -----

  /** Bootstrap a persisted near-dup PAIR REGISTRY under `path` — the
    * cross-batch home for dedup evidence. Each daily batch probes a
    * persisted index ([[lshIndexCandidates]], [[hammingIndexPairs]],
    * [[exactIndexHits]]...) and appends the resulting pairs here
    * ([[appendToRegistry]]); [[registryClusters]] derives the canonical
    * cluster map with the large-star/small-star CC over the EDGE LOG —
    * cost scales with the accumulated pair evidence, never the corpus.
    * Edges are id-normalized (`a < b`) facts, so appends are
    * exactly-once under foreachBatch retries with no bookkeeping (CC
    * distincts), and [[compactRegistry]] just folds the log to its
    * distinct edges. Storage: `edges/` parquet partitioned by
    * `pt = pmod(hash(a), buckets)` (bounds compaction file counts and
    * parallelizes the CC scan — no pruning is expected, CC is global),
    * versioned root like every persisted index here. */
  def writeRegistry(pairs: DataFrame, aCol: String, bCol: String,
      path: String, buckets: Int = 16): Unit = {
    require(buckets > 0, s"buckets must be positive (got $buckets)")
    val spark = pairs.sparkSession
    val ver = graft.util.FsIO.nextVersionDir(spark, path)
    val rows = normalizedEdges(pairs, aCol, bCol)
      .withColumn("pt", pmod(hash(col("a")), lit(buckets)))
    rows.write.mode("overwrite").partitionBy("pt").parquet(s"$ver/edges")
    graft.util.FsIO.writeStringAtomic(spark,
      new org.apache.hadoop.fs.Path(ver, "_schema_edges.ddl"), rows.schema.toDDL)
    graft.util.FsIO.writeStringAtomic(spark,
      new org.apache.hadoop.fs.Path(ver, "_registry_params.json"),
      s"""{"buckets":$buckets}""")
    graft.util.FsIO.publishVersion(spark, path, ver)
  }

  /** `a < b` edges; self-loops and rows with a NULL endpoint are
    * dropped (a NULL id is not evidence about any pair). */
  private def normalizedEdges(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame =
    pairs.select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()

  private def registryBuckets(spark: org.apache.spark.sql.SparkSession,
      dataDir: String): Int = {
    val json = graft.util.FsIO.readString(spark,
        new org.apache.hadoop.fs.Path(dataDir, "_registry_params.json"))
      .getOrElse(throw new java.io.IOException(
        s"registry at $dataDir has no readable _registry_params.json sidecar"))
    """"buckets":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toInt)
      .getOrElse(throw new java.io.IOException(
        s"registry sidecar at $dataDir lacks buckets: $json"))
  }

  private def readRegistryEdges(spark: org.apache.spark.sql.SparkSession,
      dataDir: String): DataFrame = {
    val ddl = graft.util.FsIO.readString(spark,
        new org.apache.hadoop.fs.Path(dataDir, "_schema_edges.ddl"))
      .getOrElse(throw new java.io.IOException(
        s"registry at $dataDir has no readable _schema_edges.ddl sidecar"))
    spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .parquet(s"$dataDir/edges")
  }

  /** Append a batch's pair evidence — new part-files, nothing
    * rewritten; duplicate edges (within the batch, across batches, or
    * from a foreachBatch retry) are harmless facts the clustering
    * distincts away. */
  def appendToRegistry(spark: org.apache.spark.sql.SparkSession,
      path: String, pairs: DataFrame, aCol: String, bCol: String): Unit = {
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val buckets = registryBuckets(spark, dataDir)
    normalizedEdges(pairs, aCol, bCol)
      .withColumn("pt", pmod(hash(col("a")), lit(buckets)))
      .write.mode("append").partitionBy("pt").parquet(s"$dataDir/edges")
    graft.util.FsIO.assertStillCurrent(spark, path, dataDir)
  }

  /** The registry's current canonical-cluster map `(id, component)` —
    * [[connectedComponents]] over every pair ever appended. Join a
    * corpus against it and keep rows where `id` is absent or equals its
    * component: the standing dedup verdict across all batches seen. */
  def registryClusters(spark: org.apache.spark.sql.SparkSession,
      path: String, maxIter: Int = 25): DataFrame = {
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    connectedComponents(readRegistryEdges(spark, dataDir), "a", "b", maxIter)
  }

  /** Fold the edge log to its distinct edges, one sorted file per
    * bucket — clusters identical before and after (CC distincts edges
    * anyway); same next-version + pointer-flip discipline as the other
    * compactors. */
  def compactRegistry(spark: org.apache.spark.sql.SparkSession,
      path: String, keepVersions: Int = 1): Unit = {
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val buckets = registryBuckets(spark, dataDir)
    val ver = graft.util.FsIO.nextVersionDir(spark, path)
    readRegistryEdges(spark, dataDir)
      .select("a", "b").distinct()
      .withColumn("pt", pmod(hash(col("a")), lit(buckets)))
      .repartition(buckets, col("pt")).sortWithinPartitions("pt", "a", "b")
      .write.partitionBy("pt").parquet(s"$ver/edges")
    for (name <- Seq("_registry_params.json", "_schema_edges.ddl"))
      graft.util.FsIO.readString(spark,
          new org.apache.hadoop.fs.Path(dataDir, name))
        .foreach(s => graft.util.FsIO.writeStringAtomic(spark,
          new org.apache.hadoop.fs.Path(ver, name), s))
    graft.util.FsIO.publishVersion(spark, path, ver, keepVersions)
  }

  // ---- persisted cluster SNAPSHOT: batch-cost incremental CC ----------
  //
  // Layout inside a snapshot VERSION directory (v<N>/):
  //   clusters/        the BASE (id, component) parquet + schema sidecar
  //   new_d<K>/        per-refresh NEW-id rows (id, component)
  //   remap_d<K>/      per-refresh component remaps (__oc, __nc), K ordered
  // Reads fold base ∪ new-id deltas through the ORDERED composition of
  // the remap deltas — collected driver-side, bounded by the components
  // touched since the last compaction (centroid-class state, compact on
  // cadence) — so a daily refresh APPENDS two batch-sized delta dirs and
  // never rewrites the history-sized base: the BM25 dfreq-delta pattern.
  // The history-sized IO is paid only by [[compactClusterSnapshot]].

  /** Bootstrap the registry's persisted `(id, component)` cluster map
    * under `snapPath` (its own versioned root, SEPARATE from the
    * registry's) — one full large-star/small-star CC over the edge log,
    * written as the base of a fresh version. Thereafter a daily batch
    * appends its pairs to the registry AND folds the same pairs into
    * the snapshot with [[refreshClusterSnapshot]] at delta cost;
    * [[registryClusters]] re-pays the full historical CC every call and
    * remains the bootstrap/repair path (the q232 contract pins
    * refresh ≡ full-CC against q228's analytic closure). */
  def writeClusterSnapshot(spark: org.apache.spark.sql.SparkSession,
      registryPath: String, snapPath: String, maxIter: Int = 25,
      keepVersions: Int = 1): Unit = {
    val ver = graft.util.FsIO.nextVersionDir(spark, snapPath)
    writeSnapshotVersion(spark, snapPath, ver,
      registryClusters(spark, registryPath, maxIter), keepVersions)
  }

  private def writeSnapshotVersion(spark: org.apache.spark.sql.SparkSession,
      snapPath: String, ver: org.apache.hadoop.fs.Path, rows: DataFrame,
      keepVersions: Int): Unit = {
    rows.write.mode("overwrite").parquet(s"$ver/clusters")
    graft.util.FsIO.writeStringAtomic(spark,
      new org.apache.hadoop.fs.Path(ver, "_schema_clusters.ddl"),
      rows.schema.toDDL)
    graft.util.FsIO.publishVersion(spark, snapPath, ver, keepVersions)
  }

  // Hard bound on the driver-side composed remap map (ADVICE r16): the
  // delta-count require caps DIRS, not rows — a high-merge workload with
  // skipped compaction could grow the driver map silently. ~4M two-field
  // rows is comfortably centroid-class; anything past it means the
  // compaction cadence failed and the read refuses loudly instead.
  private val RemapRowCap = 1 << 22

  /** The snapshot's delta dirs under `dataDir` with prefix `new_d` or
    * `remap_d`, in ordinal order. */
  private def snapDeltaDirs(spark: org.apache.spark.sql.SparkSession,
      dataDir: String, prefix: String): Seq[org.apache.hadoop.fs.Path] = {
    val p = new org.apache.hadoop.fs.Path(dataDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath)
      .flatMap { d =>
        val n = d.getName
        if (n.startsWith(prefix) && n.length > prefix.length &&
            n.drop(prefix.length).forall(_.isDigit))
          Some((n.drop(prefix.length).toLong, d))
        else None
      }.sortBy(_._1).map(_._2)
  }

  /** The snapshot's current `(id, component)` map — component is the
    * minimum node id of the cluster, exactly [[registryClusters]]'
    * contract. Folds the version's base and new-id deltas through the
    * ordered composition of its remap deltas: each remap's domain is
    * component ids that were CURRENT when it was written, and a merged
    * component id never becomes current again (components only merge,
    * the min only decreases), so the domains are disjoint and the
    * composition is a well-defined function applied in ONE broadcast
    * join. Schema comes from the version's sidecar, so no parquet
    * footer races a concurrent refresh. */
  def readClusterSnapshot(spark: org.apache.spark.sql.SparkSession,
      snapPath: String): DataFrame = {
    val dataDir = graft.util.FsIO.indexDataDir(spark, snapPath)
    val ddl = graft.util.FsIO.readString(spark,
        new org.apache.hadoop.fs.Path(dataDir, "_schema_clusters.ddl"))
      .getOrElse(throw new java.io.IOException(
        s"cluster snapshot at $dataDir has no readable _schema_clusters.ddl sidecar"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    val base = spark.read.schema(schema).parquet(s"$dataDir/clusters")
    val withNew = snapDeltaDirs(spark, dataDir, "new_d")
      .foldLeft(base)((acc, d) =>
        acc.unionByName(spark.read.schema(schema).parquet(d.toString)))
    // Remap composition, driver-side. The deltas' domains are DISJOINT
    // (a merged component id never becomes current again), so their
    // union is one well-defined map, and the composed target of any key
    // is the end of the chain k → m(k) → m(m(k)) → … — component ids
    // strictly DECREASE along every hop (the new id is the min over the
    // merged clusters and identity rows are never written), so the walk
    // terminates; with path compression the whole composition is
    // O(entries · α), independent of HOW MANY delta dirs the entries
    // arrived in. The explicit schema (both remap columns are
    // component-typed) keeps a crash-orphaned delta dir with no
    // committed part files readable as empty instead of failing schema
    // inference — the retried batch re-merges whatever such a crash
    // left split. The composed map is bounded by the components touched
    // since the last compaction (centroid-class state); past
    // [[RemapRowCap]] rows the read fails LOUDLY with the delta-count
    // cap's own message instead of quietly growing the driver heap.
    val ct = schema("component").dataType
    val remapSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__oc", ct),
      org.apache.spark.sql.types.StructField("__nc", ct)))
    val raw = collection.mutable.HashMap.empty[Any, Any]
    for (d <- snapDeltaDirs(spark, dataDir, "remap_d")) {
      for (r <- spark.read.schema(remapSchema).parquet(d.toString).collect())
        raw.update(r.get(0), r.get(1))
      require(raw.size <= RemapRowCap,
        s"cluster snapshot at $snapPath holds ${raw.size} composed remap " +
        s"rows (cap $RemapRowCap); compact it")
    }
    val composed = collection.mutable.HashMap.empty[Any, Any]
    for (k0 <- raw.keys) if (!composed.contains(k0)) {
      val path = collection.mutable.ArrayBuffer[Any](k0)
      var v = raw(k0)
      while (!composed.contains(v) && raw.contains(v)) {
        // a well-formed remap strictly decreases component ids, so a
        // chain visits distinct keys and can never exceed |raw|; a
        // longer walk proves a cycle (corrupt or hand-edited delta
        // dirs) — fail loudly instead of hanging the driver
        require(path.size <= raw.size,
          s"cluster snapshot remap at $snapPath contains a cycle " +
          s"through '$v' - the decreasing-component invariant is " +
          "violated (corrupt or hand-restored delta dirs); rebuild " +
          "the snapshot with writeClusterSnapshot")
        path += v; v = raw(v)
      }
      val end = composed.getOrElse(v, v)
      for (p <- path) composed.update(p, end)
    }
    if (composed.isEmpty) withNew
    else {
      val rows = composed.toSeq
        .map { case (k, v) => org.apache.spark.sql.Row(k, v) }
      val remapDf = spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, remapSchema)
      withNew.join(broadcast(remapDf), col("component") === col("__oc"), "left")
        .select(col("id"),
          coalesce(col("__nc"), col("component")).as("component"))
    }
  }

  /** Fold a batch's pair evidence into the persisted cluster snapshot
    * at DELTA cost: each delta endpoint resolves to its current
    * component (unknown ids are their own), CC runs over the
    * delta-sized COMPONENT graph only (components merge whole — the
    * union-find argument: snapshot components are exact for all prior
    * edges, and a new edge can only join whole components), and the
    * result is APPENDED as two batch-sized delta dirs — new-id rows and
    * a non-identity component remap — never a rewrite of the base.
    * Because every component id is its cluster's minimum node id, the
    * merged component id is again the minimum over the merged clusters'
    * ids — so refresh ≡ [[writeClusterSnapshot]] over the grown
    * registry (q232 pins it against q228's analytic closure oracle).
    * Re-refreshing the same delta is a strict no-op (no dirs written);
    * a refresh that crashes between its two delta writes is healed by
    * retrying the same batch (the recomputed remap re-merges whatever
    * the crash left split — same retry contract as foreachBatch).
    * Single-writer like every maintenance path; the post-append pointer
    * check makes a racing compaction loud.
    *
    * Delta cadence is MANAGED, not a footgun: once the version holds
    * `autoCompactAfter` delta dirs this refresh runs
    * [[compactClusterSnapshot]] itself right after its append (safe
    * under the single-writer rule — the refresh IS the writer), so an
    * operator who never schedules compaction still gets bounded driver
    * remap state and bounded dir listings. Pass `autoCompactAfter <= 0`
    * to disable and own the cadence (the hard delta-count and
    * [[RemapRowCap]] requires remain the loud backstop). */
  def refreshClusterSnapshot(spark: org.apache.spark.sql.SparkSession,
      snapPath: String, deltaPairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25, autoCompactAfter: Int = 512,
      keepVersions: Int = 1): Unit = {
    val dataDir = graft.util.FsIO.indexDataDir(spark, snapPath)
    val view = readClusterSnapshot(spark, snapPath)
    val delta = normalizedEdges(deltaPairs, aCol, bCol).localCheckpoint()
    val deltaIds = delta.select(col("a").as("id"))
      .unionByName(delta.select(col("b").as("id"))).distinct()
      .localCheckpoint()
    // ONE map-only pass over the history-sized view: semi-join it down
    // to the batch's ids (AQE broadcasts the id list when it fits; a
    // backfill degrades to a shuffle) and checkpoint the batch-sized
    // lookup — the endpoint-resolve joins and the new-id anti-join
    // below then touch only batch-sized frames, so a refresh reads the
    // base exactly once and shuffles nothing history-sized
    val known = view.join(deltaIds, Seq("id"), "left_semi").localCheckpoint()
    val ends = delta
      .join(known.select(col("id").as("a"), col("component").as("__ca")),
        Seq("a"), "left")
      .join(known.select(col("id").as("b"), col("component").as("__cb")),
        Seq("b"), "left")
      .select(coalesce(col("__ca"), col("a")).as("ca"),
        coalesce(col("__cb"), col("b")).as("cb"))
    val remap = connectedComponents(
        ends.where(col("ca") =!= col("cb")), "ca", "cb", maxIter)
      .select(col("id").as("__oc"), col("component").as("__nc"))
      .where(col("__oc") =!= col("__nc")) // non-identity mappings only
      .localCheckpoint()
    val newRows = deltaIds.join(known.select("id"), Seq("id"), "left_anti")
      .join(remap, col("id") === col("__oc"), "left")
      .select(col("id"), coalesce(col("__nc"), col("id")).as("component"))
      .localCheckpoint()
    val existing = (snapDeltaDirs(spark, dataDir, "new_d") ++
      snapDeltaDirs(spark, dataDir, "remap_d"))
      .map(_.getName.replaceAll("^\\D+", "").toLong)
    val ord = existing.maxOption.getOrElse(0L) + 1L
    require(ord <= 99999L,
      s"cluster snapshot at $snapPath has $ord deltas; compact it")
    // new-id rows FIRST, then the remap: a crash between the writes
    // leaves new ids carrying pre-merge components that the retried
    // batch's recomputed remap folds back together
    if (!newRows.isEmpty)
      newRows.write.parquet(f"$dataDir/new_d$ord%05d")
    if (!remap.isEmpty)
      remap.write.parquet(f"$dataDir/remap_d$ord%05d")
    graft.util.FsIO.assertStillCurrent(spark, snapPath, dataDir)
    if (autoCompactAfter > 0 && ord >= autoCompactAfter)
      compactClusterSnapshot(spark, snapPath, keepVersions)
  }

  /** The standing dedup verdict for a corpus against the persisted
    * cluster snapshot: one row per distinct input id with its canonical
    * component (its own id when the snapshot has never seen it — the
    * [[dedupClusters]] singleton convention) and the keep flag
    * (id == component: the cluster's minimum member is the canonical
    * survivor).
    *
    * Join shape: the snapshot view is first SEMI-JOINED down to the
    * batch's distinct ids — the refresh path's own pruning pattern —
    * and only that batch-sized slice meets the batch in the LEFT OUTER
    * join that assigns components. A left-outer join can only broadcast
    * its right side, so joining the batch directly against the
    * history-sized map (one row per ever-seen id) would sort-merge-
    * shuffle the entire history per admitted batch; with the semi-join
    * the history is touched by exactly ONE scan — map-only when the
    * batch id list broadcasts (every daily batch), degrading to a
    * shuffle only for backfills past broadcast size — and the outer
    * join's right side is batch-sized by construction, whatever the
    * snapshot has grown to. RegistryCalibrationSpec pins the shape:
    * the snapshot scan appears only under the LeftSemi, never under a
    * history-sized exchange. Compose with a semi-join to admit rows
    * downstream. This is the read that makes the registry → snapshot
    * loop actionable: probe, append, refresh, then admit each batch by
    * this verdict. */
  def snapshotDedupVerdict(spark: org.apache.spark.sql.SparkSession,
      snapPath: String, df: DataFrame, idCol: String): DataFrame = {
    val ids = df.select(col(idCol)).distinct()
    val slice = readClusterSnapshot(spark, snapPath)
      .withColumnRenamed("id", idCol)
      .join(ids, Seq(idCol), "left_semi")
    ids.join(slice, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("component"))
      .withColumn("keep", col("component") === col(idCol))
  }

  /** Fold the snapshot's base + deltas into the next version's base —
    * read-identical before and after (the read IS the fold); same
    * next-version + pointer-flip discipline as the other compactors.
    * This is where the history-sized IO lives; the daily refresh never
    * pays it.
    *
    * Racing-refresh guard (ADVICE r16): a refresh whose delta dirs land
    * AFTER this compaction listed them but whose own pointer check runs
    * BEFORE the publish flips would pass its assertStillCurrent while
    * its deltas silently miss the compacted base. After publishing, the
    * superseded version (retained — keepVersions >= 1) is re-listed and
    * any delta ordinal beyond what the compaction read throws with
    * assertStillCurrent's loudness: the single-writer rule was violated
    * and the late refresh must be re-run against the new version. */
  def compactClusterSnapshot(spark: org.apache.spark.sql.SparkSession,
      snapPath: String, keepVersions: Int = 1): Unit = {
    val dataDir = graft.util.FsIO.indexDataDir(spark, snapPath)
    def maxOrd(): Long = (snapDeltaDirs(spark, dataDir, "new_d") ++
        snapDeltaDirs(spark, dataDir, "remap_d"))
      .map(_.getName.replaceAll("^\\D+", "").toLong).maxOption.getOrElse(0L)
    // taken BEFORE the read lists its dirs: a delta landing in between
    // is still included in the fold but flags below — a false alarm on
    // a race is loud-safe, a miss would be silent data loss
    val ordRead = maxOrd()
    val rows = readClusterSnapshot(spark, snapPath)
    val ver = graft.util.FsIO.nextVersionDir(spark, snapPath)
    writeSnapshotVersion(spark, snapPath, ver, rows, keepVersions)
    val ordAfter = maxOrd()
    if (ordAfter > ordRead)
      throw new java.util.ConcurrentModificationException(
        s"compactClusterSnapshot at $snapPath folded deltas up to ordinal " +
        s"$ordRead but the superseded version now holds ordinal $ordAfter: " +
        "a refresh appended mid-compaction (single-writer rule violated), " +
        "so its deltas are missing from the compacted base - re-run that " +
        "refresh against the new version")
  }

  // ---- connected components over a near-dup pair graph -------------------

  /** Connected components of the undirected graph given as a pair list —
    * the step that turns pairwise near-dup hits (minhash/simhash/jaccard)
    * into dedup CLUSTERS with one canonical survivor each.
    *
    * Algorithm: alternating large-star / small-star rounds (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14),
    * converging in O(log² n) rounds even on chain-shaped graphs where
    * naive min-label propagation needs O(diameter). Scale design:
    *  - Each round is ONE min() hash-aggregate keyed by node plus one
    *    equi-join — never a per-node neighbor LIST (a hub node with 10⁸
    *    neighbors would OOM a collect_list; min() combines map-side).
    *  - `localCheckpoint` after each round cuts the lineage so round N's
    *    plan doesn't replay rounds 1..N-1 (on a production cluster use
    *    `checkpoint` to reliable storage for executor-loss recovery).
    *  - Convergence is detected from two driver-side scalars (edge count
    *    + order-invariant hash checksum), not by collecting edges.
    *
    * Returns (id, component) for every node that appears in `pairs`;
    * component is the minimum node id of the cluster.
    *
    * Exhausting `maxIter` without reaching a fixpoint is an ERROR, not a
    * quiet degradation: a non-converged assignment can split one true
    * component into several, and everything downstream (cluster dedup,
    * leakage-safe splits) would silently trust it. By default this
    * throws; pass `failOnNonConvergence = false` to accept the partial
    * assignment with a logged warning instead. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25, failOnNonConvergence: Boolean = true): DataFrame = {
    // direct every edge large→small; both star steps preserve the
    // invariant src > dst by construction
    var edges = pairs
      .select(greatest(col(aCol), col(bCol)).as("src"),
        least(col(aCol), col(bCol)).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    var prev = (-1L, -1L)
    var it = 0
    var done = false
    while (it < maxIter && !done) {
      // large-star over the symmetrized graph: for every node u with
      // m(u) = min(N(u) ∪ {u}), each LARGER neighbor v re-links to m(u)
      val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val lsMin = sym.groupBy(col("src").as("u"))
        .agg(min(least(col("src"), col("dst"))).as("m"))
      val large = sym.where(col("dst") > col("src"))
        .join(lsMin, col("src") === col("u"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
      // small-star on the (now larger→smaller) edges: u's smaller
      // neighbors AND u itself all link to m(u)
      val ssMin = large.groupBy(col("src").as("u"))
        .agg(min(col("dst")).as("m"))
        .withColumn("m", least(col("u"), col("m"))) // defensive; dst < src already
      val joined = large.join(ssMin, col("src") === col("u"))
      val small = joined.select(col("dst").as("src"), col("m").as("dst"))
        .union(joined.select(col("src"), col("m").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint()
      // order-invariant fingerprint: two driver scalars, no edge collect
      // (bit_xor, not sum — ANSI mode would overflow summed 64-bit hashes;
      // xor is safe because distinct() guarantees no repeated edge)
      val sig = small.agg(count(lit(1)),
        bit_xor(xxhash64(col("src"), col("dst")))).collect()(0)
      val cur = (sig.getLong(0), if (sig.isNullAt(1)) 0L else sig.getLong(1))
      done = cur == prev
      prev = cur
      edges = small
      it += 1
    }
    if (!done) {
      val msg = s"connectedComponents exhausted maxIter=$maxIter without " +
        "converging; the assignment may split true components"
      if (failOnNonConvergence) throw new IllegalStateException(
        msg + " (raise maxIter, or pass failOnNonConvergence = false to " +
          "accept the partial result)")
      else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    // at fixpoint the edge list IS the star assignment v → component-min;
    // add the roots themselves
    edges.select(col("src").as("id"), col("dst").as("component"))
      .union(edges.select(col("dst").as("id"), col("dst").as("component")))
      .groupBy("id").agg(min("component").as("component"))
  }

  /** Cluster ids for EVERY document: component-min over `pairs` for docs
    * in the pair graph, the doc's own id for singletons. The output is
    * the canonical-survivor map a curation pipeline joins against
    * (keep = rows where id == component). */
  def dedupClusters(df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
    df.select(col(idCol).as("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** CCNet-style corpus-wide PARAGRAPH dedup: split every document on
    * `sep` (a LITERAL separator string), keep each distinct paragraph only at its FIRST
    * corpus occurrence — smallest (id, position) — and re-assemble each
    * document from its surviving paragraphs in their original order.
    * Empty paragraphs are dropped. Returns ONE row per input document:
    * (idCol, textCol deduped, n_kept int, n_dropped int); documents
    * whose every paragraph was seen earlier — and documents with no
    * non-empty paragraph at all — come back with empty text and the
    * matching (possibly 0/0) counters, so reassembling a corpus never
    * loses rows.
    *
    * Scale (100 TB): paragraph TEXT never enters the election shuffle.
    * The election aggregates min(id, pos) per `xxhash64(para)` — the
    * shuffled payload is (hash, id, pos), three numbers per paragraph —
    * and the surviving position-sets (tiny int arrays) join back to the
    * ORIGINAL document rows, where a codegen'd array filter re-assembles
    * the text in place. So the corpus text moves at most once (the
    * id-keyed join, broadcast away entirely when the keep-set fits), a
    * constant hot paragraph costs one hash-agg cell instead of a
    * text-keyed window partition, and no driver state exists anywhere.
    * The price is trusting 64-bit xxhash64: a collision merges two
    * distinct paragraphs (~n²/2⁶⁵). Pass `byText = true` to elect on
    * the exact text instead (shuffles paragraph text once, keyed by it).
    */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", byText: Boolean = false): DataFrame =
    dedupParagraphsIncremental(df, idCol, textCol, sep, byText, seen = None)

  /** `sep` is a LITERAL separator string everywhere in the paragraph
    * family: splitting quotes it, so split + `concat_ws` re-joining are
    * inverse by construction for ANY separator (a regex split with a
    * literal re-join would silently corrupt documents, e.g.
    * sep = "\r?\n"). */
  private def paraSplit(text: Column, sep: String): Column =
    split(text, java.util.regex.Pattern.quote(sep))

  /** Shared election-key definition: xxhash64 of the paragraph, or the
    * raw text with `byText` — ONE definition so the incremental path and
    * the state keys can never drift apart (a silent key-type mismatch
    * would make the anti-join match nothing). */
  private def paraKey(byText: Boolean): Column =
    if (byText) col("para") else xxhash64(col("para"))

  /** Election keys ([[dedupParagraphs]]' xxhash64, or raw text with
    * `byText`) of every distinct non-empty paragraph in `df`, as one
    * `pkey` column — the state a streaming / incremental caller carries
    * between batches.
    *
    * Named `paragraphKeyset` (not `paragraphKeys`) deliberately: an
    * earlier signature took `(df, idCol, textCol, ...)`, and keeping the
    * old name would let a stale positional call
    * `paragraphKeys(df, "doc_id", "text")` compile while silently
    * reading the id column as the text — the rename turns that into a
    * compile error. */
  def paragraphKeyset(df: DataFrame, textCol: String,
      sep: String = "\n", byText: Boolean = false): DataFrame =
    df.select(posexplode(paraSplit(col(textCol), sep)).as(Seq("pos", "para")))
      .where(length(col("para")) > 0)
      .select(paraKey(byText).as("pkey")).distinct()

  /** [[dedupParagraphs]] against prior state: paragraphs whose election
    * key appears in `seen` (a `pkey` column, from [[paragraphKeyset]] of
    * earlier batches) are dropped everywhere and the first-occurrence
    * election runs only among the remainder — the incremental /
    * streaming building block (q123). The anti-join moves only keys;
    * everything else keeps the batch operator's shuffle shape. */
  def dedupParagraphsIncremental(df: DataFrame, idCol: String,
      textCol: String, sep: String = "\n", byText: Boolean = false,
      seen: Option[DataFrame] = None): DataFrame = {
    val parts = df
      .select(col(idCol).as("id"),
        posexplode(paraSplit(col(textCol), sep)).as(Seq("pos", "para")))
      .where(length(col("para")) > 0)
    val keyed = parts.select(paraKey(byText).as("__k"),
      struct(col("id"), col("pos")).as("__o"))
    val fresh = seen match {
      case Some(s) => keyed.join(s.select(col("pkey").as("__k")), Seq("__k"), "left_anti")
      case None => keyed
    }
    // first corpus occurrence of each distinct paragraph: min over the
    // (id, pos) struct — lexicographic, so smallest id then position
    val winners = fresh
      .groupBy("__k").agg(min(col("__o")).as("__w"))
      .select(col("__w.id").as("id"), col("__w.pos").as("pos"))
    val keepSets = winners.groupBy("id")
      .agg(sort_array(collect_list(col("pos"))).as("__kps"))
    // reassembly in place on the ORIGINAL row: index the split, keep the
    // positions that won their paragraph's election, re-join with the
    // same literal separator (paraSplit quotes it, so split/concat_ws
    // round-trip exactly for any separator string)
    val reparas = paraSplit(col("__t"), sep)
    val indexed = transform(reparas, (x, i) => struct(i.as("pos"), x.as("para")))
    val kept = filter(indexed, p => array_contains(col("__kps"), p.getField("pos")))
    df.select(col(idCol).as("id"), col(textCol).as("__t"))
      .join(keepSets, Seq("id"), "left")
      .withColumn("__kps", coalesce(col("__kps"), array().cast("array<int>")))
      .select(col("id").as(idCol),
        concat_ws(sep, transform(kept, p => p.getField("para"))).as(textCol),
        size(col("__kps")).cast("int").as("n_kept"),
        (size(filter(reparas, x => length(x) > 0)) - size(col("__kps")))
          .cast("int").as("n_dropped"))
  }

  /** Exact substring-span dedup at n-gram granularity — the "dedup
    * inside documents, not just between them" operator (the recipe of
    * Lee et al. 2022, *Deduplicating Training Data Makes Language Models
    * Better*, at token-n-gram resolution instead of suffix-array byte
    * resolution): a token is REMOVED when it is covered by any length-`n`
    * token window whose n-gram also appears in at least `minDocs`
    * distinct documents AND the document is not that n-gram's elected
    * keeper (minimum id among documents containing it — so exactly one
    * document keeps each shared passage, instead of the passage dying
    * everywhere like [[graft.operators.Curation.removeBoilerplate]]'s
    * frequent lines). With `withinDoc = true` the census counts
    * occurrences instead of documents and elects the globally first
    * (doc, pos) occurrence, so a passage repeated INSIDE one document
    * also dedups — the complete Lee-et-al. semantics. Output per input
    * document: (`idCol`, `textCol` with surviving tokens re-joined,
    * `n_kept`, `n_dropped`).
    *
    * Grams are keyed by the 64-bit md5 prefix of their joined text —
    * engine-replayable (unlike xxhash64, any SQL engine reproduces it)
    * and fixed-width, so the census shuffle never carries passage text.
    * A key collision would merge two grams identically in every engine:
    * deterministic, and at ~2⁻⁶⁴ · pairs, negligible.
    *
    * Scale, in exchanges of token-level rows: (1) the gram census
    * (count-distinct docs + min doc per gram key, map-side partials);
    * (2) the tokens ⇄ census join, keyed by gram hash — census output
    * only contains grams that cleared `minDocs`, and AQE picks the join
    * strategy from its real size; (3) one repartition by document for
    * the sliding-window coverage max (RANGE frame [pos−n+1, pos] — the
    * per-token coverage test costs a window max, NOT an n-fold span
    * explosion), whose doc-hash partitioning the final reassembly
    * aggregate then reuses with no further exchange. Token text crosses
    * each exchange once; full documents never do.
    */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int = 2, withinDoc: Boolean = false): DataFrame = {
    require(n >= 2, "n must be at least 2")
    require(minDocs >= 2, "minDocs must be at least 2")
    // NULL text reads as empty text (one empty token) so the document
    // still reaches the output — posexplode of a NULL split emits no
    // rows and would silently delete the row otherwise
    val tokens = df
      .select(col(idCol).as("__doc"),
        split(coalesce(col(textCol).cast("string"), lit("")), " ").as("__toks"))
      .select(col("__doc"), col("__toks"),
        posexplode(col("__toks")).as(Seq("__pos", "__tok")))
      .withColumn("__gkey",
        when(col("__pos") <= size(col("__toks")) - n,
          substring(md5(array_join(
            slice(col("__toks"), col("__pos") + 1, lit(n)), " ").cast("binary")), 1, 16)))
      .drop("__toks")
    // withinDoc = full Lee-et-al. semantics: the census counts
    // OCCURRENCES (so a passage repeated inside one document
    // qualifies too) and elects the globally first (doc, pos)
    // occurrence — only that single occurrence survives. Default
    // counts DISTINCT documents: in-doc repetition alone never
    // qualifies, and the keeper document keeps all its occurrences.
    val grams = tokens.where(col("__gkey").isNotNull)
    val census =
      if (withinDoc)
        grams.groupBy("__gkey")
          .agg(count(lit(1)).as("__nd"),
            min(struct(col("__doc"), col("__pos"))).as("__keeper"))
          .where(col("__nd") >= minDocs)
          .select(col("__gkey"), col("__keeper"))
      else
        grams.groupBy("__gkey")
          .agg(count_distinct(col("__doc")).as("__nd"), min(col("__doc")).as("__keeper"))
          .where(col("__nd") >= minDocs)
          .select(col("__gkey"), col("__keeper"))
    val survivorHere =
      if (withinDoc)
        col("__keeper.__doc") === col("__doc") && col("__keeper.__pos") === col("__pos")
      else col("__keeper") === col("__doc")
    val marked = tokens.join(census, Seq("__gkey"), "left")
      .withColumn("__dup",
        (col("__keeper").isNotNull && !survivorHere).cast("int"))
    val w = Window.partitionBy("__doc").orderBy("__pos")
      .rangeBetween(-(n - 1), Window.currentRow)
    marked.withColumn("__cov", max(col("__dup")).over(w))
      .groupBy(col("__doc"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__cov") === 0,
            struct(col("__pos"), col("__tok"))))),
          s => s.getField("__tok")), " ").as(textCol),
        count(when(col("__cov") === 0, 1)).cast("int").as("n_kept"),
        count(when(col("__cov") === 1, 1)).cast("int").as("n_dropped"))
      .withColumnRenamed("__doc", idCol)
  }

  /** MAXIMAL shared token spans across documents — the n-gram-anchored
    * extend-and-merge form of the suffix-array substring scan in Lee
    * et al. 2022 (*Deduplicating Training Data Makes Language Models
    * Better*): where [[dedupSpans]] REMOVES covered tokens, this
    * REPORTS each document's maximal intervals in which EVERY length-`n`
    * token window also appears in at least `minDocs` distinct documents
    * — the contiguous shared passages themselves (boilerplate blocks,
    * quoted articles, licence headers), at token granularity. A span is
    * maximal: extending it one token either way would include an
    * unshared window.
    *
    * Anchor-and-extend as set algebra: mark every gram start whose
    * census count clears `minDocs`; CONSECUTIVE marked starts merge
    * into one run (the islands trick — `pos − row_number()` is
    * constant exactly on consecutive runs), and a run of starts
    * `[s, e]` is the maximal span `[s, e + n − 1]`. No per-span text
    * ever moves: output is positional —
    * `(id, span_start, span_end, span_len, n_windows, min_share)`,
    * with `min_share` the minimum census count over the run's windows
    * (every window is shared by at least that many documents, though
    * not necessarily the SAME documents across the whole span — the
    * documented approximation vs a true suffix-array pass, which this
    * recovers as `n` → span length). Slice the original token array
    * with `slice(split(text,' '), span_start + 1, span_len)` to
    * materialize a span's text when needed.
    *
    * Scale, in exchanges: (1) the gram census — one hash-agg keyed by
    * the 64-bit md5 gram prefix (map-side partials, fixed-width keys,
    * no passage text on the wire); (2) the grams ⇄ census inner join,
    * whose census side holds only grams clearing `minDocs`; (3) one
    * doc-partitioned window + the run hash-agg on the SAME doc
    * partitioning (no further exchange). Documents never ride a
    * shuffle whole. */
  /** Per-token gram starts: `(__doc, __pos, __gkey)` with the 64-bit
    * md5 prefix of the length-`n` window starting at `__pos` (null —
    * filtered — where no full window fits). Shared tokenization of the
    * span operators. */
  private def gramStarts(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("__doc"),
        split(coalesce(col(textCol).cast("string"), lit("")), " ").as("__toks"))
      .select(col("__doc"), col("__toks"),
        posexplode(col("__toks")).as(Seq("__pos", "__tok")))
      .withColumn("__gkey",
        when(col("__pos") <= size(col("__toks")) - n,
          substring(md5(array_join(
            slice(col("__toks"), col("__pos") + 1, lit(n)), " ").cast("binary")), 1, 16)))
      .where(col("__gkey").isNotNull)
      .select("__doc", "__pos", "__gkey")

  /** Islands merge: consecutive marked gram starts → maximal spans.
    * Input must carry (__doc, __pos) plus any per-window payload to
    * aggregate; returns one row per maximal run. */
  private def mergeRuns(marked: DataFrame, idCol: String, n: Int,
      extra: Seq[Column]): DataFrame = {
    val w = Window.partitionBy("__doc").orderBy("__pos")
    val aggs = Seq(
      min("__pos").as("span_start"),
      (max("__pos") + lit(n - 1)).as("span_end"),
      (max("__pos") - min("__pos") + lit(n)).as("span_len"),
      count(lit(1)).as("n_windows")) ++ extra
    marked
      .withColumn("__grp", col("__pos") - row_number().over(w))
      .groupBy(col("__doc"), col("__grp"))
      .agg(aggs.head, aggs.tail: _*)
      .drop("__grp")
      .withColumnRenamed("__doc", idCol)
  }

  def maximalSharedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int = 2): DataFrame = {
    require(n >= 2, "n must be at least 2")
    require(minDocs >= 2, "minDocs must be at least 2")
    val grams = gramStarts(df, idCol, textCol, n)
    val shared = grams.groupBy("__gkey")
      .agg(count_distinct(col("__doc")).as("__nd"))
      .where(col("__nd") >= minDocs)
    mergeRuns(grams.join(shared, Seq("__gkey")), idCol, n,
      Seq(min("__nd").as("min_share")))
      .select(col(idCol), col("span_start"), col("span_end"),
        col("span_len"), col("n_windows"), col("min_share"))
  }

  /** Per-document n-gram NOVELTY: the fraction of each document's
    * length-`n` token windows appearing in NO other document — the
    * diversity/uniqueness signal dual to [[maximalSharedSpans]] (a
    * near-zero score means the document is assembled from recurring
    * passages; sampling by novelty up-weights genuinely new content).
    * Output per document with ≥ 1 window:
    * `(id, n_grams, n_novel, novelty)` with the quotient under the 6dp
    * law. Window multiplicity within the doc counts each occurrence (a
    * doc-internal repeat of a corpus-unique gram is still novel).
    *
    * One gram census keyed by the fixed-width md5 prefix
    * (count_distinct docs, map-side partials), one join back to the
    * gram stream, one per-doc hash-agg. */
  def gramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, "n must be at least 1")
    val rz6 = graft.util.Round6.rz6 _
    val grams =
      if (n >= 2) gramStarts(df, idCol, textCol, n)
      else // n = 1: plain tokens, hashed under the same key law
        df.select(col(idCol).as("__doc"),
            posexplode(split(coalesce(col(textCol).cast("string"), lit("")), " "))
              .as(Seq("__pos", "__tok")))
          .where(col("__tok") =!= "")
          .select(col("__doc"), col("__pos"),
            substring(md5(col("__tok").cast("binary")), 1, 16).as("__gkey"))
    val census = grams.groupBy("__gkey")
      .agg(count_distinct(col("__doc")).as("__nd"))
    grams.join(census, Seq("__gkey"))
      .groupBy("__doc")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("__nd") === 1, 1)).as("n_novel"))
      .select(col("__doc").as(idCol), col("n_grams"), col("n_novel"),
        rz6(col("n_novel").cast("double") / col("n_grams")).as("novelty"))
  }

  /** CROSS-CORPUS contaminated spans — benchmark decontamination at
    * substring granularity (the Lee et al. / GPT-3 appendix-C recipe,
    * token-n-gram anchored): each training document's maximal token
    * intervals in which EVERY length-`n` window also appears somewhere
    * in `bench` (the held-out benchmark corpus). Where
    * [[graft.operators.Curation.bloomDecontaminate]]-style gates drop
    * whole documents on any gram hit, this REPORTS the exact extent of
    * each contaminated passage, so the pipeline can excise spans (or
    * audit overlap mass) instead of discarding documents wholesale.
    * Same anchor-grams + islands-merge machinery as
    * [[maximalSharedSpans]]; spans are maximal (one more token either
    * way includes a window absent from the benchmark).
    *
    * Output: `(id, span_start, span_end, span_len, n_windows)` per
    * maximal contaminated span.
    *
    * Scale design: the benchmark side reduces to its DISTINCT gram
    * keys (fixed-width, typically millions of rows vs the training
    * corpus's billions) before a semi-join against the training gram
    * stream — the training corpus is scanned once, benchmark text
    * never rides a shuffle, and the islands window is doc-partitioned.
    * AQE broadcasts the benchmark gram set when it fits. */
  def contaminatedSpans(df: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int): DataFrame = {
    require(n >= 2, "n must be at least 2")
    val benchGrams = gramStarts(
        bench.select(lit(0L).as("__bid"), col(benchTextCol)),
        "__bid", benchTextCol, n)
      .select("__gkey").distinct()
    mergeRuns(
        gramStarts(df, idCol, textCol, n)
          .join(benchGrams, Seq("__gkey"), "left_semi"),
        idCol, n, Seq.empty)
      .select(col(idCol), col("span_start"), col("span_end"),
        col("span_len"), col("n_windows"))
  }

  /** Fuzzy (edit-distance) duplicate pairs with blocking — the
    * record-linkage workhorse for titles/names/addresses, where
    * shingle-Jaccard misses single-character typos: pairs of rows whose
    * blocking keys collide and whose `textCol` values are within
    * `maxDist` Levenshtein edits.
    *
    * Scale design (100 TB): all-pairs edit distance is O(n²) and
    * undistributable; blocking makes the candidate set the sum of
    * per-block pair counts. The block key — the first `blockTokens`
    * lowercased whitespace tokens — hash-partitions the self-join, and
    * blocks larger than `maxBlock` are DROPPED before pair generation
    * (same cap discipline as the LSH buckets: a mega-block is a
    * stopword-like key that would go quadratic; production recipes
    * tighten the key — more tokens, length buckets, phonetic codes —
    * rather than raise the cap). The `levenshtein` refine is Spark's
    * codegen'd built-in, computed only on in-block candidate pairs.
    * Deterministic: integer distances, id-ordered pairs, and the cap
    * is a replayable count filter, not a sample. */
  def fuzzyDups(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, blockTokens: Int = 1, maxBlock: Int = 10000): DataFrame = {
    require(maxDist >= 0 && blockTokens > 0 && maxBlock > 1,
      s"need maxDist >= 0, blockTokens > 0, maxBlock > 1 (got $maxDist/$blockTokens/$maxBlock)")
    val keyed = df.select(col(idCol), col(textCol),
      lower(concat_ws(" ",
        slice(split(col(textCol), " "), 1, blockTokens))).as("__blk"))
    val fit = keyed.join(
      keyed.groupBy("__blk").agg(count(lit(1)).as("__bsz"))
        .where(col("__bsz") <= maxBlock).select("__blk"),
      Seq("__blk"))
    val a = fit.select(col("__blk"), col(idCol).as("ida"), col(textCol).as("__ta"))
    val b = fit.select(col("__blk"), col(idCol).as("idb"), col(textCol).as("__tb"))
    a.join(b, Seq("__blk"))
      .where(col("ida") < col("idb"))
      .withColumn("dist", levenshtein(col("__ta"), col("__tb")))
      .where(col("dist") <= maxDist)
      .select(col("ida"), col("idb"), col("dist"))
  }

  /** [[fuzzyDups]] with Jaro–Winkler as the refine metric — the
    * classic record-linkage scorer for names/titles, where Levenshtein
    * over-penalizes length differences and under-weights shared
    * prefixes. Same blocking + `maxBlock` cap scale recipe; the refine
    * is the codegen'd byte-level `jaro_winkler` expression
    * (DuckDB-bit-exact, so the similarity column ships as a raw
    * double — no rounding law needed). Pairs scoring ≥ `minSim`
    * survive. */
  def jwDups(df: DataFrame, idCol: String, textCol: String,
      minSim: Double, blockTokens: Int = 1, maxBlock: Int = 10000): DataFrame = {
    require(minSim >= 0.0 && minSim <= 1.0 && blockTokens > 0 && maxBlock > 1,
      s"need 0 <= minSim <= 1, blockTokens > 0, maxBlock > 1 (got $minSim/$blockTokens/$maxBlock)")
    val keyed = df.select(col(idCol), col(textCol),
      lower(concat_ws(" ",
        slice(split(col(textCol), " "), 1, blockTokens))).as("__blk"))
    val fit = keyed.join(
      keyed.groupBy("__blk").agg(count(lit(1)).as("__bsz"))
        .where(col("__bsz") <= maxBlock).select("__blk"),
      Seq("__blk"))
    val a = fit.select(col("__blk"), col(idCol).as("ida"), col(textCol).as("__ta"))
    val b = fit.select(col("__blk"), col(idCol).as("idb"), col(textCol).as("__tb"))
    a.join(b, Seq("__blk"))
      .where(col("ida") < col("idb"))
      .withColumn("sim",
        graft.functions.GeoFunctions.jaro_winkler(col("__ta"), col("__tb")))
      .where(col("sim") >= minSim)
      .select(col("ida"), col("idb"), col("sim"))
  }

  /** Epsilon for float-safe threshold arithmetic in [[jaccardJoinExact]]:
    * `t·n` computed in doubles can land JUST above the exact integer
    * (e.g. 0.07·100 = 7.000000000000001, so `ceil` jumps to 8 and the
    * prefix silently shrinks). Every `ceil(t·…)` bound and the final
    * verification inequality subtract this epsilon so exact-integer
    * products never round up; 1e-9 is far below any representable
    * `t·n` gap at corpus-realistic n yet far above double rounding
    * error, and the q202 oracle + brute-force specs apply the SAME
    * epsilon so the contract stays a single well-defined function. */
  private val JaccardEps = 1e-9

  /** Looser epsilon for the INTERNAL pruning bounds (prefix length,
    * length filter, positional filter): relaxing those only ADDS
    * candidates — verification rejects the extras — so completeness is
    * preserved even when `t·n` carries a full double ulp of error at
    * pathological doc sizes (n ~ 1e9 tokens, ulp ~ 1e-7 > 1e-9). The
    * result-defining verification inequality keeps [[JaccardEps]]. */
  private val JaccardBoundEps = 1e-6

  /** Candidate-pair stage of [[jaccardJoinExact]] — exposed for the
    * adversarial-skew spec, which proves the positional filter empties
    * the candidate set on a many-short-near-dup corpus BELOW the
    * threshold (the workload that squares an unguarded prefix join).
    * Returns `(ida, idb, size_a, size_b)` for id-ordered pairs that
    * survive all three PPJoin filters (prefix, length, positional). */
  private[graft] def jaccardCandidates(df: DataFrame, idCol: String,
      textCol: String, threshold: Double): (DataFrame, DataFrame) = {
    val grid = df.select(col(idCol).as("__id"),
        explode(split(coalesce(col(textCol).cast("string"), lit("")), " "))
          .as("__tok"))
      .where(col("__tok") =!= "").distinct()
    val sizes = grid.groupBy("__id").agg(count(lit(1)).as("__n"))
    val dfreq = grid.groupBy("__tok").agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy("__id")
      .orderBy(col("__df").asc, col("__tok").asc)
    val prefix = grid.join(dfreq, Seq("__tok")).join(sizes, Seq("__id"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <=
        col("__n") - ceil(lit(threshold) * col("__n") - lit(JaccardBoundEps)) + 1)
      .select("__tok", "__id", "__rn", "__n")
    val a = prefix.select(col("__tok"), col("__id").as("ida"),
      col("__rn").as("__ra"), col("__n").as("size_a"))
    val b = prefix.select(col("__tok"), col("__id").as("idb"),
      col("__rn").as("__rb"), col("__n").as("size_b"))
    val cand = a.join(b, Seq("__tok"))
      .where(col("ida") < col("idb"))
      // LENGTH filter: J >= t forces t·max(|a|,|b|) <= min(|a|,|b|)
      .where(least(col("size_a"), col("size_b")).cast("double") >=
        lit(threshold) * greatest(col("size_a"), col("size_b")).cast("double")
          - lit(JaccardBoundEps))
      // POSITIONAL filter: via a shared token at 1-based ranks (ra, rb)
      // the overlap can reach at most 1 + min(|a|−ra, |b|−rb); the FIRST
      // shared token (both docs sorted by the same global order, so it
      // has the minimal rank on both sides) realizes the true maximum,
      // and PPJoin's prefix theorem puts it inside both prefixes — so
      // max over shared prefix tokens is a COMPLETE upper bound.
      .withColumn("__ub",
        lit(1L) + least(col("size_a") - col("__ra"), col("size_b") - col("__rb")))
      .groupBy("ida", "idb", "size_a", "size_b")
      .agg(max("__ub").as("__maxub"))
      .where(col("__maxub").cast("double") >=
        ceil(lit(threshold / (1.0 + threshold)) *
          (col("size_a") + col("size_b")) - lit(JaccardBoundEps)))
      .select("ida", "idb", "size_a", "size_b")
    (grid, cand)
  }

  /** EXACT all-pairs Jaccard similarity join via PREFIX FILTERING
    * (PPJoin, Xiao et al., "Efficient Similarity Joins for Near
    * Duplicate Detection", WWW'08) — every pair with token-set Jaccard
    * `>= threshold`, with NO approximation: where [[minhashNearDups]]
    * trades recall for speed, this keeps the exact result set and
    * prunes with a completeness GUARANTEE, applying Xiao et al.'s full
    * filter set:
    *  - PREFIX filter: two sets with `J >= t` must share a token among
    *    each side's `|x| − ceil(t·|x|) + 1` RAREST tokens under a
    *    common global order (document frequency asc, token asc).
    *  - LENGTH filter: `J >= t ⇒ t·max(|a|,|b|) <= min(|a|,|b|)` —
    *    size-incompatible pairs are cut at the token join, BEFORE the
    *    pair aggregation.
    *  - POSITIONAL filter: a shared token at prefix ranks `(ra, rb)`
    *    bounds the overlap by `1 + min(|a|−ra, |b|−rb)`; pairs whose
    *    best bound misses `ceil(t/(1+t)·(|a|+|b|))` (the overlap a
    *    qualifying pair needs) never reach verification.
    * Survivors are verified by exact intersection counts. All
    * `ceil(t·…)` bounds and the final inequality are float-safe via
    * [[JaccardEps]] (t·n landing a hair above an exact integer no
    * longer flips a ceil / rejects a boundary pair).
    *
    * Output: `(ida, idb, inter, size_a, size_b, jac)` for id-ordered
    * pairs passing the exact cross-multiplied test
    * `inter >= t·(|a| + |b| − inter) − ε`; `jac` is 6dp-snapped for
    * display. The q202 gate hash-matches this against a brute-force
    * all-pairs oracle — the strongest possible completeness proof.
    *
    * Scale design: the prefix index holds ≈ `(1−t)·|x| + 1` keys per
    * document — at t = 0.9, ~10% of the grid — and rarest-FIRST
    * ordering sends only low-df tokens into the join. The length and
    * positional filters run INSIDE the joined partitions (map side of
    * the pair agg), so a pathological bucket — millions of short
    * near-identical docs sharing one rare token — is cut before any
    * pair materializes downstream (see JaccardAdversarialSpec: 0
    * candidates on that corpus). Residual partition-level skew in the
    * token join is AQE skew-join territory (the join output per hot
    * token is already filter-pruned); the pair hash-agg de-skews via
    * map-side partial aggregation. Verification joins candidates back
    * to the grid doc-keyed (cost linear in Σ|candidate docs|). Per-doc
    * prefix selection is a doc-partitioned window (millions of tiny
    * partitions — distributed), never a global sort. Verification
    * joins candidates to one-row-per-doc token arrays (each doc's
    * payload moves once) and counts the intersection with a codegen'd
    * array_intersect on the pair row — no exploded pair×token rows,
    * no pair-keyed aggregation (r21). */
  def jaccardJoinExact(df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1] (got $threshold)")
    val rz6 = graft.util.Round6.rz6 _
    val (grid, cand) = jaccardCandidates(df, idCol, textCol, threshold)
    // verification via per-doc token ARRAYS, not a second exploded-token
    // join: the old shape joined candidates back to the (doc, token)
    // grid twice and pair-aggregated the exploded intersection — a
    // (pair × tokens) shuffle plus a pair-keyed hash agg that measured
    // over half the q202 runtime (r21). One collect_set per doc moves
    // each doc's token payload ONCE (a row per doc, bounded by doc
    // length), the two candidate joins stay doc-id-keyed hash joins of
    // one-row-per-doc frames, and the intersection count is a codegen'd
    // array_intersect on the pair row (the [[refineJaccard]] kernel) —
    // no exploded rows, no pair aggregation. collect_set over the
    // already-distinct grid is set-exact, so `inter` is unchanged.
    val toks = grid.groupBy("__id").agg(collect_set(col("__tok")).as("__ts"))
    cand
      .join(toks.select(col("__id").as("ida"), col("__ts").as("__ta")), Seq("ida"))
      .join(toks.select(col("__id").as("idb"), col("__ts").as("__tb")), Seq("idb"))
      .withColumn("inter",
        size(array_intersect(col("__ta"), col("__tb"))).cast("long"))
      .where(col("inter").cast("double") >=
        lit(threshold) * (col("size_a") + col("size_b") - col("inter"))
          - lit(JaccardEps))
      .select(col("ida"), col("idb"), col("inter"), col("size_a"), col("size_b"),
        rz6(col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter"))).as("jac"))
  }

  /** Near-containment pairs: document pairs where one side's token SET
    * is (almost) inside the other's — `C(A→B) = |A∩B| / |A|` — the
    * quote-inclusion / page-embeds-page relation that resemblance
    * metrics (Jaccard, MinHash) systematically miss: a tweet quoted
    * whole inside an article has Jaccard ≈ 0 but containment 1.
    *
    * Semantics are defined over the DF-FILTERED token universe: tokens
    * appearing in more than `maxDf` documents are excluded from BOTH
    * candidate generation and scoring (set sizes, intersections). A
    * token shared by everything ("the") carries no containment signal
    * but would dominate the token join; the cap is the documented
    * trade, applied consistently so the operator remains an exact
    * function of (corpus, maxDf) and the oracle replays it.
    *
    * Output: `(ida, idb, shared, size_a, size_b, c_ab, c_ba)` for
    * id-ordered pairs with `max(c_ab, c_ba) >= minContainment`,
    * quotients under the 6dp law.
    *
    * Scale design: distinct (doc, token) grid, one DF hash-agg, the
    * token-keyed self-join bounded by the cap (Σ df² ≤ maxDf · Σ df —
    * linear in the grid for fixed maxDf), pair hash-agg, two size
    * joins. All hash joins on (token) / (doc) / (pair) keys. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      minContainment: Double, maxDf: Int = 1000): DataFrame = {
    require(minContainment > 0 && minContainment <= 1,
      s"minContainment must be in (0, 1] (got $minContainment)")
    require(maxDf >= 1, s"maxDf must be >= 1 (got $maxDf)")
    val rz6 = graft.util.Round6.rz6 _
    val t = df.select(col(idCol).as("__id"),
        explode(split(coalesce(col(textCol).cast("string"), lit("")), " "))
          .as("__tok"))
      .where(col("__tok") =!= "").distinct()
    val kept = t.join(
      t.groupBy("__tok").agg(count(lit(1)).as("__df"))
        .where(col("__df") <= maxDf), Seq("__tok"))
    val sizes = kept.groupBy("__id").agg(count(lit(1)).as("__n"))
    val shared = kept.select(col("__tok"), col("__id").as("ida"))
      .join(kept.select(col("__tok"), col("__id").as("idb")), Seq("__tok"))
      .where(col("ida") < col("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("__id").as("ida"), col("__n").as("size_a")), Seq("ida"))
      .join(sizes.select(col("__id").as("idb"), col("__n").as("size_b")), Seq("idb"))
      .withColumn("c_ab", rz6(col("shared").cast("double") / col("size_a")))
      .withColumn("c_ba", rz6(col("shared").cast("double") / col("size_b")))
      .where(greatest(col("c_ab"), col("c_ba")) >= minContainment)
      .select("ida", "idb", "shared", "size_a", "size_b", "c_ab", "c_ba")
  }
}
