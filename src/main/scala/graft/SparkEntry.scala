package graft

import graft.functions.GeoFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2), each with a plain-ANSI-SQL DuckDB oracle.
  *
  * The driver's DuckDB has NO spatial extension (zero egress), so every
  * oracle is vanilla SQL: geometries are synthesized from integer columns
  * (exact in f64) and results are reduced to ints / booleans / strings /
  * integer-valued doubles whose expected values are computable
  * arithmetically. Column names are aliased identically on both sides —
  * the driver sorts columns by name before hashing.
  */
object SparkEntry {

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // registering 30+ functions and re-reading 10 parquet schemas per query
  // adds up across the 40+ contract queries — prep once per (session, dir).
  // Keyed per SESSION (not a single slot): the sf0.1 twin rows run on a
  // derived newSession concurrently with the base contract's session, and
  // a single-slot cache would thrash a full re-prep on every interleave.
  private val prepped = new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  private def prep(spark: SparkSession, dir: String): Unit = synchronized {
    if (prepped.get(spark) == dir) return
    GeoFunctions.register(spark)
    val target = spark.sparkContext.defaultParallelism
    tables.foreach { t =>
      val p = s"$dir/$t.parquet"
      // defensive per-table try: never let one bad table break every
      // view (earlier testdata generations shipped events.ts as
      // TIMESTAMP(NANOS), unreadable without nanosAsLong; it is now
      // TIMESTAMP(MICROS)/NTZ, but the conf stays set for robustness)
      if (new java.io.File(p).exists())
        try {
          var df = spark.read.parquet(p)
          // Parquet splits only at row-group boundaries, and the synthetic
          // testdata ships ONE row group per table — so without this every
          // map-heavy stage over a fact table runs as a single task no
          // matter how many cores the session has. At the 100 TB target
          // the input arrives as thousands of files/row-groups and this
          // branch never fires (scan parallelism >= cores); it exists to
          // restore, on a degenerate single-row-group layout, the
          // parallelism a production layout has natively. Dimension-sized
          // files stay unsplit: a 32-way exchange of 5 rows is pure
          // overhead.
          // Hash-repartition on the lead (key) column rather than
          // round-robin: same parallelism, but deterministic without the
          // sort-before-repartition local sort round-robin needs for
          // retry-safety, and column pruning still reaches the scan.
          if (new java.io.File(p).length() > (256 << 10) &&
              df.rdd.getNumPartitions < target)
            df = df.repartition(target, org.apache.spark.sql.functions.col(df.columns.head))
          df.createOrReplaceTempView(t)
        } catch { case e: Throwable =>
          System.err.println(s"[prep] skip $t: ${e.getMessage}")
        }
    }
    prepped.put(spark, dir)
  }

  private def q(sql: String): (SparkSession, String) => DataFrame =
    (spark, dir) => { prep(spark, dir); spark.sql(sql) }

  /** The dirs [[scratchDir]] handed out, all deleted by ONE JVM shutdown
    * hook registered on first use. The harness queries (q61, q66) hand
    * back DataFrames that read the dir LAZILY, so eager deletion would
    * race the driver's materialization — exit-time cleanup keeps /tmp
    * clean across repeated Verify runs without that hazard. */
  private lazy val scratchDirs = {
    val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))))
    dirs
  }

  /** Temp dir deleted at JVM exit (see [[scratchDirs]]). */
  private def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix).toFile
    scratchDirs.add(p)
    p.toString
  }

  /** Parametric aHash fixture image: 64×64 PNG, columns left of
    * `8·(1 + id%7)` black, the rest white; odd ids additionally flip
    * the top-left 8×8 cell to white. Every 8×8 grid cell is a uniform
    * 0/255 block, so the average-hash bits are ANALYTIC —
    * `bit(r,c) = (c >= 1 + id%7) OR (odd(id) AND r=0 AND c=0)` — and
    * the DuckDB oracle recomputes the exact 64-bit hash from that
    * construction law (no image codec needed on the oracle side;
    * PNG round-trips TYPE_INT_RGB losslessly on the engine side). */
  private def ahashPng(id: Long): Array[Byte] = {
    val split = (1 + (id % 7)).toInt * 8
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 64) {
      var x = 0
      while (x < 64) {
        val white = x >= split || (id % 2 == 1 && x < 8 && y < 8)
        img.setRGB(x, y, if (white) 0xffffff else 0x000000)
        x += 1
      }
      y += 1
    }
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    buf.toByteArray
  }

  private def ahashFixture(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.Encoders
    spark.range(56).as(Encoders.scalaLong)
      .map(id => (id, ahashPng(id)))(Encoders.tuple(Encoders.scalaLong,
        Encoders.BINARY))
      .toDF("doc_id", "png")
  }

  /** Point synthesized from lineitem integer columns: x in 0..99, y in 10..70. */
  private val PX = "CAST(l_orderkey % 100 AS STRING)"
  private val PY = "CAST(l_linenumber * 10 AS STRING)"
  private val PT = s"ST_GeomFromText('POINT(' || $PX || ' ' || $PY || ')')"
  private val KEYS = "l_orderkey, l_linenumber"

  // DuckDB-side equivalents of the synthesized coordinates
  private val OX = "CAST(l_orderkey % 100 AS DOUBLE)"
  private val OY = "CAST(l_linenumber * 10 AS DOUBLE)"
  private val OPXS = "CAST(l_orderkey % 100 AS VARCHAR)"
  private val OPYS = "CAST(l_linenumber * 10 AS VARCHAR)"

  /** SemDeDup oracle shared by q119 (literal centroid transport) and
    * q124 (broadcast transport): k=8 rank-ordered centroids, argmax by
    * cosine (ties to the lowest cluster), drop any row whose same-cluster
    * lower-id sibling reaches cosine 0.30. */
  private val SEMANTIC_DEDUP_ORACLE = """
      WITH c AS (SELECT embedding::DOUBLE[] AS cv,
                        CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster
                 FROM embeddings ORDER BY vec_id LIMIT 8),
           s AS (SELECT e.vec_id, c.cluster,
                        list_cosine_similarity(e.embedding::DOUBLE[], c.cv) AS cos
                 FROM embeddings e CROSS JOIN c),
           a AS (SELECT vec_id, cluster FROM (
                   SELECT vec_id, cluster, row_number() OVER (
                     PARTITION BY vec_id ORDER BY cos DESC, cluster ASC) AS rk FROM s)
                 WHERE rk = 1),
           d AS (SELECT DISTINCT y.vec_id AS dropid
                 FROM a x JOIN a y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
                 JOIN embeddings ex ON ex.vec_id = x.vec_id
                 JOIN embeddings ey ON ey.vec_id = y.vec_id
                 WHERE list_cosine_similarity(ex.embedding::DOUBLE[],
                         ey.embedding::DOUBLE[]) >= 0.30)
      SELECT a.vec_id, a.cluster FROM a LEFT JOIN d ON a.vec_id = d.dropid
      WHERE d.dropid IS NULL ORDER BY a.vec_id"""

  private val PCA_ITERS = 12

  private val UNIGRAM_ITERS = 2
  private val UNIGRAM_PIECE_LEN = 4
  private val UNIGRAM_MAX_PIECES = 60
  // documents' synthetic vocabulary tops out at 8-codepoint words at
  // every shipped sf; the oracle's DP/walk unroll covers this length and
  // the Verify run would fail loudly (missing b-CTE rows) if testdata
  // ever grew longer words
  private val UNIGRAM_MAX_WORD = 8

  /** q224/q225's oracle skeleton, generated: the [[graft.operators.
    * Unigram]] scaladoc's EM law executed by DuckDB — candidate census
    * (substring positions × lengths), top-`maxPieces` + singles scoring,
    * then per iteration an UNROLLED Viterbi DP over word positions
    * (best[j] via row_number ties (sc DESC, bp ASC) — the engine's
    * strict-improvement ascending scan picks the same cell), an
    * unrolled backpointer walk emitting used pieces, count aggregation,
    * and the rescore-or-prune step (unused single codepoints keep their
    * previous score). Scores are 6dp ln values summed raw in the same
    * prefix order as the driver loop, so comparisons are bit-exact.
    * Every chained CTE is MATERIALIZED (the pcaOracle lesson). Returns
    * the WITH-prefix up to and including p<iters>; callers append their
    * own final SELECT. */
  private def unigramOracleCtes(iters: Int, wLen: Int, pieceLen: Int,
      maxPieces: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""
      WITH wc AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS freq, CAST(length(w) AS INT) AS len
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY w),
      cand AS MATERIALIZED (
        SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
          SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece, freq
          FROM wc
          CROSS JOIN (SELECT unnest(range(1, ${wLen + 1})) AS i) pos
          CROSS JOIN (SELECT unnest(range(1, ${pieceLen + 1})) AS l) pl
          WHERE i + l - 1 <= len)
        GROUP BY piece),
      p0base AS MATERIALIZED (
        SELECT piece, max(cnt) AS cnt FROM (
          SELECT piece, cnt FROM
            (SELECT piece, cnt FROM cand ORDER BY cnt DESC, piece ASC LIMIT $maxPieces)
          UNION ALL
          SELECT piece, cnt FROM cand WHERE length(piece) = 1)
        GROUP BY piece),
      p0 AS MATERIALIZED (
        SELECT piece, cnt,
               round(ln(CAST(cnt AS DOUBLE) /
                 (SELECT CAST(SUM(cnt) AS DOUBLE) FROM p0base)), 6) AS s
        FROM p0base),"""
    for (it <- 1 to iters) {
      val prev = s"p${it - 1}"
      sb ++= s"""
      b${it}_0 AS MATERIALIZED (
        SELECT w, freq, len, CAST(0.0 AS DOUBLE) AS sc, 0 AS bp, 0 AS j FROM wc),"""
      for (j <- 1 to wLen) {
        val froms = (math.max(0, j - pieceLen) until j).map { i =>
          s"""SELECT b.w, b.freq, b.len, b.sc + p.s AS sc, $i AS bp
              FROM b${it}_$i b JOIN $prev p ON p.piece = substr(b.w, ${i + 1}, ${j - i})
              WHERE b.len >= $j"""
        }.mkString("\n          UNION ALL ")
        sb ++= s"""
      b${it}_$j AS MATERIALIZED (
        SELECT w, freq, len, sc, bp, $j AS j FROM (
          SELECT w, freq, len, sc, bp,
                 row_number() OVER (PARTITION BY w ORDER BY sc DESC, bp ASC) AS rn
          FROM ($froms)) WHERE rn = 1),"""
      }
      sb ++= s"""
      bb$it AS MATERIALIZED (
        ${(0 to wLen).map(j => s"SELECT w, j, bp FROM b${it}_$j").mkString("\n        UNION ALL ")}),
      wk${it}_0 AS MATERIALIZED (
        ${(1 to wLen).map(j => s"SELECT w, freq, len AS j, bp FROM b${it}_$j WHERE len = $j").mkString("\n        UNION ALL ")}),"""
      for (s <- 1 until wLen) {
        sb ++= s"""
      wk${it}_$s AS MATERIALIZED (
        SELECT k.w, k.freq, k.bp AS j, b.bp AS bp
        FROM wk${it}_${s - 1} k JOIN bb$it b ON b.w = k.w AND b.j = k.bp
        WHERE k.bp > 0),"""
      }
      sb ++= s"""
      u$it AS (
        SELECT w, freq, substr(w, bp + 1, j - bp) AS piece
        FROM (${(0 until wLen).map(s => s"SELECT * FROM wk${it}_$s").mkString(" UNION ALL ")})
        WHERE j > 0),
      c$it AS MATERIALIZED (
        SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM u$it GROUP BY piece),
      p$it AS MATERIALIZED (
        SELECT piece, cnt,
               round(ln(CAST(cnt AS DOUBLE) /
                 (SELECT CAST(SUM(cnt) AS DOUBLE) FROM c$it)), 6) AS s
        FROM c$it
        UNION ALL
        SELECT p.piece, CAST(0 AS BIGINT) AS cnt, p.s
        FROM $prev p LEFT JOIN c$it c ON c.piece = p.piece
        WHERE c.piece IS NULL AND length(p.piece) = 1)"""
      if (it < iters) sb ++= ","
    }
    sb.toString
  }

  /** q147's oracle, generated: mean/covariance from the same 6dp-term
    * moments law, then `iters` power-iteration steps per component as
    * unrolled CTEs (matrix-vector = join + 6dp-term sum, norm = rounded
    * sqrt of a 6dp-term sum of squares), deflation between components,
    * and the centered 6dp-term projection — the Pca scaladoc's exact
    * arithmetic, executed by DuckDB instead of the driver. */
  private def pcaOracle(iters: Int): String = {
    // every chained CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    // an iteration chain v_t -> w_t -> {c, v_(t-1)} inlined recursively
    // re-plans the base scan exponentially many times (observed as a
    // too-many-open-files explosion at 12 iterations)
    def steps(k: Int, covCte: String): String =
      (1 to iters).map { t =>
        val pv = if (t == 1) "v0" else s"v${k}_${t - 1}"
        s"""w${k}_$t AS MATERIALIZED (SELECT c.i, round(sum(round(c.c * v.v, 6)), 6) AS w
            FROM $covCte c JOIN $pv v ON c.j = v.i GROUP BY c.i),
           n${k}_$t AS MATERIALIZED (SELECT round(sqrt(round(sum(round(w * w, 6)), 6)), 6) AS nrm FROM w${k}_$t),
           v${k}_$t AS MATERIALIZED (SELECT i, round(w / (SELECT nrm FROM n${k}_$t), 6) AS v FROM w${k}_$t)"""
      }.mkString(",\n           ")
    s"""
      WITH e AS MATERIALIZED (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
                 FROM embeddings,
                      unnest(generate_series(1, len(embedding))) AS u(i)),
           n0 AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
           m AS MATERIALIZED (SELECT i, round(round(sum(round(x, 6)), 6) / (SELECT n FROM n0), 6) AS mu
                 FROM e GROUP BY i),
           c1 AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
                         round(round(round(sum(round(a.x * b.x, 6)), 6) / (SELECT n FROM n0), 6)
                               - round(ma.mu * mb.mu, 6), 6) AS c
                  FROM e a JOIN e b ON a.vec_id = b.vec_id
                  JOIN m ma ON a.i = ma.i JOIN m mb ON b.i = mb.i
                  GROUP BY a.i, b.i, ma.mu, mb.mu),
           dims AS (SELECT DISTINCT i FROM e),
           v0 AS (SELECT i, round(1.0 / sqrt((SELECT CAST(count(*) AS DOUBLE) FROM dims)), 6) AS v
                  FROM dims),
           ${steps(1, "c1")},
           c2 AS MATERIALIZED (SELECT c.i, c.j,
                         round(c.c - round(round((SELECT nrm FROM n1_$iters) * va.v, 6) * vb.v, 6), 6) AS c
                  FROM c1 c JOIN v1_$iters va ON c.i = va.i
                  JOIN v1_$iters vb ON c.j = vb.i),
           ${steps(2, "c2")},
           p1 AS (SELECT e.vec_id, round(sum(round((e.x - m.mu) * v.v, 6)), 6) AS pc1
                  FROM e JOIN m ON e.i = m.i JOIN v1_$iters v ON e.i = v.i
                  GROUP BY e.vec_id),
           p2 AS (SELECT e.vec_id, round(sum(round((e.x - m.mu) * v.v, 6)), 6) AS pc2
                  FROM e JOIN m ON e.i = m.i JOIN v2_$iters v ON e.i = v.i
                  GROUP BY e.vec_id)
      SELECT p1.vec_id, p1.pc1, p2.pc2,
             (SELECT nrm FROM n1_$iters) AS lambda1,
             (SELECT nrm FROM n2_$iters) AS lambda2
      FROM p1 JOIN p2 ON p1.vec_id = p2.vec_id ORDER BY p1.vec_id"""
  }

  private val BPE_MERGES = 8

  /** The shared CTE chain of the q150/q151 oracles: word counts →
    * bracketed symbol strings → `k` unrolled merge rounds, each one
    * pair-count aggregate + argmax (count desc, pair-string asc) + a
    * literal `replace` application — the exact merge law in
    * [[graft.operators.Bpe]]'s scaladoc, executed by DuckDB. */
  private def bpeLearnCtes(k: Int): String = {
    val rounds = (1 to k).map { r =>
      s"""p$r AS MATERIALIZED (
            SELECT s[i] AS l, s[i + 1] AS r2, CAST(sum(f) AS BIGINT) AS c
            FROM (SELECT string_split(s, chr(1)) AS s, f FROM w${r - 1}),
                 unnest(generate_series(2, len(s) - 2)) AS u(i)
            GROUP BY 1, 2),
           m$r AS MATERIALIZED (
            SELECT l, r2, c FROM p$r ORDER BY c DESC, l || chr(1) || r2 ASC LIMIT 1),
           w$r AS MATERIALIZED (
            SELECT replace(s, chr(1) || l || chr(1) || r2 || chr(1),
                              chr(1) || l || r2 || chr(1)) AS s, f
            FROM w${r - 1} CROSS JOIN m$r)"""
    }.mkString(",\n           ")
    s"""words AS MATERIALIZED (
            SELECT tok AS w, CAST(count(*) AS BIGINT) AS f
            FROM (SELECT unnest(string_split(coalesce(text, ''), ' ')) AS tok
                  FROM documents)
            WHERE tok <> '' GROUP BY tok),
           w0 AS MATERIALIZED (
            SELECT chr(1) || string_agg(substr(w, i, 1), chr(1) ORDER BY i)
                   || chr(1) AS s, f
            FROM words, unnest(generate_series(1, len(w))) AS u(i)
            GROUP BY w, f),
           $rounds"""
  }

  /** q151's per-word replace chain under the learned merges m1..mk. */
  private def bpeReplaceChain(k: Int): String =
    (1 to k).foldLeft("s") { (acc, r) =>
      s"replace($acc, (SELECT chr(1) || l || chr(1) || r2 || chr(1) FROM m$r)," +
        s" (SELECT chr(1) || l || r2 || chr(1) FROM m$r))"
    }

  /** events.ts is TIMESTAMP(MICROS), surfaced by Spark as TIMESTAMP_NTZ.
    * Microseconds since epoch, matching the DuckDB oracle's
    * `epoch_us(ts)` on the same naive timestamps bit-for-bit. Spark
    * resolves timestampdiff by casting both NTZ operands to LTZ in the
    * session zone, which cancels exactly in any FIXED-OFFSET zone —
    * every contract session (Verify, OneQuery, Bench) pins UTC, so the
    * arithmetic is effectively wall-clock. */
  private val TS_US =
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    prep(spark, "/root/testdata/sf0.001")
    spark.sql(s"""
      SELECT l_returnflag, count(*) AS n,
             sum(CASE WHEN ST_Intersects($PT, ST_MakeEnvelope(0.0, 0.0, 50.0, 30.0))
                 THEN 1 ELSE 0 END) AS hits
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  }

  private lazy val baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- constructors + accessors ------------------------------------
    "q01_geomfromtext_xy" -> q(s"""
      SELECT $KEYS, ST_X($PT) AS x, ST_Y($PT) AS y
      FROM lineitem ORDER BY $KEYS"""),
    "q02_astext" -> q(s"""
      SELECT $KEYS, ST_AsText($PT) AS wkt
      FROM lineitem ORDER BY $KEYS"""),
    "q03_asewkt" -> q(s"""
      SELECT $KEYS,
             ST_AsEWKT(ST_GeomFromText('POINT(' || $PX || ' ' || $PY || ')', l_linenumber)) AS ewkt
      FROM lineitem ORDER BY $KEYS"""),
    "q04_asgeojson" -> q(s"""
      SELECT $KEYS, ST_AsGeoJSON($PT) AS gj
      FROM lineitem ORDER BY $KEYS"""),
    "q05_geometrytype" -> q(s"""
      SELECT $KEYS,
             ST_GeometryType(ST_GeomFromText(CASE CAST(l_linenumber % 3 AS INT)
               WHEN 0 THEN 'POINT(1 2)'
               WHEN 1 THEN 'LINESTRING(0 0,1 1)'
               ELSE 'POLYGON((0 0,1 0,1 1,0 0))' END)) AS gtype
      FROM lineitem ORDER BY $KEYS"""),
    "q06_srid" -> q(s"""
      SELECT $KEYS,
             ST_SRID(ST_GeomFromText('POINT(' || $PX || ' ' || $PY || ')', l_linenumber)) AS srid,
             ST_SRID($PT) AS srid_absent
      FROM lineitem ORDER BY $KEYS"""),
    "q17_geomfromwkb" -> q("""
      SELECT ST_AsText(ST_GeomFromWKB(X'0101000000cb49287d21c451c0f0bf95ecd8244540')) AS wkt,
             ST_SRID(ST_GeomFromWKB(X'0101000000cb49287d21c451c0f0bf95ecd8244540', 4269)) AS srid"""),
    // ---- predicates ---------------------------------------------------
    "q07_intersects" -> q(s"""
      SELECT $KEYS,
             ST_Intersects($PT, ST_MakeEnvelope(0.0, 0.0, 50.0, 30.0)) AS hit
      FROM lineitem ORDER BY $KEYS"""),
    "q08_covers_coveredby" -> q(s"""
      SELECT $KEYS,
             ST_Covers(ST_MakeEnvelope(0.0, 0.0, 50.0, 30.0), $PT) AS covers_pt,
             ST_CoveredBy($PT, ST_MakeEnvelope(0.0, 0.0, 50.0, 30.0)) AS pt_coveredby
      FROM lineitem ORDER BY $KEYS"""),
    "q09_equals" -> q(s"""
      SELECT $KEYS,
             ST_Equals($PT, ST_Translate($PT, CAST(l_orderkey % 2 AS DOUBLE), 0.0)) AS eq
      FROM lineitem ORDER BY $KEYS"""),
    // ---- transforms ---------------------------------------------------
    "q10_translate" -> q(s"""
      SELECT $KEYS,
             ST_X(ST_Translate($PT, 3.0, 4.0)) AS x, ST_Y(ST_Translate($PT, 3.0, 4.0)) AS y
      FROM lineitem ORDER BY $KEYS"""),
    "q11_buffer_bbox" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             round(bb.xmin, 6) AS bxmin, round(bb.ymin, 6) AS bymin,
             round(bb.xmax, 6) AS bxmax, round(bb.ymax, 6) AS bymax
      FROM (SELECT $KEYS, box2d(ST_Buffer($PT, 50.0, 2)) AS bb FROM lineitem)
      ORDER BY $KEYS"""),
    "q12_boundary" -> q(s"""
      SELECT $KEYS,
             ST_GeometryType(ST_Boundary(ST_GeomFromText(
               'LINESTRING(' || $PX || ' ' || $PY || ',' ||
               CAST(l_orderkey % 100 + 10 AS STRING) || ' ' ||
               CAST(l_linenumber * 10 + 10 AS STRING) || ')'))) AS btype,
             ST_NPoints(ST_Boundary(ST_MakeEnvelope(0.0, 0.0, 10.0, 10.0))) AS bnp
      FROM lineitem ORDER BY $KEYS"""),
    "q13_makeenvelope_wkt" -> q(s"""
      SELECT $KEYS,
             ST_AsText(ST_MakeEnvelope(CAST(l_orderkey % 100 AS DOUBLE), CAST(l_linenumber * 10 AS DOUBLE),
               CAST(l_orderkey % 100 + 10 AS DOUBLE), CAST(l_linenumber * 10 + 20 AS DOUBLE))) AS wkt,
             ST_SRID(ST_MakeEnvelope(0.0, 0.0, 1.0, 1.0, l_linenumber)) AS esrid,
             ST_Area(ST_MakeEnvelope(0.0, 0.0, CAST(l_orderkey % 100 AS DOUBLE),
               CAST(l_linenumber AS DOUBLE))) AS earea
      FROM lineitem ORDER BY $KEYS"""),
    "q15_mvtgeom" -> q(s"""
      SELECT $KEYS,
             ST_X(ST_AsMVTGeom($PT, box2d(ST_MakeEnvelope(0.0, 0.0, 4096.0, 4096.0)))) AS mx,
             ST_Y(ST_AsMVTGeom($PT, box2d(ST_MakeEnvelope(0.0, 0.0, 4096.0, 4096.0)))) AS my
      FROM lineitem ORDER BY $KEYS"""),
    "q16_split" -> q(s"""
      SELECT $KEYS,
             ST_NumGeometries(ST_Split(ST_MakeEnvelope(0.0, 0.0, 10.0, 10.0),
               ST_GeomFromText(CASE WHEN l_orderkey % 2 = 0
                 THEN 'LINESTRING(5 -1,5 11)' ELSE 'LINESTRING(20 0,21 1)' END))) AS faces
      FROM lineitem ORDER BY $KEYS"""),
    // ---- spatial joins ------------------------------------------------
    "q18_spatial_join_bcast" -> ((spark, dir) => {
      prep(spark, dir)
      val pts = spark.sql(s"SELECT l_orderkey, l_linenumber, $PT AS geom FROM lineitem")
      val regions = spark.sql("""
        SELECT r_regionkey, ST_MakeEnvelope(CAST(r_regionkey * 20 AS DOUBLE), 0.0,
               CAST(r_regionkey * 20 + 20 AS DOUBLE), 100.0) AS rgeom FROM region""")
      graft.operators.SpatialJoin.broadcastJoin(pts, "geom", regions, "rgeom")
        .select("l_orderkey", "l_linenumber", "r_regionkey")
        .orderBy("l_orderkey", "l_linenumber", "r_regionkey")
    }),
    "q19_spatial_join_grid" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val pts = spark.sql(
        s"SELECT l_orderkey * 10 + l_linenumber AS lkey, $PT AS geom FROM lineitem")
      val regions = spark.sql("""
        SELECT r_regionkey, ST_MakeEnvelope(CAST(r_regionkey * 20 AS DOUBLE), 0.0,
               CAST(r_regionkey * 20 + 20 AS DOUBLE), 100.0) AS rgeom FROM region""")
      graft.operators.SpatialJoin
        .gridJoin(pts, "geom", regions, "rgeom", cellSize = 25.0)
        .select("lkey", "r_regionkey")
        .orderBy("lkey", "r_regionkey")
    }),
    // ---- aggregate ----------------------------------------------------
    "q14_extent" -> q(s"""
      SELECT l_returnflag, ext.xmin AS xmin, ext.ymin AS ymin, ext.xmax AS xmax, ext.ymax AS ymax
      FROM (SELECT l_returnflag, st_extent($PT) AS ext FROM lineitem GROUP BY l_returnflag)
      ORDER BY l_returnflag"""),
    "q40_collect" -> q(s"""
      SELECT l_returnflag,
             ST_NumGeometries(st_collect($PT)) AS ngeoms,
             ST_GeometryType(st_collect($PT)) AS ctype
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    // ---- text / dedup pipeline ---------------------------------------
    "q20_dedup_exact" -> q("""
      SELECT md5(CAST(text AS BINARY)) AS h, min(doc_id) AS keep_id, count(*) AS n
      FROM documents GROUP BY md5(CAST(text AS BINARY)) ORDER BY h"""),
    "q21_token_stats" -> q("""
      SELECT doc_id, size(split(text, ' ')) AS ntokens, length(text) AS nchars
      FROM documents ORDER BY doc_id"""),
    "q22_quality_score" -> q("""
      SELECT doc_id,
             CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS nspaces,
             CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT) AS n_e,
             CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) * 1000 div length(text) AS space_permille
      FROM documents ORDER BY doc_id"""),
    "q23_jaccard_tokens" -> q("""
      WITH tok AS (SELECT DISTINCT doc_id, explode(split(text, ' ')) AS w
                   FROM documents WHERE doc_id < 60),
           sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
           inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS ninter
                     FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
                     GROUP BY a.doc_id, b.doc_id)
      SELECT i.ida, i.idb, i.ninter, sa.n + sb.n - i.ninter AS nunion
      FROM inter i JOIN sz sa ON i.ida = sa.doc_id JOIN sz sb ON i.idb = sb.doc_id
      ORDER BY i.ida, i.idb"""),
    "q30_binary_meta" -> q("""
      SELECT doc_id, octet_length(CAST(text AS BINARY)) AS nbytes,
             ascii(substring(text, 1, 1)) AS first_byte
      FROM documents ORDER BY doc_id"""),
    // ---- vector search ------------------------------------------------
    "q24_cosine_topk" -> q("""
      WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
           s AS (SELECT /*+ BROADCAST(q) */ qid, e.vec_id AS nid, vec_cosine(qv, e.embedding) AS c
                 FROM q CROSS JOIN embeddings e WHERE e.vec_id != qid)
      SELECT qid, nid, rnk
      FROM (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rnk FROM s)
      WHERE rnk <= 3 ORDER BY qid, rnk"""),
    "q29_embed_neardup" -> q("""
      SELECT a.vec_id AS ida, b.vec_id AS idb
      FROM embeddings a JOIN embeddings b
        ON a.vec_id < b.vec_id AND a.vec_id < 200 AND b.vec_id < 200
      WHERE vec_cosine(a.embedding, b.embedding) > 0.30
      ORDER BY ida, idb"""),
    "q25_token_bpe" -> q("""
      SELECT doc_id, size(regexp_extract_all(text, '\\w+|[^\\w\\s]', 0)) AS nbpe
      FROM documents ORDER BY doc_id"""),
    // ---- oracle-able invariant reformulations -------------------------
    // the lang_id heuristic (CJK scan + stopword argmax with first-wins
    // ties) is replicated exactly in the DuckDB oracle, so the prediction
    // itself is hash-checked, not just executed
    "q26_langid" -> q("""
      SELECT doc_id, lang_id(text) AS pred, lang FROM documents ORDER BY doc_id"""),
    // fingerprint/simhash are custom 64-bit hashes DuckDB can't recompute;
    // what it CAN check: the normalization contract (case + whitespace-run
    // invariance), self-distance zero, and that fingerprints distinguish
    // exactly the distinct texts — all emitted as per-row booleans
    "q27_fingerprint_simhash" -> q("""
      SELECT d.doc_id,
             text_fingerprint(d.text) = text_fingerprint(upper(replace(d.text, ' ', '  '))) AS fp_norm_ok,
             simhash64(d.text) = simhash64(replace(d.text, ' ', '  ')) AS sh_ws_ok,
             hamming64(simhash64(d.text), simhash64(d.text)) = 0 AS sh_self_ok,
             s.nfp = s.ntxt AS fp_distinct_ok
      FROM documents d CROSS JOIN
           (SELECT count(DISTINCT text_fingerprint(text)) AS nfp,
                   count(DISTINCT text) AS ntxt FROM documents) s
      ORDER BY d.doc_id"""),
    // end-to-end LSH near-dup pipeline with a deterministic guarantee:
    // 64 bands of 1 hash + minBandHits=4 make a planted pair's (J>=0.8,
    // ~51 expected band hits) candidate-miss probability < 1e-30 while
    // background pairs (J~0.01, ~0.7 expected hits) die in the map-side
    // combine; the corpus's similarity gap (nothing in [0.2, 0.5]) makes
    // the surviving pairs equal the exact 3-token-shingle-Jaccard>=0.35
    // pairs DuckDB computes
    "q28_minhash_lsh" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.Dedup
        .minhashNearDups(spark.table("documents"), "doc_id", "text",
          threshold = 0.35, numHashes = 64, bands = 64, refineOnShingles = true,
          minBandHits = 4)
        .select("ida", "idb", "inter", "uni")
        .orderBy("ida", "idb")
    }),
    // incremental dedup against a PERSISTED LSH index (the daily-crawl
    // contract): hash 80% of the corpus once into a band-partitioned
    // bucket table, then find every near-dup pair TOUCHING the
    // remaining 20% by broadcasting the batch's bucket rows against the
    // index — no history rehash, no index shuffle — and exact-shingle
    // refining the candidates. Same signature law and thresholds as
    // q28, so the oracle is q28's exact-Jaccard replay restricted to
    // batch-touching pairs. Index write is the eager fixture; the
    // returned frame is the lazy probe+refine plan (audited).
    "q170_lsh_index_dedup" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val docs = spark.table("documents")
      val hist = docs.where(col("doc_id") % 5 =!= 4)
      val batch = docs.where(col("doc_id") % 5 === 4)
      val idxDir = scratchDir("graft_lsh_")
      graft.operators.Dedup.writeLshIndex(hist, "doc_id", "text", idxDir,
        numHashes = 64, bands = 64)
      graft.operators.Dedup.nearDupsAgainstLshIndex(spark, idxDir, batch,
          "doc_id", "text", corpus = docs, threshold = 0.35, minBandHits = 4)
        .select("ida", "idb", "inter", "uni")
        .orderBy("ida", "idb")
    }),
    // q170's history arrives as build + append (shards per band), then
    // COMPACT merges each band to one file; the same batch probe must
    // return the identical refined near-dup set (bucket rows are facts,
    // the compactor only rewrites their layout) — same q170 oracle
    "q206_lsh_compact" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val docs = spark.table("documents")
      val batch = docs.where(col("doc_id") % 5 === 4)
      val idxDir = scratchDir("graft_lsh_cpt_")
      graft.operators.Dedup.writeLshIndex(
        docs.where(col("doc_id") % 5 <= 2), "doc_id", "text", idxDir,
        numHashes = 64, bands = 64)
      graft.operators.Dedup.appendToLshIndex(spark, idxDir,
        docs.where(col("doc_id") % 5 === 3), "doc_id", "text")
      graft.operators.Dedup.compactLshIndex(spark, idxDir)
      graft.operators.Dedup.nearDupsAgainstLshIndex(spark, idxDir, batch,
          "doc_id", "text", corpus = docs, threshold = 0.35, minBandHits = 4)
        .select("ida", "idb", "inter", "uni")
        .orderBy("ida", "idb")
    }),
    // recall vs the (exact, q24-oracled) brute force as a calibrated
    // boolean: nPlanes=4 → 16 buckets, margin-aware multi-probe of 8 ≈
    // half the corpus; measured recall 0.60/0.67/0.87 at sf0.1/0.01/0.001
    // (embeddings are near-random, so this is the honest LSH ceiling).
    // Deterministic: seeded planes, fixed data.
    "q31_ann_lsh_recall" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val emb = spark.table("embeddings")
      val queries = emb.where(col("vec_id") < 5)
      val approx = graft.operators.Ann.lshTopK(queries, emb, 3, nPlanes = 4, nProbe = 7)
      val exact = graft.operators.Ann.bruteForceTopK(queries, emb, 3)
      val hit = approx.join(exact, Seq("qid", "nid"))
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_exact"),
          (col("n_hit") >= col("n_exact") * 0.5).as("recall_ok"))
    }),
    // two envelopes: A = (px,py, px+10,py+10); B shifted +5 in x and y →
    // rectangle algebra gives exact union/intersection areas
    "q39_union_intersection" -> q(s"""
      SELECT $KEYS,
             ST_Area(ST_Union(
               ST_MakeEnvelope($OX, $OY, $OX + 10.0, $OY + 10.0),
               ST_MakeEnvelope($OX + 5.0, $OY + 5.0, $OX + 15.0, $OY + 15.0))) AS uarea,
             ST_Area(ST_Intersection(
               ST_MakeEnvelope($OX, $OY, $OX + 10.0, $OY + 10.0),
               ST_MakeEnvelope($OX + 5.0, $OY + 5.0, $OX + 15.0, $OY + 15.0))) AS iarea
      FROM lineitem ORDER BY $KEYS"""),
    "q37_contains_within" -> q(s"""
      SELECT $KEYS,
             ST_Contains(ST_MakeEnvelope(0.0, 0.0, 50.0, 30.0), $PT) AS env_contains,
             ST_Within($PT, ST_MakeEnvelope(0.0, 0.0, 50.0, 30.0)) AS pt_within,
             ST_DWithin($PT, ST_GeomFromText('POINT(' || $PX || ' 0)'), 15.0) AS near_axis
      FROM lineitem ORDER BY $KEYS"""),
    "q38_centroid_envelope" -> q(s"""
      SELECT $KEYS,
             round(ST_X(ST_Centroid(ST_MakeEnvelope($OX, $OY, $OX + 10.0, $OY + 20.0))), 6) AS cx,
             round(ST_Y(ST_Centroid(ST_MakeEnvelope($OX, $OY, $OX + 10.0, $OY + 20.0))), 6) AS cy,
             ST_GeometryType(ST_Envelope(ST_GeomFromText(
               'LINESTRING(' || $PX || ' ' || $PY || ',' ||
               CAST(l_orderkey % 100 + 10 AS STRING) || ' ' ||
               CAST(l_linenumber * 10 + 10 AS STRING) || ')'))) AS etype
      FROM lineitem ORDER BY $KEYS"""),
    "q36_distance" -> q(s"""
      SELECT $KEYS,
             ST_Distance($PT, ST_GeomFromText('POINT(' || $PX || ' 0)')) AS dy,
             ST_Distance($PT, $PT) AS dzero
      FROM lineitem ORDER BY $KEYS"""),
    // IVF recall vs brute force, same calibrated-boolean shape as q31:
    // nlist=8, nProbe=4 probes ~half the lists; measured recall
    // 0.93/0.87/0.73 at sf0.1/0.01/0.001. Deterministic: seeded training
    // sample + init, fixed data.
    "q35_ann_ivf" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val emb = spark.table("embeddings")
      val queries = emb.where(col("vec_id") < 5)
      val approx = graft.operators.Ann.ivfTopK(queries, emb, k = 3, nlist = 8, nProbe = 4)
      val exact = graft.operators.Ann.bruteForceTopK(queries, emb, 3)
      val hit = approx.join(exact, Seq("qid", "nid"))
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_exact"),
          (col("n_hit") >= col("n_exact") * 0.6).as("recall_ok"))
    }),
    // IVF index PERSISTED round trip: build, write partitioned by
    // inverted list, read back, search — disk must reproduce the
    // in-memory result row-for-row (n_match == n_mem == 15). The prune
    // check is BEHAVIORAL: every parquet file in a list= partition the
    // single-query search does NOT probe is overwritten with garbage;
    // ivfSearch's static probed-list partition filter must keep the scan
    // out of that directory entirely, so the search still succeeds —
    // if the scan listed or read the unprobed partition it would throw.
    "q125_ann_ivf_persisted" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val emb = spark.table("embeddings")
      val queries = emb.where(col("vec_id") < 5)
      val built = graft.operators.Ann.buildIvf(emb, nlist = 8)
      val idxDir = scratchDir("graft_ivf_")
      graft.operators.Ann.writeIvfIndex(built, idxDir)
      val loaded = graft.operators.Ann.readIvfIndex(spark, idxDir)
      val mem = graft.operators.Ann.ivfSearch(built, queries, k = 3, nProbe = 4)
      val disk = graft.operators.Ann.ivfSearch(loaded, queries, k = 3, nProbe = 4)
      // materialize BEFORE corrupting the unprobed partition below
      val nMem = mem.count()
      val nMatch = mem.join(disk, Seq("qid", "nid", "rnk")).count()
      val q1 = emb.where(col("vec_id") < 1)
      val probed = graft.operators.Ann.probedLists(loaded, q1, nProbe = 2).toSet
      val unprobed = (0 until 8).filterNot(probed.contains)
      val pruneOk = unprobed.nonEmpty && {
        val dataDir = graft.util.FsIO.indexDataDir(spark, idxDir)
        unprobed.foreach { bad =>
          val d = new java.io.File(s"$dataDir/list=$bad")
          Option(d.listFiles()).getOrElse(Array.empty)
            .filter(_.getName.endsWith(".parquet"))
            .foreach(f => java.nio.file.Files.write(f.toPath,
              "not a parquet file".getBytes))
        }
        try graft.operators.Ann.ivfSearch(loaded, q1, k = 3, nProbe = 2)
          .count() == 3L
        catch { case _: Throwable => false }
      }
      import spark.implicits._
      Seq((nMem, nMatch, pruneOk)).toDF("n_mem", "n_match", "prune_ok")
    }),
    // incremental IVF append: index 80% of the corpus, append the rest
    // into the persisted list partitions with frozen centroids, and the
    // appended index's search must equal a one-shot frozen-centroid
    // index over the union — at FULL probe (exact within the index) AND
    // at partial probe (identical assignment law => identical lists).
    // drift_ok runs the rebuild-signal recall guard on the appended
    // index (nProbe 2 of 8 over in-distribution data stays >= 0.5).
    // Build/write/append are the eager fixture; the RETURNED frame is
    // the lazy gate plan over the persisted reads, so PlanAuditSpec
    // audits the pruned searches (1-row agg crossJoins are pinned BNLJ)
    "q167_ivf_append" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val emb = spark.table("embeddings")
      val base = emb.where(col("vec_id") % 5 =!= 4)
      val extra = emb.where(col("vec_id") % 5 === 4)
      val queries = emb.where(col("vec_id") < 5)
      val built = graft.operators.Ann.buildIvf(base, nlist = 8)
      val idxDir = scratchDir("graft_ivf_app_")
      graft.operators.Ann.writeIvfIndex(built, idxDir)
      graft.operators.Ann.appendToIvfIndex(spark, idxDir, extra)
      val loaded = graft.operators.Ann.readIvfIndex(spark, idxDir)
      val ref = graft.operators.Ann.assignToCentroids(built.centroids, emb)
      def search(ix: graft.operators.Ann.IvfIndex, nProbe: Int) =
        graft.operators.Ann.ivfSearch(ix, queries, k = 3, nProbe = nProbe)
      val full = search(loaded, 8).join(search(ref, 8), Seq("qid", "nid", "rnk"))
        .agg(count(lit(1)).as("n_match_full"))
      val part = search(loaded, 2).join(search(ref, 2), Seq("qid", "nid", "rnk"))
        .agg(count(lit(1)).as("n_match_partial"))
      val drift = graft.operators.Ann.ivfRecallFrame(loaded, queries, k = 3, nProbe = 2)
      full.crossJoin(part).crossJoin(drift)
        .select(col("n_match_full"), col("n_match_partial"),
          (col("recall") >= 0.5).as("drift_ok"))
    }),
    // STREAMING IVF maintenance: q167's append batch arrives as two
    // micro-batches through foreachBatch, batch 0 deliberately replayed
    // (a retry) — appended rows are facts keyed by nid and the search
    // dedups (qid, nid), so the q167 gate (full/partial probe ≡
    // frozen-centroid rebuild + drift bound) must still hold verbatim
    "q226_stream_ivf_index" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.streaming.Trigger
      val emb = spark.table("embeddings")
      val base = emb.where(col("vec_id") % 5 =!= 4)
      val extra = emb.where(col("vec_id") % 5 === 4)
      val queries = emb.where(col("vec_id") < 5)
      val built = graft.operators.Ann.buildIvf(base, nlist = 8)
      val work = scratchDir("graft-q226-")
      val idxDir = s"$work/idx"
      graft.operators.Ann.writeIvfIndex(built, idxDir)
      val inDir = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(work, "in"))
      def stage(cond: org.apache.spark.sql.Column, name: String,
          mtime: Long): Unit = {
        val tmp = s"$work/stage_$name"
        extra.where(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
        val dst = inDir.resolve(name)
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      stage(col("vec_id") % 2 === 0, "a.parquet", 1000000L)
      stage(col("vec_id") % 2 === 1, "b.parquet", 2000000L)
      val q = spark.readStream.schema(extra.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ck")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.streaming.StreamOps.ivfAppendBatch(idxDir, batch)
          if (id == 0) // retry: duplicate fact rows the search dedups
            graft.streaming.StreamOps.ivfAppendBatch(idxDir, batch)
        }
        .start()
      q.awaitTermination()
      val loaded = graft.operators.Ann.readIvfIndex(spark, idxDir)
      val ref = graft.operators.Ann.assignToCentroids(built.centroids, emb)
      def search(ix: graft.operators.Ann.IvfIndex, nProbe: Int) =
        graft.operators.Ann.ivfSearch(ix, queries, k = 3, nProbe = nProbe)
      val full = search(loaded, 8).join(search(ref, 8), Seq("qid", "nid", "rnk"))
        .agg(count(lit(1)).as("n_match_full"))
      val part = search(loaded, 2).join(search(ref, 2), Seq("qid", "nid", "rnk"))
        .agg(count(lit(1)).as("n_match_partial"))
      val drift = graft.operators.Ann.ivfRecallFrame(loaded, queries, k = 3, nProbe = 2)
      full.crossJoin(part).crossJoin(drift)
        .select(col("n_match_full"), col("n_match_partial"),
          (col("recall") >= 0.5).as("drift_ok"))
    }),
    // STREAMING LSH maintenance: q170's history tail arrives as two
    // micro-batches through foreachBatch, batch 0 deliberately replayed
    // — bucket rows are facts and the probe's countDistinct(band) +
    // pair-distinct ignore duplicates, so the q170 probe oracle holds
    "q227_stream_lsh_index" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.streaming.Trigger
      val docs = spark.table("documents")
      val histHead = docs.where(col("doc_id") % 5 <= 2)
      val histTail = docs.where(col("doc_id") % 5 === 3)
      val batch = docs.where(col("doc_id") % 5 === 4)
      val work = scratchDir("graft-q227-")
      val idxDir = s"$work/idx"
      graft.operators.Dedup.writeLshIndex(histHead, "doc_id", "text", idxDir,
        numHashes = 64, bands = 64)
      val inDir = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(work, "in"))
      def stage(cond: org.apache.spark.sql.Column, name: String,
          mtime: Long): Unit = {
        val tmp = s"$work/stage_$name"
        histTail.where(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
        val dst = inDir.resolve(name)
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      stage(col("doc_id") % 2 === 0, "a.parquet", 1000000L)
      stage(col("doc_id") % 2 === 1, "b.parquet", 2000000L)
      val q = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ck")
        .foreachBatch { (b: DataFrame, id: Long) =>
          graft.streaming.StreamOps.lshAppendBatch(idxDir, b, "doc_id", "text")
          if (id == 0) // retry: duplicate bucket rows the probe ignores
            graft.streaming.StreamOps.lshAppendBatch(idxDir, b, "doc_id", "text")
        }
        .start()
      q.awaitTermination()
      graft.operators.Dedup.nearDupsAgainstLshIndex(spark, idxDir, batch,
          "doc_id", "text", corpus = docs, threshold = 0.35, minBandHits = 4)
        .select("ida", "idb", "inter", "uni")
        .orderBy("ida", "idb")
    }),
    // q167 with a COMPACT step after the append: folding every inverted
    // list to one file must leave full- and partial-probe search
    // identical to the frozen-centroid rebuild (rows are facts — the
    // compactor only merges shards), so the same 15/15/true gate holds
    "q205_ivf_compact" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val emb = spark.table("embeddings")
      val base = emb.where(col("vec_id") % 5 =!= 4)
      val extra = emb.where(col("vec_id") % 5 === 4)
      val queries = emb.where(col("vec_id") < 5)
      val built = graft.operators.Ann.buildIvf(base, nlist = 8)
      val idxDir = scratchDir("graft_ivf_cpt_")
      graft.operators.Ann.writeIvfIndex(built, idxDir)
      graft.operators.Ann.appendToIvfIndex(spark, idxDir, extra)
      graft.operators.Ann.compactIvfIndex(spark, idxDir)
      val loaded = graft.operators.Ann.readIvfIndex(spark, idxDir)
      val ref = graft.operators.Ann.assignToCentroids(built.centroids, emb)
      def search(ix: graft.operators.Ann.IvfIndex, nProbe: Int) =
        graft.operators.Ann.ivfSearch(ix, queries, k = 3, nProbe = nProbe)
      val full = search(loaded, 8).join(search(ref, 8), Seq("qid", "nid", "rnk"))
        .agg(count(lit(1)).as("n_match_full"))
      val part = search(loaded, 2).join(search(ref, 2), Seq("qid", "nid", "rnk"))
        .agg(count(lit(1)).as("n_match_partial"))
      val drift = graft.operators.Ann.ivfRecallFrame(loaded, queries, k = 3, nProbe = 2)
      full.crossJoin(part).crossJoin(drift)
        .select(col("n_match_full"), col("n_match_partial"),
          (col("recall") >= 0.5).as("drift_ok"))
    }),
    // q167's IVF-PQ twin: append 20% of the corpus into a persisted
    // BY-RESIDUAL PQ index under frozen centroids + codebook; the
    // appended index's quantized-order, reranked, and partial-probe
    // searches must all equal a one-shot frozen encode of the union
    // (assignment AND encoding are pure per-row under frozen state).
    // Fixture work is eager; the returned gate frame is the lazy
    // ADC-search comparison plan (audited; 1-row crossJoins pinned).
    "q173_ivfpq_append" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val emb = spark.table("embeddings")
      val base = emb.where(col("vec_id") % 5 =!= 4)
      val extra = emb.where(col("vec_id") % 5 === 4)
      val queries = emb.where(col("vec_id") < 5)
      val built = graft.operators.Ann.buildIvfPq(base, nlist = 8, m = 16,
        ksub = 64, byResidual = true)
      val idxDir = scratchDir("graft_ivfpq_app_")
      graft.operators.Ann.writeIvfPqIndex(built, idxDir)
      graft.operators.Ann.appendToIvfPqIndex(spark, idxDir, extra)
      val loaded = graft.operators.Ann.readIvfPqIndex(spark, idxDir)
      val ref = graft.operators.Ann.encodeToIvfPq(built, emb)
      def q(ix: graft.operators.Ann.IvfPqIndex, nProbe: Int, rr: Int) =
        graft.operators.Ann.ivfSearchPq(ix, queries, k = 3, nProbe = nProbe,
          rerank = rr, corpus = if (rr > 0) Some(emb) else None)
      q(loaded, 8, 0).join(q(ref, 8, 0), Seq("qid", "nid", "rnk"))
        .agg(count(lit(1)).as("n_match_q"))
        .crossJoin(q(loaded, 8, 10).join(q(ref, 8, 10), Seq("qid", "nid", "rnk"))
          .agg(count(lit(1)).as("n_match_rr")))
        .crossJoin(q(loaded, 2, 0).join(q(ref, 2, 0), Seq("qid", "nid", "rnk"))
          .agg(count(lit(1)).as("n_match_part")))
    }),
    // IVF-SQ8: same fixture as q35 but the inverted lists store int8
    // codes + scale (4x fewer list-scan bytes). recall_ok uses q35's
    // threshold; rerank_ge pins the two-stage theorem — exact float
    // re-ranking of the same candidate pool can only improve recall
    // over the quantized order (hits(rerank) ⊇ hits(quantized), both
    // selections drawn from the same probed candidates).
    "q126_ann_ivf_quantized" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val emb = spark.table("embeddings")
      val queries = emb.where(col("vec_id") < 5)
      val idx = graft.operators.Ann.buildIvfQ(emb, nlist = 8)
      val exact = graft.operators.Ann.bruteForceTopK(queries, emb, 3)
      val approxQ = graft.operators.Ann.ivfSearchQ(idx, queries, k = 3, nProbe = 4)
      val approxRR = graft.operators.Ann.ivfSearchQ(idx, queries, k = 3, nProbe = 4,
        rerank = 10, corpus = Some(emb))
      // lazy gate frame (audited plan); `DIV` keeps the original Long
      // truncating-division threshold law
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(approxQ.join(exact, Seq("qid", "nid"))
          .agg(count(lit(1)).as("__nq")))
        .crossJoin(approxRR.join(exact, Seq("qid", "nid"))
          .agg(count(lit(1)).as("__nrr")))
        .select(col("n_exact"),
          (col("__nq") >= expr("n_exact * 6 DIV 10")).as("recall_ok"),
          (col("__nrr") >= col("__nq")).as("rerank_ge"))
    }),
    // IVF-PQ (product-quantized inverted lists, m=16 x ksub=64 → 16
    // bytes/vector vs 256 float / 64 SQ8): quantized-order recall gated
    // at 0.4 (the near-random synthetic embeddings are PQ's hardest
    // case; measured 9/15 at sf0.01, deterministic via the content-keyed
    // training sample), and the production two-stage shape — ADC
    // candidates + 10-wide float rerank — must not lose hits vs the
    // quantized order (same candidate pool, exact re-scoring).
    // full_ok pins the algebra end-to-end at this sf: full probing +
    // full rerank must reproduce brute force row-for-row.
    "q129_ann_ivfpq" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val emb = spark.table("embeddings")
      val queries = emb.where(col("vec_id") < 5)
      val idx = graft.operators.Ann.buildIvfPq(emb, nlist = 8, m = 16, ksub = 64)
      val exact = graft.operators.Ann.bruteForceTopK(queries, emb, 3)
      val pq = graft.operators.Ann.ivfSearchPq(idx, queries, k = 3, nProbe = 8)
      val pqRR = graft.operators.Ann.ivfSearchPq(idx, queries, k = 3, nProbe = 8,
        rerank = 10, corpus = Some(emb))
      val full = graft.operators.Ann.ivfSearchPq(idx, queries, k = 3, nProbe = 8,
        rerank = emb.count().toInt, corpus = Some(emb))
      // lazy gate frame (audited ADC + rerank plans); `DIV` = the
      // original Long truncating division
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(pq.join(exact, Seq("qid", "nid"))
          .agg(count(lit(1)).as("__npq")))
        .crossJoin(pqRR.join(exact, Seq("qid", "nid"))
          .agg(count(lit(1)).as("__nrr")))
        .crossJoin(full.join(exact, Seq("qid", "nid", "rnk"))
          .agg(count(lit(1)).as("__nf")))
        .select(col("n_exact"),
          (col("__npq") >= expr("n_exact * 4 DIV 10")).as("recall_ok"),
          (col("__nrr") >= col("__npq")).as("rerank_ge"),
          (col("__nf") === col("n_exact")).as("full_ok"))
    }),
    // Real MJPEG frame extraction, hash-oracled end-to-end: each of 20
    // rows synthesizes (DISTRIBUTED, in its task) a Motion-JPEG blob of
    // 3 + doc_id%4 real ImageIO-encoded JPEG frames with known
    // dimensions; sampleFramesMjpeg must find every SOI..EOI span,
    // stride-sample them, and ImageIO-decode the sampled frames back to
    // the exact (width, height) the encoder was given. The oracle
    // recomputes the expected (doc, frame, w, h) grid arithmetically —
    // frame BYTES are encoder-version-dependent and stay out of the
    // compare; byte-exactness is spec-pinned (MediaStreamSpec).
    "q130_mjpeg_frames" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val blobs = spark.table("documents").where(col("doc_id") < 20)
        .select("doc_id").as[Long].map { id =>
          val nf = 3 + (id % 4).toInt
          val bytes = (0 until nf).map { f =>
            val img = new java.awt.image.BufferedImage(16 + id.toInt + f, 24,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = img.createGraphics()
            try { g.setColor(new java.awt.Color((40 * f + id.toInt) % 255, 80, 120))
                  g.fillRect(0, 0, 16 + id.toInt + f, 24) }
            finally g.dispose()
            val buf = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "jpg", buf)
            buf.toByteArray
          }.reduce(_ ++ _)
          (id, bytes)
        }.toDF("doc_id", "bytes")
      graft.multimodal.Media.sampleFramesMjpeg(
          graft.multimodal.Media.withMetadata(blobs, "doc_id", "bytes"), stride = 2)
        .select(col("mediaId").as("doc_id"), col("frameIdx").as("frame_idx"),
          col("width"), col("height"), col("realDecode").as("real_decode"))
        .orderBy("doc_id", "frame_idx")
    }),
    // GeoParquet 1.0 interop: export lineitem points as GeoParquet
    // (raw-WKB column + per-file `geo` footer metadata a foreign reader
    // consumes), read the files back THROUGH the interop reader, and
    // hash-compare the re-tagged geometries + SRID against the oracle's
    // direct recomputation — the round trip through the interchange
    // format must be lossless. (Pruning + foreign-degradation behavior
    // is spec-pinned in GeoParquetSpec; the bbox check here keeps the
    // footer metadata itself oracled: the global envelope of the
    // per-file bboxes must equal the exact coordinate extent.)
    "q128_geoparquet_roundtrip" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val pts = spark.sql(s"SELECT $KEYS, $PT AS geom FROM lineitem")
      val out = scratchDir("graft_gpq_")
      graft.sources.GeoParquet.write(pts, out, "geom")
      val metas = graft.sources.GeoParquet.fileMeta(spark, out)
        .flatMap(_._2).flatMap(_.bbox)
      val env = (metas.map(_._1).min, metas.map(_._2).min,
        metas.map(_._3).max, metas.map(_._4).max)
      graft.sources.GeoParquet.read(spark, out)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("ST_AsText(geom)").as("wkt"),
          expr("ST_SRID(geom)").as("srid"),
          lit(env._1).as("bb_xmin"), lit(env._2).as("bb_ymin"),
          lit(env._3).as("bb_xmax"), lit(env._4).as("bb_ymax"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // GeoParquet 1.1 covering path, hash-oracled: lineitem points →
    // writeCovered (per-row bbox struct + covering metadata + spatial
    // clustering, a repartitionByRange shuffle) → readCoveredIntersecting
    // (file footer prune → pushed bbox row-group filters → exact
    // ST_Intersects). The oracle recomputes the envelope filter
    // arithmetically on the synthesized integer coordinates — every
    // layer of pruning must return EXACTLY the envelope's rows. The
    // row-group-skip behavior itself is metric-asserted in
    // GeoParquetSpec; this row pins end-to-end result correctness.
    "q132_geoparquet_covering" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val pts = spark.sql(s"SELECT $KEYS, $PT AS geom FROM lineitem")
      val out = scratchDir("graft_gpqcov_")
      graft.sources.GeoParquet.writeCovered(pts, out, "geom")
      graft.sources.GeoParquet.readCoveredIntersecting(spark, out, 10, 10, 40, 30)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("ST_AsText(geom)").as("wkt"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // UTM ST_Transform (EPSG 326zz/327zz, Krüger-series transverse
    // Mercator). DuckDB here has no spatial extension, so the oracle is
    // the constant all-true row and the CHECKS live on the Spark side:
    //  - rt_ok: 4326 → 32633 → 4326 reproduces every synthesized in-zone
    //    point to 1e-9 degrees (the Newton τ-inverse is double-exact);
    //  - range_ok: eastings/northings land in the zone's plausible band;
    //  - known_ok: six fixed points (Berlin/NYC/Sydney/equator-CM/63N/
    //    37S) match an INDEPENDENT Snyder-formula implementation
    //    (meridian-arc + T/C/A expansion, tools/utm_snyder.py) to 2 mm —
    //    two different published series agreeing pins the projection,
    //    not just its self-consistency.
    "q127_transform_utm" -> q("""
      WITH p AS (
        SELECT 12.0 + (l_orderkey % 100) * 0.06 AS lon,
               10.0 + (l_linenumber % 6) * 10.0 AS lat
        FROM lineitem),
      t AS (
        SELECT lon, lat, ST_Transform(ST_Point(lon, lat, 4326), 32633) AS g
        FROM p),
      b AS (
        SELECT lon, lat, ST_X(g) AS e, ST_Y(g) AS n,
               ST_Transform(g, 4326) AS back
        FROM t),
      k AS (
        SELECT bool_and(
                 abs(ST_X(ST_Transform(ST_Point(klon, klat, 4326), epsg)) - ke) < 2e-3 AND
                 abs(ST_Y(ST_Transform(ST_Point(klon, klat, 4326), epsg)) - kn) < 2e-3) AS known_ok
        FROM VALUES
          (52.52D,    13.405D,   32633, 391779.2593D, 5820072.1597D),
          (40.7128D,  -74.006D,  32618, 583959.3723D, 4507350.9984D),
          (-33.8688D, 151.2093D, 32756, 334368.6336D, 6250948.3453D),
          (0.0D,      9.0D,      32632, 500000.0D,    0.0D),
          (63.0D,     9.75D,     32632, 537988.7788D, 6985810.7567D),
          (-0.0005D,  36.5D,     32737, 221723.6832D, 9999944.6820D)
          AS kp(klat, klon, epsg, ke, kn))
      SELECT bool_and(abs(ST_X(back) - lon) < 1e-9 AND
                      abs(ST_Y(back) - lat) < 1e-9) AS rt_ok,
             bool_and(e > 100000 AND e < 900000 AND
                      n > 1000000 AND n < 8000000) AS range_ok,
             first(k.known_ok) AS known_ok
      FROM b CROSS JOIN k"""),
    // conic ST_Transform (LCC 2SP + Albers, the "state plane" surface):
    // same structure as q127 — in-domain synthesized points round-trip
    // 4326 → 2154 → 4326 to 1e-9 degrees, and five fixed points across
    // four registry CRSs (Lambert-93, LCC Europe, NY Long Island, CA
    // zone 5 ftUS, Conus Albers) match the INDEPENDENT Snyder-formula
    // implementation (tools/conic_snyder.py) to 1e-4 CRS units. pivot_ok
    // pins conic→conic through the geographic pivot against the direct
    // projection of the same ground point.
    "q131_transform_conic" -> q("""
      WITH p AS (
        SELECT -4.0 + (l_orderkey % 100) * 0.12 AS lon,
               42.0 + (l_linenumber % 6) * 1.4 AS lat
        FROM lineitem),
      b AS (
        SELECT lon, lat,
               ST_Transform(ST_Transform(ST_Point(lon, lat, 4326), 2154), 4326) AS back
        FROM p),
      k AS (
        SELECT bool_and(
                 abs(ST_X(ST_Transform(ST_Point(klon, klat, 4326), epsg)) - ke) < 1e-4 AND
                 abs(ST_Y(ST_Transform(ST_Point(klon, klat, 4326), epsg)) - kn) < 1e-4) AS known_ok
        FROM VALUES
          (48.8566D, 2.3522D,    2154,  652469.0227D,  6862035.2594D),
          (52.52D,   13.405D,    3034,  4223201.6809D, 2861033.3995D),
          (40.7128D, -74.006D,   32118, 299493.0052D,  60645.8178D),
          (34.0522D, -118.2437D, 2229,  6487847.0026D, 1841468.2514D),
          (39.7392D, -104.9903D, 5070,  -762409.0478D, 1893843.5996D)
          AS kp(klat, klon, epsg, ke, kn)),
      pv AS (
        SELECT abs(ST_X(ST_Transform(ST_Transform(ST_Point(-74.006D, 40.7128D, 4326), 32118), 5070)) -
                   ST_X(ST_Transform(ST_Point(-74.006D, 40.7128D, 4326), 5070))) < 1e-6 AS pivot_ok)
      SELECT bool_and(abs(ST_X(back) - lon) < 1e-9 AND
                      abs(ST_Y(back) - lat) < 1e-9) AS rt_ok,
             first(k.known_ok) AS known_ok,
             first(pv.pivot_ok) AS pivot_ok
      FROM b CROSS JOIN k CROSS JOIN pv"""),
    // national-grid ST_Transform (the non-WGS84-datum tier: Helmert
    // 7-parameter shifts through geocentric coordinates + generalized
    // Krüger TM): same structure as q127/q131 — GB-domain synthesized
    // points round-trip 4326 → 27700 → 4326 to 1e-7 degrees (the Helmert
    // reverse is the exact closed-form operator inverse; the residue is
    // the 2-D height-drop re-projection, ~1 mm), six fixed points across all four
    // registry grids match the INDEPENDENT Snyder-series + Helmert
    // implementation (tools/tm_datum_check.py) to 2 mm, and shift_ok
    // pins the physics: the OSGB36 datum shift moves Greenwich-latitude
    // points ~100 m (projection-only inverse vs datum-aware inverse of
    // the same grid point differ by 50-300 m equivalent).
    "q134_transform_national" -> q("""
      WITH p AS (
        SELECT -5.5 + (l_orderkey % 100) * 0.065 AS lon,
               50.2 + (l_linenumber % 6) * 1.4 AS lat
        FROM lineitem),
      b AS (
        SELECT lon, lat,
               ST_Transform(ST_Transform(ST_Point(lon, lat, 4326), 27700), 4326) AS back
        FROM p),
      k AS (
        SELECT bool_and(
                 abs(ST_X(ST_Transform(ST_Point(klon, klat, 4326), epsg)) - ke) < 2e-3 AND
                 abs(ST_Y(ST_Transform(ST_Point(klon, klat, 4326), epsg)) - kn) < 2e-3) AS known_ok
        FROM VALUES
          (51.5074D,  -0.1278D,  27700, 530028.7499D, 180380.0945D),
          (55.9533D,  -3.1883D,  27700, 325897.2215D, 674001.2022D),
          (51.4816D,  -3.1791D,  27700, 318217.9972D, 176508.9206D),
          (53.34979D, -6.26031D, 29902, 315899.9231D, 234670.2299D),
          (53.34979D, -6.26031D, 2157,  715825.8680D, 734696.4638D),
          (41.3874D,  2.1686D,   23031, 430579.2760D, 4582297.2299D)
          AS kp(klat, klon, epsg, ke, kn)),
      sh AS (
        -- ED50 UTM31N vs WGS84 UTM31N of the same ground point: the
        -- ~(-87,-96,-120) m geocentric shift must appear as a 100-300 m
        -- planar offset (datum shift is real, not a no-op)
        SELECT sqrt(pow(ST_X(ST_Transform(ST_Point(2.1686D, 41.3874D, 4326), 23031)) -
                        ST_X(ST_Transform(ST_Point(2.1686D, 41.3874D, 4326), 32631)), 2) +
                    pow(ST_Y(ST_Transform(ST_Point(2.1686D, 41.3874D, 4326), 23031)) -
                        ST_Y(ST_Transform(ST_Point(2.1686D, 41.3874D, 4326), 32631)), 2))
               BETWEEN 100 AND 300 AS shift_ok)
      SELECT bool_and(abs(ST_X(back) - lon) < 1e-7 AND
                      abs(ST_Y(back) - lat) < 1e-7) AS rt_ok,
             first(k.known_ok) AS known_ok,
             first(sh.shift_ok) AS shift_ok
      FROM b CROSS JOIN k CROSS JOIN sh"""),
    // azimuthal ST_Transform tier (EPSG 9809 double stereographic /
    // 28992 Amersfoort RD New on Bessel 1841 + its Helmert, EPSG 9820
    // LAEA / 3035 Europe): same structure as q131/q134 — NL-domain
    // synthesized points round-trip 4326 → 28992 → 4326 to 1e-7 degrees,
    // six fixed points (three datum-aware RD, three LAEA) match the
    // INDEPENDENT transcription (tools/sterea_laea_check.py + the
    // Helmert pipeline) to 2 mm, and shift_ok pins the physics: the
    // Amersfoort datum shift is ~110-130 m planar over the Netherlands
    // (datum-aware vs projection-only placement of the same WGS84
    // point). The projection-only math is additionally anchored to the
    // EPSG GN7-2 worked examples in AzimuthalSpec.
    // Hotine oblique Mercator gate (q140's shape): Swiss-grid round
    // trips at 6dp, WGS84-datum pins from the independent
    // tools/hotine_check.py chain (Bern fundamental point verified to
    // 1 cm), and the CH1903+ datum-shift physics window
    "q163_transform_oblique" -> q("""
      WITH p AS (
        SELECT 6.2 + (l_orderkey % 100) * 0.036 AS lon,
               46.0 + (l_linenumber % 6) * 0.28 AS lat,
               113.5 + (l_orderkey % 100) * 0.05 AS blon,
               3.2 + (l_linenumber % 6) * 0.55 AS blat
        FROM lineitem),
      b AS (
        SELECT lon, lat, blon, blat,
               ST_Transform(ST_Transform(ST_Point(lon, lat, 4326), 2056), 4326) AS back,
               ST_Transform(ST_Transform(ST_Point(blon, blat, 4326), 29873), 4326) AS back2
        FROM p),
      k AS (
        SELECT bool_and(
                 abs(ST_X(ST_Transform(ST_Point(klon, klat, 4326), epsg)) - ke) < 2e-3 AND
                 abs(ST_Y(ST_Transform(ST_Point(klon, klat, 4326), epsg)) - kn) < 2e-3) AS known_ok
        FROM VALUES
          (46.9480D, 7.4474D, 2056, 2600667.4753D, 1199657.3164D),
          (47.3769D, 8.5417D, 2056, 2683303.8937D, 1247925.6279D),
          (46.2044D, 6.1432D, 2056, 2500016.0161D, 1117821.0697D),
          (5.98D,  116.07D, 29873,  707933.6037D,  662333.2432D)
          AS kp(klat, klon, epsg, ke, kn)),
      sh AS (
        -- LV95 of a WGS84 point vs the same numbers projected on the
        -- native datum (no Helmert): the CH1903+ shift must move the
        -- planar position a real distance (50-500 m window)
        SELECT sqrt(pow(ST_X(ST_Transform(ST_Point(7.4474D, 46.9480D, 4326), 2056)) - 2600595.0087D, 2) +
                    pow(ST_Y(ST_Transform(ST_Point(7.4474D, 46.9480D, 4326), 2056)) - 1199510.3194D, 2)) AS d)
      SELECT bool_and(abs(ST_X(back) - lon) < 1e-6 AND abs(ST_Y(back) - lat) < 1e-6 AND
                      abs(ST_X(back2) - blon) < 1e-6 AND abs(ST_Y(back2) - blat) < 1e-6) AS rt_ok,
             (SELECT known_ok FROM k) AS known_ok,
             (SELECT d > 50 AND d < 500 FROM sh) AS shift_ok
      FROM b"""),
    "q140_transform_azimuthal" -> q("""
      WITH p AS (
        SELECT 3.4 + (l_orderkey % 100) * 0.037 AS lon,
               50.8 + (l_linenumber % 6) * 0.45 AS lat
        FROM lineitem),
      b AS (
        SELECT lon, lat,
               ST_Transform(ST_Transform(ST_Point(lon, lat, 4326), 28992), 4326) AS back,
               ST_Transform(ST_Transform(ST_Point(lon, lat, 4326), 3035), 4326) AS back2
        FROM p),
      k AS (
        SELECT bool_and(
                 abs(ST_X(ST_Transform(ST_Point(klon, klat, 4326), epsg)) - ke) < 2e-3 AND
                 abs(ST_Y(ST_Transform(ST_Point(klon, klat, 4326), epsg)) - kn) < 2e-3) AS known_ok
        FROM VALUES
          (52.3731D,  4.8926D,  28992, 121317.7537D,  487362.0911D),
          (52.0907D,  5.1214D,  28992, 136783.7256D,  455860.1399D),
          (53.2194D,  6.5665D,  28992, 233769.7048D,  582065.4171D),
          (48.8566D,  2.3522D,  3035,  3760771.8648D, 2889484.8019D),
          (52.52D,    13.405D,  3035,  4552036.4502D, 3273268.2736D),
          (40.4168D,  -3.7038D, 3035,  3159390.3563D, 2029850.9198D)
          AS kp(klat, klon, epsg, ke, kn)),
      sh AS (
        -- RD of a WGS84 point vs RD of the same numbers read as
        -- Amersfoort-datum geodetic: the Helmert must move the planar
        -- position 80-160 m (the NL datum shift is real, not a no-op);
        -- 3035 vs a WGS84 ETRS89 member (LAEA of the pivot) shows none
        SELECT sqrt(pow(ST_X(ST_Transform(ST_Point(4.8926D, 52.3731D, 4326), 28992)) - 121292.3737D, 2) +
                    pow(ST_Y(ST_Transform(ST_Point(4.8926D, 52.3731D, 4326), 28992)) - 487249.5665D, 2))
               BETWEEN 80 AND 160 AS shift_ok)
      SELECT bool_and(abs(ST_X(back) - lon) < 1e-7 AND
                      abs(ST_Y(back) - lat) < 1e-7 AND
                      abs(ST_X(back2) - lon) < 1e-7 AND
                      abs(ST_Y(back2) - lat) < 1e-7) AS rt_ok,
             first(k.known_ok) AS known_ok,
             first(sh.shift_ok) AS shift_ok
      FROM b CROSS JOIN k CROSS JOIN sh"""),
    // the reference's own criterion benchmark query, on its i-ramp
    // linestring fixture (benches/geo_lib.rs:22, util.rs:29-38): row i →
    // LINESTRING(i i+1, i+2 i+3, i+4 i+5), constant probe POINT(10 11).
    "q33_ref_linestring_intersects" -> q(s"""
      SELECT $KEYS,
             ST_Intersects(ST_GeomFromText(
               'LINESTRING(' || $PX || ' ' || CAST(l_orderkey % 100 + 1 AS STRING) || ',' ||
               CAST(l_orderkey % 100 + 2 AS STRING) || ' ' || CAST(l_orderkey % 100 + 3 AS STRING) || ',' ||
               CAST(l_orderkey % 100 + 4 AS STRING) || ' ' || CAST(l_orderkey % 100 + 5 AS STRING) || ')'),
               ST_GeomFromText('POINT(10 11)')) AS hit
      FROM lineitem ORDER BY $KEYS"""),
    // full profile runs; the oracle-able columns (counts, the replicated
    // lang heuristic, the arithmetic quality formula rounded to 6dp) are
    // hash-checked — the fingerprint column is covered by q27's invariants
    "q34_text_profile" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      graft.operators.TextAnalysis.profile(spark.table("documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"), col("n_bpe"), col("n_chars"),
          col("lang_pred"), round(col("quality"), 6).as("quality"))
        .orderBy("doc_id")
    }),
    "q41_events_json" -> q("""
      SELECT event_id, CAST(get_json_object(props, '$.k') AS INT) AS k
      FROM events ORDER BY event_id"""),
    // k nearest distinct lineitem points for 5 query points. Coordinates
    // are integers, so squared distances are exact integers DuckDB can
    // rank too; ties at any rank have EQUAL d2, making the (qid, rank, d2)
    // sequence deterministic even though the tied point identity isn't.
    "q42_knn_join" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val pts = spark.sql(s"""
        SELECT DISTINCT l_orderkey % 100 AS px, l_linenumber * 10 AS py,
               $PT AS geom
        FROM lineitem""")
      val queries = spark.sql("""
        SELECT id AS qid, ST_GeomFromText('POINT(' || CAST(id * 17 % 100 AS STRING) || ' 33)') AS qgeom
        FROM range(0, 5) t(id)""")
      // the corpus-distributed variant (broadcast queries, per-partition
      // STRtree + global top-k merge) — the shape that survives a 100 TB
      // corpus; distances identical to knnJoin's
      graft.operators.SpatialJoin
        .knnJoinBroadcastQueries(queries, "qgeom", pts, "geom", k = 3)
        .select(col("qid"), col("knn_rank"),
          round(col("knn_distance") * col("knn_distance")).cast("long").as("d2"))
        .orderBy("qid", "knn_rank")
    }),
    // GeoJSON read twin: writer output round-trips through the reader
    // back to the synthesized coordinates; a literal exercises srid +
    // nested-type parsing
    "q46_geojson_roundtrip" -> q(s"""
      SELECT $KEYS,
             ST_AsText(ST_GeomFromGeoJSON(ST_AsGeoJSON($PT))) AS wkt,
             ST_X(ST_GeomFromGeoJSON('{"type": "Point", "coordinates": [3.5,-2.25]}')) AS gx,
             ST_SRID(ST_GeomFromGeoJSON('{"type": "Point", "coordinates": [1,2]}', 4326)) AS gsrid,
             ST_GeometryType(ST_GeomFromGeoJSON(CASE WHEN l_orderkey % 2 = 0
               THEN '{"type": "MultiLineString", "coordinates": [[[0,0],[1,1]],[[2,2],[3,3]]]}'
               ELSE '{"type": "GeometryCollection", "geometries": [{"type": "Point", "coordinates": [1,2]}]}'
               END)) AS gtype
      FROM lineitem ORDER BY $KEYS"""),
    // measure/validity/simplify family (PostGIS-standard extras):
    // length is sqrt of an exact integer sum (bit-identical in DuckDB),
    // hull area of a triangle-with-interior-point is exact rectangle
    // algebra, simplify point-counts and validity flip on row parity
    "q45_length_hull_simplify" -> q(s"""
      SELECT $KEYS,
             ST_Length(ST_GeomFromText('LINESTRING(0 0,' || $PX || ' ' || $PY || ')')) AS len,
             ST_Area(ST_ConvexHull(ST_GeomFromText(
               'MULTIPOINT(' || $PX || ' ' || $PY || ',' ||
               CAST(l_orderkey % 100 + 10 AS STRING) || ' ' || $PY || ',' ||
               $PX || ' ' || CAST(l_linenumber * 10 + 20 AS STRING) || ',' ||
               CAST(l_orderkey % 100 + 2 AS STRING) || ' ' || CAST(l_linenumber * 10 + 2 AS STRING) || ')'))) AS harea,
             ST_NPoints(ST_Simplify(ST_GeomFromText(CASE WHEN l_orderkey % 2 = 0
               THEN 'LINESTRING(0 0,1 0.1,2 0)' ELSE 'LINESTRING(0 0,1 5,2 0)' END), 0.5)) AS snp,
             ST_IsValid(ST_GeomFromText(CASE WHEN l_linenumber % 2 = 0
               THEN 'POLYGON((0 0,2 2,2 0,0 2,0 0))' ELSE 'POLYGON((0 0,1 0,1 1,0 1,0 0))' END)) AS valid,
             ST_Area(ST_MakeValid(ST_GeomFromText(CASE WHEN l_linenumber % 2 = 0
               THEN 'POLYGON((0 0,2 2,2 0,0 2,0 0))' ELSE 'POLYGON((0 0,1 0,1 1,0 1,0 0))' END))) AS varea,
             ST_IsValid(ST_MakeValid(ST_GeomFromText(CASE WHEN l_linenumber % 2 = 0
               THEN 'POLYGON((0 0,2 2,2 0,0 2,0 0))' ELSE 'POLYGON((0 0,1 0,1 1,0 1,0 0))' END))) AS vvalid
      FROM lineitem ORDER BY $KEYS"""),
    // survivor-row dedup: all columns of the lowest-id row per distinct
    // content — the write-back shape of a curation pipeline
    "q47_dedup_keep_rows" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.Dedup
        .exactKeepFirst(spark.table("documents"), "doc_id", "text")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),
    // the EXACT inverted-index counterpart of q28: same threshold, same
    // refine metric, no LSH — the two queries share one oracle, so the
    // approximate and exact pipelines cross-check each other
    "q44_ngram_jaccard" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.Dedup
        .ngramJaccardPairs(spark.table("documents"), "doc_id", "text", threshold = 0.35)
        .select("ida", "idb", "inter", "uni")
        .orderBy("ida", "idb")
    }),
    // LSH banding recall vs exact shingle ground truth (the tuning /
    // drift guard): n_true replays q44's exact pair count in DuckDB;
    // at 64 single-row bands a qualifying pair (J >= 0.35) escapes all
    // 64 minhash collisions with probability <= 0.65^64 ~ 1e-12, so the
    // deterministic measured recall clears the 0.9 gate. NO sf0.1 twin:
    // the exact side is q202's quadratic-by-construction shape on the
    // ~31-token synthetic vocabulary (q44 itself is contract-only too)
    "q230_lsh_recall" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      graft.operators.Dedup.lshRecallFrame(spark.table("documents"),
          "doc_id", "text", threshold = 0.35, numHashes = 64, bands = 64)
        .select(col("n_true"), (col("recall") >= 0.9).as("recall_ok"))
    }),
    // GeoTable round-trip with file-level bbox pruning on the sidecar:
    // write location-clustered, read back only files intersecting the
    // envelope, then row-filter — result is layout-independent (the
    // pruning is a file-skip optimization), so plain SQL can oracle it;
    // pruned_some asserts the sidecar actually skipped files.
    "q43_geotable_prune" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val out = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_geotable_" + dir.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      val src = spark.sql(s"SELECT l_orderkey, l_linenumber, $PT AS geom FROM lineitem")
      graft.sources.GeoTable.writePartitionedByLocation(src, out, "geom",
        cellSize = 10.0, numFiles = 8)
      val (hit, total) = graft.sources.GeoTable.pruningStats(spark, out, 0.0, 0.0, 30.0, 25.0)
      graft.sources.GeoTable.readIntersecting(spark, out, 0.0, 0.0, 30.0, 25.0)
        .where(expr("ST_Intersects(geom, ST_MakeEnvelope(0.0, 0.0, 30.0, 25.0))"))
        .select(col("l_orderkey"), col("l_linenumber"),
          lit(hit < total).as("pruned_some"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // tumbling-window aggregation in its batch form (the streaming module
    // exposes the same shape over readStream); hour bucket from the
    // timezone-free micros expression
    "q32_events_hourly" -> q(s"""
      SELECT event_type, $TS_US div 3600000000 AS hour_bucket,
             count(*) AS n, min(value) AS vmin, max(value) AS vmax
      FROM events GROUP BY event_type, hour_bucket
      ORDER BY event_type, hour_bucket"""),
    // weekly retention cohorts over the real events: cohort = the
    // user's FIRST signup week, n_users = distinct cohort users active
    // (any event) k weeks later — two hash aggregations and one
    // user-keyed join, the classic product-analytics rollup fully
    // declarative (Catalyst plans both aggs partial+final)
    "q171_retention_cohorts" -> q(s"""
      WITH e AS (SELECT user_id, event_type, $TS_US AS tsu FROM events),
           c AS (SELECT user_id, min(tsu) div 604800000000 AS cw
                 FROM e WHERE event_type = 'signup' GROUP BY user_id),
           a AS (SELECT DISTINCT c.cw, e.tsu div 604800000000 - c.cw AS wk,
                        e.user_id
                 FROM e JOIN c ON e.user_id = c.user_id
                 WHERE e.tsu div 604800000000 >= c.cw)
      SELECT cw AS cohort_week, wk AS week_offset, count(*) AS n_users
      FROM a GROUP BY cw, wk ORDER BY cohort_week, week_offset"""),
    // compressibility quality signal (deflate_len): repetitive text
    // must compress below the same-length-class high-entropy text, and
    // DEFLATE's stored-block bound caps the overhead — gates only
    // (absolute compressed sizes are zlib-specific, never oracled).
    // Both engines rebuild the identical fixture strings from repeat()
    // and md5 chains, so the raw byte lengths ARE replayed exactly.
    "q172_compression_signal" -> q("""
      WITH f AS (SELECT doc_id,
               repeat('tok ', CAST(doc_id % 50 AS INT) + 10) AS t_rep,
               concat_ws('', transform(sequence(0, 9),
                 i -> md5(concat(CAST(doc_id AS STRING), ':',
                                 CAST(i AS STRING))))) AS t_rand
             FROM documents WHERE doc_id < 200),
           p AS (SELECT doc_id,
                   octet_length(t_rep) AS raw_rep,
                   octet_length(t_rand) AS raw_rand,
                   deflate_len(t_rep, 6) AS c_rep,
                   deflate_len(t_rand, 6) AS c_rand FROM f)
      SELECT doc_id, CAST(raw_rep AS BIGINT) AS raw_rep,
             CAST(raw_rand AS BIGINT) AS raw_rand,
             c_rep < c_rand AS rep_smaller,
             c_rep > 0 AND c_rep <= raw_rep + 64 AS rep_bounds,
             c_rand > 0 AND c_rand <= raw_rand + 64 AS rand_bounds
      FROM p ORDER BY doc_id"""),
    // as-of join: each purchase picks the user's latest at-or-before view
    // via the union + keyed-window carry-forward (one shuffle, no pair
    // explosion); (user_id, ts) is unique in events, so the matched view
    // identity is deterministic, not just its timestamp
    "q48_asof_join" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      // micros-since-epoch on both sides (TS_US here, epoch_us in the
      // oracle) — native precision of the TIMESTAMP(MICROS) column, so
      // the join semantics match bit-for-bit
      val e = spark.table("events")
        .withColumn("tsu", expr(TS_US))
      val purchases = e.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "tsu")
      // dedup views to max(view_id) per (user, instant) on BOTH sides so
      // the matched identity stays deterministic under any fixture
      val views = e.where(col("event_type") === "view")
        .groupBy(col("user_id"), col("tsu"))
        .agg(max(col("event_id")).as("view_id"))
      graft.operators.AsofJoin.asofBackward(purchases, views, "user_id", "tsu",
          Seq("view_id"))
        .select(col("event_id"), col("user_id"), col("tsu").as("ts"),
          col("asof_ts").as("prior_view_ts"), col("asof_view_id").as("prior_view_id"))
        .orderBy("event_id")
    }),
    // the time-mirrored forward as-of on q48's exact fixture: each
    // purchase picks the EARLIEST view at-or-after it (next-event
    // lookup), DuckDB replaying with min over the flipped inequality
    "q165_asof_forward" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val e = spark.table("events").withColumn("tsu", expr(TS_US))
      val purchases = e.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "tsu")
      val views = e.where(col("event_type") === "view")
        .groupBy(col("user_id"), col("tsu"))
        .agg(max(col("event_id")).as("view_id"))
      graft.operators.AsofJoin.asofForward(purchases, views, "user_id", "tsu",
          Seq("view_id"))
        .select(col("event_id"), col("user_id"), col("tsu").as("ts"),
          col("asof_ts").as("next_view_ts"), col("asof_view_id").as("next_view_id"))
        .orderBy("event_id")
    }),
    // binned 1-D range join (point-in-interval): bin equi-join + residual
    // predicate — the inequality join DuckDB runs directly is the oracle
    "q49_range_join" -> ((spark, dir) => {
      prep(spark, dir)
      val pts = spark.sql("""
        SELECT l_orderkey, l_linenumber, CAST(l_orderkey % 100 AS DOUBLE) AS px
        FROM lineitem WHERE l_orderkey < 1000""")
      val ivs = spark.sql("""
        SELECT o_orderkey, CAST(o_orderkey % 90 AS DOUBLE) AS lo,
               CAST(o_orderkey % 90 + o_orderkey % 7 + 1 AS DOUBLE) AS hi
        FROM orders WHERE o_orderkey < 400""")
      graft.operators.IntervalJoin.rangeJoin(pts, "px", ivs, "lo", "hi", binSize = 5.0)
        .select("l_orderkey", "l_linenumber", "o_orderkey")
        .orderBy("l_orderkey", "l_linenumber", "o_orderkey")
    }),
    // gap-based sessionization (30 min) over the event stream — lag +
    // running-sum windows, mirrored exactly by the DuckDB oracle
    "q50_sessionize" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      // microsecond timestamps for the same reason as q48
      val e = spark.table("events").select(col("user_id"),
        expr(TS_US).as("tsu"))
      graft.operators.Sessionize
        .sessionStats(e, "user_id", "tsu", gap = 1800000000L)
        .withColumnsRenamed(Map("start_ts" -> "start_us", "end_ts" -> "end_us"))
        .orderBy("user_id", "session_idx")
    }),
    // leakage-safe trailing-window features: per event, the count and
    // value-sum of the user's events in [ts-1h, ts) — RANGE frames over
    // microsecond timestamps, replayed exactly by DuckDB's window engine
    "q59_trailing_features" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      // integer cents: windowed SUM over doubles is association-order
      // sensitive (DuckDB aggregates frames via a segment tree), so the
      // summed quantity must be exact
      val e = spark.table("events").select(col("event_id"), col("user_id"),
        expr(TS_US).as("tsu"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      graft.operators.Sessionize
        .trailingWindowStats(e, "user_id", "tsu", lookback = 3600000000L,
          valueCol = Some("cents"))
        .select(col("event_id"), col("n_prev"),
          col("sum_prev").cast("long").as("sum_prev_cents"))
        .orderBy("event_id")
    }),
    // newline-delimited GeoJSON source roundtrip: write features from
    // lineitem points, read them back through the file source, recover
    // coordinates + typed properties — layout-independent, so plain
    // arithmetic SQL is the oracle
    "q61_geojson_source" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      // unique dir per invocation: a fixed path would let two concurrent
      // drivers overwrite each other's output mid-read
      val out = scratchDir("graft_geojson_")
      val src = spark.sql(s"""
        SELECT l_orderkey, l_linenumber, $PT AS geom FROM lineitem""")
      graft.sources.GeoJsonSource.write(src, "geom",
        Seq("l_orderkey", "l_linenumber"), out)
      graft.sources.GeoJsonSource
        .readWithProps(spark, out, "l_orderkey BIGINT, l_linenumber INT")
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("ST_X(geom)").as("x"), expr("ST_Y(geom)").as("y"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // per-source heavy hitters: top-3 tokens with a total tie order
    // (count desc, token asc) so the rank sequence is deterministic
    "q60_top_tokens" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.TextAnalysis
        .topTokens(spark.table("documents"), "source", "text", k = 3)
        .orderBy("source", "rnk")
    }),
    // cross-document shingle sharing (duplicate n-gram audit): integer
    // counts DuckDB recomputes from the same shingle definition as q28/q44
    "q51_shared_shingles" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.Dedup
        .sharedShingleStats(spark.table("documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),
    // within-document repetition signals (Gopher-style): all-integer
    // token/bigram multiset stats
    "q52_repetition" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.TextAnalysis
        .repetitionProfile(spark.table("documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),
    // int8 embedding quantization: the quantized codes are integers both
    // engines compute with identical double arithmetic (sign·floor(|x|+.5)
    // — half-away rounding on purpose, banker's rounding differs between
    // engines), plus a dequantization-fidelity boolean with wide margin
    "q53_vec_quantize" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val q = graft.operators.Ann.quantizeI8(spark.table("embeddings"), "embedding")
      // qscale = 0 marks an all-zero vector: guard cos_ok so neither
      // engine evaluates a 0/0 cosine (NaN comparison semantics differ)
      q.select(col("vec_id"),
        size(filter(col("q"), x => abs(x) === 127)).as("n_sat"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x.cast("long")).as("qsum"),
        when(col("qscale") > 0,
          graft.operators.Ann.cosineVsQuantized(col("embedding"), col("q")) > 0.999)
          .otherwise(false).as("cos_ok"))
        .orderBy("vec_id")
    }),
    // salted equi-join on a deliberately skewed key (3 hot values over
    // 60k rows): result is IDENTICAL to the plain join — salting only
    // spreads reducer work — so the unsalted SQL join is the oracle
    "q55_salted_join" -> ((spark, dir) => {
      prep(spark, dir)
      val probe = spark.sql(
        "SELECT l_orderkey, l_linenumber, l_orderkey % 3 AS k FROM lineitem")
      val build = spark.sql(
        "SELECT id AS k, id * 100 AS payload FROM range(0, 3) t(id)")
      graft.operators.SkewJoin.saltedJoin(probe, build, "k", salts = 8)
        .select("l_orderkey", "l_linenumber", "k", "payload")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // corpus-level stats with EXACT quartiles (fractions .25/.5/.75 keep
    // every interpolation intermediate exactly representable → engines
    // agree bit-for-bit on integer char counts)
    "q56_corpus_stats" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.TextAnalysis
        .corpusStats(spark.table("documents"), "doc_id", "text", "source")
    }),
    // PII redaction parity: plant a synthetic email/phone/card per doc,
    // scrub with RE2-compatible patterns, hash the result — DuckDB runs
    // the SAME regex chain, so the md5s must match byte-for-byte
    "q57_redact_pii" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val aug = concat(col("text"), lit(" contact"), col("doc_id").cast("string"),
        lit("@example.com or 555-123-4567 card 4111111111111111"))
      spark.table("documents")
        .select(col("doc_id"),
          md5(graft.operators.TextAnalysis.redactPii(aug).cast("binary")).as("h"))
        .orderBy("doc_id")
    }),
    // deterministic hash split: membership depends only on md5(doc_id),
    // so any engine reproduces the same train/test assignment
    // Efraimidis-Spirakis weighted sampling per source, weights =
    // n_chars: the oracle replays the exponential-key law (md5 uniform,
    // -ln(u)/w, 6dp snap) and the same (key, id) rank
    "q152_weighted_sample" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.Sampling.weightedSamplePerGroup(
        spark.table("documents").select("doc_id", "source", "n_chars"),
        "source", "doc_id", "n_chars", k = 5)
        .orderBy("source", "sample_rank")
    }),
    "q58_train_test_split" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.Sampling
        .splitTrainTest(spark.table("documents"), "doc_id", testFrac = 0.25)
        .select("doc_id", "split")
        .orderBy("doc_id")
    }),
    // stratified data-mixing sample: per-source keep rates off one
    // map-only md5-threshold filter; selection depends only on doc_id, so
    // DuckDB replays it with the same CASE over hex thresholds
    "q68_stratified_sample" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.Sampling
        .stratifiedSample(spark.table("documents"), "source", "doc_id",
          rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
          defaultRate = 0.125)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),
    // temperature-based domain remixing (rates derived from the corpus):
    // domains by decimal width of doc_id — 10/90/400 docs at sf0.01 —
    // α=0.5 keeps the smallest whole and downsamples the rest by
    // (n_min/n_d)^0.5; membership replays from md5(doc_id) numerically
    "q136_temperature_resample" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.{col, length}
      val docs = spark.table("documents")
        .withColumn("dom", length(col("doc_id").cast("string")))
      graft.operators.Sampling.temperatureResample(docs, "dom", "doc_id",
        alpha = 0.5)
        .select("doc_id", "dom")
        .orderBy("doc_id")
    }),
    // multimodal frame sampling over binary payloads: the flatMap plumbing
    // (frame indices, per-frame byte counts under stride) is integer
    // arithmetic DuckDB replays from octet lengths
    "q54_frame_sample" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val media = graft.multimodal.Media.withMetadata(
        spark.table("documents").select(col("doc_id"),
          col("text").cast("binary").as("content")),
        "doc_id", "content")
      graft.multimodal.Media.sampleFrames(media, stride = 2)
        .select(col("mediaId").as("doc_id"), col("frameIdx").as("frame_idx"),
          length(col("frameBytes")).as("n_bytes"))
        .orderBy("doc_id", "frame_idx")
    }),
    // overlapping token-window chunking (window 32, stride 16): both
    // engines slice the same single-space token array, so chunk text is
    // byte-identical
    "q62_chunk_windows" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.Curation
        .chunkDocuments(spark.table("documents"), "doc_id", "text",
          window = 32, stride = 16)
        .orderBy("doc", "chunk_idx")
    }),
    // concat-and-split sequence packing (seqLen 512, 8 shards): pure
    // integer window arithmetic, replayed in SQL by SUM OVER
    "q63_pack_sequences" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.Curation
        .packSequences(spark.table("documents"), "doc_id", "text",
          seqLen = 512, nShards = 8)
        .orderBy("doc")
    }),
    // benchmark decontamination: docs sharing a 3-gram with the
    // deterministic benchmark slice (doc_id % 97 = 0); counts of distinct
    // shared grams are exact integers both engines recompute
    "q64_decontaminate" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      graft.operators.Curation
        .decontaminate(docs, docs.where(col("doc_id") % 97 === 0),
          "doc_id", "text", n = 3)
        .orderBy("doc")
    }),
    // contamination REPORT per benchmark doc (q64's fixture flipped):
    // bench = doc_id % 97 == 0, 3-grams, corpus docs with >= 2 shared
    // grams; the oracle replays gram join, per-pair distinct counts,
    // threshold, and the per-bench rollup
    "q156_contamination_report" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val docs = spark.table("documents")
      graft.operators.Curation.contaminationReport(docs,
        docs.where(col("doc_id") % 97 === 0), "doc_id", "text",
        n = 3, minShared = 2)
        .orderBy("bench_id")
    }),
    // per-source cap: at most 10 docs per source in doc_id order —
    // ROW_NUMBER window on both sides
    "q65_domain_cap" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.Curation
        .capPerKey(spark.table("documents"), "source", "doc_id", maxRows = 10)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),
    // line/ring accessor family (ST_StartPoint/EndPoint/PointN/Reverse/
    // Azimuth/ExteriorRing/NumInteriorRings/Perimeter) over a 3-point
    // LINESTRING and an envelope built from lineitem integers — every
    // output is integer-derived except the azimuth, which both engines
    // compute as atan2(3,4) and round to 6dp
    "q67_line_accessors" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             ST_X(ST_StartPoint(ln)) AS sx,
             ST_Y(ST_EndPoint(ln)) AS ey,
             ST_AsText(ST_PointN(ln, 2)) AS p2,
             ST_AsText(ST_Reverse(ln)) AS revwkt,
             round(ST_Azimuth(ST_StartPoint(ln), ST_PointN(ln, 2)), 6) AS az,
             ST_Perimeter(env) AS perim,
             ST_NumInteriorRings(env) AS nring,
             ST_AsText(ST_ExteriorRing(env)) AS ring_wkt
      FROM (SELECT l_orderkey, l_linenumber,
                   ST_GeomFromText('LINESTRING(' || $PX || ' ' || $PY || ','
                     || CAST(l_orderkey % 100 + 3 AS STRING) || ' '
                     || CAST(l_linenumber * 10 + 4 AS STRING) || ','
                     || CAST(l_orderkey % 100 + 6 AS STRING) || ' ' || $PY || ')') AS ln,
                   ST_MakeEnvelope(CAST(l_orderkey % 100 AS DOUBLE),
                     CAST(l_linenumber * 10 AS DOUBLE),
                     CAST(l_orderkey % 100 + 2 AS DOUBLE),
                     CAST(l_linenumber * 10 + 5 AS DOUBLE)) AS env
            FROM lineitem)
      ORDER BY l_orderkey, l_linenumber"""),
    // affine + linear-referencing family over lineitem integers: a
    // horizontal 10-unit line makes interpolate/locate fractions exact,
    // and 6dp rounding kills the sin(pi) ~ 1e-16 rotation residue the
    // same way in any IEEE engine
    "q69_affine_linear_ref" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             round(ST_X(ST_LineInterpolatePoint(ln, 0.5)), 6) AS interp_x,
             round(ST_Y(ST_LineInterpolatePoint(ln, 0.5)), 6) AS interp_y,
             round(ST_LineLocatePoint(ln, ST_GeomFromText(
               'POINT(' || CAST(l_orderkey % 100 + 2 AS STRING) || ' '
                        || CAST(l_linenumber * 10 + 4 AS STRING) || ')')), 6) AS locate_f,
             round(ST_X(ST_Rotate(pt, pi(),
               CAST(l_orderkey % 100 + 1 AS DOUBLE),
               CAST(l_linenumber * 10 AS DOUBLE))), 6) AS rot_x,
             round(ST_Y(ST_Rotate(pt, pi(),
               CAST(l_orderkey % 100 + 1 AS DOUBLE),
               CAST(l_linenumber * 10 AS DOUBLE))), 6) AS rot_y,
             ST_X(ST_Scale(pt, 2.0, 3.0)) AS scale_x,
             ST_Y(ST_Scale(pt, 2.0, 3.0)) AS scale_y
      FROM (SELECT l_orderkey, l_linenumber, $PT AS pt,
                   ST_GeomFromText('LINESTRING(' || $PX || ' ' || $PY || ','
                     || CAST(l_orderkey % 100 + 10 AS STRING) || ' ' || $PY || ')') AS ln
            FROM lineitem)
      ORDER BY l_orderkey, l_linenumber"""),
    // topological predicate family over two synthesized unit-squares whose
    // horizontal offset dx = (l_partkey - l_orderkey) % 100 spans every
    // spatial relationship: equal (dx=0), overlapping (|dx|=1), edge-
    // adjacent (|dx|=2), disjoint (|dx|>2) — each predicate and the DE-9IM
    // matrix string is a closed-form function of dx the oracle replays
    "q70_topo_predicates" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             ST_Touches(a, b) AS touches,
             ST_Overlaps(a, b) AS overlaps,
             ST_Disjoint(a, b) AS disjoint,
             ST_Crosses(ln, b) AS crosses,
             ST_Relate(a, b) AS relate_im,
             ST_Relate(a, b, '2********') AS relate_area
      FROM (SELECT l_orderkey, l_linenumber,
                   ST_MakeEnvelope(x, y, x + 2, y + 2) AS a,
                   ST_MakeEnvelope(x2, y, x2 + 2, y + 2) AS b,
                   ST_GeomFromText('LINESTRING(' || CAST(CAST(x AS INT) - 1 AS STRING)
                     || ' ' || CAST(CAST(y AS INT) + 1 AS STRING) || ','
                     || CAST(CAST(x AS INT) + 5 AS STRING)
                     || ' ' || CAST(CAST(y AS INT) + 1 AS STRING) || ')') AS ln
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % 100 AS DOUBLE) AS x,
                         CAST(l_partkey % 100 AS DOUBLE) AS x2,
                         CAST(l_linenumber * 10 AS DOUBLE) AS y
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // overlay family: rectangles of data-dependent width W and overlap
    // shift S make every area a min/max expression; closest-point /
    // shortest-line against a 10-unit horizontal line reduce to clamping
    "q71_overlay_family" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             ST_Area(ST_Difference(a, c)) AS diff_area,
             ST_Area(ST_SymDifference(a, c)) AS sym_area,
             ST_Area(ST_Union(a, c)) AS union_area,
             ST_X(ST_PointOnSurface(a)) AS pos_x,
             ST_Y(ST_PointOnSurface(a)) AS pos_y,
             ST_X(ST_ClosestPoint(ln, p)) AS cp_x,
             round(ST_Length(ST_ShortestLine(ln, p)), 6) AS sl_len,
             ST_AsText(ST_Snap(offp, basep, 0.1D)) AS snap_wkt
      FROM (SELECT l_orderkey, l_linenumber,
                   ST_MakeEnvelope(x, y, x + w, y + 1) AS a,
                   ST_MakeEnvelope(x + s, y, x + s + w, y + 1) AS c,
                   ST_GeomFromText('LINESTRING(' || xs || ' ' || ys || ','
                     || CAST(CAST(x AS INT) + 10 AS STRING) || ' ' || ys || ')') AS ln,
                   ST_GeomFromText('POINT(' || CAST(CAST(x AS INT) + dx2 AS STRING)
                     || ' ' || CAST(CAST(y AS INT) + 5 AS STRING) || ')') AS p,
                   ST_GeomFromText('POINT(' || xs || '.05 ' || ys || ')') AS offp,
                   ST_GeomFromText('POINT(' || xs || ' ' || ys || ')') AS basep
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % 100 AS DOUBLE) AS x,
                         CAST(l_linenumber * 10 AS DOUBLE) AS y,
                         CAST(l_linenumber AS DOUBLE) AS w,
                         CAST(l_orderkey % 5 AS DOUBLE) AS s,
                         CAST(l_partkey % 15 - 2 AS INT) AS dx2,
                         $PX AS xs, $PY AS ys
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // ST_Dump + explode (the PostGIS set-returning form) and ST_Normalize's
    // canonical ring order, both replayed as string arithmetic by the oracle
    "q72_dump_normalize" -> q(s"""
      SELECT l_orderkey, l_linenumber, part_idx,
             ST_AsText(part) AS part_wkt,
             n_parts,
             norm_wkt
      FROM (SELECT l_orderkey, l_linenumber,
                   posexplode(ST_Dump(mp)) AS (part_idx, part),
                   size(ST_Dump(mp)) AS n_parts,
                   ST_AsText(ST_Normalize(env)) AS norm_wkt
            FROM (SELECT l_orderkey, l_linenumber,
                         ST_GeomFromText('MULTIPOINT(' || $PX || ' ' || $PY || ','
                           || CAST(l_partkey % 100 AS STRING) || ' '
                           || CAST(l_linenumber * 10 + 1 AS STRING) || ','
                           || CAST(l_orderkey % 100 + 1 AS STRING) || ' '
                           || CAST(l_linenumber * 10 + 2 AS STRING) || ')') AS mp,
                         ST_MakeEnvelope(CAST(l_orderkey % 100 AS DOUBLE),
                           CAST(l_linenumber * 10 AS DOUBLE),
                           CAST(l_orderkey % 100 + 2 AS DOUBLE),
                           CAST(l_linenumber * 10 + 5 AS DOUBLE)) AS env
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber, part_idx"""),
    // connected-components dedup clustering: CHAIN pairs from exact-dup
    // groups (consecutive ids, NOT star pairs) force the large-star/
    // small-star rounds to actually propagate the min across multiple
    // hops; the oracle knows the fixpoint is min(doc_id) per text group
    "q73_dedup_clusters" -> ((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{col, lag, md5}
      prep(spark, dir)
      val docs = spark.table("documents")
      val w = Window.partitionBy(md5(col("text").cast("binary"))).orderBy(col("doc_id"))
      val pairs = docs
        .select(col("doc_id"), lag(col("doc_id"), 1).over(w).as("prev_id"))
        .where(col("prev_id").isNotNull)
      graft.operators.Dedup.dedupClusters(docs, "doc_id", pairs, "doc_id", "prev_id")
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),
    // quality-aware exact dedup: 50 planted content groups, keep the
    // longest (n_chars) copy, ties by id — the window replay oracle
    "q157_dedup_keep_best" -> ((spark, dir) => {
      prep(spark, dir)
      val docs = spark.sql("""
        SELECT doc_id, concat('grp', CAST(doc_id % 50 AS STRING)) AS content,
               n_chars FROM documents""")
      graft.operators.Dedup.exactKeepBest(docs, "doc_id", "content", "n_chars")
        .orderBy("doc_id")
    }),
    // cluster-survivor election by score over chained same-group pairs:
    // components are the planted groups, the keeper is each group's
    // longest member
    "q158_cluster_keep_best" -> ((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{col, lag}
      prep(spark, dir)
      val docs = spark.sql(
        "SELECT doc_id, doc_id % 50 AS grp, n_chars FROM documents")
      val w = Window.partitionBy("grp").orderBy("doc_id")
      val pairs = docs
        .select(col("doc_id"), lag(col("doc_id"), 1).over(w).as("prev"))
        .where(col("prev").isNotNull)
      graft.operators.Dedup.clusterKeepBest(docs, "doc_id", "n_chars",
        pairs, "doc_id", "prev")
        .orderBy("id")
    }),
    // smoothed TF-IDF top-terms: scores are rounded to 6dp BEFORE the
    // rank window on both sides so the (score, token) tie-break replays
    "q74_tfidf_terms" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.TextAnalysis
        .tfidfTopTerms(spark.table("documents"), "doc_id", "text", 3)
        .orderBy("doc_id", "rnk")
    }),
    // corpus-trained bigram LM cross-entropy (CCNet-style quality
    // signal); per-term 6dp rounding before the sum makes the result a
    // multiple of 1e-6 on both engines (operator scaladoc)
    "q118_bigram_lm" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.TextAnalysis
        .bigramCrossEntropy(spark.table("documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),
    // k-means assignment with DETERMINISTIC centroids (the 8 lowest-id
    // vectors): the kernel's argmax-by-cosine must agree with the
    // oracle's rank-over-cosine because both accumulate in double,
    // left-to-right (VecKernels scaladoc / q24 precedent)
    "q75_kmeans_assign" -> ((spark, dir) => {
      import org.apache.spark.sql.functions.{broadcast, col, round}
      prep(spark, dir)
      val emb = spark.table("embeddings")
      val cents = emb.orderBy("vec_id").limit(8)
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      val cdf = spark.createDataFrame(
        cents.toSeq.zipWithIndex.map { case (v, i) => (i, v.toSeq) }).toDF("cluster", "cv")
      graft.operators.Ann.kmeansAssign(emb, cents)
        .join(broadcast(cdf), "cluster")
        .select(col("vec_id"), col("cluster"),
          round(graft.functions.GeoFunctions.vec_cosine(col("embedding"), col("cv")), 6)
            .as("cos"))
        .orderBy("vec_id")
    }),
    // per-cluster coreset selection on q75's deterministic centroids:
    // top-5 prototypes per cluster by (rounded cosine desc, id) — the
    // oracle replays assignment rank-1 then the same per-cluster rank
    "q145_cluster_coreset" -> ((spark, dir) => {
      prep(spark, dir)
      val emb = spark.table("embeddings")
      val cents = emb.orderBy("vec_id").limit(8)
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      graft.operators.Ann.clusterCoreset(emb, cents, perCluster = 5)
        .orderBy("cluster", "rk")
    }),
    // PCA over the real embeddings: one-pass 6dp-law moments, 12
    // deterministic power-iteration steps per component (+ deflation
    // for the second axis), then the map-only centered projection —
    // the oracle re-derives mean/covariance and replays every
    // iteration as unrolled CTEs (the q144 GD-replay precedent)
    "q147_embedding_pca" -> ((spark, dir) => {
      import org.apache.spark.sql.functions.{col, lit}
      prep(spark, dir)
      val emb = spark.table("embeddings")
      val model = graft.operators.Pca.fit(emb, "embedding",
        components = 2, iters = PCA_ITERS)
      graft.operators.Pca.project(emb, "embedding", model)
        .select(col("vec_id"), col("pc1"), col("pc2"),
          lit(model.lambdas(0)).as("lambda1"),
          lit(model.lambdas(1)).as("lambda2"))
        .orderBy("vec_id")
    }),
    // st_union_agg dissolve over unit squares on an integer grid: the
    // union's area is EXACTLY the distinct-cell count (interior-disjoint
    // integer cells, float-exact overlay), and its envelope is the
    // arithmetic min/max of the cells — so vanilla SQL pins the real
    // cascaded union's measure and extent without a spatial oracle
    // grouped dissolve through the STAGED pyramid (gridDissolveByKey):
    // semantically identical to a flat `st_union_agg(g) GROUP BY grp`
    // (union is associative; integer-grid inputs are float-exact), but
    // the few-large-groups shape no longer funnels each group's 32
    // task-partials — each a country-sized multipolygon — into one
    // final merge: unit squares dissolve cell-locally first (8x8
    // world-unit cells, 2 levels, factor 4), and only ~8 supercell
    // polygons per group meet in the final aggregate
    "q149_union_agg" -> ((spark, dir) => {
      import org.apache.spark.sql.functions.{col, expr, round}
      prep(spark, dir)
      val cells = spark.sql("""
        SELECT l_linenumber AS grp,
               ST_MakeEnvelope(CAST(l_orderkey % 100 AS DOUBLE),
                               CAST((l_orderkey DIV 100) % 50 AS DOUBLE),
                               CAST(l_orderkey % 100 AS DOUBLE) + 1,
                               CAST((l_orderkey DIV 100) % 50 AS DOUBLE) + 1) AS g
        FROM lineitem""")
      graft.operators.Dissolve
        // staging matched to the data's tiling scale (the operator's
        // documented guidance: unit tiles -> cellSize 2 keeps first-
        // level unions at <= 4 interior-disjoint boxes). Output is
        // staging-invariant on integer boxes (exact region; area and
        // Box2D don't see association) — probed r22: (2, 2, 8) 1.00 s
        // vs (8, 2, 4) 1.21-1.29 s min-of-4, oracle green either way
        .gridDissolveByKey(cells, Seq("grp"), "g",
          cellSize = 2.0, levels = 2, factor = 8)
        .select(col("grp"), col("n_in"),
          round(expr("ST_Area(geom)"), 6).as("union_area"),
          expr("Box2D(geom).xmin").as("xmin"), expr("Box2D(geom).ymin").as("ymin"),
          expr("Box2D(geom).xmax").as("xmax"), expr("Box2D(geom).ymax").as("ymax"))
        .orderBy("grp")
    }),
    // staged global dissolve (the PostGIS parallel-union recipe: union
    // per grid cell, then union cells) over the q149 unit-square
    // fixture WITHOUT grouping — the single-group shape that funnels a
    // plain st_union_agg through one final task. Same integer-grid
    // invariants: exact area = distinct cells, envelope = arithmetic
    // min/max
    "q166_grid_dissolve" -> ((spark, dir) => {
      import org.apache.spark.sql.functions.{expr, round}
      prep(spark, dir)
      val cells = spark.sql("""
        SELECT ST_MakeEnvelope(CAST(l_orderkey % 100 AS DOUBLE),
                               CAST((l_orderkey DIV 100) % 50 AS DOUBLE),
                               CAST(l_orderkey % 100 AS DOUBLE) + 1,
                               CAST((l_orderkey DIV 100) % 50 AS DOUBLE) + 1) AS g
        FROM lineitem""")
      graft.operators.Dissolve
        // same tiling-scale staging as q149 (probed r22, ~20% faster;
        // output staging-invariant on the integer-box fixture)
        .gridDissolve(cells, "g", cellSize = 2.0, levels = 2, factor = 8)
        .select(round(expr("ST_Area(geom)"), 6).as("union_area"),
          expr("Box2D(geom).xmin").as("xmin"), expr("Box2D(geom).ymin").as("ymin"),
          expr("Box2D(geom).xmax").as("xmax"), expr("Box2D(geom).ymax").as("ymax"))
    }),
    // TRUE PostGIS ST_Split semantics (st_split_exact) on designed
    // integer-grid fixtures where every piece measure is arithmetic:
    //  - unit square split by a through-line at offset c (0.25|0.5):
    //    2 faces, areas {c, 1-c} — exterior faces of the noded
    //    arrangement must be dropped (the reference's FIXME keeps them);
    //  - donut (0.2x0.2 hole) split through the middle: 2 C-shaped
    //    faces totaling 0.96 — hole faces must be dropped;
    //  - 2-long segment split by a crossing line at c: lengths {c, 2-c};
    //  - the same segment split by its midpoint: lengths {1, 1}.
    "q168_split_exact" -> q("""
      WITH cells AS (SELECT DISTINCT CAST(l_orderkey % 50 AS DOUBLE) AS x,
                            CAST(l_linenumber AS DOUBLE) * 3.0 AS y,
                            CAST(l_orderkey % 2 AS DOUBLE) AS d
                     FROM lineitem),
           a AS (SELECT x, y, 0.25 + d * 0.25 AS c FROM cells),
           s AS (SELECT x, y, c,
             st_split_exact(ST_MakeEnvelope(x, y, x + 1, y + 1),
               ST_MakeLine(array(ST_MakePoint(x + c, y - 1),
                                 ST_MakePoint(x + c, y + 2)))) AS sp_poly,
             st_split_exact(
               ST_Difference(ST_MakeEnvelope(x, y, x + 1, y + 1),
                 ST_MakeEnvelope(x + 0.4, y + 0.4, x + 0.6, y + 0.6)),
               ST_MakeLine(array(ST_MakePoint(x + 0.5, y - 1),
                                 ST_MakePoint(x + 0.5, y + 2)))) AS sp_donut,
             st_split_exact(
               ST_MakeLine(array(ST_MakePoint(x, y), ST_MakePoint(x + 2, y))),
               ST_MakeLine(array(ST_MakePoint(x + c, y - 1),
                                 ST_MakePoint(x + c, y + 1)))) AS sp_line,
             st_split_exact(
               ST_MakeLine(array(ST_MakePoint(x, y), ST_MakePoint(x + 2, y))),
               ST_MakePoint(x + 1, y)) AS sp_pt
             FROM a)
      SELECT x, y,
             ST_NumGeometries(sp_poly) AS poly_n,
             round(least(ST_Area(ST_GeometryN(sp_poly, 1)),
                         ST_Area(ST_GeometryN(sp_poly, 2))), 6) AS poly_a1,
             round(ST_Area(sp_poly), 6) AS poly_tot,
             ST_NumGeometries(sp_donut) AS donut_n,
             round(ST_Area(sp_donut), 6) AS donut_tot,
             ST_NumGeometries(sp_line) AS line_n,
             round(least(ST_Length(ST_GeometryN(sp_line, 1)),
                         ST_Length(ST_GeometryN(sp_line, 2))), 6) AS line_l1,
             round(ST_Length(sp_line), 6) AS line_tot,
             ST_NumGeometries(sp_pt) AS pt_n,
             round(ST_Length(ST_GeometryN(sp_pt, 1)), 6) AS pt_l1
      FROM s ORDER BY x, y"""),
    // mergeable HLL cardinality sketches (Spark's Datasketches
    // built-ins) for cross-source token overlap: one fixed-size blob
    // per source via partial/final hll_sketch_agg, pairwise overlap by
    // inclusion-exclusion on hll_union — group-count rows cross the
    // final exchange instead of the corpus (the 100 TB path). The
    // exact columns come from the distinct-pair self-join the sketches
    // replace; est_ok gates the estimate at 5% of the UNION size
    // (the right denominator for inclusion-exclusion error; sketches
    // are deterministic per value set, so the gate is stable)
    "q169_sketch_overlap" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val toks = spark.table("documents")
        .select(col("source"),
          explode(split(coalesce(col("text"), lit("")), " ")).as("token"))
        .where(col("token") =!= "")
      val sk = graft.operators.Sketch.groupSketches(toks, "source", "token")
      val est = graft.operators.Sketch.overlapEstimates(sk, "source")
      val ex = graft.operators.Sketch.exactOverlap(toks, "source", "token")
      val na = sk.select(col("source").as("grp_a"), col("n_exact").as("na"))
      val nb = sk.select(col("source").as("grp_b"), col("n_exact").as("nb"))
      est.join(ex, Seq("grp_a", "grp_b"))
        .join(broadcast(na), "grp_a").join(broadcast(nb), "grp_b")
        .select(col("grp_a").as("src_a"), col("grp_b").as("src_b"),
          col("na"), col("nb"), col("n_ab"),
          (abs(col("est_ab") - col("n_ab")) <=
            lit(0.05) * (col("na") + col("nb") - col("n_ab"))).as("est_ok"))
        .orderBy("src_a", "src_b")
    }),
    // Johnson-Lindenstrauss Rademacher projection 64 -> 8 dims: the
    // sign matrix is the shared 48-bit-md5 law (nothing persisted), so
    // the oracle rebuilds the identical matrix in SQL and replays the
    // snap-before-scale rounding contract
    "q148_random_projection" -> ((spark, dir) => {
      import org.apache.spark.sql.functions.col
      prep(spark, dir)
      graft.operators.Pca.randomProject(spark.table("embeddings"),
        "embedding", inDim = 64, outDim = 8, seed = 7L)
        .select(col("vec_id") +: (1 to 8).map(c => col(s"rp$c")): _*)
        .orderBy("vec_id")
    }),
    // feature-hashed document embeddings over the REAL text: signed
    // hashed bag-of-words, dim=64, L2-normalized — the md5 bucket/sign
    // law and the exact-integer norm replay in DuckDB
    "q160_hashed_embedding" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.TextAnalysis.hashedEmbedding(
        spark.table("documents"), "doc_id", "text", dim = 64)
        .orderBy("doc_id", "vec_dim")
    }),
    // threshold similarity edges at FULL probing (exact): every pair
    // with cosine >= 0.3, emitted once — the all-pairs filter replay
    "q162_cosine_edges" -> ((spark, dir) => {
      import org.apache.spark.sql.functions.{col, round}
      prep(spark, dir)
      graft.operators.Ann.cosineEdges(spark.table("embeddings"),
        threshold = 0.3, nlist = 8, nProbe = 8)
        .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
        .orderBy("a", "b")
    }),
    // corpus kNN graph at FULL probing (nProbe = nlist = 8), where the
    // list-keyed bucket join is exact by construction — the oracle is
    // the flat all-pairs rank-over-cosine, so every neighbor and rank
    // must match brute force
    "q159_knn_graph" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.Ann.knnGraph(spark.table("embeddings"), k = 3,
        nlist = 8, nProbe = 8)
        .orderBy("qid", "rnk")
    }),
    // SemDeDup: q75's deterministic centroids (8 lowest vec_ids), then
    // within-cluster cosine>=0.30 keep-lowest-id (q29's threshold
    // precedent for exact cross-engine cosine comparison)
    "q119_semantic_dedup" -> ((spark, dir) => {
      prep(spark, dir)
      val emb = spark.table("embeddings")
      val cents = emb.orderBy("vec_id").limit(8)
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      graft.operators.Ann.semanticDedup(emb, cents, 0.30)
        .select("vec_id", "cluster").orderBy("vec_id")
    }),
    // the FULL broadcast-path SemDeDup end-to-end (assignment through the
    // torrent-broadcast codebook + cluster-keyed duplicate scan + id-keyed
    // anti-join) on the q119 fixture — same oracle as q119, so the two
    // assignment transports must agree on every kept row
    "q124_semantic_dedup_bcast" -> ((spark, dir) => {
      prep(spark, dir)
      val emb = spark.table("embeddings")
      val cents = emb.orderBy("vec_id").limit(8)
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      val centDF = spark.createDataFrame(
        cents.toSeq.zipWithIndex.map { case (v, i) => (i, v.toSeq) })
        .toDF("cluster", "cv")
      graft.operators.Ann.semanticDedupBcast(emb, centDF, 0.30)
        .select("vec_id", "cluster").orderBy("vec_id")
    }),
    // LARGE-k assignment: k = 2n deterministic centroids (every embedding
    // in vec_id rank order, then their element-reversals — 1000 at the
    // driver's sf0.01) through BOTH the broadcast-DataFrame path and the
    // folded-literal path; emitting the two cluster columns side by side
    // makes the driver's hash compare pin bcast ≡ literal ≡ oracle
    "q120_kmeans_assign_bcast" -> ((spark, dir) => {
      import org.apache.spark.sql.functions.col
      prep(spark, dir)
      val emb = spark.table("embeddings")
      val base = emb.orderBy("vec_id").select("embedding").collect()
        .map(_.getSeq[Float](0).toArray)
      val cents = base ++ base.map(_.reverse)
      val centDF = spark.createDataFrame(
        cents.toSeq.zipWithIndex.map { case (v, i) => (i, v.toSeq) })
        .toDF("cluster", "cv")
      val viaBcast = graft.operators.Ann.kmeansAssignBcast(emb, centDF)
      val viaLit = graft.operators.Ann.kmeansAssign(emb, cents)
        .select(col("vec_id"), col("cluster").as("cluster_lit"))
      viaBcast.join(viaLit, "vec_id")
        .select(col("vec_id"), col("cluster"), col("cluster_lit"))
        .orderBy("vec_id")
    }),
    // the TWO-LEVEL coarse/fine transport at FULL probing (nProbe =
    // coarseK probes every cell), where it is exact by construction —
    // the same q120 centroid fixture, so the oracle is the same flat
    // rank-over-cosine; cell sharding must not change a single winner
    "q122_kmeans_two_level" -> ((spark, dir) => {
      import org.apache.spark.sql.functions.col
      prep(spark, dir)
      val emb = spark.table("embeddings")
      val base = emb.orderBy("vec_id").select("embedding").collect()
        .map(_.getSeq[Float](0).toArray)
      val cents = base ++ base.map(_.reverse)
      val centDF = spark.createDataFrame(
        cents.toSeq.zipWithIndex.map { case (v, i) => (i, v.toSeq) })
        .toDF("cluster", "cv")
      graft.operators.Ann
        .kmeansAssignTwoLevel(emb, centDF, coarseK = 8, nProbe = 8)
        .select(col("vec_id"), col("cluster"))
        .orderBy("vec_id")
    }),
    // single-linkage spatial clustering over DISTINCT grid points with
    // dist=1.2: only x-neighbors 1 apart link (y rows are 10 apart), so
    // clusters are maximal runs of consecutive x per y — the classic
    // gaps-and-islands shape the oracle computes with dense_rank
    "q79_spatial_cluster" -> ((spark, dir) => {
      prep(spark, dir)
      val pts = spark.sql(s"""
        SELECT xi * 1000 + yi AS id,
               ST_GeomFromText('POINT(' || CAST(xi AS STRING) || ' '
                 || CAST(yi AS STRING) || ')') AS g
        FROM (SELECT DISTINCT l_orderkey % 100 AS xi, l_linenumber * 10 AS yi
              FROM lineitem)""")
      graft.operators.SpatialCluster.clusterWithin(pts, "id", "g", dist = 1.2)
        .orderBy("id")
    }),
    // transitive clusters of INTERSECTING rectangles (PostGIS
    // ST_ClusterIntersecting): width-1.2 rects on integer x overlap
    // exactly when x is consecutive (Δ=1 < 1.2 < 2), rows 10 apart never
    // touch — so clusters are again the q79 islands, exercised through
    // the envelope-overlap grid join instead of the distance refine
    "q93_cluster_intersecting" -> ((spark, dir) => {
      prep(spark, dir)
      val rects = spark.sql(s"""
        SELECT xi * 1000 + yi AS id,
               ST_MakeEnvelope(CAST(xi AS DOUBLE), CAST(yi AS DOUBLE),
                 CAST(xi AS DOUBLE) + 1.2D, CAST(yi AS DOUBLE) + 1.0D) AS g
        FROM (SELECT DISTINCT l_orderkey % 100 AS xi, l_linenumber * 10 AS yi
              FROM lineitem)""")
      graft.operators.SpatialCluster
        .clusterIntersecting(rects, "id", "g", cellSize = 2.0)
        .orderBy("id")
    }),
    // the README's SQL-only MinHash-LSH recipe as a CONTRACT row: pure
    // spark.sql end to end (scatter with 64 single-row bands -> capped
    // buckets -> in-bucket pairs -> exact shingle-Jaccard refine), gated
    // by the same exact oracle as q28/q44. Single-row bands make the
    // LSH miss probability (1-J)^64 <= 1e-12 at the 0.35 threshold, so
    // hash-matching the EXACT pair set is sound
    "q100_sql_minhash_recipe" -> ((spark, dir) => {
      prep(spark, dir)
      spark.sql("""
        WITH t AS (SELECT doc_id AS doc, text, split(text, ' ') AS l FROM documents),
        sh AS (SELECT doc, CASE WHEN size(l) >= 3
                 THEN array_distinct(transform(sequence(0, size(l) - 3),
                      i -> concat_ws(' ', slice(l, i + 1, 3))))
                 ELSE array(text) END AS shingles FROM t),
        sigs AS (SELECT doc_id AS doc, minhash_sig(text, 64) AS sig FROM documents),
        buckets AS (
          SELECT doc, band, bucket FROM sigs
          LATERAL VIEW posexplode(transform(sequence(0, 63),
            b -> xxhash64(slice(sig, b + 1, 1)))) x AS band, bucket),
        grouped AS (SELECT ds FROM (SELECT sort_array(collect_list(doc)) AS ds
                        FROM buckets GROUP BY band, bucket)
          WHERE size(ds) BETWEEN 2 AND 10000),
        cands AS (SELECT DISTINCT p.ida, p.idb FROM grouped
          LATERAL VIEW explode(flatten(transform(ds, (x, i) ->
            transform(slice(ds, i + 2, size(ds)),
                      y -> struct(x AS ida, y AS idb))))) x AS p)
        SELECT ida, idb,
               size(array_intersect(a.shingles, b.shingles)) AS inter,
               size(a.shingles) + size(b.shingles)
                 - size(array_intersect(a.shingles, b.shingles)) AS uni
        FROM cands JOIN sh a ON ida = a.doc JOIN sh b ON idb = b.doc
        WHERE size(array_intersect(a.shingles, b.shingles)) * 1.0D /
              (size(a.shingles) + size(b.shingles)
                 - size(array_intersect(a.shingles, b.shingles))) >= 0.35D
        ORDER BY ida, idb""")
    }),
    // bbox bound accessors + farthest-point family + clockwise angles on
    // the q90 fixture: parallel aligned segments make the max distance
    // the diagonal sqrt(w² + (s+1)²) with the realizing pair being the
    // FIRST vertex of la against the LAST vertex of lb; the angle columns
    // replay through the documented az₂ − az₁ (mod 2π) identity
    "q101_bbox_maxdist_angle" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             ST_XMin(env) AS bxmin, ST_YMin(env) AS bymin,
             ST_XMax(env) AS bxmax, ST_YMax(env) AS bymax,
             round(ST_MaxDistance(la, lb), 6) AS maxd,
             ST_AsText(ST_LongestLine(la, lb)) AS ll_wkt,
             round(ST_Angle(p1, p0, p3), 6) AS ang3,
             round(ST_Angle(p0, p1, p1, p3), 6) AS ang4
      FROM (SELECT l_orderkey, l_linenumber,
                   ST_MakeEnvelope(CAST(xi AS DOUBLE), CAST(yi AS DOUBLE),
                     CAST(xi + wi AS DOUBLE), CAST(yi + 5 AS DOUBLE)) AS env,
                   ST_GeomFromText('LINESTRING(' || xs || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || ys || ')') AS la,
                   ST_GeomFromText('LINESTRING(' || xs || ' '
                     || CAST(yi + si + 1 AS STRING) || ','
                     || CAST(xi + wi AS STRING) || ' '
                     || CAST(yi + si + 1 AS STRING) || ')') AS lb,
                   ST_GeomFromText('POINT(' || xs || ' ' || ys || ')') AS p0,
                   ST_GeomFromText('POINT(' || CAST(xi + 1 AS STRING) || ' '
                     || ys || ')') AS p1,
                   ST_GeomFromText('POINT(' || CAST(xi + wi AS STRING) || ' '
                     || CAST(yi + si + 1 AS STRING) || ')') AS p3
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % 100 AS INT) AS xi,
                         CAST(l_linenumber * 10 AS INT) AS yi,
                         CAST(l_linenumber AS INT) AS wi,
                         CAST(l_orderkey % 5 AS INT) AS si,
                         $PX AS xs, $PY AS ys
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // winding order + vertex hygiene: the CCW-wound w x 5 rectangle
    // flips under ForcePolygonCW (ring reversal replays as WKT concat);
    // RemoveRepeatedPoints drops the x+0.4 stutter at tol 0.5 but keeps
    // the exact-duplicate midpoint at tol 0 only when repeated
    "q102_winding_repeated" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             ST_IsPolygonCCW(poly) AS is_ccw,
             ST_IsPolygonCW(poly) AS is_cw,
             ST_IsPolygonCW(ST_ForcePolygonCW(poly)) AS forced_cw,
             ST_AsText(ST_ForcePolygonCW(poly)) AS cw_wkt,
             ST_NPoints(ST_RemoveRepeatedPoints(stut)) AS np_exact,
             ST_AsText(ST_RemoveRepeatedPoints(stut2, 0.5D)) AS tol_wkt
      FROM (SELECT l_orderkey, l_linenumber,
                   ST_GeomFromText('POLYGON((' || xs || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || CAST(yi + 5 AS STRING) || ','
                     || xs || ' ' || CAST(yi + 5 AS STRING) || ','
                     || xs || ' ' || ys || '))') AS poly,
                   ST_GeomFromText('LINESTRING(' || xs || ' ' || ys || ','
                     || xs || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || CAST(yi + 5 AS STRING)
                     || ')') AS stut,
                   ST_GeomFromText('LINESTRING(' || xs || ' ' || ys || ','
                     || xs || '.4 ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || ys || ')') AS stut2
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % 100 AS INT) AS xi,
                         CAST(l_linenumber * 10 AS INT) AS yi,
                         CAST(l_linenumber AS INT) AS wi,
                         $PX AS xs, $PY AS ys
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // dump family + collection surgery + areal assembly: vertex/segment
    // dumps of the w x 5 rectangle replay as string concat; homogenize
    // promotes a 2-point collection to MULTIPOINT; BuildArea turns the
    // concentric rings into a donut whose area is 64 minus the
    // data-dependent hole width
    "q103_dumps_buildarea" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             size(ST_DumpPoints(poly)) AS np_dump,
             ST_AsText(element_at(ST_DumpPoints(poly), 2)) AS p2_wkt,
             size(ST_DumpSegments(poly)) AS nseg,
             ST_AsText(element_at(ST_DumpSegments(poly), 2)) AS seg2_wkt,
             ST_AsText(ST_Points(la)) AS pts_wkt,
             ST_AsText(ST_CollectionHomogenize(coll)) AS homog_wkt,
             ST_Area(ST_BuildArea(rings)) AS donut_area,
             ST_NumInteriorRings(ST_BuildArea(rings)) AS donut_holes
      FROM (SELECT l_orderkey, l_linenumber,
                   ST_GeomFromText('POLYGON((' || xs || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || CAST(yi + 5 AS STRING) || ','
                     || xs || ' ' || CAST(yi + 5 AS STRING) || ','
                     || xs || ' ' || ys || '))') AS poly,
                   ST_GeomFromText('LINESTRING(' || xs || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || ys || ')') AS la,
                   ST_GeomFromText('GEOMETRYCOLLECTION(POINT(' || xs || ' ' || ys
                     || '),POINT(' || CAST(xi + wi AS STRING) || ' ' || ys || '))')
                     AS coll,
                   ST_GeomFromText('MULTILINESTRING((' || xs || ' ' || ys || ','
                     || CAST(xi + 8 AS STRING) || ' ' || ys || ','
                     || CAST(xi + 8 AS STRING) || ' ' || CAST(yi + 8 AS STRING) || ','
                     || xs || ' ' || CAST(yi + 8 AS STRING) || ','
                     || xs || ' ' || ys || '),('
                     || CAST(xi + 1 AS STRING) || ' ' || CAST(yi + 1 AS STRING) || ','
                     || CAST(xi + 1 + hw AS STRING) || ' ' || CAST(yi + 1 AS STRING) || ','
                     || CAST(xi + 1 + hw AS STRING) || ' ' || CAST(yi + 2 AS STRING) || ','
                     || CAST(xi + 1 AS STRING) || ' ' || CAST(yi + 2 AS STRING) || ','
                     || CAST(xi + 1 AS STRING) || ' ' || CAST(yi + 1 AS STRING)
                     || '))') AS rings
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % 100 AS INT) AS xi,
                         CAST(l_linenumber * 10 AS INT) AS yi,
                         CAST(l_linenumber AS INT) AS wi,
                         least(CAST(l_linenumber AS INT), 6) AS hw,
                         $PX AS xs, $PY AS ys
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // web-mercator surface: forward X is pure arithmetic (replayed with
    // the kernel's exact FP op order R * (deg / 180 * pi)); the libm-
    // heavy Y leg is checked via the 4326->3857->4326 ROUNDTRIP, which
    // collapses to the integer inputs at 6dp; tile bounds replay the
    // -MercMax + x * ts formula; the geohash decode recovers the encoded
    // point at 15 chars and its cell always covers the input point
    "q104_mercator_tiles_geohash" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             ST_X(merc) AS merc_x,
             ST_SRID(merc) AS merc_srid,
             round(ST_X(rt), 6) AS rt_lon,
             round(ST_Y(rt), 6) AS rt_lat,
             ST_XMin(tile) AS t_xmin, ST_YMax(tile) AS t_ymax,
             ST_SRID(tile) AS t_srid,
             round(ST_X(gh15p), 6) AS gh_lon,
             round(ST_Y(gh15p), 6) AS gh_lat,
             ST_Intersects(gh4g, pt) AS gh_covers,
             ST_XMax(gh4g) - ST_XMin(gh4g) AS gh_w
      FROM (SELECT l_orderkey, l_linenumber, pt, tile,
                   ST_Transform(merc, 4326) AS rt, merc, gh15p, gh4g
            FROM (SELECT l_orderkey, l_linenumber, pt, tile,
                         ST_Transform(pt, 3857) AS merc,
                         ST_PointFromGeoHash(ST_GeoHash(pt, 15)) AS gh15p,
                         ST_GeomFromGeoHash(ST_GeoHash(pt, 4)) AS gh4g
                  FROM (SELECT l_orderkey, l_linenumber,
                               ST_GeomFromText('POINT(' || CAST(xi - 50 AS STRING)
                                 || ' ' || CAST(yi - 40 AS STRING) || ')', 4326) AS pt,
                               ST_TileEnvelope(3, CAST(xi % 8 AS INT),
                                 CAST((yi / 10) % 8 AS INT)) AS tile
                        FROM (SELECT l_orderkey, l_linenumber,
                                     CAST(l_orderkey % 100 AS INT) AS xi,
                                     CAST(l_linenumber * 10 AS INT) AS yi
                              FROM lineitem))))
      ORDER BY l_orderkey, l_linenumber"""),
    // PostGIS ST_ClusterKMeans as a distributed operator: RNG-free
    // seeding (centroids of the 4 lowest ids in id order), exact-argmin
    // assignment with ties to the lowest index, 2 Lloyd steps. Points
    // sit on an integer grid, so every Lloyd mean is an exact
    // sum-of-integers / count in double — order-insensitive — and the
    // oracle replays the identical unrolled iterations in SQL
    "q105_cluster_kmeans" -> ((spark, dir) => {
      prep(spark, dir)
      val pts = spark.sql(s"""
        SELECT CAST(xi * 1000 + yi AS BIGINT) AS id,
               ST_GeomFromText('POINT(' || CAST(xi AS STRING) || ' '
                 || CAST(yi AS STRING) || ')') AS g
        FROM (SELECT DISTINCT l_orderkey % 100 AS xi, l_linenumber * 10 AS yi
              FROM lineitem)""")
      graft.operators.SpatialCluster.clusterKMeans(pts, "id", "g", k = 4, iters = 2)
        .orderBy("id")
    }),
    // accessor/constructor family on synthesized shapes: component and
    // ring access return exact integer-vertex WKT; the counters are
    // closed-form; constructed polygons have exact areas (hole is a
    // 0.5-square -> 0.25); the 2-leg path length is wi + sqrt(wi^2+9),
    // both engines computing sqrt of an exact integer
    "q106_accessors_constructors" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             ST_AsText(ST_GeometryN(mp, 2)) AS g2_wkt,
             ST_AsText(ST_InteriorRingN(donut, 1)) AS ir_wkt,
             ST_NRings(donut) AS nrings,
             ST_NumPoints(ln) AS np_line,
             ST_NumPoints(donut) AS np_poly,
             ST_Dimension(donut) AS dim_a,
             ST_CoordDim(donut) AS cdim,
             ST_AsText(ST_BoundingDiagonal(donut)) AS bd_wkt,
             ST_AsText(ST_MakePoint(CAST(xi AS DOUBLE), CAST(yi AS DOUBLE))) AS mkp_wkt,
             ST_SRID(ST_Point(CAST(xi AS DOUBLE), CAST(yi AS DOUBLE), 4326)) AS pt_srid,
             ST_Area(ST_MakePolygon(shell)) AS shell_area,
             ST_Area(ST_MakePolygon(shell, array(hole))) AS donut_area,
             ST_AsText(ST_LineFromMultiPoint(mp)) AS lmp_wkt,
             ST_Length(ST_LineFromMultiPoint(mp)) AS lmp_len
      FROM (SELECT l_orderkey, l_linenumber, xi, yi,
                   ST_GeomFromText('MULTIPOINT(' || xs || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || ys || ','
                     || xs || ' ' || CAST(yi + 3 AS STRING) || ')') AS mp,
                   ST_GeomFromText('POLYGON((' || xs || ' ' || ys || ','
                     || CAST(xi + 8 AS STRING) || ' ' || ys || ','
                     || CAST(xi + 8 AS STRING) || ' ' || CAST(yi + 8 AS STRING) || ','
                     || xs || ' ' || CAST(yi + 8 AS STRING) || ','
                     || xs || ' ' || ys || '),('
                     || CAST(xi + 2 AS STRING) || ' ' || CAST(yi + 2 AS STRING) || ','
                     || CAST(xi + 3 AS STRING) || ' ' || CAST(yi + 2 AS STRING) || ','
                     || CAST(xi + 3 AS STRING) || ' ' || CAST(yi + 3 AS STRING) || ','
                     || CAST(xi + 2 AS STRING) || ' ' || CAST(yi + 3 AS STRING) || ','
                     || CAST(xi + 2 AS STRING) || ' ' || CAST(yi + 2 AS STRING) || '))') AS donut,
                   ST_GeomFromText('LINESTRING(' || xs || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || CAST(yi + 3 AS STRING) || ')') AS ln,
                   ST_GeomFromText('LINESTRING(' || xs || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || CAST(yi + 5 AS STRING) || ','
                     || xs || ' ' || CAST(yi + 5 AS STRING) || ','
                     || xs || ' ' || ys || ')') AS shell,
                   ST_GeomFromText('LINESTRING('
                     || CAST(xi AS STRING) || '.25 ' || CAST(yi AS STRING) || '.25,'
                     || CAST(xi AS STRING) || '.75 ' || CAST(yi AS STRING) || '.25,'
                     || CAST(xi AS STRING) || '.75 ' || CAST(yi AS STRING) || '.75,'
                     || CAST(xi AS STRING) || '.25 ' || CAST(yi AS STRING) || '.75,'
                     || CAST(xi AS STRING) || '.25 ' || CAST(yi AS STRING) || '.25)') AS hole
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % 100 AS INT) AS xi,
                         CAST(l_linenumber * 10 AS INT) AS yi,
                         CAST(l_linenumber AS INT) AS wi,
                         CAST(CAST(l_orderkey % 100 AS INT) AS STRING) AS xs,
                         CAST(CAST(l_linenumber * 10 AS INT) AS STRING) AS ys
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // grid tiling + seeded point generation: square cells replay as
    // exact integer WKT; the grid cell count and first (i,j) are
    // floor-arithmetic; hexagon metrics are either exact decimals
    // (1.5·wi·xi has one fractional bit) or the identical
    // sqrt(3)-expression op order; ST_GeneratePoints is graded on its
    // CONTRACT — count, containment, seed-determinism — not bits
    "q107_grids_generatepoints" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             ST_AsText(ST_Square(2.0D, xi, wi)) AS sq_wkt,
             size(ST_SquareGrid(2.0D, env)) AS n_cells,
             element_at(ST_SquareGrid(2.0D, env), 1).i AS first_i,
             element_at(ST_SquareGrid(2.0D, env), 1).j AS first_j,
             round(ST_Area(ST_Hexagon(CAST(wi AS DOUBLE), 0, 0)), 6) AS hex_area,
             ST_NPoints(ST_Hexagon(CAST(wi AS DOUBLE), 0, 0)) AS hex_np,
             ST_XMin(ST_Hexagon(CAST(wi AS DOUBLE), xi, 2)) AS hex_xmin,
             ST_YMin(ST_Hexagon(CAST(wi AS DOUBLE), 0, 0)) AS hex_ymin,
             ST_NumGeometries(ST_GeneratePoints(env, 10 + wi, xi)) AS gp_n,
             ST_CoveredBy(ST_GeneratePoints(env, 10 + wi, xi), env) AS gp_cov,
             ST_Equals(ST_GeneratePoints(env, 10 + wi, xi),
                       ST_GeneratePoints(env, 10 + wi, xi)) AS gp_det
      FROM (SELECT l_orderkey, l_linenumber, xi, yi, wi,
                   ST_MakeEnvelope(CAST(xi AS DOUBLE), CAST(yi AS DOUBLE),
                     CAST(xi + wi AS DOUBLE), CAST(yi + 5 AS DOUBLE)) AS env
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % 100 AS INT) AS xi,
                         CAST(l_linenumber * 10 AS INT) AS yi,
                         CAST(l_linenumber AS INT) AS wi
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // affine/editing family, all closed-form: the reflection and
    // translate-then-scale produce integer vertices; shift/wrap are
    // CASE arithmetic on xi-50; scroll rotates the ring to a known
    // vertex; Chaikin at integer right angles cuts at exact quarter
    // points; VW keeps/drops the area-1? bump by tolerance; the
    // quantize column asserts the documented error bound; the
    // geometric median of a symmetric cross is its exact center
    "q108_affine_editing" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             ST_AsText(ST_Affine(seg, 0D, 1D, 1D, 0D, 0D, 0D)) AS aff_wkt,
             ST_AsText(ST_TransScale(pt, 1D, 2D, 2D, 3D)) AS ts_wkt,
             ST_AsText(ST_ShiftLongitude(lonpt)) AS sl_wkt,
             ST_AsText(ST_WrapX(lonpt, 0D, 360D)) AS wrap_wkt,
             ST_AsText(ST_Scroll(ring, ST_GeomFromText('POINT('
               || CAST(xi + wi AS STRING) || ' ' || CAST(yi + wi AS STRING)
               || ')'))) AS scr_wkt,
             ST_AsText(ST_ChaikinSmoothing(angle, 1, true)) AS cs_wkt,
             ST_NPoints(ST_SimplifyVW(bump, 10D)) AS vw_np2,
             ST_NPoints(ST_SimplifyVW(bump, 1D)) AS vw_np3,
             ST_Covers(ST_SimplifyPolygonHull(ST_Segmentize(env, 1.0D), 0.3D, true),
               ST_Segmentize(env, 1.0D)) AS hull_cov,
             abs(ST_X(ST_QuantizeCoordinates(qpt, 2)) - ST_X(qpt)) < 0.01D AS qc_ok,
             ST_AsText(ST_GeometricMedian(cross5)) AS gm_wkt
      FROM (SELECT l_orderkey, l_linenumber, xi, yi, wi,
                   ST_GeomFromText('LINESTRING(' || xs || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || ys || ')') AS seg,
                   ST_GeomFromText('POINT(' || xs || ' ' || ys || ')') AS pt,
                   ST_GeomFromText('POINT(' || CAST(xi - 50 AS STRING) || ' '
                     || ys || ')') AS lonpt,
                   ST_GeomFromText('LINESTRING(' || xs || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || CAST(yi + wi AS STRING) || ','
                     || xs || ' ' || CAST(yi + wi AS STRING) || ','
                     || xs || ' ' || ys || ')') AS ring,
                   ST_GeomFromText('LINESTRING(' || xs || ' ' || ys || ','
                     || CAST(xi + 4 AS STRING) || ' ' || ys || ','
                     || CAST(xi + 4 AS STRING) || ' ' || CAST(yi + 4 AS STRING)
                     || ')') AS angle,
                   ST_GeomFromText('LINESTRING(' || xs || ' ' || ys || ','
                     || CAST(xi + 5 AS STRING) || ' ' || CAST(yi + 1 AS STRING) || ','
                     || CAST(xi + 10 AS STRING) || ' ' || ys || ')') AS bump,
                   ST_MakeEnvelope(CAST(xi AS DOUBLE), CAST(yi AS DOUBLE),
                     CAST(xi + 10 AS DOUBLE), CAST(yi + 10 AS DOUBLE)) AS env,
                   ST_GeomFromText('POINT(' || xs || '.123456789 0)') AS qpt,
                   ST_GeomFromText('MULTIPOINT(' || CAST(xi - 1 AS STRING) || ' ' || ys
                     || ',' || CAST(xi + 1 AS STRING) || ' ' || ys
                     || ',' || xs || ' ' || CAST(yi - 1 AS STRING)
                     || ',' || xs || ' ' || CAST(yi + 1 AS STRING) || ')') AS cross5
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % 100 AS INT) AS xi,
                         CAST(l_linenumber * 10 AS INT) AS yi,
                         CAST(l_linenumber AS INT) AS wi,
                         CAST(CAST(l_orderkey % 100 AS INT) AS STRING) AS xs,
                         CAST(CAST(l_linenumber * 10 AS INT) AS STRING) AS ys
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // validity diagnosis + interchange texts: the bowtie self-intersects
    // at its exact integer center; KML/SVG/summary are string closed
    // forms; the hex-EWKB roundtrip restores SRID and geometry; shared
    // paths of collinear overlapping segments split by direction
    "q109_validity_interchange" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             ST_IsValidReason(bowtie) AS ivr,
             ST_IsValidDetail(bowtie).valid AS ivd_valid,
             ST_AsText(ST_IsValidDetail(bowtie).location) AS ivd_loc_wkt,
             ST_IsValidDetail(rect).valid AS vd2_valid,
             ST_IsValidDetail(rect).reason AS vd2_reason,
             ST_Summary(donut) AS summ,
             ST_AsKML(pt) AS kml,
             ST_AsSVG(seg) AS svg,
             ST_AsEWKT(ST_GeomFromHexEWKB(ST_AsHEXEWKB(pt4326))) AS hex_rt,
             substring(ST_AsHEXEWKB(pt4326), 1, 18) AS hex_prefix,
             length(ST_AsHEXEWKB(pt4326)) AS hex_len,
             ST_AsText(ST_SharedPaths(base, fwd)) AS sp_same,
             ST_AsText(ST_SharedPaths(base, bwd)) AS sp_opp
      FROM (SELECT l_orderkey, l_linenumber, xi, yi, wi,
                   ST_GeomFromText('POLYGON((' || xs || ' ' || ys || ','
                     || CAST(xi + 2 AS STRING) || ' ' || CAST(yi + 2 AS STRING) || ','
                     || CAST(xi + 2 AS STRING) || ' ' || ys || ','
                     || xs || ' ' || CAST(yi + 2 AS STRING) || ','
                     || xs || ' ' || ys || '))') AS bowtie,
                   ST_MakeEnvelope(CAST(xi AS DOUBLE), CAST(yi AS DOUBLE),
                     CAST(xi + wi AS DOUBLE), CAST(yi + 5 AS DOUBLE)) AS rect,
                   ST_GeomFromText('POLYGON((' || xs || ' ' || ys || ','
                     || CAST(xi + 8 AS STRING) || ' ' || ys || ','
                     || CAST(xi + 8 AS STRING) || ' ' || CAST(yi + 8 AS STRING) || ','
                     || xs || ' ' || CAST(yi + 8 AS STRING) || ','
                     || xs || ' ' || ys || '),('
                     || CAST(xi + 2 AS STRING) || ' ' || CAST(yi + 2 AS STRING) || ','
                     || CAST(xi + 3 AS STRING) || ' ' || CAST(yi + 2 AS STRING) || ','
                     || CAST(xi + 3 AS STRING) || ' ' || CAST(yi + 3 AS STRING) || ','
                     || CAST(xi + 2 AS STRING) || ' ' || CAST(yi + 3 AS STRING) || ','
                     || CAST(xi + 2 AS STRING) || ' ' || CAST(yi + 2 AS STRING)
                     || '))') AS donut,
                   ST_GeomFromText('POINT(' || xs || ' ' || ys || ')') AS pt,
                   ST_GeomFromText('POINT(' || xs || ' ' || ys || ')', 4326) AS pt4326,
                   ST_GeomFromText('LINESTRING(' || xs || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || ys || ')') AS seg,
                   ST_GeomFromText('LINESTRING(' || xs || ' ' || ys || ','
                     || CAST(xi + 8 AS STRING) || ' ' || ys || ')') AS base,
                   ST_GeomFromText('LINESTRING(' || CAST(xi + wi AS STRING) || ' ' || ys
                     || ',' || CAST(xi + 8 + wi AS STRING) || ' ' || ys || ')') AS fwd,
                   ST_GeomFromText('LINESTRING(' || CAST(xi + 8 + wi AS STRING) || ' '
                     || ys || ',' || CAST(xi + wi AS STRING) || ' ' || ys || ')') AS bwd
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % 100 AS INT) AS xi,
                         CAST(l_linenumber * 10 AS INT) AS yi,
                         CAST(l_linenumber AS INT) AS wi,
                         CAST(CAST(l_orderkey % 100 AS INT) AS STRING) AS xs,
                         CAST(CAST(l_linenumber * 10 AS INT) AS STRING) AS ys
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // CCNet-style corpus-wide paragraph dedup over synthesized
    // 3-paragraph docs ('hdr', 'p{id%7}', 'p{id%3}'): the keeper of
    // each paragraph is its smallest (doc_id, pos) occurrence, docs
    // reassemble from survivors in order — the oracle replays the same
    // election with a window over the exploded paragraphs
    "q110_paragraph_dedup" -> ((spark, dir) => {
      prep(spark, dir)
      val docs = spark.sql("""
        SELECT doc_id,
               concat('hdr', chr(10), 'p', CAST(doc_id % 7 AS STRING),
                      chr(10), 'p', CAST(doc_id % 3 AS STRING)) AS text
        FROM documents""")
      graft.operators.Dedup.dedupParagraphs(docs, "doc_id", "text")
        .orderBy("doc_id")
    }),
    // in-engine quality classifier: logistic regression on hashed-TF
    // features (B=256) trained by 3 full-batch GD iterations against
    // y = (lang='en'), then scored over the same corpus. EVERY
    // arithmetic step is 6dp-rounded (margins, residuals, gradients,
    // updates — HALF_UP on all three engines), so the oracle replays
    // the entire optimization, not just the scoring, as unrolled CTE
    // iterations and hash-matches the probabilities
    "q144_quality_lr" -> ((spark, dir) => {
      import org.apache.spark.sql.functions.{col, when}
      prep(spark, dir)
      val docs = spark.table("documents")
        .withColumn("y", when(col("lang") === "en", 1.0).otherwise(0.0))
      val (w, b) = graft.operators.TextAnalysis.trainQualityLr(
        docs, "doc_id", "text", "y", buckets = 256, iters = 3, eta = 1.0)
      graft.operators.TextAnalysis.scoreQualityLr(docs, "doc_id", "text", w, b)
        .orderBy("doc_id")
    }),
    // C4 line/page cleaning rules over a designed fixture that fires
    // every rule: terminal-punctuation + min-words + javascript line
    // filters, lorem/brace/badword page flags, and the min-sentences
    // keep computed on the CLEANED text; the oracle rebuilds the same
    // fixture and replays every rule with DuckDB list lambdas
    "q143_c4_clean" -> ((spark, dir) => {
      prep(spark, dir)
      val docs = spark.sql("""
        SELECT doc_id,
               concat(
                 'alpha beta gamma delta.', chr(10),
                 'x y.', chr(10),
                 'no terminal punctuation here', chr(10),
                 CASE WHEN doc_id % 7 = 0
                      THEN concat('enable javascript to view this page.', chr(10))
                      ELSE '' END,
                 CASE WHEN doc_id % 11 = 0
                      THEN concat('lorem ipsum dolor sit amet.', chr(10))
                      ELSE '' END,
                 CASE WHEN doc_id % 13 = 0
                      THEN concat('config { debug } done.', chr(10))
                      ELSE '' END,
                 CASE WHEN doc_id % 9 = 0
                      THEN concat('this crummy content should flag.', chr(10))
                      ELSE '' END,
                 repeat(concat('one more valid sentence goes here.', chr(10)),
                        CAST(doc_id % 6 AS INT)),
                 'tail line ends here.') AS text
        FROM documents""")
      graft.operators.Curation.c4Clean(docs, "doc_id", "text",
        badwords = Seq("crummy"), minSentences = 5)
        .orderBy("doc_id")
    }),
    // DSIR importance weights (hashed-unigram log-likelihood ratio of
    // target vs raw bucket models, add-1 smoothed, B=1024) over the
    // REAL documents text with lang='en' as the target domain; every
    // doc keeps a row (empty text scores 0), and the oracle replays the
    // exact 48-bit-md5 bucket law + 6dp rounding contract in DuckDB
    "q141_dsir_weights" -> ((spark, dir) => {
      import org.apache.spark.sql.functions.col
      prep(spark, dir)
      val docs = spark.table("documents")
      graft.operators.TextAnalysis.dsirWeights(docs,
        docs.where(col("lang") === "en"), "doc_id", "text", buckets = 1024)
        .orderBy("doc_id")
    }),
    // mixture plan over the real per-source token inventory: three
    // weighted sources at a 100k-token budget — the oracle replays the
    // normalization, floor/ceil and the exact-int-quotient epochs
    "q155_mixture_plan" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.Curation.mixturePlan(spark.table("documents"),
        "source", "text",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
        budgetTokens = 100000L)
        .orderBy("domain")
    }),
    // JSONL interop roundtrip: documents written as manifest-carrying
    // sharded JSONL, read back under the RECORDED schema with directory
    // validation; hash-equal row set proves the boundary format is
    // lossless for the text corpus
    "q153_jsonl_roundtrip" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      val out = scratchDir("jsonl")
      val nShards = graft.sources.JsonlDocs.write(docs, out, maxRecordsPerShard = 200)
      val back = graft.sources.JsonlDocs.read(spark, out)
      // write is the eager fixture; the returned frame is the lazy
      // read-back + symmetric-difference gate plan (audited)
      back.agg(count(lit(1)).as("n_docs"))
        .crossJoin(back.except(docs).agg(count(lit(1)).as("__a")))
        .crossJoin(docs.except(back).agg(count(lit(1)).as("__b")))
        .select(col("n_docs"), lit(nShards > 0).as("manifest_ok"),
          (col("__a") === 0 && col("__b") === 0).as("roundtrip_ok"))
    }),
    // Unicode normalization: NFC composition and accent stripping over
    // a fixture mixing composed/decomposed accents — DuckDB's own
    // nfc_normalize/strip_accents are the oracle, so the kernel's
    // semantics are pinned to an independent implementation
    "q154_normalize" -> ((spark, dir) => {
      prep(spark, dir)
      val rows = Seq(
        (1L, "e\u0301cole"),  // decomposed: e + combining acute
        (2L, "\u00e9cole"),   // precomposed e-acute
        (3L, "na\u00efve"),
        (4L, "plain ascii"),
        (5L, "he\u0301li\u00e8re")) // mixed decomposed + precomposed
      spark.createDataFrame(rows).toDF("id", "s").selectExpr("id",
        "text_normalize(s, 'nfc') AS nfc",
        "length(text_normalize(s, 'nfc')) AS nfc_len",
        "text_normalize(s, 'strip_accents') AS stripped")
        .orderBy("id")
    }),
    // ordered conversion funnel over the real events: greedy-from-
    // earliest signup -> view -> click -> purchase per user, 10^12-us
    // completion window — the oracle unrolls the greedy chain one CTE
    // per step on the same epoch-micros law as q32
    "q164_event_funnel" -> ((spark, dir) => {
      import org.apache.spark.sql.functions.expr
      prep(spark, dir)
      val ev = spark.table("events").withColumn("tsu", expr(TS_US))
      graft.operators.Sessionize.funnel(ev, "user_id", "tsu", "event_type",
        Seq("signup", "view", "click", "purchase"), windowMax = 1000000000000L)
        .orderBy("user_id")
    }),
    // BPE vocabulary learning on the REAL documents text: one word-count
    // shuffle, then 8 deterministic merge rounds on the driver under
    // the replace-law contract — the oracle re-learns all 8 merges as
    // unrolled DuckDB CTEs and must reproduce every (pair, count) row
    "q150_bpe_learn" -> ((spark, dir) => {
      prep(spark, dir)
      val docs = spark.table("documents")
      graft.operators.Bpe.mergesDF(docs,
        graft.operators.Bpe.learn(docs, "text", numMerges = BPE_MERGES))
        .orderBy("rank")
    }),
    // map-only BPE tokenization stats under the q150 merges: per-doc
    // word and token counts, the codegen'd literal-replace fold
    "q151_bpe_tokens" -> ((spark, dir) => {
      prep(spark, dir)
      val docs = spark.table("documents")
      val merges = graft.operators.Bpe.learn(docs, "text", numMerges = BPE_MERGES)
      graft.operators.Bpe.tokenCounts(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),
    // unigram-LM (SentencePiece-style) trainer: 2 EM iterations over the
    // substring candidate census (top-60 + single codepoints) — the
    // oracle replays the WHOLE law in DuckDB: census, 6dp ln scores,
    // unrolled Viterbi DP with the (score desc, smallest split) tie
    // rule, backpointer walk, count re-estimation, prune-or-keep
    "q224_unigram_learn" -> ((spark, dir) => {
      prep(spark, dir)
      val m = graft.operators.Unigram.learn(spark.table("documents"), "text",
        iters = UNIGRAM_ITERS, maxPieceLen = UNIGRAM_PIECE_LEN,
        maxPieces = UNIGRAM_MAX_PIECES)
      graft.operators.Unigram.piecesDF(spark, m).orderBy("piece")
    }),
    // per-document word/piece counts under the trained unigram model —
    // the q151 contract shape for the unigram path (the oracle runs ONE
    // extra E-step walk under the final scores = the tokenizer's exact
    // segmentation, then joins it through each doc's words). The model
    // deliberately ROUND-TRIPS through saveModel/loadModel, so the
    // oracled path itself proves persistence changes nothing.
    "q225_unigram_tokens" -> ((spark, dir) => {
      prep(spark, dir)
      val docs = spark.table("documents")
      val trained = graft.operators.Unigram.learn(docs, "text",
        iters = UNIGRAM_ITERS, maxPieceLen = UNIGRAM_PIECE_LEN,
        maxPieces = UNIGRAM_MAX_PIECES)
      val modelDir = scratchDir("graft_unigram_model_")
      graft.operators.Unigram.saveModel(spark, trained, modelDir)
      val m = graft.operators.Unigram.loadModel(spark, modelDir)
      graft.operators.Unigram.tokenCounts(docs, "doc_id", "text", m)
        .orderBy("doc_id")
    }),
    // id-level tokenization under the q150 merges and the derived
    // vocabulary (base chars in binary order, then merges by rank):
    // one row per (doc < 20, position) with token string + integer id
    "q161_bpe_token_ids" -> ((spark, dir) => {
      import org.apache.spark.sql.functions.col
      prep(spark, dir)
      val docs = spark.table("documents")
      val merges = graft.operators.Bpe.learn(docs, "text", numMerges = BPE_MERGES)
      val v = graft.operators.Bpe.vocab(docs, "text", merges)
      graft.operators.Bpe.tokenizeIds(docs.where(col("doc_id") < 20),
        "doc_id", "text", merges, v)
        .orderBy("doc_id", "pos")
    }),
    // BM25 retrieval over the REAL documents text: four literal queries
    // (one matching nothing), Lucene idf variant, k1=1.2 b=0.75, top-10
    // per query by (score desc, doc_id) — the oracle replays postings,
    // doc lengths, avgdl, idf and the 6dp term-sum law in DuckDB
    // the PERSISTED-index twin of q146: corpus-side BM25 state written
    // once (token-hash-bucketed postings + dfreq, one-row scalars,
    // params sidecar), then the same four queries retrieved through
    // the partition-pruned probe — identical ranked rows, so the SAME
    // oracle. Index write is the eager fixture; the returned frame is
    // the lazy pruned-scan retrieval plan (audited).
    "q174_bm25_index" -> ((spark, dir) => {
      prep(spark, dir)
      val idxDir = scratchDir("graft_bm25_")
      graft.operators.TextAnalysis.writeBm25Index(
        spark.table("documents"), "doc_id", "text", idxDir)
      val queries = spark.createDataFrame(Seq(
        (0L, "hash join"), (1L, "slow scan filter"),
        (2L, "vector window spark"), (3L, "nosuchtoken"))).toDF("qid", "qtext")
      graft.operators.TextAnalysis.bm25SearchIndex(spark, idxDir,
          queries, "qid", "qtext", k = 10)
        .orderBy("qid", "rnk")
    }),
    // Morton z-values (the multi-column data-skipping clustering key):
    // the interleave is a codegen'd aggregate over bit positions whose
    // slots are disjoint, so the oracle replays OR as a SUM of shifted
    // bits — bit-exact BIGINTs, no rounding anywhere. The layout payoff
    // (row groups skipped on every dimension) is spec-asserted
    // behaviorally in ZOrderSpec; this row pins the key's arithmetic.
    "q178_zorder" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      spark.sql("""
          SELECT l_orderkey, l_linenumber,
                 CAST(l_orderkey % 1024 AS BIGINT) AS x,
                 CAST((l_orderkey DIV 32) % 1024 AS BIGINT) AS y
          FROM lineitem""")
        .withColumn("z", graft.operators.ZOrder.zvalue(
          Seq(col("x"), col("y")), bits = 10))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // web-mercator tile-pyramid materialization (the batch job behind
    // vector-tile serving): mercator-meter points fanned to zooms 2-4
    // by pure envelope arithmetic, then the per-tile 4096-grid MVT
    // affine — the oracle replays the ownership law AND the kernel's
    // exact envelope/affine op order (ts = 2E/2^z, xmin = -E + x*ts,
    // xmax = xmin + ts, fx = 4096/w, x' = fx*xm + (-xmin*fx))
    "q177_tile_pyramid" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val pts = spark.sql("""
        SELECT l_orderkey * 10 + l_linenumber AS id,
               ST_Point(CAST(l_orderkey % 200 - 100 AS DOUBLE) * 100000.0,
                        CAST(l_linenumber * 30 - 100 AS DOUBLE) * 100000.0,
                        3857) AS g
        FROM lineitem""")
      graft.operators.Tiles.tilePyramid(pts, "id", "g", minZoom = 2, maxZoom = 4)
        .select(col("id"), col("z"), col("x"), col("y"),
          round(expr("ST_X(mvt_geom)"), 6).as("mx"),
          round(expr("ST_Y(mvt_geom)"), 6).as("my"))
        .orderBy("id", "z")
    }),
    // Hilbert index (the z-order companion with no seam jumps): the
    // xy2d walk is a codegen'd integer kernel; the oracle replays every
    // bit level as an unrolled MATERIALIZED CTE — bit-exact BIGINTs
    "q182_hilbert" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      spark.sql("""
          SELECT l_orderkey, l_linenumber,
                 CAST(l_orderkey % 256 AS BIGINT) AS x,
                 CAST((l_orderkey DIV 16 + l_linenumber * 37) % 256 AS BIGINT) AS y
          FROM lineitem""")
        .withColumn("h", graft.operators.ZOrder.hilbert(col("x"), col("y"), bits = 8))
        .orderBy("l_orderkey", "l_linenumber", "y")
    }),
    // String-similarity suite on blocked pairs, pure SQL surface: TRUE
    // Damerau-Levenshtein (da[]-table DP, not OSA — 'ca'->'abc' = 2),
    // byte-set Jaccard, byte Hamming on a fixed-width prefix — all
    // byte-level and integer/bit-exact vs DuckDB's builtins
    "q185_sim_suite" -> q("""
      WITH t AS (SELECT p_partkey AS id, p_name AS name,
                        lower(split(p_name, ' ')[0]) AS blk
                 FROM part WHERE p_partkey % 50 = 0)
      SELECT a.id AS ida, b.id AS idb,
             damerau_levenshtein(a.name, b.name) AS dl,
             jaccard_ch(a.name, b.name) AS jac,
             hamming_str(substring(a.name, 1, 6), substring(b.name, 1, 6)) AS ham
      FROM t a JOIN t b ON a.blk = b.blk AND a.id < b.id
      WHERE length(a.name) >= 6 AND length(b.name) >= 6
      ORDER BY ida, idb"""),
    // Reciprocal-rank fusion of lexical (BM25 top-20) and semantic
    // (brute cosine top-20) retrieval — the hybrid RAG stack. The fused
    // score is a fixed-order sum of 1/(60+rank) terms from integer
    // ranks, so the doubles are bit-exact vs the oracle's replay;
    // 'nosuchtoken' (qid 3) exercises the one-list outer-join path
    "q184_rrf_fusion" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val queries = spark.createDataFrame(Seq(
        (0L, "hash join"), (1L, "slow scan filter"),
        (2L, "vector window spark"), (3L, "nosuchtoken"))).toDF("qid", "qtext")
      val text = graft.operators.TextAnalysis.bm25TopK(spark.table("documents"),
          "doc_id", "text", queries, "qid", "qtext", k = 20)
        .select(col("qid"), col("doc_id").as("id"), col("rnk"))
      val vecs = spark.table("embeddings")
      val vec = graft.operators.Ann.bruteForceTopK(
          vecs.where(col("vec_id") < 4), vecs, k = 20)
        .select(col("qid"), col("nid").as("id"), col("rnk"))
      graft.operators.Retrieval.rrfFuse(Seq(text, vec), "qid", "id", "rnk", k = 10)
        .orderBy("qid", "rnk")
    }),
    // END-TO-END two-stage retrieval composition (the q200/q237 pattern
    // applied to the retrieval stack): BM25 top-20 + IVF top-20
    // (nProbe = nlist, so the production index path is exact and the
    // oracle replays it as brute cosine) → rrfFuse top-10 → maxSimRerank
    // over 2-vector bags [v, -v] (score = rz6|cos|, the late-interaction
    // kernel with an analytically replayable bag) → retrievalMetrics
    // against q240's analytic qrels. Catches cross-stage rank/id
    // contract drift no stage-wise row can see — the oracle replays the
    // ENTIRE chain
    "q244_retrieval_e2e" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val queries = spark.createDataFrame(Seq(
        (0L, "hash join"), (1L, "slow scan filter"),
        (2L, "vector window spark"), (3L, "nosuchtoken"))).toDF("qid", "qtext")
      val text = graft.operators.TextAnalysis.bm25TopK(spark.table("documents"),
          "doc_id", "text", queries, "qid", "qtext", k = 20)
        .select(col("qid"), col("doc_id").as("id"), col("rnk"))
      val emb = spark.table("embeddings")
      val index = graft.operators.Ann.buildIvf(
        emb.select("vec_id", "embedding"), nlist = 8, iters = 3)
      val dense = graft.operators.Ann.ivfSearch(index,
          emb.where(col("vec_id") < 4), k = 20, nProbe = 8)
        .select(col("qid"), col("nid").as("id"), col("rnk"))
      val fused = graft.operators.Retrieval.rrfFuse(Seq(text, dense),
        "qid", "id", "rnk", k = 10)
      val docs = emb.select(col("vec_id").as("doc_id"),
        array(col("embedding"),
          transform(col("embedding"), x => -x)).as("dvecs"))
      val qbags = emb.where(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), array(col("embedding")).as("qvecs"))
      val reranked = graft.operators.Retrieval.maxSimRerank(qbags, docs,
        fused.select(col("qid"), col("id").as("doc_id")), k = 10)
      val qrels = spark.sql("""
        SELECT q.qid, e.vec_id AS doc_id,
               CASE CAST((e.vec_id + q.qid) % 5 AS INT)
                 WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END AS rel
        FROM (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 4) q
        CROSS JOIN embeddings e""")
      graft.operators.Retrieval.retrievalMetrics(reranked, qrels, k = 10)
        .orderBy("qid")
    }),
    // END-TO-END retrieval with the GRAPH index as the dense first
    // stage (q244's chain shape, q243's analytically-known cluster
    // fixture): navSearchWhere top-5 under a membership pre-filter +
    // exact brute cosine top-7 → rrfFuse top-6 → maxSimRerank over
    // [v, -v] bags → retrievalMetrics against the (qid+did)%5 qrels
    // law. Exercises the graph family's (qid, nid, rnk) output contract
    // through every downstream stage — a rank/id convention drift that
    // q243's isolated row can't see breaks this hash. Queries are mm=0
    // members of COMPLETE groups (co-member i+7 present), so both
    // first-stage rankings are analytic: cos(0.04·mm) is strictly
    // decreasing in mm (no ties — the reason q243 excluded ranks
    // doesn't bite at mm=0), and ids stay under 8·1403 so every group
    // has its own 2-plane (g -> (g%61, g DIV 61) is injective there)
    // and cross-plane cosine (<= ~0.77) can't reach the in-cluster
    // band (>= cos(0.28) ~= 0.96) — at sf0.01/sf0.1 the bound never
    // binds, it guards the analytic argument at any future scale
    "q245_nav_retrieval_e2e" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val vecs = spark.sql("""
        SELECT i AS vec_id, mm,
               transform(sequence(0, 83), d ->
                 CAST(CASE WHEN d = a THEN (cos(th) + sin(th)) / sqrt(2)
                           WHEN d = b THEN (cos(th) - sin(th)) / sqrt(2)
                           ELSE 0.0 END AS FLOAT)) AS embedding
        FROM (SELECT i, mm, g % 61 AS a, 61 + (g DIV 61) % 23 AS b,
                     0.04 * mm AS th
              FROM (SELECT doc_id DIV 25 AS i, (doc_id DIV 25) DIV 8 AS g,
                           (doc_id DIV 25) % 8 AS mm
                    FROM documents
                    WHERE doc_id % 25 = 0 AND doc_id DIV 25 < 11200))""")
      val idx = scratchDir("graft_nave2e_")
      graft.operators.NavGraph.buildNavGraph(
        vecs.select("vec_id", "embedding"), idx,
        m = 8, maxLevel = 1, nlist = 8, nProbe = 8, iters = 3,
        bruteMax = 96L)
      val queries = vecs.where(col("mm") === 0 && col("vec_id") < 80)
        .join(vecs.select((col("vec_id") - 7).as("vec_id")),
          Seq("vec_id"), "left_semi")
        .select("vec_id", "embedding")
      val dense = graft.operators.NavGraph.navSearchWhere(spark, idx,
          queries, k = 5, allowed = vecs.where(col("mm").isin(2, 3, 4, 6, 7)),
          ef = 16, rounds = 2)
        .select(col("qid"), col("nid").as("id"), col("rnk"))
      val brute = graft.operators.Ann.bruteForceTopK(queries,
          vecs.select("vec_id", "embedding"), k = 7)
        .select(col("qid"), col("nid").as("id"), col("rnk"))
      val fused = graft.operators.Retrieval.rrfFuse(Seq(dense, brute),
        "qid", "id", "rnk", k = 6)
      val docs = vecs.select(col("vec_id").as("doc_id"),
        array(col("embedding"),
          transform(col("embedding"), x => -x)).as("dvecs"))
      val qbags = queries.select(col("vec_id").as("qid"),
        array(col("embedding")).as("qvecs"))
      val reranked = graft.operators.Retrieval.maxSimRerank(qbags, docs,
        fused.select(col("qid"), col("id").as("doc_id")), k = 6)
      val qrels = queries.select(col("vec_id").as("qid"))
        .crossJoin(vecs.select(col("vec_id").as("doc_id")))
        .withColumn("rel",
          when(pmod(col("doc_id") + col("qid"), lit(5)) === 0, 2)
            .when(pmod(col("doc_id") + col("qid"), lit(5)) === 1, 1)
            .otherwise(0))
      graft.operators.Retrieval.retrievalMetrics(reranked, qrels, k = 6)
        .orderBy("qid")
    }),
    // graph-health read over a freshly built nav graph: with m = 4 and
    // layers larger than m+1 every node's pruned list is EXACTLY m on
    // every level, so the whole degree frame is analytic (n_nodes from
    // the id laws, avg = max = 4, nothing over m). Also the regression
    // row for the (level, ept)-bucketed edge layout: the frame reads
    // the same edge table the beam search scans
    "q246_nav_degree" -> ((spark, dir) => {
      prep(spark, dir)
      val vecs = spark.sql("""
        SELECT i AS vec_id,
               transform(sequence(0, 83), d ->
                 CAST(CASE WHEN d = a THEN (cos(th) + sin(th)) / sqrt(2)
                           WHEN d = b THEN (cos(th) - sin(th)) / sqrt(2)
                           ELSE 0.0 END AS FLOAT)) AS embedding
        FROM (SELECT i, g % 61 AS a, 61 + (g DIV 61) % 23 AS b,
                     0.04 * mm AS th
              FROM (SELECT doc_id DIV 25 AS i, (doc_id DIV 25) DIV 8 AS g,
                           (doc_id DIV 25) % 8 AS mm
                    FROM documents WHERE doc_id % 25 = 0))""")
      val idx = scratchDir("graft_navdeg_")
      graft.operators.NavGraph.buildNavGraph(
        vecs.select("vec_id", "embedding"), idx,
        m = 4, maxLevel = 1, nlist = 8, nProbe = 8, iters = 3,
        bruteMax = 96L)
      graft.operators.NavGraph.navDegreeFrame(spark, idx).orderBy("level")
    }),
    // rolling distinct actives (DAU/WAU/MAU) over the real events on
    // the shared epoch-micros day law: distinct (day, user) grid, one
    // map-only x28 fan-out, single multi-window count-distinct hash
    // agg, dense day spine — nothing after the first distinct touches
    // event-scale data
    "q186_rolling_actives" -> ((spark, dir) => {
      import org.apache.spark.sql.functions.expr
      prep(spark, dir)
      val ev = spark.table("events")
        .withColumn("day", expr(s"$TS_US div 86400000000"))
      graft.operators.Sessionize.rollingActives(ev, "day", "user_id",
          Seq(1, 7, 28))
        .orderBy("day")
    }),
    // per-supplier exact median/p90 of extended price: group-keyed
    // window quantiles — the many-groups complement to q188's global
    // rank assembly
    "q203_group_quantiles" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.Freq.exactQuantilesByGroup(spark.table("lineitem"),
          "l_suppkey", "l_extendedprice", Seq(0.5, 0.9))
        .orderBy("l_suppkey", "q")
    }),
    // EXACT Jaccard similarity join via prefix filtering (PPJoin):
    // the oracle is BRUTE-FORCE all-pairs, so the hash-match proves
    // the rarest-token prefix index finds every qualifying pair
    "q202_jaccard_join" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      graft.operators.Dedup.jaccardJoinExact(
          spark.table("documents").where(col("doc_id") < 2000),
          "doc_id", "text", threshold = 0.9)
        .orderBy("ida", "idb")
    }),
    // Heaps-law vocabulary growth: distinct vocab after each id-ordered
    // doc-count checkpoint — one first-appearance census, K conditional
    // counts (checkpoints past the corpus saturate at full vocab)
    "q219_vocab_growth" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.TextAnalysis.vocabGrowth(spark.table("documents"),
          "doc_id", "text", Seq(50L, 100L, 200L, 500L, 1000L, 5000L))
        .orderBy("checkpoint")
    }),
    // per-doc 3-gram novelty on the q207 fixture: id-anchored windows
    // are corpus-unique (novel), the c-run and g-run windows recur —
    // non-%7 docs land exactly 4/6, %7 docs 4/7
    "q220_gram_novelty" -> ((spark, dir) => {
      prep(spark, dir)
      val d = spark.table("documents").selectExpr("doc_id",
        """concat('u', CAST(doc_id AS STRING), ' c0 c1 c2 ',
             CASE WHEN doc_id % 7 = 0 THEN 'c3 ' ELSE '' END,
             'x', CAST(doc_id AS STRING),
             ' g', CAST(doc_id % 4 AS STRING), 'a',
             ' g', CAST(doc_id % 4 AS STRING), 'b',
             ' g', CAST(doc_id % 4 AS STRING), 'c') AS text""")
      graft.operators.Dedup.gramNovelty(d, "doc_id", "text", n = 3)
        .orderBy("doc_id")
    }),
    // persisted EXACT-hash index, full lifecycle in one row: write 60%
    // of history, append 20%, COMPACT (min-fold deltas), probe the last
    // 20% — hits must equal a one-shot min-per-text election over all
    // history (the ~97 text classes guarantee collisions)
    "q217_exact_index" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val d = spark.table("documents").selectExpr("doc_id",
        "concat('body ', CAST(doc_id % 97 AS STRING)) AS text")
      val idxDir = scratchDir("graft_exact_")
      graft.operators.Dedup.writeExactIndex(
        d.where(col("doc_id") % 5 <= 2), "doc_id", "text", idxDir)
      graft.operators.Dedup.appendToExactIndex(spark, idxDir,
        d.where(col("doc_id") % 5 === 3), "doc_id", "text")
      graft.operators.Dedup.compactExactIndex(spark, idxDir)
      graft.operators.Dedup.exactIndexHits(spark, idxDir,
          d.where(col("doc_id") % 5 === 4), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),
    // persisted hamming (simhash-family) index lifecycle: 64-bit
    // fingerprints built ARITHMETICALLY (three 13-bit and one 11-bit
    // group hashes in the four bands + a 3-bit jitter spread one bit
    // per low band), so DuckDB replays them exactly and popcounts with
    // bit_count(xor(...)). Docs in the same 16-doc group differ only in
    // jitter (hamming <= 3 -> ALL same-group pairs qualify, linear
    // output); cross-group pairs need a >= 13-bit hash collision AND
    // popcount <= 3 (none in this fixture, but both engines compute the
    // actual popcount so even accidents agree). Chain: write(history
    // m4 0,1) -> append(m4 2) -> compact -> probe(batch m4 3) must
    // equal the brute-force all-pairs filter restricted to
    // batch-touching pairs
    "q221_hamming_index" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val fp = spark.sql("""
        SELECT doc_id, m4,
               (((g * 2654435761) % 8192) * 8 + jit % 2)
               + (((g * 2246822519) % 8192) * 8 + (jit DIV 2) % 2) * 65536
               + (((g * 3266489917) % 8192) * 8 + (jit DIV 4) % 2) * 4294967296
               + (((g * 668265263) % 2048) * 8) * 281474976710656 AS sh
        FROM (SELECT doc_id, (doc_id DIV 25) DIV 16 AS g,
                     (doc_id DIV 25) % 8 AS jit, (doc_id DIV 25) % 4 AS m4
              FROM documents WHERE doc_id % 25 = 0)""")
      val idxDir = scratchDir("graft_hamidx_")
      graft.operators.Dedup.writeHammingIndex(
        fp.where(col("m4") <= 1), "doc_id", "sh", idxDir, bands = 4)
      graft.operators.Dedup.appendToHammingIndex(spark, idxDir,
        fp.where(col("m4") === 2), "doc_id", "sh")
      graft.operators.Dedup.compactHammingIndex(spark, idxDir)
      graft.operators.Dedup.hammingIndexPairs(spark, idxDir,
          fp.where(col("m4") === 3), "doc_id", "sh", maxHamming = 3)
        .orderBy("ida", "idb")
    }),
    // quality-classifier calibration: scores k/1000 with k = 37·id mod
    // 1000 over 8 bins (bin edges at multiples of 125/1000 = exact
    // binary fractions, so floor(score·8) can never wobble), labels
    // from an independent mod stream — bin means/fractions/gaps and the
    // ECE all replay under the decimal-sum snap law
    "q229_calibration" -> ((spark, dir) => {
      prep(spark, dir)
      val d = spark.sql("""
        SELECT doc_id,
               CAST((doc_id * 37) % 1000 AS DOUBLE) / 1000.0 AS score,
               CASE WHEN (doc_id * 53) % 1000 < (doc_id * 37) % 1000
                    THEN 1 ELSE 0 END AS y
        FROM documents""")
      graft.operators.TextAnalysis.calibrationProfile(d, "score", "y",
          bins = 8)
        .orderBy("bin")
    }),
    // persisted dedup-cluster registry: chain edges (i-40, i) arrive in
    // two appends split by (i DIV 40) parity, one append deliberately
    // replayed (retry = duplicate facts), then the log is compacted —
    // the clusters must equal the analytic transitive closure of the
    // full chain set (component = doc_id % 40, the chain's minimum)
    "q228_dedup_registry" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.{col, expr}
      val docs = spark.table("documents").select(col("doc_id"))
      val edges = docs.where(col("doc_id") >= 40)
        .select((col("doc_id") - 40).as("a"), col("doc_id").as("b"))
      val odd = edges.where(expr("(b DIV 40) % 2 = 1"))
      val even = edges.where(expr("(b DIV 40) % 2 = 0"))
      val reg = scratchDir("graft_registry_")
      graft.operators.Dedup.writeRegistry(odd, "a", "b", reg)
      graft.operators.Dedup.appendToRegistry(spark, reg, even, "a", "b")
      graft.operators.Dedup.appendToRegistry(spark, reg, even, "a", "b")
      graft.operators.Dedup.compactRegistry(spark, reg)
      graft.operators.Dedup.registryClusters(spark, reg)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),
    // STREAMING registry maintenance: the chain edges arrive as two
    // micro-batches through foreachBatch, batch 0 deliberately replayed
    // — edges are a<b facts the clustering distincts, so the clusters
    // must still equal q228's analytic chain closure
    "q233_stream_registry" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.streaming.Trigger
      val edges = spark.table("documents").select(col("doc_id"))
        .where(col("doc_id") >= 40)
        .select((col("doc_id") - 40).as("a"), col("doc_id").as("b"))
      val work = scratchDir("graft-q233-")
      val inDir = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(work, "in"))
      def stage(cond: org.apache.spark.sql.Column, name: String,
          mtime: Long): Unit = {
        val tmp = s"$work/stage_$name"
        edges.where(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
        val dst = inDir.resolve(name)
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      stage(expr("(b DIV 40) % 2 = 1"), "a.parquet", 1000000L)
      stage(expr("(b DIV 40) % 2 = 0"), "b.parquet", 2000000L)
      val reg = s"$work/reg"
      graft.operators.Dedup.writeRegistry(
        edges.where(org.apache.spark.sql.functions.lit(false)), "a", "b", reg)
      val q = spark.readStream.schema(edges.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ck")
        .foreachBatch { (b: DataFrame, id: Long) =>
          graft.streaming.StreamOps.registryAppendBatch(reg, b, "a", "b")
          if (id == 0) // retry: duplicate edge facts the clustering distincts
            graft.streaming.StreamOps.registryAppendBatch(reg, b, "a", "b")
        }
        .start()
      q.awaitTermination()
      graft.operators.Dedup.registryClusters(spark, reg)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),
    // the snapshot's consumer API: the dedup verdict for the WHOLE
    // corpus against a snapshot built from the sub-400 chain edges —
    // ids the snapshot knows get their chain minimum (keep iff they
    // ARE it), ids it has never seen keep themselves
    "q236_snapshot_verdict" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val edges = spark.table("documents").select(col("doc_id"))
        .where(col("doc_id") >= 40 && col("doc_id") < 400)
        .select((col("doc_id") - 40).as("a"), col("doc_id").as("b"))
      val reg = scratchDir("graft_verdict_reg_")
      val snap = scratchDir("graft_verdict_cl_")
      graft.operators.Dedup.writeRegistry(edges, "a", "b", reg)
      graft.operators.Dedup.writeClusterSnapshot(spark, reg, snap)
      graft.operators.Dedup.snapshotDedupVerdict(spark, snap,
          spark.table("documents"), "doc_id")
        .orderBy("doc_id")
    }),
    // the WHOLE incremental-dedup loop END TO END: bootstrap the
    // hamming index from the m4=0 fingerprint slice, stream the m4=1
    // and m4=2 slices as micro-batches through probe -> registry
    // append -> snapshot refresh -> index append (one foreachBatch
    // body, batch 0 deliberately replayed), then ADMIT the full corpus
    // by the snapshot verdict consumed through a semi-join. Survivors:
    // within each 16-doc fingerprint group every m4 <= 2 member is
    // probed into one cluster whose minimum (doc_id % 400 == 0) is
    // canonical; m4 = 3 members are never streamed, so the snapshot
    // has never seen them and they keep themselves — a composition
    // bug at any stage (probing with post-append state, a lost
    // refresh, a verdict off the wrong snapshot) breaks the analytic
    // admitted set
    "q237_dedup_loop_e2e" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.streaming.Trigger
      val fp = spark.sql("""
        SELECT doc_id, m4,
               (((g * 2654435761) % 8192) * 8 + jit % 2)
               + (((g * 2246822519) % 8192) * 8 + (jit DIV 2) % 2) * 65536
               + (((g * 3266489917) % 8192) * 8 + (jit DIV 4) % 2) * 4294967296
               + (((g * 668265263) % 2048) * 8) * 281474976710656 AS sh
        FROM (SELECT doc_id, (doc_id DIV 25) DIV 16 AS g,
                     (doc_id DIV 25) % 8 AS jit, (doc_id DIV 25) % 4 AS m4
              FROM documents WHERE doc_id % 25 = 0)""")
      val work = scratchDir("graft-q237-")
      val inDir = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(work, "in"))
      def stage(m4: Int, name: String, mtime: Long): Unit = {
        val tmp = s"$work/stage_$name"
        fp.where(col("m4") === m4).select("doc_id", "sh")
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
        val dst = inDir.resolve(name)
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      stage(1, "a.parquet", 1000000L)
      stage(2, "b.parquet", 2000000L)
      val idx = s"$work/idx"
      val reg = s"$work/reg"
      val snap = s"$work/snap"
      graft.operators.Dedup.writeHammingIndex(
        fp.where(col("m4") === 0), "doc_id", "sh", idx, bands = 4)
      graft.operators.Dedup.writeRegistry(
        fp.where(org.apache.spark.sql.functions.lit(false))
          .select(col("doc_id").as("ida"), col("doc_id").as("idb")),
        "ida", "idb", reg)
      graft.operators.Dedup.writeClusterSnapshot(spark, reg, snap)
      val batchSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sh",
          org.apache.spark.sql.types.LongType)))
      val q = spark.readStream.schema(batchSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ck")
        .foreachBatch { (b: DataFrame, id: Long) =>
          graft.streaming.StreamOps.hammingDedupLoopBatch(
            idx, reg, snap, b, "doc_id", "sh", maxHamming = 3)
          if (id == 0) // retry: probe/append/refresh all idempotent
            graft.streaming.StreamOps.hammingDedupLoopBatch(
              idx, reg, snap, b, "doc_id", "sh", maxHamming = 3)
        }
        .start()
      q.awaitTermination()
      val verdict = graft.operators.Dedup.snapshotDedupVerdict(
        spark, snap, spark.table("documents"), "doc_id")
      spark.table("documents").select(col("doc_id"))
        .join(verdict.where(col("keep")), Seq("doc_id"), "left_semi")
        .orderBy("doc_id")
    }),
    // graph-based ANN (NavGraph): build the layered navigable graph on
    // members 0..5 of each 8-doc cluster, APPEND members 6..7 (forward
    // + back edges, no rebuild), COMPACT (re-prune lists to m), then
    // beam-search member 5 of every cluster. The fixture's geometry
    // makes recall provable: cluster g's vectors live in the 2-plane
    // spanned by axes (g % 61, 61 + (g DIV 61) % 23) of an 84-dim
    // space at angles 0.04·member — in-cluster cosine >= cos(0.28)
    // ~ 0.96 vs cross-cluster <= ~0.79 (clusters share at most one
    // axis), so the exact top-7 of every query is EXACTLY its
    // co-members and the search must return that set through the whole
    // build/append/compact lifecycle (ranks excluded: equidistant
    // co-member pairs tie only up to float ulps). bruteMax = 96 makes
    // sf0.01 (20 vectors) take the brute construction and the sf0.1
    // twin (200 vectors, 150-node build layer) the IVF-probed one —
    // both exact at nProbe = nlist, same oracle
    "q238_nav_graph_ann" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val vecs = spark.sql("""
        SELECT i AS vec_id, mm,
               transform(sequence(0, 83), d ->
                 CAST(CASE WHEN d = a THEN (cos(th) + sin(th)) / sqrt(2)
                           WHEN d = b THEN (cos(th) - sin(th)) / sqrt(2)
                           ELSE 0.0 END AS FLOAT)) AS embedding
        FROM (SELECT i, mm, g % 61 AS a, 61 + (g DIV 61) % 23 AS b,
                     0.04 * mm AS th
              FROM (SELECT doc_id DIV 25 AS i, (doc_id DIV 25) DIV 8 AS g,
                           (doc_id DIV 25) % 8 AS mm
                    FROM documents WHERE doc_id % 25 = 0))""")
      val idx = scratchDir("graft_navgraph_")
      graft.operators.NavGraph.buildNavGraph(
        vecs.where(col("mm") <= 5).select("vec_id", "embedding"), idx,
        m = 8, maxLevel = 1, nlist = 8, nProbe = 8, iters = 3,
        bruteMax = 96L)
      graft.operators.NavGraph.appendToNavGraph(spark, idx,
        vecs.where(col("mm") >= 6).select("vec_id", "embedding"),
        nlist = 8, nProbe = 8, iters = 3, bruteMax = 96L)
      graft.operators.NavGraph.compactNavGraph(spark, idx)
      graft.operators.NavGraph.navSearch(spark, idx,
          vecs.where(col("mm") === 5).select("vec_id", "embedding"),
          k = 7, ef = 16, rounds = 2)
        .select(col("qid"), col("nid"))
        .orderBy("qid", "nid")
    }),
    // STREAMING NavGraph maintenance: q238's clusters built on members
    // 0..3, members 4 and 5 arriving as two micro-batches appended
    // straight into the persisted graph (forward + back edges), batch
    // 0 deliberately replayed — node/edge rows are facts every read
    // distincts and the append dedupes its union by id, so the beam
    // search must still return exactly the analytic co-member set.
    // (The compaction CADENCE under streaming — autoCompactAfter
    // firing mid-stream, searches green through two self-compactions
    // — is pinned by NavGraphSpec's "streaming maintenance rides the
    // cadence" test; this contract row keeps the cadence at its
    // default so the replay exactness is isolated from version flips.)
    "q239_stream_nav_index" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.streaming.Trigger
      val vecs = spark.sql("""
        SELECT i AS vec_id, mm,
               transform(sequence(0, 83), d ->
                 CAST(CASE WHEN d = a THEN (cos(th) + sin(th)) / sqrt(2)
                           WHEN d = b THEN (cos(th) - sin(th)) / sqrt(2)
                           ELSE 0.0 END AS FLOAT)) AS embedding
        FROM (SELECT i, mm, g % 61 AS a, 61 + (g DIV 61) % 23 AS b,
                     0.04 * mm AS th
              FROM (SELECT doc_id DIV 25 AS i, (doc_id DIV 25) DIV 8 AS g,
                           (doc_id DIV 25) % 8 AS mm
                    FROM documents WHERE doc_id % 25 = 0))""")
      val work = scratchDir("graft-q239-")
      val inDir = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(work, "in"))
      def stage(mm: Int, name: String, mtime: Long): Unit = {
        val tmp = s"$work/stage_$name"
        vecs.where(col("mm") === mm).select("vec_id", "embedding")
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
        val dst = inDir.resolve(name)
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      stage(4, "a.parquet", 1000000L)
      stage(5, "b.parquet", 2000000L)
      val idx = s"$work/idx"
      graft.operators.NavGraph.buildNavGraph(
        vecs.where(col("mm") <= 3).select("vec_id", "embedding"), idx,
        m = 8, maxLevel = 1, nlist = 8, nProbe = 8, iters = 3,
        bruteMax = 96L)
      val batchSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType))))
      val q = spark.readStream.schema(batchSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ck")
        .foreachBatch { (b: DataFrame, id: Long) =>
          graft.streaming.StreamOps.navAppendBatch(idx, b,
            nlist = 8, nProbe = 8, iters = 3, bruteMax = 96L)
          if (id == 0) // retry: duplicate node/edge facts, same search
            graft.streaming.StreamOps.navAppendBatch(idx, b,
              nlist = 8, nProbe = 8, iters = 3, bruteMax = 96L)
        }
        .start()
      q.awaitTermination()
      // queries restricted to COMPLETE clusters (an mm = 5 co-member
      // exists): in a corpus-truncated cluster the top-5 legitimately
      // fills its tail with cross-cluster rows the analytic co-member
      // oracle cannot model
      val queries = vecs.where(col("mm") === 1)
        .join(vecs.where(col("mm") === 5)
          .selectExpr("vec_id - 4 AS vec_id"), Seq("vec_id"), "left_semi")
      graft.operators.NavGraph.navSearch(spark, idx,
          queries.select("vec_id", "embedding"),
          k = 5, ef = 16, rounds = 2)
        .select(col("qid"), col("nid"))
        .orderBy("qid", "nid")
    }),
    // retrieval evaluation metrics: brute-force cosine top-10 (the q24
    // oracle shape) evaluated against dense analytic qrels (rel =
    // 2/1/0 by (vec_id + qid) % 5) — precision/recall/RR/AP/nDCG per
    // query, every ratio 6dp-snapped, DCG/AP sums decimal-accumulated;
    // the oracle recomputes the ranking AND the metric arithmetic
    "q240_retrieval_metrics" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val emb = spark.table("embeddings")
      val results = graft.operators.Ann.bruteForceTopK(
        emb.where(col("vec_id") < 8), emb, k = 10)
        .withColumnRenamed("nid", "doc_id")
      val qrels = spark.sql("""
        SELECT q.qid, e.vec_id AS doc_id,
               CASE CAST((e.vec_id + q.qid) % 5 AS INT)
                 WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END AS rel
        FROM (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 8) q
        CROSS JOIN embeddings e""")
      graft.operators.Retrieval.retrievalMetrics(results, qrels, k = 10)
        .orderBy("qid")
    }),
    // FILTERED ANN: ivfSearchWhere with a label predicate as the
    // allow-set, nProbe = nlist = 8 so the probed scan covers every
    // list and the PRE-filter semantics are exact — the oracle is
    // brute-force top-5 over the passing sub-corpus (a post-filtered
    // unfiltered top-k would return fewer than 5 rows for selective
    // predicates and hash-mismatch)
    "q241_ivf_filtered" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val emb = spark.table("embeddings")
      val index = graft.operators.Ann.buildIvf(
        emb.select("vec_id", "embedding"), nlist = 8, iters = 3)
      graft.operators.Ann.ivfSearchWhere(index,
          emb.where(col("vec_id") < 8), k = 5, nProbe = 8,
          allowed = emb.where(col("label") % 3 =!= 0))
        .orderBy("qid", "rnk")
    }),
    // late-interaction (MaxSim) top-k: 4-vector bags by vec_id // 4,
    // groups 0..4 as queries against every bag (self included — the
    // 6dp-snapped per-query-vector maxes make even the self-score
    // replay exactly); score = Σ rz6(max cos), one codegen'd nested
    // lambda per (query, doc) pair, no per-token explode
    "q242_maxsim_topk" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val bags = spark.table("embeddings")
        .groupBy(expr("vec_id DIV 4").as("g"))
        .agg(transform(sort_array(collect_list(struct(col("vec_id"),
          col("embedding")))), s => s("embedding")).as("vecs"))
      val docs = bags.select(col("g").as("doc_id"), col("vecs").as("dvecs"))
      val queries = bags.where(col("g") < 5)
        .select(col("g").as("qid"), col("vecs").as("qvecs"))
      graft.operators.Retrieval.maxSimTopK(queries, docs, k = 5)
        .orderBy("qid", "rnk")
    }),
    // FILTERED graph ANN: navSearchWhere over q238's clusters with a
    // membership predicate as the allow-set — PRE-filter semantics (the
    // q241 contract applied to the graph family): the beam traverses
    // the FULL graph while a parallel accumulator keeps the best
    // allowed rows visited, so each query returns its k best ALLOWED
    // co-members exactly. A post-filtered unfiltered top-k would
    // under-fill k here (the unfiltered top-5 of an mm=5 query is
    // {4,6,3,7,2}; dropping the disallowed 7 leaves 4 rows and never
    // surfaces allowed member 1) and hash-mismatch the sub-corpus
    // oracle. Ranks excluded like q238 (equidistant co-member ties)
    "q243_nav_filtered" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val vecs = spark.sql("""
        SELECT i AS vec_id, mm,
               transform(sequence(0, 83), d ->
                 CAST(CASE WHEN d = a THEN (cos(th) + sin(th)) / sqrt(2)
                           WHEN d = b THEN (cos(th) - sin(th)) / sqrt(2)
                           ELSE 0.0 END AS FLOAT)) AS embedding
        FROM (SELECT i, mm, g % 61 AS a, 61 + (g DIV 61) % 23 AS b,
                     0.04 * mm AS th
              FROM (SELECT doc_id DIV 25 AS i, (doc_id DIV 25) DIV 8 AS g,
                           (doc_id DIV 25) % 8 AS mm
                    FROM documents WHERE doc_id % 25 = 0))""")
      val idx = scratchDir("graft_navfilt_")
      graft.operators.NavGraph.buildNavGraph(
        vecs.select("vec_id", "embedding"), idx,
        m = 8, maxLevel = 1, nlist = 8, nProbe = 8, iters = 3,
        bruteMax = 96L)
      graft.operators.NavGraph.navSearchWhere(spark, idx,
          vecs.where(col("mm") === 5).select("vec_id", "embedding"),
          k = 5, allowed = vecs.where(col("mm").isin(1, 2, 3, 4, 6)),
          ef = 16, rounds = 2)
        .select(col("qid"), col("nid"))
        .orderBy("qid", "nid")
    }),
    // STREAMING incremental clustering: each micro-batch appends its
    // edges to the registry AND folds them into the cluster snapshot
    // (delta-cost CC) in one foreachBatch body, batch 0 deliberately
    // replayed — the replayed refresh is a strict no-op and the
    // replayed append adds facts the clustering distincts, so the
    // snapshot must equal q228's analytic chain closure
    "q235_stream_snapshot" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.streaming.Trigger
      val edges = spark.table("documents").select(col("doc_id"))
        .where(col("doc_id") >= 40)
        .select((col("doc_id") - 40).as("a"), col("doc_id").as("b"))
      val work = scratchDir("graft-q235-")
      val inDir = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(work, "in"))
      def stage(cond: org.apache.spark.sql.Column, name: String,
          mtime: Long): Unit = {
        val tmp = s"$work/stage_$name"
        edges.where(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
        val dst = inDir.resolve(name)
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      stage(expr("(b DIV 40) % 2 = 1"), "a.parquet", 1000000L)
      stage(expr("(b DIV 40) % 2 = 0"), "b.parquet", 2000000L)
      val reg = s"$work/reg"
      val snap = s"$work/snap"
      graft.operators.Dedup.writeRegistry(
        edges.where(org.apache.spark.sql.functions.lit(false)), "a", "b", reg)
      graft.operators.Dedup.writeClusterSnapshot(spark, reg, snap)
      val q = spark.readStream.schema(edges.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ck")
        .foreachBatch { (b: DataFrame, id: Long) =>
          graft.streaming.StreamOps.registryWithSnapshotBatch(reg, snap, b, "a", "b")
          if (id == 0) // retry: edge facts distinct away; refresh no-ops
            graft.streaming.StreamOps.registryWithSnapshotBatch(reg, snap, b, "a", "b")
        }
        .start()
      q.awaitTermination()
      graft.operators.Dedup.readClusterSnapshot(spark, snap)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),
    // INCREMENTAL cluster snapshot: bootstrap the (id, component) map
    // from the odd chain edges, then fold the even edges in as two
    // delta refreshes (each CC runs over the delta-sized component
    // graph only) — the final snapshot must equal the full transitive
    // closure of ALL edges, q228's analytic oracle verbatim
    "q232_registry_snapshot" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.{col, expr}
      val docs = spark.table("documents").select(col("doc_id"))
      val edges = docs.where(col("doc_id") >= 40)
        .select((col("doc_id") - 40).as("a"), col("doc_id").as("b"))
      val odd = edges.where(expr("(b DIV 40) % 2 = 1"))
      val e1 = edges.where(expr("(b DIV 40) % 4 = 0"))
      val e2 = edges.where(expr("(b DIV 40) % 4 = 2"))
      val reg = scratchDir("graft_regsnap_reg_")
      val snap = scratchDir("graft_regsnap_cl_")
      graft.operators.Dedup.writeRegistry(odd, "a", "b", reg)
      graft.operators.Dedup.writeClusterSnapshot(spark, reg, snap)
      graft.operators.Dedup.appendToRegistry(spark, reg, e1, "a", "b")
      graft.operators.Dedup.refreshClusterSnapshot(spark, snap, e1, "a", "b")
      graft.operators.Dedup.appendToRegistry(spark, reg, e2, "a", "b")
      graft.operators.Dedup.refreshClusterSnapshot(spark, snap, e2, "a", "b")
      graft.operators.Dedup.readClusterSnapshot(spark, snap)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),
    // the ADAPTIVE probe's shuffle shape: q221's exact fixture probed
    // with broadcastMaxRows = 0, forcing the backfill-sized-batch path
    // (no broadcast hints; the joins shuffle on (band, bucket)) — the
    // brute-force popcount oracle must hold through either join shape
    "q234_hamming_index_shuffle" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val fp = spark.sql("""
        SELECT doc_id, m4,
               (((g * 2654435761) % 8192) * 8 + jit % 2)
               + (((g * 2246822519) % 8192) * 8 + (jit DIV 2) % 2) * 65536
               + (((g * 3266489917) % 8192) * 8 + (jit DIV 4) % 2) * 4294967296
               + (((g * 668265263) % 2048) * 8) * 281474976710656 AS sh
        FROM (SELECT doc_id, (doc_id DIV 25) DIV 16 AS g,
                     (doc_id DIV 25) % 8 AS jit, (doc_id DIV 25) % 4 AS m4
              FROM documents WHERE doc_id % 25 = 0)""")
      val idxDir = scratchDir("graft_hamidx_shuf_")
      graft.operators.Dedup.writeHammingIndex(
        fp.where(col("m4") <= 2), "doc_id", "sh", idxDir, bands = 4)
      graft.operators.Dedup.hammingIndexPairs(spark, idxDir,
          fp.where(col("m4") === 3), "doc_id", "sh", maxHamming = 3,
          broadcastMaxRows = 0L)
        .orderBy("ida", "idb")
    }),
    // STREAMING hamming-index maintenance: q221's history (m4 0..2)
    // arrives as two micro-batches appended straight into the persisted
    // index, batch 0 deliberately replayed — banded fingerprint rows
    // are facts and the probe distincts its pairs, so the q221 oracle
    // (brute-force popcount, batch-touching restriction) holds verbatim
    "q231_stream_hamming_index" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.streaming.Trigger
      val fp = spark.sql("""
        SELECT doc_id, m4,
               (((g * 2654435761) % 8192) * 8 + jit % 2)
               + (((g * 2246822519) % 8192) * 8 + (jit DIV 2) % 2) * 65536
               + (((g * 3266489917) % 8192) * 8 + (jit DIV 4) % 2) * 4294967296
               + (((g * 668265263) % 2048) * 8) * 281474976710656 AS sh
        FROM (SELECT doc_id, (doc_id DIV 25) DIV 16 AS g,
                     (doc_id DIV 25) % 8 AS jit, (doc_id DIV 25) % 4 AS m4
              FROM documents WHERE doc_id % 25 = 0)""")
      val work = scratchDir("graft-q231-")
      val inDir = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(work, "in"))
      def stage(cond: org.apache.spark.sql.Column, name: String,
          mtime: Long): Unit = {
        val tmp = s"$work/stage_$name"
        fp.where(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
        val dst = inDir.resolve(name)
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      stage(col("m4") <= 1, "a.parquet", 1000000L)
      stage(col("m4") === 2, "b.parquet", 2000000L)
      val idxDir = s"$work/idx"
      graft.operators.Dedup.writeHammingIndex(
        fp.where(org.apache.spark.sql.functions.lit(false)), "doc_id", "sh",
        idxDir, bands = 4)
      val q = spark.readStream.schema(fp.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ck")
        .foreachBatch { (b: DataFrame, id: Long) =>
          graft.streaming.StreamOps.hammingAppendBatch(idxDir, b, "doc_id", "sh")
          if (id == 0) // retry: duplicate fact rows the probe distincts
            graft.streaming.StreamOps.hammingAppendBatch(idxDir, b, "doc_id", "sh")
        }
        .start()
      q.awaitTermination()
      graft.operators.Dedup.hammingIndexPairs(spark, idxDir,
          fp.where(col("m4") === 3), "doc_id", "sh", maxHamming = 3)
        .orderBy("ida", "idb")
    }),
    // snapshot changelog by content hash: removed (%7), changed (%3 of
    // the survivors), added (+1000000 ids); unchanged ids emit nothing
    "q218_corpus_diff" -> ((spark, dir) => {
      prep(spark, dir)
      val old = spark.table("documents").selectExpr("doc_id",
        "concat('v', CAST(doc_id % 50 AS STRING)) AS text")
      val nw = spark.sql("""
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN concat('w', CAST(doc_id % 50 AS STRING))
                    ELSE concat('v', CAST(doc_id % 50 AS STRING)) END AS text
        FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id + 1000000, 'v0' FROM documents WHERE doc_id % 11 = 0""")
      graft.operators.Dedup.corpusDiff(old, nw, "doc_id", "text")
        .orderBy("doc_id")
    }),
    // URL extraction: one row per http(s) match with lowercased host;
    // %11 docs carry NO url (they produce no rows), %2 docs carry two,
    // %5 docs end a sentence with a URL — the trailing '.)' must stay
    // in the prose (host/path end structurally alphanumeric)
    "q215_url_extract" -> ((spark, dir) => {
      prep(spark, dir)
      val d = spark.table("documents").selectExpr("doc_id",
        """CASE WHEN doc_id % 11 = 0 THEN 'no links here'
             ELSE concat('see http://www.Site', CAST(doc_id % 40 AS STRING),
               '.example.com/p', CAST(doc_id % 7 AS STRING),
               CASE WHEN doc_id % 2 = 0
                    THEN concat(' and https://cdn', CAST(doc_id % 3 AS STRING),
                                '.example.net:8080/x?y=', CAST(doc_id AS STRING))
                    ELSE '' END,
               CASE WHEN doc_id % 5 = 0
                    THEN concat(' (see https://ref.example.org/a',
                                CAST(doc_id % 9 AS STRING), '.)')
                    ELSE '' END, ' tail') END AS text""")
      graft.operators.Curation.extractUrls(d, "doc_id", "text")
        .orderBy("doc_id", "url")
    }),
    // per-(event_type, hour) exact value quantiles — the group-quantile
    // machinery composed over real event-time buckets
    "q216_time_quantiles" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.{col, concat, expr, lit}
      val e = spark.table("events")
        .select(concat(col("event_type"), lit(":"),
          expr(s"($TS_US) div 3600000000").cast("string")).as("g"),
          col("value"))
      graft.operators.Freq.exactQuantilesByGroup(e, "g", "value",
          Seq(0.5, 0.9))
        .orderBy("g", "q")
    }),
    // cross-corpus decontamination at substring granularity: maximal
    // train-doc intervals whose every 3-window also appears in the
    // 2-doc benchmark ('c0 c1 c2 c3' and 'g1a g1b g1c') — the %7 docs'
    // c3 extension must MERGE into one longer contaminated span
    "q214_contaminated_spans" -> ((spark, dir) => {
      prep(spark, dir)
      val train = spark.table("documents").selectExpr("doc_id",
        """concat('u', CAST(doc_id AS STRING), ' c0 c1 c2 ',
             CASE WHEN doc_id % 7 = 0 THEN 'c3 ' ELSE '' END,
             'x', CAST(doc_id AS STRING),
             ' g', CAST(doc_id % 4 AS STRING), 'a',
             ' g', CAST(doc_id % 4 AS STRING), 'b',
             ' g', CAST(doc_id % 4 AS STRING), 'c') AS text""")
      val bench = spark.sql(
        "SELECT 'c0 c1 c2 c3' AS btext UNION ALL SELECT 'g1a g1b g1c'")
      graft.operators.Dedup.contaminatedSpans(train, "doc_id", "text",
          bench, "btext", n = 3)
        .orderBy("doc_id", "span_start")
    }),
    // vocabulary Zipf head: top-50 tokens with rank and 6dp log-log
    // coordinates (rank assignment window-free via in-row sort_array)
    "q212_zipf_profile" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.TextAnalysis.zipfProfile(
          spark.table("documents"), "text", topK = 50)
        .orderBy("rnk")
    }),
    // hard-negative mining at full probe: top-3 neighbors excluding
    // self AND the labeled positive (vec_id + 7); over-fetch + anti-join
    // + re-rank must equal the brute-force excluded top-k exactly
    "q213_hard_negatives" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val emb = spark.table("embeddings")
      val queries = emb.where(col("vec_id") < 5)
      val positives = queries.select(col("vec_id").as("qid"),
        (col("vec_id") + 7).as("pos"))
      val idx = graft.operators.Ann.buildIvf(emb, nlist = 8)
      graft.operators.Ann.hardNegatives(idx, queries, positives,
          "qid", "pos", k = 3, nProbe = 8)
        .orderBy("qid", "rnk")
    }),
    // 3-round k-core peel (k=3) on the co-order part graph: each round
    // deletes nodes whose CURRENT distinct-neighbor degree < 3; the
    // oracle unrolls the peels as MATERIALIZED CTEs and hash-matches
    // the survivor degree table
    "q211_kcore" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val li = spark.table("lineitem").where(col("l_orderkey") % 5 === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val edges = li.toDF("o", "p1").join(li.toDF("o", "p2"), Seq("o"))
        .where(col("p1") < col("p2"))
        .select(col("p1").as("src"), col("p2").as("dst"))
      graft.operators.Graph.kCore(edges, "src", "dst", k = 3, rounds = 3)
        .orderBy("node")
    }),
    // PII census over synthetic contact strings: every doc carries an
    // email; %2 docs a phone, %3 docs a dotted-quad, %5 docs an
    // SSN-shaped triple (which the phone pattern ALSO counts — the
    // documented independent-census semantics). Map-only codegen'd
    // regexp_extract_all counts; DuckDB replays the identical patterns
    "q209_pii_profile" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.Curation.piiProfile(
          spark.table("documents").selectExpr("doc_id", PII_FIXTURE_SQL),
          "doc_id", "text")
        .orderBy("doc_id")
    }),
    // the redaction chain (email -> SSN -> IPv4 -> phone) with STAGED
    // counts: an SSN redacted at stage 2 is a tag by the phone scan, so
    // n_redacted is the number of replacements actually made
    "q210_pii_redact" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      graft.operators.Curation.redactPii(
          spark.table("documents").selectExpr("doc_id", PII_FIXTURE_SQL),
          "doc_id", "text")
        .select(col("doc_id"), col("text"), col("n_redacted"))
        .orderBy("doc_id")
    }),
    // maximal shared token spans (Lee et al. substring dedup, n-gram
    // anchored extend-and-merge): the fixture plants a corpus-wide run
    // (c0 c1 c2), a %7-only extension (c3) that must MERGE into one
    // longer span via consecutive shared gram starts, and a per-%4-class
    // tail run — the oracle replays census + islands-merge in SQL
    "q207_max_shared_spans" -> ((spark, dir) => {
      prep(spark, dir)
      val d = spark.table("documents").selectExpr("doc_id",
        """concat('u', CAST(doc_id AS STRING), ' c0 c1 c2 ',
             CASE WHEN doc_id % 7 = 0 THEN 'c3 ' ELSE '' END,
             'x', CAST(doc_id AS STRING),
             ' g', CAST(doc_id % 4 AS STRING), 'a',
             ' g', CAST(doc_id % 4 AS STRING), 'b',
             ' g', CAST(doc_id % 4 AS STRING), 'c') AS text""")
      graft.operators.Dedup.maximalSharedSpans(d, "doc_id", "text", n = 3)
        .orderBy("doc_id", "span_start")
    }),
    // BFS hop distance from a seed set (3 rounds) on the co-order part
    // graph: per round one adjacency join + one min hash-agg; nodes
    // beyond the horizon keep NULL — the crawl-depth / trusted-domain
    // distance prior
    "q201_hop_distance" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val li = spark.table("lineitem").where(col("l_orderkey") % 5 === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val edges = li.toDF("o", "p1").join(li.toDF("o", "p2"), Seq("o"))
        .where(col("p1") < col("p2"))
        .select(col("p1").as("src"), col("p2").as("dst"))
      val seeds = li.select(col("p")).distinct().where(col("p") % 97 === 0)
      graft.operators.Graph.hopDistance(edges, "src", "dst", seeds, "p",
          maxHops = 3)
        .orderBy("node")
    }),
    // END-TO-END curation pipeline on real documents, every stage a
    // REAL operator: exact-dedup keep-first -> token-count quality gate
    // -> deterministic half-sample -> per-source token budgets. The
    // oracle replays all four stage laws in one chain — proving the
    // operators COMPOSE deterministically, not just pass in isolation
    "q200_pipeline_e2e" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.{col, size, split}
      val deduped = graft.operators.Dedup.exactKeepFirst(
        spark.table("documents"), "doc_id", "text")
      val gated = deduped.where(size(split(col("text"), " ")) >= 30)
      val sampled = graft.operators.Sampling.deterministicSample(
        gated, "doc_id", rate = 0.5)
      graft.operators.Curation.sampleToTokenBudget(sampled, "source",
          "doc_id", "text",
          budgets = Map("src0" -> 5000L, "src1" -> 5000L),
          defaultBudget = 3000L)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).as("n_tok"))
        .orderBy("doc_id")
    }),
    // key-skew profile of the lineitem order key: exact Gini over
    // per-key counts via the rank-assembly (no single-task sort), the
    // salting decision signal
    "q199_skew_profile" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.Freq.skewProfile(spark.table("lineitem"), "l_orderkey")
    }),
    // corpus drift gate: JS divergence between the English and
    // non-English documents over 256 hashed-token buckets — decimal
    // term sums make the statistic partitioning-independent
    "q198_js_divergence" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val d = spark.table("documents")
      graft.operators.TextAnalysis.jsDivergence(
        d.where(col("lang") === "en"), d.where(col("lang") =!= "en"),
        "text", buckets = 256)
    }),
    // near-containment pairs over the real documents: |A∩B|/|A| on the
    // df<=50-filtered token universe — the quote-inclusion relation
    // Jaccard misses; token join bounded by the df cap
    "q197_containment" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      // doc_id < 2000 keeps the df cap comparable across sfs (the twin
      // would otherwise filter its universe to emptiness at 10x docs)
      graft.operators.Dedup.containmentPairs(
          spark.table("documents").where(col("doc_id") < 2000),
          "doc_id", "text", minContainment = 0.5, maxDf = 50)
        .orderBy("ida", "idb")
    }),
    // top-p (nucleus) selection per customer bucket: keep orders until
    // 60% of the bucket's spend mass, cents-integer scores so the
    // running sums are order-free exact — the quality-mass shrink that
    // adapts cut depth to each group's distribution
    "q196_top_p" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.{col, expr}
      val o = spark.table("orders").select(
        (col("o_custkey") % 97).as("grp"), col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      graft.operators.Sampling.topPByScore(o, "grp", "o_orderkey", "cents", 0.6)
        .orderBy("grp", "rnk")
    }),
    // C4-style URL dedup: parametric messy URLs (mixed-case www hosts,
    // :80 ports, tracking params, fragments, trailing slashes) from
    // part keys, canonicalized by the fixed codegen'd regex chain and
    // elected per canonical URL — one map-side-partial hash agg
    "q195_url_dedup" -> ((spark, dir) => {
      prep(spark, dir)
      val urls = spark.sql("""
        SELECT p_partkey AS id, concat(
          CASE WHEN p_partkey % 2 = 0 THEN 'HTTP://WWW.' ELSE 'http://' END,
          'Site', CAST(p_partkey % 40 AS STRING), '.example.com',
          CASE WHEN p_partkey % 4 = 0 THEN ':80' ELSE '' END,
          '/Items/', CAST(p_partkey % 7 AS STRING),
          CASE WHEN p_partkey % 3 = 0 THEN '/' ELSE '' END,
          CASE WHEN p_partkey % 5 = 0 THEN '?utm_source=feed'
               WHEN p_partkey % 5 = 1 THEN
                 concat('?ref=', CAST(p_partkey % 3 AS STRING), '&utm_campaign=x')
               WHEN p_partkey % 5 = 2 THEN
                 concat('?gclid=abc&ref=', CAST(p_partkey % 3 AS STRING))
               ELSE '' END,
          CASE WHEN p_partkey % 6 = 0 THEN '#Section2' ELSE '' END) AS url
        FROM part""")
      graft.operators.Curation.urlDedup(urls, "id", "url")
        .orderBy("canon_url")
    }),
    // image perceptual average-hash: REAL ImageIO decode of parametric
    // PNGs whose uniform 8x8 cells make the 64-bit hash analytic — the
    // oracle recomputes every bit from the construction law (exact
    // integer mean comparisons, no rounding law)
    "q193_image_ahash" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val m = graft.multimodal.Media.withMetadata(
        ahashFixture(spark), "doc_id", "png")
      graft.multimodal.Media.imageAHash(m)
        .select(col("mediaId").as("doc_id"), col("ahash"),
          col("realDecode").as("real_decode"))
        .orderBy("doc_id")
    }),
    // image near-dup pairs: the aHash fixture through the generic
    // banded-Hamming pair machinery (maxHamming 3 < bands 4, so the
    // pigeonhole guarantee is total and the oracle can enumerate plain
    // all-pairs popcount over the analytic hashes)
    "q194_image_neardup" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val m = graft.multimodal.Media.withMetadata(
        ahashFixture(spark), "doc_id", "png")
      val hashes = graft.multimodal.Media.imageAHash(m)
        .select(col("mediaId").as("doc_id"), col("ahash"))
      graft.operators.Dedup.hammingPairs64(hashes, "doc_id", "ahash",
          maxHamming = 3, bands = 4)
        .orderBy("ida", "idb")
    }),
    // STREAMING count-min maintenance: lineitem arrives as two
    // mtime-ordered micro-batches (even orderkeys first); each batch
    // appends its batch-local 3x256 sketch tagged with the batch id,
    // and the folded state must equal the one-shot sketch over ALL of
    // lineitem (CM linearity) — hash-matched against the same DuckDB
    // replay that gates q187's cells
    "q192_stream_cms" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.streaming.Trigger
      val li = spark.table("lineitem")
      val work = scratchDir("graft-q192-")
      val inDir = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(work, "in"))
      def stage(cond: org.apache.spark.sql.Column, name: String,
          mtime: Long): Unit = {
        val tmp = s"$work/stage_$name"
        li.where(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
        val dst = inDir.resolve(name)
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      stage(col("l_orderkey") % 2 === 0, "a.parquet", 1000000L)
      stage(col("l_orderkey") % 2 === 1, "b.parquet", 2000000L)
      val state = new graft.streaming.CompactingKeyState(spark,
        s"$work/state", compactEvery = 1)
      val q = spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ck")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.streaming.StreamOps.cmsAppendBatch(state, batch,
            "l_partkey", width = 256, depth = 3, batchId = id)
        }
        .start()
      q.awaitTermination()
      graft.streaming.StreamOps.cmsReadSketch(state).get
        .orderBy("row", "bucket")
    }),
    // Misra-Gries heavy hitters maintained across two micro-batches
    // (q192's staging pattern): per-batch capacity-bounded summaries
    // fold via the mergeable-summaries reduction. capacity 64 >= the 50
    // distinct keys, so nothing is ever evicted and the maintained
    // summary must equal the exact group-by counts — the oracle regime;
    // the under-capacity guarantee is pinned in StreamMgSpec
    "q208_stream_mg" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.streaming.Trigger
      val li = spark.table("lineitem")
      val work = scratchDir("graft-q208-")
      val inDir = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(work, "in"))
      def stage(cond: org.apache.spark.sql.Column, name: String,
          mtime: Long): Unit = {
        val tmp = s"$work/stage_$name"
        li.where(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
        val dst = inDir.resolve(name)
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      stage(col("l_orderkey") % 2 === 0, "a.parquet", 1000000L)
      stage(col("l_orderkey") % 2 === 1, "b.parquet", 2000000L)
      val state = new graft.streaming.CompactingKeyState(spark,
        s"$work/state", compactEvery = 1)
      val q = spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
        .selectExpr("CAST(l_partkey % 50 AS STRING) AS k")
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ck")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.streaming.StreamOps.mgAppendBatch(state, batch,
            "k", capacity = 64, batchId = id)
        }
        .start()
      q.awaitTermination()
      graft.streaming.StreamOps.mgReadSummary(state, capacity = 64).get
        .orderBy("item")
    }),
    // STREAMING BM25 index maintenance: documents arrive as two
    // mtime-ordered micro-batches (even doc_ids first) against an
    // EMPTY bootstrap index; each batch lands as an exactly-once
    // OVERWRITE delta, batch 0 is deliberately run twice (a simulated
    // foreachBatch retry, which must be a no-op), and the final
    // indexed search must equal the one-shot q174 index — BM25_ORACLE
    // verbatim
    "q222_stream_bm25_index" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.{col, lit}
      import org.apache.spark.sql.streaming.Trigger
      val docs = spark.table("documents")
      val work = scratchDir("graft-q222-")
      val inDir = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(work, "in"))
      def stage(cond: org.apache.spark.sql.Column, name: String,
          mtime: Long): Unit = {
        val tmp = s"$work/stage_$name"
        docs.where(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
        val dst = inDir.resolve(name)
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      stage(col("doc_id") % 2 === 0, "a.parquet", 1000000L)
      stage(col("doc_id") % 2 === 1, "b.parquet", 2000000L)
      val idxDir = s"$work/idx"
      graft.operators.TextAnalysis.writeBm25Index(
        docs.where(lit(false)), "doc_id", "text", idxDir)
      val q = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ck")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.streaming.StreamOps.bm25AppendBatch(idxDir, batch,
            "doc_id", "text", id)
          if (id == 0) // a retry replays the same batch id + rows
            graft.streaming.StreamOps.bm25AppendBatch(idxDir, batch,
              "doc_id", "text", id)
        }
        .start()
      q.awaitTermination()
      val queries = spark.createDataFrame(Seq(
        (0L, "hash join"), (1L, "slow scan filter"),
        (2L, "vector window spark"), (3L, "nosuchtoken"))).toDF("qid", "qtext")
      graft.operators.TextAnalysis.bm25SearchIndex(spark, idxDir,
          queries, "qid", "qtext", k = 10)
        .orderBy("qid", "rnk")
    }),
    // STREAMING exact-index maintenance: q217's fixture arrives as two
    // micro-batches appended straight into the persisted index — no
    // delta bookkeeping needed because the min(doc)-fold probe is
    // IDEMPOTENT under the duplicate rows a foreachBatch retry appends
    // (batch 0 is deliberately appended twice) — and the final probe
    // must equal q217's one-shot election oracle
    "q223_stream_exact_index" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.{col, lit}
      import org.apache.spark.sql.streaming.Trigger
      val d = spark.table("documents").selectExpr("doc_id",
        "concat('body ', CAST(doc_id % 97 AS STRING)) AS text")
      val work = scratchDir("graft-q223-")
      val inDir = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(work, "in"))
      def stage(cond: org.apache.spark.sql.Column, name: String,
          mtime: Long): Unit = {
        val tmp = s"$work/stage_$name"
        d.where(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
        val dst = inDir.resolve(name)
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      stage(col("doc_id") % 5 <= 1, "a.parquet", 1000000L)
      stage(col("doc_id") % 5 === 2 || col("doc_id") % 5 === 3,
        "b.parquet", 2000000L)
      val idxDir = s"$work/idx"
      graft.operators.Dedup.writeExactIndex(
        d.where(lit(false)), "doc_id", "text", idxDir)
      val q = spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ck")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.streaming.StreamOps.exactIndexAppendBatch(idxDir, batch,
            "doc_id", "text")
          if (id == 0) // retry: duplicate rows that min-folding ignores
            graft.streaming.StreamOps.exactIndexAppendBatch(idxDir, batch,
              "doc_id", "text")
        }
        .start()
      q.awaitTermination()
      graft.operators.Dedup.exactIndexHits(spark, idxDir,
          d.where(col("doc_id") % 5 === 4), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),
    // synchronous label propagation (4 rounds) over the co-order part
    // graph: deterministic most-frequent-neighbor-label update, ties to
    // the smallest label — per round ONE adjacency join + two hash aggs
    // (argmax folded as max(struct(c, -lbl)), partial-aggregated)
    "q191_label_prop" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val li = spark.table("lineitem").where(col("l_orderkey") % 5 === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val edges = li.toDF("o", "p1").join(li.toDF("o", "p2"), Seq("o"))
        .where(col("p1") < col("p2"))
        .select(col("p1").as("src"), col("p2").as("dst"))
      graft.operators.Graph.labelPropagation(edges, "src", "dst", iters = 4)
        .orderBy("node")
    }),
    // Unicode-script composition per document: map-only codegen'd
    // regexp counts (Latin/Cyrillic/Han/Arabic/digits) + 6dp fractions
    // — the script-mix routing signal for multilingual curation
    "q190_script_profile" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.TextAnalysis.scriptProfile(spark.table("documents"),
        "doc_id", "text").orderBy("doc_id")
    }),
    // per-vertex triangle counts + local clustering coefficient over
    // the co-order part graph (parts sharing an order), degree-oriented
    // so each triangle materializes exactly once at its lowest apex —
    // hub-safe wedge generation, no cartesian anywhere
    "q189_triangle_stats" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val li = spark.table("lineitem").where(col("l_orderkey") % 5 === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val edges = li.toDF("o", "p1").join(li.toDF("o", "p2"), Seq("o"))
        .where(col("p1") < col("p2"))
        .select(col("p1").as("src"), col("p2").as("dst"))
      graft.operators.Graph.triangleStats(edges, "src", "dst")
        .orderBy("vertex")
    }),
    // EXACT distributed quantiles (type-1 / discrete) of lineitem
    // extended price without any global sort: distinct-value histogram,
    // range-partitioned cumulative spans from partition-local running
    // sums + a broadcast P-row offset table, target ranks probed
    // map-side — the exact-cutpoint primitive for corpus gating
    "q188_exact_quantiles" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.Freq.exactQuantiles(spark.table("lineitem"),
          "l_extendedprice", Seq(0.25, 0.5, 0.75, 0.9, 0.99))
        .orderBy("q")
    }),
    // count-min sketch frequency estimates over lineitem part keys:
    // 3x256 sketch (seed-free md5 law, fully deterministic), probe keys
    // estimated against the broadcast sketch and checked against exact
    // counts — est and the CM overestimate guarantee both hash-matched
    "q187_cms_counts" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.{col, count, lit}
      val li = spark.table("lineitem")
      val sk = graft.operators.Freq.cmsBuild(li, "l_partkey", width = 256, depth = 3)
      val probe = li.where(col("l_partkey") % 37 === 0)
        .select("l_partkey").distinct()
      val est = graft.operators.Freq.cmsEstimate(sk, probe, "l_partkey", 256, 3)
      val exact = li.groupBy("l_partkey").agg(count(lit(1)).as("exact"))
      est.join(exact, Seq("l_partkey"))
        .select(col("l_partkey"), col("est"), col("exact"),
          (col("est") >= col("exact")).as("ge_exact"))
        .orderBy("l_partkey")
    }),
    // Jaro–Winkler record linkage under the same first-token blocking:
    // the prefix-boosted scorer for names/titles. The byte-level kernel
    // is bit-identical to DuckDB's jaro_winkler_similarity (fuzz-checked
    // over 60k pairs, 0 ulp drift), so the similarity ships as a raw
    // double with no rounding law
    "q183_jw_linkage" -> ((spark, dir) => {
      prep(spark, dir)
      val parts = spark.sql(
        "SELECT p_partkey AS id, p_name AS name FROM part WHERE p_partkey % 20 = 0")
      graft.operators.Dedup.jwDups(parts, "id", "name", minSim = 0.88)
        .orderBy("ida", "idb")
    }),
    // fuzzy (edit-distance) duplicate pairs under first-token blocking:
    // record linkage for the typo class shingle-Jaccard misses; the
    // oracle replays blocking, the count cap, and Levenshtein itself
    "q181_fuzzy_dedup" -> ((spark, dir) => {
      prep(spark, dir)
      val parts = spark.sql(
        "SELECT p_partkey AS id, p_name AS name FROM part WHERE p_partkey % 50 = 0")
      graft.operators.Dedup.fuzzyDups(parts, "id", "name", maxDist = 3)
        .orderBy("ida", "idb")
    }),
    // SCD2 versioned upsert: every row fate in one fixture — closed
    // history passthrough, untouched keys, no-op batch rows, changed
    // keys (close + reopen), brand-new keys — pure join arithmetic,
    // no floats, replayed row-for-row by the oracle
    "q180_scd2_merge" -> ((spark, dir) => {
      prep(spark, dir)
      val dim = spark.sql("""
        SELECT c_custkey AS k, c_mktsegment AS seg,
               CAST(0 AS BIGINT) AS valid_from,
               CAST(NULL AS BIGINT) AS valid_to, true AS is_current
        FROM customer
        UNION ALL
        SELECT c_custkey, 'LEGACY', CAST(-100 AS BIGINT),
               CAST(0 AS BIGINT), false
        FROM customer WHERE c_custkey % 11 = 0""")
      val batch = spark.sql("""
        SELECT c_custkey AS k,
               CASE WHEN c_custkey % 7 = 0 THEN 'WEB' ELSE c_mktsegment END AS seg
        FROM customer WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 'NEWSEG'
        FROM customer WHERE c_custkey % 13 = 0""")
      graft.operators.Scd.scd2Apply(dim, batch, Seq("k"), Seq("seg"), asOf = 86400L)
        .orderBy("k", "valid_from")
    }),
    // capacity-bounded heavy hitters: the contract pins the EXACT
    // regime (capacity 64 >= the 31-token vocab, so no Misra-Gries
    // decrement ever fires and counters are plain merge-order-free
    // sums); FreqSpec pins the approximation law below capacity
    "q179_heavy_hitters" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.Freq.heavyHitterTokens(
          spark.table("documents"), "source", "text", capacity = 64, k = 5)
        .orderBy("source", "rnk")
    }),
    // damped PageRank (the link-quality prior of web-corpus curation)
    // over a 100-node graph derived from lineitem: 6 synchronous
    // iterations with uniform dangling redistribution, every term/sum/
    // update snapped under the rz6 law — the oracle replays all six
    // iterations as unrolled MATERIALIZED CTEs and hash-matches every
    // rank. Iterations run eagerly (localCheckpoint per round, the CC
    // precedent); the returned frame is the final rank vector.
    "q176_pagerank" -> ((spark, dir) => {
      prep(spark, dir)
      val e = spark.sql("""
        SELECT DISTINCT l_orderkey % 100 AS s,
               (l_orderkey * 7 + l_linenumber) % 100 AS d
        FROM lineitem""")
      graft.operators.Graph.pageRank(e, "s", "d", iters = PR_ITERS)
        .orderBy("node")
    }),
    // q174 grown INCREMENTALLY: 80% of the corpus indexed, 20%
    // appended as postings/dfreq-delta/stats-row part-files, then the
    // same retrieval — the search path's delta sums make it equal a
    // one-shot index of the union, so the q146 oracle again
    "q175_bm25_append" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val docs = spark.table("documents")
      val idxDir = scratchDir("graft_bm25_app_")
      graft.operators.TextAnalysis.writeBm25Index(
        docs.where(col("doc_id") % 5 =!= 4), "doc_id", "text", idxDir)
      graft.operators.TextAnalysis.appendToBm25Index(spark, idxDir,
        docs.where(col("doc_id") % 5 === 4), "doc_id", "text")
      val queries = spark.createDataFrame(Seq(
        (0L, "hash join"), (1L, "slow scan filter"),
        (2L, "vector window spark"), (3L, "nosuchtoken"))).toDF("qid", "qtext")
      graft.operators.TextAnalysis.bm25SearchIndex(spark, idxDir,
          queries, "qid", "qtext", k = 10)
        .orderBy("qid", "rnk")
    }),
    // compaction ≡ no-op for search: build on 60%, append two 20%
    // batches (accumulating dfreq deltas + stats rows + postings
    // shards), COMPACT — fold deltas, one file per bucket — and search;
    // the ranking must still equal q146's one-shot in-memory oracle
    "q204_bm25_compact" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions.col
      val docs = spark.table("documents")
      val idxDir = scratchDir("graft_bm25_cpt_")
      graft.operators.TextAnalysis.writeBm25Index(
        docs.where(col("doc_id") % 5 <= 2), "doc_id", "text", idxDir)
      graft.operators.TextAnalysis.appendToBm25Index(spark, idxDir,
        docs.where(col("doc_id") % 5 === 3), "doc_id", "text")
      graft.operators.TextAnalysis.appendToBm25Index(spark, idxDir,
        docs.where(col("doc_id") % 5 === 4), "doc_id", "text")
      graft.operators.TextAnalysis.compactBm25Index(spark, idxDir)
      val queries = spark.createDataFrame(Seq(
        (0L, "hash join"), (1L, "slow scan filter"),
        (2L, "vector window spark"), (3L, "nosuchtoken"))).toDF("qid", "qtext")
      graft.operators.TextAnalysis.bm25SearchIndex(spark, idxDir,
          queries, "qid", "qtext", k = 10)
        .orderBy("qid", "rnk")
    }),
    "q146_bm25" -> ((spark, dir) => {
      prep(spark, dir)
      val queries = spark.createDataFrame(Seq(
        (0L, "hash join"), (1L, "slow scan filter"),
        (2L, "vector window spark"), (3L, "nosuchtoken"))).toDF("qid", "qtext")
      graft.operators.TextAnalysis.bm25TopK(spark.table("documents"),
        "doc_id", "text", queries, "qid", "qtext", k = 10)
        .orderBy("qid", "rnk")
    }),
    // CCNet perplexity bucketing: bigram-LM scores against the en
    // reference corpus, ntile(3) head/middle/tail per language ordered
    // by (ppl, doc_id) — docs whose bigrams never hit the reference
    // model drop (CCNet semantics), and DuckDB's standard ntile replays
    // the assignment over the same total order
    "q142_ccnet_buckets" -> ((spark, dir) => {
      import org.apache.spark.sql.functions.col
      prep(spark, dir)
      val docs = spark.table("documents")
      graft.operators.TextAnalysis.ccnetBuckets(docs, "doc_id", "text",
        "lang", docs.where(col("lang") === "en"), parts = 3)
        .orderBy("doc_id")
    }),
    // C4/CCNet-style cross-document boilerplate removal: 'nav' appears
    // in every doc and 'grp<k>' in ~n/5 docs (both ≥ minDocs=50 at
    // sf0.01's 500 docs), the 'u<id>' line is unique — so cleaning
    // keeps exactly the unique line (docs with doc_id%10=0 have no
    // unique line and must survive with empty text)
    "q135_remove_boilerplate" -> ((spark, dir) => {
      prep(spark, dir)
      val docs = spark.sql("""
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 0
                    THEN concat('nav', chr(10), 'grp', CAST(doc_id % 5 AS STRING))
                    ELSE concat('nav', chr(10), 'grp', CAST(doc_id % 5 AS STRING),
                                chr(10), 'u', CAST(doc_id AS STRING)) END AS text
        FROM documents""")
      graft.operators.Curation.removeBoilerplate(docs, "doc_id", "text",
        minDocs = 50)
        .orderBy("doc_id")
    }),
    // exact substring-span dedup (Lee et al. 2022 at n-gram granularity):
    // every doc shares the 'c0 c1 c2 c3' passage (keeper doc 0) and its
    // doc_id%4 group shares the 'g<k>x g<k>y g<k>z' tail (keeper doc k),
    // so with n=3: doc 0 keeps everything, docs 1-3 lose only the global
    // passage, and everyone else is cut down to their unique first token
    "q137_dedup_spans" -> ((spark, dir) => {
      prep(spark, dir)
      val docs = spark.sql("""
        SELECT doc_id,
               concat('u', CAST(doc_id AS STRING), ' c0 c1 c2 c3 g',
                      CAST(doc_id % 4 AS STRING), 'x g',
                      CAST(doc_id % 4 AS STRING), 'y g',
                      CAST(doc_id % 4 AS STRING), 'z') AS text
        FROM documents""")
      graft.operators.Dedup.dedupSpans(docs, "doc_id", "text", n = 3)
        .orderBy("doc_id")
    }),
    // Gopher quality rules over the REAL corpus text (no synthesis):
    // the synthetic docs differentiate on words_ok (30-60 words around
    // the 50 floor), word_len_ok (short tokens near the 3.0 mean floor)
    // and stopwords_ok ('the'/'a' corpora carry one canonical stop word)
    "q139_gopher_flags" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.TextAnalysis
        .gopherFlags(spark.table("documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),
    // withinDoc span dedup (full Lee et al. semantics): 'p q r' repeats
    // twice inside EVERY doc — the globally first occurrence (doc 0,
    // pos 1) survives, the in-doc repeat and every cross-doc copy die;
    // the 'q r e<k>' tail gram survives only in its group's min doc
    "q138_dedup_spans_within" -> ((spark, dir) => {
      prep(spark, dir)
      val docs = spark.sql("""
        SELECT doc_id,
               concat('u', CAST(doc_id AS STRING), ' p q r p q r e',
                      CAST(doc_id % 5 AS STRING)) AS text
        FROM documents""")
      graft.operators.Dedup.dedupSpans(docs, "doc_id", "text", n = 3,
        withinDoc = true)
        .orderBy("doc_id")
    }),
    // geodesic + formatting family: a small meridian arc's haversine
    // distance equals the circular arc length analytically, so the
    // centimeter-rounded value replays from 2*pi*R/360 closed form
    // (FP gap ~1e-9 m); the spheroid columns assert contract properties
    // (ratio to sphere within the flattening, symmetry); DMS strings are
    // exact at quarter/half-degree inputs; the circle test sits exactly
    // on the 3-4-5 boundary
    "q111_geodesic_formatting" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             round(ST_DistanceSphere(p0, pn), 2) AS ds_m,
             abs(ST_DistanceSpheroid(p0, pn) / ST_DistanceSphere(p0, pn) - 1.0D)
               < 0.01D AS sp_ratio_ok,
             ST_DistanceSpheroid(p0, pe) = ST_DistanceSpheroid(pe, p0) AS sp_sym,
             ST_AsLatLonText(dmspt) AS llt,
             ST_OrderingEquals(seg, seg) AS oeq_t,
             ST_OrderingEquals(seg, ST_Reverse(seg)) AS oeq_f,
             ST_PointInsideCircle(onc, CAST(xi AS DOUBLE), CAST(yi AS DOUBLE),
               5.0D) AS pic_t,
             ST_PointInsideCircle(onc, CAST(xi AS DOUBLE), CAST(yi AS DOUBLE),
               4.9D) AS pic_f
      FROM (SELECT l_orderkey, l_linenumber, xi, yi, wi,
                   ST_GeomFromText('POINT(' || CAST(xi - 50 AS STRING) || ' 10)') AS p0,
                   ST_GeomFromText('POINT(' || CAST(xi - 50 AS STRING) || ' '
                     || CAST(10 + wi * 0.01D AS STRING) || ')') AS pn,
                   ST_GeomFromText('POINT(' || CAST(xi - 49 AS STRING) || ' 10)') AS pe,
                   ST_GeomFromText('POINT(' || CAST(xi + 0.5D AS STRING) || ' '
                     || CAST(wi + 0.25D AS STRING) || ')') AS dmspt,
                   ST_GeomFromText('LINESTRING(' || xs || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || ys || ')') AS seg,
                   ST_GeomFromText('POINT(' || CAST(xi + 3 AS STRING) || ' '
                     || CAST(yi + 4 AS STRING) || ')') AS onc
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % 100 AS INT) AS xi,
                         CAST(l_linenumber * 10 AS INT) AS yi,
                         CAST(l_linenumber AS INT) AS wi,
                         CAST(CAST(l_orderkey % 100 AS INT) AS STRING) AS xs,
                         CAST(CAST(l_linenumber * 10 AS INT) AS STRING) AS ys
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // embedding normalization + matryoshka truncation: both engines run
    // the identical double-accumulate/divide/float-round sequence
    // (VecKernels scaladoc), so sampled components widened back to
    // double are bitwise-equal (FLOAT columns themselves are the q59
    // render-hash hazard, hence the CAST...AS DOUBLE); unit-norm
    // columns collapse to 1.0 at 6dp (float rounding perturbs the norm
    // by <=~6e-8 against a 5e-7 threshold since sum(x^2)=1)
    "q112_vec_normalize_truncate" -> q(s"""
      SELECT vec_id,
             CAST(element_at(vec_normalize(embedding), 1) AS DOUBLE) AS n1,
             CAST(element_at(vec_normalize(embedding), 8) AS DOUBLE) AS n8,
             CAST(element_at(vec_truncate(embedding, 8), 1) AS DOUBLE) AS t1,
             CAST(element_at(vec_truncate(embedding, 8), 8) AS DOUBLE) AS t8,
             size(vec_truncate(embedding, 8)) AS t_len,
             round(vec_norm(vec_normalize(embedding)), 6) AS unit_n,
             round(vec_norm(vec_truncate(embedding, 8)), 6) AS unit_t
      FROM embeddings ORDER BY vec_id"""),
    // web-corpus URL extraction over synthesized crawl text: every doc
    // embeds two URLs with closed-form hosts, so the exploded
    // (pos, url, host) rows replay as string arithmetic
    "q113_url_extraction" -> ((spark, dir) => {
      prep(spark, dir)
      val docs = spark.sql("""
        SELECT doc_id,
               concat('intro http://site', CAST(doc_id % 5 AS STRING),
                      '.example.com/p/', CAST(doc_id AS STRING),
                      ' mid https://mirror.example.org/d',
                      CAST(doc_id % 3 AS STRING), ' end') AS text
        FROM documents""")
      graft.operators.TextAnalysis.extractUrls(docs, "doc_id", "text")
        .orderBy("doc_id", "pos")
    }),
    // line-crossing codes on a wi-crossing zigzag against a vertical
    // line: directions alternate starting west->east (+1), so the code
    // collapses to a CASE on wi's parity; reversing the zigzag reverses
    // and negates the crossing sequence
    "q114_line_crossing" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             ST_LineCrossingDirection(l1, zig) AS lcd,
             ST_LineCrossingDirection(l1, ST_Reverse(zig)) AS lcd_rev,
             ST_LineCrossingDirection(l1, faroff) AS lcd_zero
      FROM (SELECT l_orderkey, l_linenumber, xi, yi, wi,
                   ST_GeomFromText('LINESTRING(' || xs || ' ' || ys || ','
                     || xs || ' ' || CAST(yi + 10 AS STRING) || ')') AS l1,
                   ST_GeomFromText('LINESTRING(' || array_join(
                     transform(sequence(0, wi), k ->
                       CAST(CASE WHEN k % 2 = 0 THEN xi - 1 ELSE xi + 1 END AS STRING)
                       || ' ' || CAST(yi + 1 + k AS STRING)), ',') || ')') AS zig,
                   ST_GeomFromText('LINESTRING(' || CAST(xi + 1 AS STRING) || ' ' || ys
                     || ',' || CAST(xi + 2 AS STRING) || ' '
                     || CAST(yi + 10 AS STRING) || ')') AS faroff
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % 100 AS INT) AS xi,
                         CAST(l_linenumber * 10 AS INT) AS yi,
                         CAST(l_linenumber AS INT) AS wi,
                         CAST(CAST(l_orderkey % 100 AS INT) AS STRING) AS xs,
                         CAST(CAST(l_linenumber * 10 AS INT) AS STRING) AS ys
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // metadata accessors are codec constants or exact strings: a
    // no-SRID point cell is always 22 bytes (1 tag + 21 WKB)
    "q115_metadata" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             ST_IsEmpty(pt) AS empty_f,
             ST_IsCollection(mp) AS coll_t,
             ST_IsCollection(pt) AS coll_f,
             ST_NDims(pt) AS ndims,
             ST_Zmflag(pt) AS zmf,
             ST_HasArc(pt) AS arc,
             ST_AsEWKT(ST_Force2D(pt4326)) AS f2d,
             ST_MemSize(pt) AS msz
      FROM (SELECT l_orderkey, l_linenumber,
                   ST_GeomFromText('POINT(' || xs || ' ' || ys || ')') AS pt,
                   ST_GeomFromText('POINT(' || xs || ' ' || ys || ')', 4326) AS pt4326,
                   ST_GeomFromText('MULTIPOINT(' || xs || ' ' || ys || ')') AS mp
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(CAST(l_orderkey % 100 AS INT) AS STRING) AS xs,
                         CAST(CAST(l_linenumber * 10 AS INT) AS STRING) AS ys
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // TWKB point bytes are fully determined by single-byte zigzag
    // varints when coords sit under 64; linework/polygon roundtrips and
    // the prec=-1 tens-rounding are exact integer arithmetic
    "q116_twkb" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             lower(hex(ST_AsTWKB(pt))) AS twkb_hex,
             ST_AsText(ST_GeomFromTWKB(ST_AsTWKB(ln))) AS ln_rt,
             ST_AsText(ST_GeomFromTWKB(ST_AsTWKB(pg))) AS pg_rt,
             ST_AsText(ST_GeomFromTWKB(ST_AsTWKB(pt, -1))) AS pt_tens,
             length(ST_AsTWKB(pt)) AS pt_len
      FROM (SELECT l_orderkey, l_linenumber,
                   ST_GeomFromText('POINT(' || xs || ' ' || ys || ')') AS pt,
                   ST_GeomFromText('LINESTRING(' || xs || ' ' || ys || ','
                     || (xs + 3) || ' ' || (ys + 1) || ')') AS ln,
                   ST_GeomFromText('POLYGON((' || xs || ' ' || ys || ','
                     || (xs + 2) || ' ' || ys || ','
                     || (xs + 2) || ' ' || (ys + 2) || ','
                     || xs || ' ' || (ys + 2) || ','
                     || xs || ' ' || ys || '))') AS pg
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(CAST(l_orderkey % 60 AS INT) AS STRING) AS xs,
                         CAST(CAST(l_linenumber * 9 AS INT) AS STRING) AS ys
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // a rectangle triangulates into exactly 2 triangles conserving its
    // area; quarter-interpolation on an 8-long axis line, ordinate
    // swaps, and GML text forms are integer string arithmetic
    "q117_shape_tools" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             ST_NumGeometries(ST_TriangulatePolygon(pg)) AS tri_n,
             ST_Area(ST_TriangulatePolygon(pg)) AS tri_area,
             ST_AsText(ST_LineInterpolatePoints(ln, 0.25)) AS interp_mp,
             ST_AsText(ST_LineInterpolatePoints(ln, 0.25, false)) AS interp_pt,
             ST_AsEWKT(ST_SwapOrdinates(pt4326, 'yx')) AS swapped,
             ST_AsGML(pt) AS gml2_pt,
             ST_AsGML(3, ln) AS gml3_ln
      FROM (SELECT l_orderkey, l_linenumber,
                   ST_GeomFromText('POLYGON((' || xs || ' ' || ys || ','
                     || (xs + 4) || ' ' || ys || ','
                     || (xs + 4) || ' ' || (ys + 5) || ','
                     || xs || ' ' || (ys + 5) || ','
                     || xs || ' ' || ys || '))') AS pg,
                   ST_GeomFromText('LINESTRING(' || xs || ' ' || ys || ','
                     || (xs + 8) || ' ' || ys || ')') AS ln,
                   ST_GeomFromText('POINT(' || xs || ' ' || ys || ')') AS pt,
                   ST_GeomFromText('POINT(' || xs || ' ' || ys || ')', 4326) AS pt4326
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(CAST(l_orderkey % 100 AS INT) AS STRING) AS xs,
                         CAST(CAST(l_linenumber * 10 AS INT) AS STRING) AS ys
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // minimum clearance of an axis-aligned w x 5 rectangle is its
    // shorter side, and the realizing line has that exact length
    "q99_min_clearance" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             ST_MinimumClearance(env) AS clearance,
             ST_Length(ST_MinimumClearanceLine(env)) AS cl_len
      FROM (SELECT l_orderkey, l_linenumber,
                   ST_MakeEnvelope(x, y, x + w, y + 5) AS env
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % 100 AS DOUBLE) AS x,
                         CAST(l_linenumber * 10 AS DOUBLE) AS y,
                         CAST(l_linenumber AS DOUBLE) AS w
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // ST_Node on a T-junction: a vertical stem touching the interior of
    // a horizontal span splits it — 3 segments, total length preserved,
    // bbox arithmetic exact (stem at xi+wi with 1 <= wi <= 7 < 8, so
    // the junction is always interior)
    "q98_node" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             ST_NumGeometries(noded) AS n_segs,
             ST_Length(noded) AS total_len,
             Box2D(noded).xmax - Box2D(noded).xmin AS bbox_w
      FROM (SELECT l_orderkey, l_linenumber,
                   ST_Node(ST_GeomFromText('MULTILINESTRING((' || xs || ' ' || ys
                     || ',' || CAST(xi + 8 AS STRING) || ' ' || ys || '),('
                     || CAST(xi + wi AS STRING) || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || CAST(yi + 3 AS STRING)
                     || '))')) AS noded
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % 100 AS INT) AS xi,
                         CAST(l_linenumber * 10 AS INT) AS yi,
                         CAST(l_linenumber AS INT) AS wi,
                         $PX AS xs, $PY AS ys
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // offset curves of a horizontal segment are exact integer parallels
    // (positive = left of direction = +y going east), so WKT replays as
    // string concat and length is unchanged
    "q97_offset_curve" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             ST_AsText(ST_OffsetCurve(line, 2.0D)) AS left_wkt,
             ST_AsText(ST_OffsetCurve(line, -3.0D)) AS right_wkt,
             ST_Length(ST_OffsetCurve(line, 2.0D)) AS off_len
      FROM (SELECT l_orderkey, l_linenumber,
                   ST_GeomFromText('LINESTRING(' || xs || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || ys || ')') AS line
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % 100 AS INT) AS xi,
                         CAST(l_linenumber AS INT) AS wi,
                         $PX AS xs, $PY AS ys
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // line editors compose on integer coordinates, so every edited line
    // replays as WKT string concat: append -> 3-point line, set point 0
    // one unit left, remove the middle point of the appended line
    "q96_line_editors" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             ST_AsText(added) AS add_wkt,
             ST_AsText(ST_SetPoint(added, 0,
               ST_GeomFromText('POINT(' || CAST(xi - 1 AS STRING) || ' ' || ys || ')')))
               AS set_wkt,
             ST_AsText(ST_RemovePoint(added, 1)) AS rm_wkt,
             ST_NPoints(added) AS np
      FROM (SELECT l_orderkey, l_linenumber, xi, ys,
                   ST_AddPoint(
                     ST_GeomFromText('LINESTRING(' || xs || ' ' || ys || ','
                       || CAST(xi + wi AS STRING) || ' ' || ys || ')'),
                     ST_GeomFromText('POINT(' || CAST(xi + wi AS STRING) || ' '
                       || CAST(yi + 5 AS STRING) || ')')) AS added
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % 100 AS INT) AS xi,
                         CAST(l_linenumber * 10 AS INT) AS yi,
                         CAST(l_linenumber AS INT) AS wi,
                         $PX AS xs, $PY AS ys
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // ST_LineSubstring on a horizontal segment (x,y)->(x+w,y): the
    // quarter fractions land on exact binary coordinates (w/4 with w in
    // 1..7), so endpoints/length replay as exact arithmetic
    "q95_line_substring" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             ST_X(ST_StartPoint(sub)) AS x0,
             ST_X(ST_EndPoint(sub)) AS x1,
             ST_Y(ST_StartPoint(sub)) AS y0,
             ST_Length(sub) AS sub_len,
             ST_NPoints(sub) AS np
      FROM (SELECT l_orderkey, l_linenumber,
                   ST_LineSubstring(ST_GeomFromText('LINESTRING(' || xs || ' '
                     || ys || ',' || CAST(xi + wi AS STRING) || ' ' || ys
                     || ')'), 0.25D, 0.75D) AS sub
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % 100 AS INT) AS xi,
                         CAST(l_linenumber AS INT) AS wi,
                         $PX AS xs, $PY AS ys
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // ST_Subdivide invariants: a segmentized w x 5 rectangle carries
    // 2(w+5)+1 >= 13 vertices, so the 8-vertex cap always splits it;
    // splitting conserves area exactly (integer/half-grid cuts are
    // exact in binary) and the dissolved parts equal the input region.
    // The part COUNT is recursion-shape-dependent, so the oracle pins
    // the invariants, not the count
    "q94_subdivide" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             size(parts) >= 2 AS split_happened,
             round(aggregate(parts, 0.0D, (a, p) -> a + ST_Area(p)), 6) AS area_sum,
             array_max(transform(parts, p -> ST_NPoints(p))) <= 8 AS parts_small,
             ST_Equals(ST_Union(parts), env) AS covers
      FROM (SELECT l_orderkey, l_linenumber, env,
                   ST_Subdivide(ST_Segmentize(env, 1.0D), 8) AS parts
            FROM (SELECT l_orderkey, l_linenumber,
                         ST_MakeEnvelope(x, y, x + w, y + 5) AS env
                  FROM (SELECT l_orderkey, l_linenumber,
                               CAST(l_orderkey % 100 AS DOUBLE) AS x,
                               CAST(l_linenumber * 10 AS DOUBLE) AS y,
                               CAST(l_linenumber AS DOUBLE) AS w
                        FROM lineitem)))
      ORDER BY l_orderkey, l_linenumber"""),
    // hulls/linework family: every output has a closed form on the
    // synthesized shapes — mbc radius = half diagonal, oriented envelope
    // of an axis-aligned rect = itself, unary union = rectangle overlap
    // arithmetic, linemerge sews collinear touching segments, delaunay
    // of 4 corners = 2 triangles
    "q81_hulls_linework" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             round(ST_MinimumBoundingRadius(env), 6) AS mbc_r,
             round(ST_Area(ST_OrientedEnvelope(env)), 6) AS oe_area,
             ST_Area(ST_UnaryUnion(mp)) AS uu_area,
             ST_AsText(ST_LineMerge(ml)) AS lm_wkt,
             ST_Length(ST_LineMerge(ml)) AS lm_len,
             ST_AsText(ST_CollectionExtract(gc, 1)) AS ce_wkt,
             ST_NumGeometries(ST_DelaunayTriangles(corners)) AS dt_n
      FROM (SELECT l_orderkey, l_linenumber,
                   ST_MakeEnvelope(x, y, x + w, y + 5) AS env,
                   ST_GeomFromText('MULTIPOLYGON(((' || xs || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || CAST(yi + 1 AS STRING) || ','
                     || xs || ' ' || CAST(yi + 1 AS STRING) || ',' || xs || ' ' || ys
                     || ')),((' || CAST(xi + si AS STRING) || ' ' || ys || ','
                     || CAST(xi + si + wi AS STRING) || ' ' || ys || ','
                     || CAST(xi + si + wi AS STRING) || ' ' || CAST(yi + 1 AS STRING) || ','
                     || CAST(xi + si AS STRING) || ' ' || CAST(yi + 1 AS STRING) || ','
                     || CAST(xi + si AS STRING) || ' ' || ys || ')))') AS mp,
                   ST_GeomFromText('MULTILINESTRING((' || xs || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || ys || '),('
                     || CAST(xi + wi AS STRING) || ' ' || ys || ','
                     || CAST(xi + 2 * wi AS STRING) || ' ' || ys || '))') AS ml,
                   ST_GeomFromText('GEOMETRYCOLLECTION(POINT(' || xs || ' ' || ys
                     || '),LINESTRING(0 0,1 1),POINT(' || CAST(xi + 1 AS STRING)
                     || ' ' || CAST(yi + 2 AS STRING) || '))') AS gc,
                   ST_GeomFromText('MULTIPOINT(' || xs || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || CAST(yi + 5 AS STRING) || ','
                     || xs || ' ' || CAST(yi + 5 AS STRING) || ')') AS corners
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % 100 AS DOUBLE) AS x,
                         CAST(l_linenumber * 10 AS DOUBLE) AS y,
                         CAST(l_linenumber AS DOUBLE) AS w,
                         CAST(l_orderkey % 100 AS INT) AS xi,
                         CAST(l_linenumber * 10 AS INT) AS yi,
                         CAST(l_linenumber AS INT) AS wi,
                         CAST(l_orderkey % 5 AS INT) AS si,
                         $PX AS xs, $PY AS ys
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // DBSCAN over the same distinct grid points, minPts=2: an island of
    // size >= 2 makes every member core (each has a neighbor within
    // eps), singleton islands are noise (null cluster)
    "q80_dbscan" -> ((spark, dir) => {
      prep(spark, dir)
      val pts = spark.sql(s"""
        SELECT xi * 1000 + yi AS id,
               ST_GeomFromText('POINT(' || CAST(xi AS STRING) || ' '
                 || CAST(yi AS STRING) || ')') AS g
        FROM (SELECT DISTINCT l_orderkey % 100 AS xi, l_linenumber * 10 AS yi
              FROM lineitem)""")
      graft.operators.SpatialCluster.dbscan(pts, "id", "g", eps = 1.2, minPts = 2)
        .orderBy("id")
    }),
    // DBSCAN with minPts=1 (PostGIS ST_ClusterDBSCAN minpoints := 1):
    // every point is core (degree >= 0), so clusters are exactly the
    // eps-connected components and singleton islands become singleton
    // CLUSTERS (own id), never noise — same gaps-and-islands oracle as
    // q79, exercising the isolated-point core-status path
    "q92_dbscan_minpts1" -> ((spark, dir) => {
      prep(spark, dir)
      val pts = spark.sql(s"""
        SELECT xi * 1000 + yi AS id,
               ST_GeomFromText('POINT(' || CAST(xi AS STRING) || ' '
                 || CAST(yi AS STRING) || ')') AS g
        FROM (SELECT DISTINCT l_orderkey % 100 AS xi, l_linenumber * 10 AS yi
              FROM lineitem)""")
      graft.operators.SpatialCluster.dbscan(pts, "id", "g", eps = 1.2, minPts = 1)
        .orderBy("id")
    }),
    // grid snapping + precision reduction: fractional offsets .3/.7 (and
    // .25/.75 for the envelope) stay away from the .5 tie so both
    // engines' rounding rules agree; size-2 snapping is parity-dependent
    "q91_snap_grid" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             ST_AsText(ST_SnapToGrid(p, 1.0D)) AS snap1_wkt,
             ST_X(ST_SnapToGrid(p, 2.0D)) AS snap2_x,
             ST_Area(ST_ReducePrecision(env, 1.0D)) AS rp_area
      FROM (SELECT l_orderkey, l_linenumber,
                   ST_GeomFromText('POINT(' || xs || '.3 ' || ys || '.7)') AS p,
                   ST_MakeEnvelope(x + 0.25D, y + 0.25D,
                     x + w + 0.75D, y + 5.25D) AS env
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % 100 AS DOUBLE) AS x,
                         CAST(l_linenumber * 10 AS DOUBLE) AS y,
                         CAST(l_linenumber AS DOUBLE) AS w,
                         $PX AS xs, $PY AS ys
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // shape-similarity metrics: parallel aligned segments make both the
    // discrete Hausdorff and Fréchet distances exactly the vertical
    // offset; the inscribed radius of a w×5 rectangle is min(w,5)/2 —
    // exact radii sit ON the 1dp grid, so a 0.01 search tolerance rounds
    // back to them exactly (MaximumInscribedCircle is ~0.3 ms/call at
    // 1e-2 but 9 ms/call at 1e-3 — tolerance IS the cost knob)
    "q90_shape_metrics" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             ST_HausdorffDistance(la, lb) AS hausdorff,
             ST_FrechetDistance(la, lb) AS frechet,
             round(ST_MaxInscribedRadius(env, 0.01D), 1) AS mic_r
      FROM (SELECT l_orderkey, l_linenumber,
                   ST_GeomFromText('LINESTRING(' || xs || ' ' || ys || ','
                     || CAST(xi + wi AS STRING) || ' ' || ys || ')') AS la,
                   ST_GeomFromText('LINESTRING(' || xs || ' '
                     || CAST(yi + si + 1 AS STRING) || ','
                     || CAST(xi + wi AS STRING) || ' '
                     || CAST(yi + si + 1 AS STRING) || ')') AS lb,
                   ST_MakeEnvelope(CAST(xi AS DOUBLE), CAST(yi AS DOUBLE),
                     CAST(xi + wi AS DOUBLE), CAST(yi + 5 AS DOUBLE)) AS env
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % 100 AS INT) AS xi,
                         CAST(l_linenumber * 10 AS INT) AS yi,
                         CAST(l_linenumber AS INT) AS wi,
                         CAST(l_orderkey % 5 AS INT) AS si,
                         $PX AS xs, $PY AS ys
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // interchange surface: untagged-WKB roundtrip, SRID retagging, and
    // Multi* promotion — every output collapses to point text/lengths
    "q89_interchange" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             length(ST_AsBinary(pt)) AS wkb_len,
             ST_AsText(ST_GeomFromWKB(ST_AsBinary(pt))) AS rt_wkt,
             ST_SRID(ST_SetSRID(pt, CAST(l_linenumber AS INT))) AS srid_out,
             ST_AsText(ST_Multi(pt)) AS multi_wkt
      FROM (SELECT l_orderkey, l_linenumber, $PT AS pt FROM lineitem)
      ORDER BY l_orderkey, l_linenumber"""),
    // expand/project/segmentize: envelope growth, destination-point
    // trig (sin(pi/2) is exactly 1.0 in IEEE; the cos residue dies at
    // 6dp), and densification with a non-divisible step
    "q85_expand_project_segmentize" -> q(s"""
      SELECT l_orderkey, l_linenumber,
             ST_Area(ST_Expand(env, 2.0D)) AS exp_area,
             round(ST_X(ST_Project(pt, w, pi() / 2)), 6) AS proj_x,
             round(ST_Y(ST_Project(pt, w, pi() / 2)), 6) AS proj_y,
             ST_NPoints(ST_Segmentize(ln, 0.9D)) AS seg_n,
             round(ST_Length(ST_Segmentize(ln, 0.9D)), 6) AS seg_len
      FROM (SELECT l_orderkey, l_linenumber, w,
                   ST_MakeEnvelope(x, y, x + w, y + 5) AS env,
                   $PT AS pt,
                   ST_GeomFromText('LINESTRING(' || $PX || ' ' || $PY || ','
                     || CAST(l_orderkey % 100 + 2 * l_linenumber AS STRING)
                     || ' ' || $PY || ')') AS ln
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % 100 AS DOUBLE) AS x,
                         CAST(l_linenumber * 10 AS DOUBLE) AS y,
                         CAST(l_linenumber AS DOUBLE) AS w
                  FROM lineitem))
      ORDER BY l_orderkey, l_linenumber"""),
    // relational surface: ROLLUP grouping sets + grouping() markers over
    // integer-cents sums — pure Catalyst, no geo involvement
    "q86_rollup" -> q("""
      SELECT l_returnflag, l_linestatus,
             CAST(grouping(l_returnflag) AS INT) AS g1,
             CAST(grouping(l_linestatus) AS INT) AS g2,
             sum(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_cents,
             count(*) AS n
      FROM lineitem
      GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY g1, g2, l_returnflag, l_linestatus"""),
    // tie-stable window analytics (rank/dense_rank/percent_rank/
    // cume_dist — ntile is excluded deliberately: it splits ties by
    // physical order, which no two engines reproduce)
    "q87_window_analytics" -> q("""
      SELECT l_orderkey, l_linenumber,
             CAST(rank() OVER w AS INT) AS rnk,
             CAST(dense_rank() OVER w AS INT) AS drnk,
             round(percent_rank() OVER w, 6) AS prnk,
             round(cume_dist() OVER w, 6) AS cdist,
             count(*) OVER (PARTITION BY l_linenumber) AS n_in_part
      FROM lineitem
      WINDOW w AS (PARTITION BY l_linenumber ORDER BY l_orderkey)
      ORDER BY l_linenumber, l_orderkey"""),
    // trajectory assembly: per-order points sorted by line number sewn
    // into one LineString with the array-form ST_MakeLine — the
    // deterministic spelling of PostGIS's ordered aggregate (explicit
    // sort_array instead of partitioning-dependent aggregation order)
    "q84_makeline_trajectories" -> q(s"""
      SELECT l_orderkey,
             ST_AsText(ST_MakeLine(transform(
               sort_array(collect_list(struct(l_linenumber AS ln, pt))),
               s -> s.pt))) AS traj_wkt,
             ST_NPoints(ST_MakeLine(transform(
               sort_array(collect_list(struct(l_linenumber AS ln, pt))),
               s -> s.pt))) AS n_pts
      FROM (SELECT l_orderkey, l_linenumber, $PT AS pt FROM lineitem)
      GROUP BY l_orderkey
      ORDER BY l_orderkey"""),
    // token-budget data mixing: greedy per-source prefix in doc_id order
    // until the source's token budget is exhausted — a window cumsum both
    // engines replay identically over integer token counts
    "q82_token_budget" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.Curation.sampleToTokenBudget(
          spark.table("documents"), "source", "doc_id", "text",
          budgets = Map("src0" -> 200L, "src1" -> 0L), defaultBudget = 700L)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),
    // leakage-safe split: duplicate documents (connected via chain pairs
    // → CC) share a component, and the md5-threshold split keys on the
    // COMPONENT — so near-identical docs can never straddle train/test
    "q83_leakage_safe_split" -> ((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{col, lag, md5}
      prep(spark, dir)
      val docs = spark.table("documents")
      val w = Window.partitionBy(md5(col("text").cast("binary"))).orderBy(col("doc_id"))
      val pairs = docs
        .select(col("doc_id"), lag(col("doc_id"), 1).over(w).as("prev_id"))
        .where(col("prev_id").isNotNull)
      val clusters = graft.operators.Dedup
        .dedupClusters(docs, "doc_id", pairs, "doc_id", "prev_id")
      graft.operators.Sampling.splitTrainTest(
          clusters.select(col("id").as("doc_id"), col("component")),
          "component", testFrac = 0.25)
        .orderBy("doc_id")
    }),
    // Bloom decontamination invariant: a Bloom filter has no false
    // negatives, so the docs flagged by EXACT n-gram decontamination must
    // be a subset of the bloom-flagged docs — n_missed is structurally 0
    // and n_exact is replayable by the oracle
    "q77_bloom_decontaminate" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      val bench = docs.where(col("doc_id") % 97 === 0)
      val exact = graft.operators.Curation
        .decontaminate(docs, bench, "doc_id", "text", n = 3)
      val bloom = graft.operators.Curation
        .decontaminateBloom(docs, bench, "doc_id", "text", n = 3)
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(exact.join(bloom, Seq("doc"), "left_anti")
          .agg(count(lit(1)).as("n_missed")))
    }),
    // candidate plagiarism pairs off the compressed winnow signatures:
    // fingerprint-keyed self-join, pairs sharing >= 2 selections
    "q88_winnow_pairs" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.TextAnalysis
        .winnowSharedPairs(spark.table("documents"), "doc_id", "text",
          k = 5, w = 4, minShared = 2)
        .orderBy("ida", "idb")
    }),
    // winnowing (MOSS) fingerprints: md5-hex gram hashes + full-window
    // minima are engine-portable, so the oracle reproduces the exact set
    "q78_winnow_fingerprints" -> ((spark, dir) => {
      prep(spark, dir)
      graft.operators.TextAnalysis
        .winnowFingerprints(spark.table("documents"), "doc_id", "text", k = 5, w = 4)
        .orderBy("doc", "fp")
    }),
    // stream-stream interval join driver row: events re-read as TWO file
    // streams, attribution-joined within [lts, lts + 30 min] per user.
    // Inner-join matches emit as soon as both sides arrive (append mode
    // needs no watermark advance to EMIT — the watermark only bounds
    // state), so AvailableNow over a finite file yields the full batch
    // join; foreachBatch appends each micro-batch's matches exactly once.
    "q76_stream_interval_join" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.streaming.Trigger
      val schema = spark.table("events").schema
      val work = scratchDir("graft-q76-")
      val inDir = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(work, "in"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        inDir.resolve("events.parquet"))
      def src = spark.readStream.schema(schema).parquet(inDir.toString)
      val left = src.select(col("event_id").as("lid"), col("user_id"),
        timestamp_micros(expr(TS_US)).as("lts"))
      val right = src.select(col("event_id").as("rid"), col("user_id"),
        timestamp_micros(expr(TS_US)).as("rts"))
      val joined = graft.streaming.StreamOps.intervalJoinStreams(
          left, "lts", right, "rts", "user_id",
          lookback = "0 seconds", lookahead = "30 minutes")
        .where(col("lid") =!= col("rid"))
      val outDir = s"$work/out"
      val q = joined.writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ck")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select(col("user_id"), col("lid"), col("rid"),
              unix_micros(col("lts")).as("lts_us"),
              unix_micros(col("rts")).as("rts_us"))
            .write.mode("append").parquet(outDir)
        }
        .start()
      q.awaitTermination()
      spark.read.parquet(outDir).orderBy("user_id", "lid", "rid")
    }),
    // the streaming engine's correctness row: events re-read as a FILE
    // STREAM, sessionized with Spark's native session_window (StreamOps),
    // materialized through foreachBatch — then checked against the SAME
    // DuckDB window SQL as the batch q50 (<= gap keeps the session):
    // session_window merges when the next window's start <= the current
    // session's end, so an event exactly gap after its predecessor joins
    // the same session — adjacent [ts, ts+gap) windows DO merge.
    "q66_stream_sessionize" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.streaming.Trigger
      val schema = spark.table("events").schema
      val work = scratchDir("graft-q66-")
      // the streaming file source lists a DIRECTORY; stage the single
      // events.parquet file into one
      val inDir = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(work, "in"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        inDir.resolve("events.parquet"))
      val stream = spark.readStream.schema(schema)
        .parquet(inDir.toString)
        .select(col("user_id"),
          // NTZ micros → TimestampType via the tz-free long
          // (session_window needs a timestamp; micros keep the driver
          // compare integral)
          timestamp_micros(expr(TS_US)).as("tsm"))
      val sess = graft.streaming.StreamOps
        .sessionWindows(stream, "tsm", "user_id", "30 minutes")
      val outDir = s"$work/out"
      // complete mode: the final AvailableNow batch holds every session,
      // so the overwrite below leaves exactly the full result (append
      // mode would strand the last session behind the watermark)
      val q = sess.writeStream
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ck")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select(col("user_id"),
              unix_micros(col("start_ts")).as("start_us"),
              unix_micros(col("end_ts")).as("end_us"),
              col("n_events"))
            .write.mode("overwrite").parquet(outDir)
        }
        .start()
      q.awaitTermination()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("start_us")
      spark.read.parquet(outDir)
        .withColumn("session_idx", row_number().over(w).cast("long"))
        .select("user_id", "session_idx", "n_events", "start_us", "end_us")
        .orderBy("user_id", "session_idx")
    }),
    // STREAMING corpus dedup: documents arrive as a file stream in TWO
    // micro-batches (the corpus staged twice, maxFilesPerTrigger=1), and
    // the foreachBatch sink keeps the first fingerprint occurrence
    // across batches — per-batch min(doc_id) election (deterministic,
    // unlike raw dropDuplicates' arbitrary within-batch winner), then an
    // anti-join against CompactingKeyState (bounded per-batch state
    // reads: one base + <= compactEvery deltas, compacted in place —
    // never an ever-growing append dir). compactEvery=1 forces a
    // compaction after every batch so the contract row exercises the
    // rewrite path, not just the append path. The second, 100%-duplicate
    // batch must contribute zero rows; the final output equals the batch
    // keep-lowest-id dedup the oracle replays.
    "q121_stream_dedup" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.streaming.Trigger
      val schema = spark.table("documents").schema
      val work = scratchDir("graft-q121-")
      val inDir = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(work, "in"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/documents.parquet"),
        inDir.resolve("a.parquet"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/documents.parquet"),
        inDir.resolve("b.parquet"))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      val state = new graft.streaming.CompactingKeyState(spark,
        s"$work/state", compactEvery = 1)
      val q = stream.writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ck")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val winners = batch.groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
          val fresh = state.read() match {
            case Some(seen) =>
              winners.join(seen.select(col("fp")), Seq("fp"), "left_anti")
            case None => winners
          }
          state.append(fresh.select("doc_id", "fp"))
        }
        .start()
      q.awaitTermination()
      state.read().get.select("doc_id", "fp").orderBy("doc_id")
    }),
    // STREAMING paragraph dedup: the q110 corpus split into even-id and
    // odd-id halves staged as two mtime-ordered files (even first), so
    // the file stream replays a deterministic two-batch arrival. Each
    // batch runs the incremental election against the seen-paragraph-key
    // state (anti-join moves only keys) and appends its reassembled
    // documents; the oracle replays the same global election ordered by
    // (batch = doc_id % 2, doc_id, pos).
    // STREAMING SemDeDup on the q119 fixture: embeddings arrive as two
    // id-ordered micro-batches; each batch dedups against the
    // CompactingKeyState-held (cluster, id, vector) rows of everything
    // before it plus its own lower ids. SemDeDup's drop rule is
    // prefix-decomposable (preceding siblings count dropped-or-not), so
    // the UNION of the per-batch emissions must hash-match q119's batch
    // oracle row-for-row — the strongest possible check that the
    // incremental operator computes the same function as the batch one.
    "q133_stream_semantic_dedup" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.streaming.Trigger
      val emb = spark.table("embeddings")
      val cents = emb.orderBy("vec_id").limit(8)
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      val work = scratchDir("graft-q133-")
      val inDir = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(work, "in"))
      val mid = 250L
      def stage(cond: org.apache.spark.sql.Column, name: String,
          mtime: Long): Unit = {
        val tmp = s"$work/stage_$name"
        emb.where(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
        val dst = inDir.resolve(name)
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      val t0 = System.currentTimeMillis()
      stage(col("vec_id") < mid, "a.parquet", t0 - 120000)
      stage(col("vec_id") >= mid, "b.parquet", t0)
      val outDir = s"$work/out"
      val state = new graft.streaming.CompactingKeyState(spark,
        s"$work/seen", compactEvery = 1)
      val q = spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ck")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.operators.Ann
            .semanticDedupIncremental(batch, cents, 0.30, seen = state.read())
            .select("vec_id", "cluster")
            .write.mode("append").parquet(outDir)
          state.append(graft.operators.Ann.semanticKeyset(batch, cents))
        }
        .start()
      q.awaitTermination()
      spark.read.parquet(outDir).orderBy("vec_id")
    }),
    "q123_stream_paragraph_dedup" -> ((spark, dir) => {
      prep(spark, dir)
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.streaming.Trigger
      val docs = spark.sql("""
        SELECT doc_id,
               concat('hdr', chr(10), 'p', CAST(doc_id % 7 AS STRING),
                      chr(10), 'p', CAST(doc_id % 3 AS STRING)) AS text
        FROM documents""")
      val work = scratchDir("graft-q123-")
      val inDir = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(work, "in"))
      def stage(cond: org.apache.spark.sql.Column, name: String,
          mtime: Long): Unit = {
        val tmp = s"$work/stage_$name"
        docs.where(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
        val dst = inDir.resolve(name)
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      val t0 = System.currentTimeMillis()
      stage(col("doc_id") % 2 === 0, "a.parquet", t0 - 120000)
      stage(col("doc_id") % 2 === 1, "b.parquet", t0)
      val outDir = s"$work/out"
      // seen-paragraph-key state behind CompactingKeyState: per-batch
      // reads stay at one base + <= compactEvery deltas forever
      // (compactEvery=1 so the two-batch contract run exercises the
      // compaction rewrite itself)
      val state = new graft.streaming.CompactingKeyState(spark,
        s"$work/seen", compactEvery = 1)
      val q = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ck")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.operators.Dedup
            .dedupParagraphsIncremental(batch, "doc_id", "text",
              seen = state.read())
            .write.mode("append").parquet(outDir)
          state.append(graft.operators.Dedup.paragraphKeyset(batch, "text"))
        }
        .start()
      q.awaitTermination()
      spark.read.parquet(outDir).orderBy("doc_id")
    }))

  // DuckDB replica of TextKernels.langId: CJK codepoint scan, then
  // stopword-count argmax with first-wins tie-break over (en, de, fr, es),
  // 'und' when no stopword matches. Tokenization splits on whitespace RUNS
  // (regexp \s+) to mirror TextKernels.tokens — single-space splitting
  // would diverge on tab/newline corpora. Expects s_en..s_es in scope.
  private val LANG_SCORES = """
    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      w -> w IN ('the','and','of','to','a','in','is','that','it','for'))) AS s_en,
    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      w -> w IN ('der','die','das','und','ist','nicht','mit','ein','zu','den'))) AS s_de,
    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      w -> w IN ('le','la','les','et','est','un','une','dans','que','pour'))) AS s_fr,
    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      w -> w IN ('el','los','las','y','es','un','una','en','que','por'))) AS s_es"""

  // exact 3-token-shingle Jaccard >= 0.35 pairs with whole-text fallback
  // for sub-3-token docs (mirrors Dedup's ngramSet)
  /** The q209/q210 PII fixture: synthetic contact strings derived from
    * doc_id (every doc an email; %2 a phone; %3 a dotted-quad; %5 an
    * SSN-shaped triple). Shared verbatim by the Spark side (selectExpr)
    * and — with ||/VARCHAR spelling — the DuckDB oracles. */
  private val PII_FIXTURE_SQL = """
    concat('doc ', CAST(doc_id AS STRING), ' contact user',
      CAST(doc_id % 50 AS STRING), '@example.com',
      CASE WHEN doc_id % 2 = 0
           THEN concat(' call +1 415-555-',
                       lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))
           ELSE '' END,
      CASE WHEN doc_id % 3 = 0
           THEN concat(' host 10.0.', CAST(doc_id % 256 AS STRING), '.',
                       CAST((doc_id * 7) % 200 AS STRING))
           ELSE '' END,
      CASE WHEN doc_id % 5 = 0
           THEN concat(' ssn 123-45-',
                       lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))
           ELSE '' END) AS text"""

  private val PII_FIXTURE_DUCK = """
      SELECT doc_id,
             'doc ' || CAST(doc_id AS VARCHAR) || ' contact user' ||
             CAST(doc_id % 50 AS VARCHAR) || '@example.com' ||
             CASE WHEN doc_id % 2 = 0
                  THEN ' call +1 415-555-' ||
                       lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END ||
             CASE WHEN doc_id % 3 = 0
                  THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
                       CAST((doc_id * 7) % 200 AS VARCHAR)
                  ELSE '' END ||
             CASE WHEN doc_id % 5 = 0
                  THEN ' ssn 123-45-' ||
                       lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END AS text
      FROM documents"""

  /** One-shot min-per-text election over all history — the ground truth
    * q217 (batch write/append/compact) and q223 (streaming appends with
    * a simulated retry) must both probe to. */
  private val EXACT_INDEX_ORACLE = """
      WITH d AS (SELECT doc_id,
                        'body ' || CAST(doc_id % 97 AS VARCHAR) AS text
                 FROM documents)
      SELECT b.doc_id, m.keep_id
      FROM d b JOIN (SELECT text, CAST(min(doc_id) AS BIGINT) AS keep_id
                     FROM d WHERE doc_id % 5 <= 3 GROUP BY text) m
        ON b.text = m.text
      WHERE b.doc_id % 5 = 4 ORDER BY b.doc_id"""

  private val BM25_ORACLE = """
      WITH q(qid, qtext) AS (VALUES (0, 'hash join'), (1, 'slow scan filter'),
                                    (2, 'vector window spark'), (3, 'nosuchtoken')),
           t AS (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
                 FROM documents),
           p AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
                 FROM t WHERE tok <> '' GROUP BY doc_id, tok),
           dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM p GROUP BY doc_id),
           nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
           ad AS (SELECT round(CAST(sum(tf) AS DOUBLE) / any_value(n), 6) AS avgdl
                  FROM p CROSS JOIN nn),
           qt AS (SELECT DISTINCT qid, tok FROM (
                    SELECT qid, unnest(string_split(qtext, ' ')) AS tok FROM q)
                  WHERE tok <> ''),
           dfq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS dfq FROM p GROUP BY tok),
           qi AS (SELECT qid, qt.tok,
                         round(ln(1 + (n - dfq + 0.5) / (dfq + 0.5)), 6) AS idf
                  FROM qt JOIN dfq ON qt.tok = dfq.tok CROSS JOIN nn),
           c AS (SELECT qid, p.doc_id,
                        round(idf * round(tf * 2.2 / (tf + 1.2 * (0.25 +
                          0.75 * round(dl / avgdl, 6))), 6), 6) AS c
                 FROM p JOIN qi ON p.tok = qi.tok
                 JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN ad),
           s AS (SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
                        round(sum(c), 6) AS score
                 FROM c GROUP BY qid, doc_id),
           r AS (SELECT qid, doc_id, n_terms, score,
                        CAST(row_number() OVER (
                          PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS INT) AS rnk
                 FROM s)
      SELECT CAST(qid AS BIGINT) AS qid, doc_id, rnk, n_terms, score
      FROM r WHERE rnk <= 10 ORDER BY qid, rnk"""

  /** q184's oracle: the BM25 chain (same CTEs as [[BM25_ORACLE]], rank
    * cut at 20), the q24-style brute-cosine chain, then RRF fusion as a
    * FULL OUTER JOIN with CAST(1 AS DOUBLE)/(60+rnk) terms — the 1.0
    * literal must be cast because DuckDB parses bare decimals as
    * DECIMAL and decimal division would diverge from the engine's
    * double arithmetic. */
  private val RRF_ORACLE = """
      WITH q(qid, qtext) AS (VALUES (0, 'hash join'), (1, 'slow scan filter'),
                                    (2, 'vector window spark'), (3, 'nosuchtoken')),
           t AS (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
                 FROM documents),
           p AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
                 FROM t WHERE tok <> '' GROUP BY doc_id, tok),
           dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM p GROUP BY doc_id),
           nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
           ad AS (SELECT round(CAST(sum(tf) AS DOUBLE) / any_value(n), 6) AS avgdl
                  FROM p CROSS JOIN nn),
           qt AS (SELECT DISTINCT qid, tok FROM (
                    SELECT qid, unnest(string_split(qtext, ' ')) AS tok FROM q)
                  WHERE tok <> ''),
           dfq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS dfq FROM p GROUP BY tok),
           qi AS (SELECT qid, qt.tok,
                         round(ln(1 + (n - dfq + 0.5) / (dfq + 0.5)), 6) AS idf
                  FROM qt JOIN dfq ON qt.tok = dfq.tok CROSS JOIN nn),
           c AS (SELECT qid, p.doc_id,
                        round(idf * round(tf * 2.2 / (tf + 1.2 * (0.25 +
                          0.75 * round(dl / avgdl, 6))), 6), 6) AS c
                 FROM p JOIN qi ON p.tok = qi.tok
                 JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN ad),
           s AS (SELECT qid, doc_id, round(sum(c), 6) AS score
                 FROM c GROUP BY qid, doc_id),
           tr AS (SELECT qid, id, rnk FROM (
                    SELECT CAST(qid AS BIGINT) AS qid, doc_id AS id,
                           CAST(row_number() OVER (
                             PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS INT) AS rnk
                    FROM s) WHERE rnk <= 20),
           qv AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS v
                  FROM embeddings WHERE vec_id < 4),
           vs AS (SELECT qid, e.vec_id AS id,
                         list_cosine_similarity(v, e.embedding::DOUBLE[]) AS cos
                  FROM qv CROSS JOIN embeddings e WHERE e.vec_id <> qid),
           vr AS (SELECT qid, id, rnk FROM (
                    SELECT qid, id, CAST(row_number() OVER (
                      PARTITION BY qid ORDER BY cos DESC, id ASC) AS INT) AS rnk
                    FROM vs) WHERE rnk <= 20),
           f AS (SELECT coalesce(tr.qid, vr.qid) AS qid,
                        coalesce(tr.id, vr.id) AS id,
                        CAST(CASE WHEN tr.rnk IS NULL THEN 0 ELSE 1 END +
                             CASE WHEN vr.rnk IS NULL THEN 0 ELSE 1 END AS INT) AS n_lists,
                        coalesce(CAST(1 AS DOUBLE) / (60 + tr.rnk), 0) +
                        coalesce(CAST(1 AS DOUBLE) / (60 + vr.rnk), 0) AS rrf
                 FROM tr FULL OUTER JOIN vr ON tr.qid = vr.qid AND tr.id = vr.id)
      SELECT qid, id, n_lists, rrf, rnk FROM (
        SELECT qid, id, n_lists, rrf,
               CAST(row_number() OVER (
                 PARTITION BY qid ORDER BY rrf DESC, id ASC) AS INT) AS rnk
        FROM f) WHERE rnk <= 10 ORDER BY qid, rnk"""

  /** q244's oracle: the ENTIRE two-stage retrieval chain replayed —
    * BM25 ranking (RRF_ORACLE's lexical stage verbatim), brute cosine
    * (≡ the engine's full-probe ivfSearch), RRF fusion, the MaxSim
    * rerank over [v, -v] bags (score = round(|cos|, 6) — max over the
    * pair of exact IEEE negations), and q240's metric arithmetic at
    * k = 10. Any cross-stage rank/id drift breaks the hash. */
  private val E2E_RETRIEVAL_ORACLE = """
      WITH q(qid, qtext) AS (VALUES (0, 'hash join'), (1, 'slow scan filter'),
                                    (2, 'vector window spark'), (3, 'nosuchtoken')),
           t AS (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
                 FROM documents),
           p AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
                 FROM t WHERE tok <> '' GROUP BY doc_id, tok),
           dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM p GROUP BY doc_id),
           nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
           ad AS (SELECT round(CAST(sum(tf) AS DOUBLE) / any_value(n), 6) AS avgdl
                  FROM p CROSS JOIN nn),
           qt AS (SELECT DISTINCT qid, tok FROM (
                    SELECT qid, unnest(string_split(qtext, ' ')) AS tok FROM q)
                  WHERE tok <> ''),
           dfq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS dfq FROM p GROUP BY tok),
           qi AS (SELECT qid, qt.tok,
                         round(ln(1 + (n - dfq + 0.5) / (dfq + 0.5)), 6) AS idf
                  FROM qt JOIN dfq ON qt.tok = dfq.tok CROSS JOIN nn),
           c AS (SELECT qid, p.doc_id,
                        round(idf * round(tf * 2.2 / (tf + 1.2 * (0.25 +
                          0.75 * round(dl / avgdl, 6))), 6), 6) AS c
                 FROM p JOIN qi ON p.tok = qi.tok
                 JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN ad),
           s AS (SELECT qid, doc_id, round(sum(c), 6) AS score
                 FROM c GROUP BY qid, doc_id),
           tr AS (SELECT qid, id, rnk FROM (
                    SELECT CAST(qid AS BIGINT) AS qid, doc_id AS id,
                           CAST(row_number() OVER (
                             PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS INT) AS rnk
                    FROM s) WHERE rnk <= 20),
           qv AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS v
                  FROM embeddings WHERE vec_id < 4),
           vs AS (SELECT qid, e.vec_id AS id,
                         list_cosine_similarity(v, e.embedding::DOUBLE[]) AS cos
                  FROM qv CROSS JOIN embeddings e WHERE e.vec_id <> qid),
           vr AS (SELECT qid, id, rnk FROM (
                    SELECT qid, id, CAST(row_number() OVER (
                      PARTITION BY qid ORDER BY cos DESC, id ASC) AS INT) AS rnk
                    FROM vs) WHERE rnk <= 20),
           f AS (SELECT coalesce(tr.qid, vr.qid) AS qid,
                        coalesce(tr.id, vr.id) AS id,
                        coalesce(CAST(1 AS DOUBLE) / (60 + tr.rnk), 0) +
                        coalesce(CAST(1 AS DOUBLE) / (60 + vr.rnk), 0) AS rrf
                 FROM tr FULL OUTER JOIN vr ON tr.qid = vr.qid AND tr.id = vr.id),
           cand AS (SELECT qid, id AS did FROM (
                      SELECT qid, id, row_number() OVER (
                        PARTITION BY qid ORDER BY rrf DESC, id ASC) AS rnk FROM f)
                    WHERE rnk <= 10),
           rsc AS (SELECT cd.qid, cd.did,
                          round(abs(list_cosine_similarity(qv.v,
                            e.embedding::DOUBLE[])), 6) AS score
                   FROM cand cd JOIN qv ON qv.qid = cd.qid
                   JOIN embeddings e ON e.vec_id = cd.did),
           res AS (SELECT qid, did, CAST(row_number() OVER (
                     PARTITION BY qid ORDER BY score DESC, did ASC) AS INT) AS rnk
                   FROM rsc),
           jud AS (SELECT qv.qid, e.vec_id AS did,
                          CASE CAST((e.vec_id + qv.qid) % 5 AS INT)
                            WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END AS rel
                   FROM qv CROSS JOIN embeddings e
                   WHERE CAST((e.vec_id + qv.qid) % 5 AS INT) IN (0, 1)),
           nr AS (SELECT qid, count(*) AS n_rel FROM jud GROUP BY 1),
           idcg AS (SELECT qid, sum(CAST(round((pow(2.0, rel) - 1) / log2(ir + 1), 6)
                             AS DECIMAL(20,6))) AS idcg
                    FROM (SELECT qid, rel, row_number() OVER (
                            PARTITION BY qid ORDER BY rel DESC, did) AS ir FROM jud)
                    WHERE ir <= 10 GROUP BY 1),
           per AS (SELECT r.qid, r.rnk, coalesce(j.rel, 0) AS rel,
                          CASE WHEN coalesce(j.rel, 0) > 0 THEN 1 ELSE 0 END AS hit
                   FROM res r LEFT JOIN jud j ON j.qid = r.qid AND j.did = r.did),
           per2 AS (SELECT qid, rnk, rel, hit,
                           sum(hit) OVER (PARTITION BY qid ORDER BY rnk) AS cum
                    FROM per),
           ag AS (SELECT qid, sum(hit) AS hits,
                         sum(CAST(round((pow(2.0, rel) - 1) / log2(rnk + 1), 6)
                           AS DECIMAL(20,6))) AS dcg,
                         sum(CAST(CASE WHEN hit = 1
                           THEN round(cum::DOUBLE / rnk, 6) ELSE 0.0 END
                           AS DECIMAL(20,6))) AS apnum,
                         min(CASE WHEN hit = 1 THEN rnk END) AS frst
                  FROM per2 GROUP BY 1)
      SELECT n.qid AS qid, n.n_rel, CAST(coalesce(a.hits, 0) AS INT) AS n_ret_rel,
             round(coalesce(a.hits, 0)::DOUBLE / 10, 6) AS p_at_k,
             round(coalesce(a.hits, 0)::DOUBLE / n.n_rel, 6) AS recall_at_k,
             round(coalesce(1.0 / a.frst, 0.0), 6) AS rr,
             round(coalesce(a.apnum, 0)::DOUBLE / least(n.n_rel, 10), 6) AS ap,
             round(coalesce(a.dcg, 0)::DOUBLE / i.idcg::DOUBLE, 6) AS ndcg
      FROM nr n LEFT JOIN ag a ON a.qid = n.qid LEFT JOIN idcg i ON i.qid = n.qid
      ORDER BY n.qid"""

  private val PR_ITERS = 6

  /** q182's oracle: the Hilbert xy2d walk unrolled one CTE per bit
    * level (high bit first), replaying the kernel's exact integer
    * arithmetic — reflect within the full 2^bits grid when ry = 0
    * (negating when rx = 1), then transpose. Pure integer ops, so the
    * replay is bit-exact with no rounding law needed. */
  private val HILBERT_ORACLE: String = {
    val bits = 8
    val n = 1 << bits
    val levels = (0 until bits).map { i =>
      val s = 1 << (bits - 1 - i)
      s"""l${i + 1} AS MATERIALIZED (
        SELECT l_orderkey, l_linenumber, x0, y0,
               d + ${s.toLong * s} * xor(3 * rx, ry) AS d,
               CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${n - 1} - y ELSE y END)
                    ELSE x END AS x,
               CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${n - 1} - x ELSE x END)
                    ELSE y END AS y
        FROM (SELECT *, CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
                        CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry
              FROM l$i))"""
    }.mkString(",\n")
    s"""
      WITH l0 AS (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % $n AS BIGINT) AS x0,
                         CAST((l_orderkey // 16 + l_linenumber * 37) % $n AS BIGINT) AS y0,
                         CAST(l_orderkey % $n AS BIGINT) AS x,
                         CAST((l_orderkey // 16 + l_linenumber * 37) % $n AS BIGINT) AS y,
                         CAST(0 AS BIGINT) AS d
                  FROM lineitem),
      $levels
      SELECT l_orderkey, l_linenumber, x0 AS x, y0 AS y, d AS h
      FROM l$bits ORDER BY l_orderkey, l_linenumber, y0"""
  }

  /** q176's oracle: every PageRank iteration unrolled as a MATERIALIZED
    * CTE replaying the engine's exact rz6 arithmetic (the GD-replay
    * precedent) — N is the fixture's known 100 nodes. */
  private val PAGERANK_ORACLE: String = {
    val iterCtes = (1 to PR_ITERS).map { k =>
      s"""
         r$k AS MATERIALIZED (
           SELECT n.v,
                  round(round(CAST(0.15 AS DOUBLE) / 100, 6) +
                        CAST(0.85 AS DOUBLE) *
                          (coalesce(cs.cs, CAST(0 AS DOUBLE)) + dg.m), 6) AS r
           FROM nodes n
           LEFT JOIN (SELECT e.d AS v,
                             round(sum(round(p.r / dg2.deg, 6)), 6) AS cs
                      FROM e JOIN r${k - 1} p ON e.s = p.v
                             JOIN deg dg2 ON dg2.s = e.s
                      GROUP BY e.d) cs ON cs.v = n.v
           CROSS JOIN (SELECT round(coalesce(
                         (SELECT round(sum(p.r), 6) FROM r${k - 1} p
                          LEFT JOIN deg ON deg.s = p.v
                          WHERE deg.s IS NULL), CAST(0 AS DOUBLE)) / 100, 6)
                       AS m) dg)"""
    }.mkString(",")
    s"""
      WITH e AS MATERIALIZED (SELECT DISTINCT l_orderkey % 100 AS s,
                       (l_orderkey * 7 + l_linenumber) % 100 AS d
                       FROM lineitem),
           nodes AS MATERIALIZED (SELECT s AS v FROM e UNION SELECT d AS v FROM e),
           deg AS MATERIALIZED (SELECT s, CAST(count(*) AS BIGINT) AS deg
                                FROM e GROUP BY s),
           r0 AS MATERIALIZED (SELECT v, round(CAST(1.0 AS DOUBLE) / 100, 6) AS r
                               FROM nodes),$iterCtes
      SELECT CAST(v AS BIGINT) AS node, r AS rank
      FROM r$PR_ITERS ORDER BY node"""
  }

  private val SHINGLE_JACCARD_ORACLE = """
      WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS l FROM documents),
           sh AS (SELECT DISTINCT doc_id,
                    CASE WHEN len(l) >= 3 THEN l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                         ELSE text END AS s
                  FROM t, unnest(generate_series(1, greatest(len(l) - 2, 1))) AS u(i)),
           sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           ip AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS ninter
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
      SELECT ida, idb, CAST(ninter AS INT) AS inter,
             CAST(sa.n + sb.n - ninter AS INT) AS uni
      FROM ip JOIN sz sa ON ida = sa.doc_id JOIN sz sb ON idb = sb.doc_id
      WHERE ninter * 1.0 / (sa.n + sb.n - ninter) >= 0.35
      ORDER BY ida, idb"""

  private val LANG_CASE = """
    CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
         WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         WHEN s_fr >= s_es THEN 'fr'
         ELSE 'es' END"""

  private lazy val baseOracleSql: Map[String, String] = Map(
    "q26_langid" -> s"""
      WITH sc AS (SELECT doc_id, lang, text, $LANG_SCORES
                  FROM documents)
      SELECT doc_id, $LANG_CASE AS pred, lang FROM sc ORDER BY doc_id""",
    "q27_fingerprint_simhash" -> """
      SELECT doc_id, true AS fp_norm_ok, true AS sh_ws_ok, true AS sh_self_ok,
             true AS fp_distinct_ok
      FROM documents ORDER BY doc_id""",
    // exact 3-token-shingle Jaccard >= 0.35 pairs — what the LSH pipeline
    // must find given the 64x1 banding and the corpus's similarity gap;
    // q44 (exact inverted-index operator) shares the identical oracle
    "q28_minhash_lsh" -> SHINGLE_JACCARD_ORACLE,
    // q28's exact replay restricted to pairs touching the 20% batch
    "q170_lsh_index_dedup" -> SHINGLE_JACCARD_ORACLE.replace(
      "ORDER BY ida, idb",
      "AND (ida % 5 = 4 OR idb % 5 = 4)\n      ORDER BY ida, idb"),
    // compaction only changes the file layout, so the probe's ground
    // truth is exactly q170's
    "q206_lsh_compact" -> SHINGLE_JACCARD_ORACLE.replace(
      "ORDER BY ida, idb",
      "AND (ida % 5 = 4 OR idb % 5 = 4)\n      ORDER BY ida, idb"),
    // streamed bucket appends + a retry are invisible to the probe
    // (fact rows, countDistinct bands) — q170's ground truth verbatim
    "q227_stream_lsh_index" -> SHINGLE_JACCARD_ORACLE.replace(
      "ORDER BY ida, idb",
      "AND (ida % 5 = 4 OR idb % 5 = 4)\n      ORDER BY ida, idb"),
    "q44_ngram_jaccard" -> SHINGLE_JACCARD_ORACLE,
    // the exact pair count is q44's; the recall gate is analytic
    "q230_lsh_recall" -> s"""
      SELECT CAST(count(*) AS BIGINT) AS n_true, true AS recall_ok
      FROM ($SHINGLE_JACCARD_ORACLE)""",
    "q100_sql_minhash_recipe" -> SHINGLE_JACCARD_ORACLE,
    "q47_dedup_keep_rows" -> """
      SELECT doc_id, lang, source, n_chars
      FROM documents
      WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
      ORDER BY doc_id""",
    "q31_ann_lsh_recall" -> """
      SELECT CAST(15 AS BIGINT) AS n_exact, true AS recall_ok""",
    "q35_ann_ivf" -> """
      SELECT CAST(15 AS BIGINT) AS n_exact, true AS recall_ok""",
    "q34_text_profile" -> s"""
      WITH base AS (
        SELECT doc_id, text,
          CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
          CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INT) AS n_bpe,
          CAST(length(text) AS INT) AS n_chars,
          CAST(length(text) AS DOUBLE) AS nc,
          CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
          CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS na,
          CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) AS ns,
          $LANG_SCORES
        FROM documents)
      SELECT doc_id, n_tokens, n_bpe, n_chars, $LANG_CASE AS lang_pred,
        round((CASE WHEN nc BETWEEN 50 AND 10000 THEN 1.0
                    WHEN nc BETWEEN 20 AND 100000 THEN 0.5 ELSE 0.0 END) * 0.3
            + (CASE WHEN (nc - ns) / greatest(nt, 1.0) BETWEEN 2.5 AND 12.0
                    THEN 1.0 ELSE 0.3 END) * 0.2
            + (na / greatest(nc, 1.0)) * 0.3
            + (CASE WHEN ns / greatest(nc, 1.0) BETWEEN 0.05 AND 0.4
                    THEN 1.0 ELSE 0.5 END) * 0.2, 6) AS quality
      FROM base ORDER BY doc_id""",
    // integer squared distances per (qid, rank): ties share a d2 value, so
    // the sequence is deterministic regardless of which tied point wins
    "q42_knn_join" -> """
      WITH pts AS (SELECT DISTINCT l_orderkey % 100 AS px, l_linenumber * 10 AS py
                   FROM lineitem),
           q AS (SELECT id AS qid, id * 17 % 100 AS qx, 33 AS qy
                 FROM range(0, 5) t(id)),
           d AS (SELECT qid,
                        (px - qx) * (px - qx) + (py - qy) * (py - qy) AS d2,
                        row_number() OVER (PARTITION BY qid
                          ORDER BY (px - qx) * (px - qx) + (py - qy) * (py - qy), px, py) AS rnk
                 FROM q CROSS JOIN pts)
      SELECT qid, CAST(rnk AS INT) AS knn_rank, CAST(d2 AS BIGINT) AS d2
      FROM d WHERE rnk <= 3 ORDER BY qid, knn_rank""",
    "q43_geotable_prune" -> """
      SELECT l_orderkey, l_linenumber, true AS pruned_some
      FROM lineitem
      WHERE (l_orderkey % 100) <= 30 AND (l_linenumber * 10) <= 25
      ORDER BY l_orderkey, l_linenumber""",
    "q46_geojson_roundtrip" -> s"""
      SELECT $KEYS,
             'POINT(' || $OPXS || ' ' || $OPYS || ')' AS wkt,
             CAST(3.5 AS DOUBLE) AS gx,
             4326 AS gsrid,
             CASE WHEN l_orderkey % 2 = 0 THEN 'ST_MultiLineString'
                  ELSE 'ST_GeometryCollection' END AS gtype
      FROM lineitem ORDER BY $KEYS""",
    // len = sqrt(px^2 + py^2) bit-identical (integer squares, one IEEE
    // sqrt); hull of the triangle (10 x 20 legs) with an interior point =
    // 100; the 0.1-offset line simplifies to 2 points at tol 0.5, the
    // 5-offset survives with 3; bowtie invalid (fixed: two unit triangles,
    // area 2), square valid (area 1); makevalid output is always valid
    "q45_length_hull_simplify" -> s"""
      SELECT $KEYS,
             sqrt($OX * $OX + $OY * $OY) AS len,
             CAST(100.0 AS DOUBLE) AS harea,
             CASE WHEN l_orderkey % 2 = 0 THEN 2 ELSE 3 END AS snp,
             l_linenumber % 2 <> 0 AS valid,
             CAST(CASE WHEN l_linenumber % 2 = 0 THEN 2.0 ELSE 1.0 END AS DOUBLE) AS varea,
             true AS vvalid
      FROM lineitem ORDER BY $KEYS""",
    "q01_geomfromtext_xy" -> s"""
      SELECT $KEYS, $OX AS x, $OY AS y FROM lineitem ORDER BY $KEYS""",
    "q02_astext" -> s"""
      SELECT $KEYS, 'POINT(' || $OPXS || ' ' || $OPYS || ')' AS wkt
      FROM lineitem ORDER BY $KEYS""",
    "q03_asewkt" -> s"""
      SELECT $KEYS,
             'SRID=' || CAST(l_linenumber AS VARCHAR) || ';POINT(' || $OPXS || ' ' || $OPYS || ')' AS ewkt
      FROM lineitem ORDER BY $KEYS""",
    "q04_asgeojson" -> s"""
      SELECT $KEYS,
             '{"type": "Point", "coordinates": [' || $OPXS || ',' || $OPYS || ']}' AS gj
      FROM lineitem ORDER BY $KEYS""",
    "q05_geometrytype" -> s"""
      SELECT $KEYS, CASE CAST(l_linenumber % 3 AS INT)
               WHEN 0 THEN 'ST_Point' WHEN 1 THEN 'ST_LineString' ELSE 'ST_Polygon' END AS gtype
      FROM lineitem ORDER BY $KEYS""",
    "q06_srid" -> s"""
      SELECT $KEYS, CAST(l_linenumber AS INT) AS srid, CAST(NULL AS INT) AS srid_absent
      FROM lineitem ORDER BY $KEYS""",
    "q17_geomfromwkb" -> """
      SELECT 'POINT(-71.064544 42.28787)' AS wkt, 4269 AS srid""",
    "q07_intersects" -> s"""
      SELECT $KEYS, (l_orderkey % 100) <= 50 AND (l_linenumber * 10) <= 30 AS hit
      FROM lineitem ORDER BY $KEYS""",
    "q08_covers_coveredby" -> s"""
      SELECT $KEYS,
             (l_orderkey % 100) <= 50 AND (l_linenumber * 10) <= 30 AS covers_pt,
             (l_orderkey % 100) <= 50 AND (l_linenumber * 10) <= 30 AS pt_coveredby
      FROM lineitem ORDER BY $KEYS""",
    "q09_equals" -> s"""
      SELECT $KEYS, l_orderkey % 2 = 0 AS eq FROM lineitem ORDER BY $KEYS""",
    "q10_translate" -> s"""
      SELECT $KEYS, $OX + 3.0 AS x, $OY + 4.0 AS y FROM lineitem ORDER BY $KEYS""",
    "q11_buffer_bbox" -> s"""
      SELECT $KEYS, round($OX - 50.0, 6) AS bxmin, round($OY - 50.0, 6) AS bymin,
             round($OX + 50.0, 6) AS bxmax, round($OY + 50.0, 6) AS bymax
      FROM lineitem ORDER BY $KEYS""",
    "q12_boundary" -> s"""
      SELECT $KEYS, 'ST_MultiPoint' AS btype, 5 AS bnp FROM lineitem ORDER BY $KEYS""",
    "q13_makeenvelope_wkt" -> s"""
      SELECT $KEYS,
             'POLYGON((' || $OPXS || ' ' || $OPYS || ',' ||
             $OPXS || ' ' || CAST(l_linenumber * 10 + 20 AS VARCHAR) || ',' ||
             CAST(l_orderkey % 100 + 10 AS VARCHAR) || ' ' || CAST(l_linenumber * 10 + 20 AS VARCHAR) || ',' ||
             CAST(l_orderkey % 100 + 10 AS VARCHAR) || ' ' || $OPYS || ',' ||
             $OPXS || ' ' || $OPYS || '))' AS wkt,
             CAST(l_linenumber AS INT) AS esrid,
             CAST((l_orderkey % 100) * l_linenumber AS DOUBLE) AS earea
      FROM lineitem ORDER BY $KEYS""",
    "q15_mvtgeom" -> s"""
      SELECT $KEYS, $OX AS mx, 4096.0 - ($OY) AS my FROM lineitem ORDER BY $KEYS""",
    "q16_split" -> s"""
      SELECT $KEYS, CASE WHEN l_orderkey % 2 = 0 THEN 2 ELSE 1 END AS faces
      FROM lineitem ORDER BY $KEYS""",
    "q18_spatial_join_bcast" -> s"""
      SELECT l_orderkey, l_linenumber, r_regionkey
      FROM lineitem JOIN region
        ON (l_orderkey % 100) BETWEEN r_regionkey * 20 AND r_regionkey * 20 + 20
      ORDER BY l_orderkey, l_linenumber, r_regionkey""",
    // no DISTINCT: anchor-cell dedup emits each qualifying (row, region)
    // pair exactly once, so the full join multiset is the oracle
    "q19_spatial_join_grid" -> s"""
      SELECT l_orderkey * 10 + l_linenumber AS lkey, r_regionkey
      FROM lineitem JOIN region
        ON (l_orderkey % 100) BETWEEN r_regionkey * 20 AND r_regionkey * 20 + 20
      ORDER BY lkey, r_regionkey""",
    "q14_extent" -> s"""
      SELECT l_returnflag,
             min($OX) AS xmin, min($OY) AS ymin, max($OX) AS xmax, max($OY) AS ymax
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q40_collect" -> """
      SELECT l_returnflag, CAST(count(*) AS INT) AS ngeoms,
             'ST_GeometryCollection' AS ctype
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q20_dedup_exact" -> """
      SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n
      FROM documents GROUP BY md5(text) ORDER BY h""",
    "q21_token_stats" -> """
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS ntokens,
             CAST(length(text) AS INT) AS nchars
      FROM documents ORDER BY doc_id""",
    "q22_quality_score" -> """
      SELECT doc_id,
             CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS nspaces,
             CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT) AS n_e,
             CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) * 1000 // length(text) AS space_permille
      FROM documents ORDER BY doc_id""",
    "q23_jaccard_tokens" -> """
      WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
                   FROM documents WHERE doc_id < 60),
           sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
           inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS ninter
                     FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
                     GROUP BY a.doc_id, b.doc_id)
      SELECT i.ida, i.idb, i.ninter, sa.n + sb.n - i.ninter AS nunion
      FROM inter i JOIN sz sa ON i.ida = sa.doc_id JOIN sz sb ON i.idb = sb.doc_id
      ORDER BY i.ida, i.idb""",
    "q30_binary_meta" -> """
      SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS nbytes,
             ascii(substring(text, 1, 1)) AS first_byte
      FROM documents ORDER BY doc_id""",
    "q24_cosine_topk" -> """
      WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
           s AS (SELECT qid, e.vec_id AS nid, list_cosine_similarity(qv, e.embedding::DOUBLE[]) AS c
                 FROM q CROSS JOIN embeddings e WHERE e.vec_id != qid)
      SELECT qid, nid, rnk
      FROM (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rnk FROM s)
      WHERE rnk <= 3 ORDER BY qid, rnk""",
    "q29_embed_neardup" -> """
      SELECT a.vec_id AS ida, b.vec_id AS idb
      FROM embeddings a JOIN embeddings b
        ON a.vec_id < b.vec_id AND a.vec_id < 200 AND b.vec_id < 200
      WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.30
      ORDER BY ida, idb""",
    "q25_token_bpe" -> """
      SELECT doc_id, CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INT) AS nbpe
      FROM documents ORDER BY doc_id""",
    "q39_union_intersection" -> s"""
      SELECT $KEYS, CAST(175.0 AS DOUBLE) AS uarea, CAST(25.0 AS DOUBLE) AS iarea
      FROM lineitem ORDER BY $KEYS""",
    "q37_contains_within" -> s"""
      SELECT $KEYS,
             (l_orderkey % 100) > 0 AND (l_orderkey % 100) < 50 AND (l_linenumber * 10) < 30 AS env_contains,
             (l_orderkey % 100) > 0 AND (l_orderkey % 100) < 50 AND (l_linenumber * 10) < 30 AS pt_within,
             (l_linenumber * 10) <= 15 AS near_axis
      FROM lineitem ORDER BY $KEYS""",
    "q38_centroid_envelope" -> s"""
      SELECT $KEYS, round($OX + 5.0, 6) AS cx, round($OY + 10.0, 6) AS cy,
             'ST_Polygon' AS etype
      FROM lineitem ORDER BY $KEYS""",
    "q36_distance" -> s"""
      SELECT $KEYS, $OY AS dy, CAST(0.0 AS DOUBLE) AS dzero
      FROM lineitem ORDER BY $KEYS""",
    // point (10,11) lies on the line y=x+1 exactly when 10 ∈ [i, i+4]
    "q33_ref_linestring_intersects" -> s"""
      SELECT $KEYS, (l_orderkey % 100) BETWEEN 6 AND 10 AS hit
      FROM lineitem ORDER BY $KEYS""",
    "q41_events_json" -> """
      SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events ORDER BY event_id""",
    "q32_events_hourly" -> """
      SELECT event_type, epoch_us(ts) // 3600000000 AS hour_bucket,
             count(*) AS n, min(value) AS vmin, max(value) AS vmax
      FROM events GROUP BY event_type, hour_bucket
      ORDER BY event_type, hour_bucket""",
    // same epoch-micros week arithmetic; // is floor division but tsu
    // is non-negative, matching Spark's div
    "q171_retention_cohorts" -> """
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
           c AS (SELECT user_id, min(tsu) // 604800000000 AS cw
                 FROM e WHERE event_type = 'signup' GROUP BY user_id),
           a AS (SELECT DISTINCT c.cw, e.tsu // 604800000000 - c.cw AS wk,
                        e.user_id
                 FROM e JOIN c ON e.user_id = c.user_id
                 WHERE e.tsu // 604800000000 >= c.cw)
      SELECT CAST(cw AS BIGINT) AS cohort_week, CAST(wk AS BIGINT) AS week_offset,
             CAST(count(*) AS BIGINT) AS n_users
      FROM a GROUP BY cw, wk ORDER BY cohort_week, week_offset""",
    // the fixture's raw byte lengths are pure arithmetic ('tok ' is 4
    // ASCII bytes; ten 32-hex-char md5 blocks are 320); every deflate
    // gate is pinned true
    "q172_compression_signal" -> """
      SELECT doc_id, CAST(4 * (doc_id % 50 + 10) AS BIGINT) AS raw_rep,
             CAST(320 AS BIGINT) AS raw_rand,
             true AS rep_smaller, true AS rep_bounds, true AS rand_bounds
      FROM documents WHERE doc_id < 200 ORDER BY doc_id""",
    // max-ts LEFT JOIN + identity join-back — plain-SQL as-of; the
    // join-back on (user_id, vts) is safe because (user_id, ts) is unique
    "q48_asof_join" -> """
      WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts
                 FROM events WHERE event_type = 'purchase'),
           v AS (SELECT user_id, epoch_us(ts) AS vts, max(event_id) AS view_id
                 FROM events WHERE event_type = 'view'
                 GROUP BY user_id, epoch_us(ts)),
           m AS (SELECT p.event_id, max(v.vts) AS prior_view_ts
                 FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.vts <= p.ts
                 GROUP BY p.event_id)
      SELECT p.event_id, p.user_id, p.ts, m.prior_view_ts, v2.view_id AS prior_view_id
      FROM p JOIN m ON p.event_id = m.event_id
      LEFT JOIN v v2 ON v2.user_id = p.user_id AND v2.vts = m.prior_view_ts
      ORDER BY p.event_id""",
    "q165_asof_forward" -> """
      WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts
                 FROM events WHERE event_type = 'purchase'),
           v AS (SELECT user_id, epoch_us(ts) AS vts, max(event_id) AS view_id
                 FROM events WHERE event_type = 'view'
                 GROUP BY user_id, epoch_us(ts)),
           m AS (SELECT p.event_id, min(v.vts) AS next_view_ts
                 FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.vts >= p.ts
                 GROUP BY p.event_id)
      SELECT p.event_id, p.user_id, p.ts, m.next_view_ts, v2.view_id AS next_view_id
      FROM p JOIN m ON p.event_id = m.event_id
      LEFT JOIN v v2 ON v2.user_id = p.user_id AND v2.vts = m.next_view_ts
      ORDER BY p.event_id""",
    "q49_range_join" -> """
      SELECT l_orderkey, l_linenumber, o_orderkey
      FROM lineitem JOIN orders
        ON (l_orderkey % 100) BETWEEN (o_orderkey % 90)
                                  AND (o_orderkey % 90 + o_orderkey % 7 + 1)
      WHERE l_orderkey < 1000 AND o_orderkey < 400
      ORDER BY l_orderkey, l_linenumber, o_orderkey""",
    "q50_sessionize" -> """
      WITH e AS (SELECT user_id, epoch_us(ts) AS ts FROM events),
           f AS (SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             <= 1800000000 THEN 0 ELSE 1 END AS brk
                 FROM e),
           s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id
                   ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
                 FROM f)
      SELECT user_id, CAST(sid AS BIGINT) AS session_idx,
             count(*) AS n_events, min(ts) AS start_us, max(ts) AS end_us
      FROM s GROUP BY user_id, sid ORDER BY user_id, session_idx""",
    // same window SQL (and the same <= gap test) as q50: Spark's
    // session_window merges when the next window's start <= the current
    // session's end, so an event landing exactly gap after its
    // predecessor joins the SAME session — adjacent [ts, ts+gap)
    // windows touching at a point do merge
    "q66_stream_sessionize" -> """
      WITH e AS (SELECT user_id, epoch_us(ts) AS ts FROM events),
           f AS (SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             <= 1800000000 THEN 0 ELSE 1 END AS brk
                 FROM e),
           s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id
                   ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
                 FROM f)
      SELECT user_id, CAST(sid AS BIGINT) AS session_idx,
             count(*) AS n_events, min(ts) AS start_us, max(ts) AS end_us
      FROM s GROUP BY user_id, sid ORDER BY user_id, session_idx""",
    // all integer-exact after 6dp rounding: interpolate at 0.5 on a
    // 10-unit horizontal line, locate = 2/10, 180-degree rotation about
    // (x+1, y) maps (x,y) -> (x+2, y), scale is plain multiplication
    "q69_affine_linear_ref" -> s"""
      SELECT l_orderkey, l_linenumber,
             CAST(l_orderkey % 100 + 5 AS DOUBLE) AS interp_x,
             $OY AS interp_y,
             round(2.0 / 10.0, 6) AS locate_f,
             CAST(l_orderkey % 100 + 2 AS DOUBLE) AS rot_x,
             $OY AS rot_y,
             CAST((l_orderkey % 100) * 2 AS DOUBLE) AS scale_x,
             CAST(l_linenumber * 30 AS DOUBLE) AS scale_y
      FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    // accessors replayed with plain integer arithmetic + string concat;
    // az is round(atan2(3,4),6) on both sides (the only non-integer value)
    "q67_line_accessors" -> s"""
      SELECT l_orderkey, l_linenumber,
             $OX AS sx, $OY AS ey,
             'POINT(' || CAST(l_orderkey % 100 + 3 AS VARCHAR) || ' '
               || CAST(l_linenumber * 10 + 4 AS VARCHAR) || ')' AS p2,
             'LINESTRING(' || CAST(l_orderkey % 100 + 6 AS VARCHAR) || ' ' || $OPYS || ','
               || CAST(l_orderkey % 100 + 3 AS VARCHAR) || ' '
               || CAST(l_linenumber * 10 + 4 AS VARCHAR) || ','
               || $OPXS || ' ' || $OPYS || ')' AS revwkt,
             round(atan2(3.0, 4.0), 6) AS az,
             CAST(14.0 AS DOUBLE) AS perim,
             0 AS nring,
             'LINESTRING(' || $OPXS || ' ' || $OPYS || ','
               || $OPXS || ' ' || CAST(l_linenumber * 10 + 5 AS VARCHAR) || ','
               || CAST(l_orderkey % 100 + 2 AS VARCHAR) || ' '
               || CAST(l_linenumber * 10 + 5 AS VARCHAR) || ','
               || CAST(l_orderkey % 100 + 2 AS VARCHAR) || ' ' || $OPYS || ','
               || $OPXS || ' ' || $OPYS || ')' AS ring_wkt
      FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    // dx = x2 - x fully determines the spatial relationship of the two
    // synthesized squares (verified against JTS: equal→2FFF1FFF2,
    // |dx|=1→212111212, |dx|=2→FF2F11212, else FF2FF1212)
    "q70_topo_predicates" -> """
      WITH d AS (SELECT l_orderkey, l_linenumber,
              CAST(l_partkey % 100 AS BIGINT) - CAST(l_orderkey % 100 AS BIGINT) AS dx
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             abs(dx) = 2 AS touches,
             abs(dx) = 1 AS overlaps,
             abs(dx) > 2 AS disjoint,
             (dx > -3 AND dx < 5) AS crosses,
             CASE WHEN dx = 0 THEN '2FFF1FFF2'
                  WHEN abs(dx) = 1 THEN '212111212'
                  WHEN abs(dx) = 2 THEN 'FF2F11212'
                  ELSE 'FF2FF1212' END AS relate_im,
             abs(dx) <= 1 AS relate_area
      FROM d ORDER BY l_orderkey, l_linenumber""",
    // all areas are exact integer arithmetic (min/max of rectangle
    // overlaps); closest-point reduces to clamping; sqrt is correctly
    // rounded in both engines so round(,6) matches bit-for-bit
    "q71_overlay_family" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey % 100 AS BIGINT) AS x,
              CAST(l_linenumber * 10 AS BIGINT) AS y,
              CAST(l_linenumber AS BIGINT) AS w,
              CAST(l_orderkey % 5 AS BIGINT) AS s,
              CAST(l_partkey % 15 - 2 AS BIGINT) AS dx2
            FROM lineitem),
           d AS (SELECT *, least(s, w) AS m,
              greatest(CAST(0 AS BIGINT), least(CAST(10 AS BIGINT), dx2)) AS cl
            FROM b)
      SELECT l_orderkey, l_linenumber,
             CAST(m AS DOUBLE) AS diff_area,
             CAST(2 * m AS DOUBLE) AS sym_area,
             CAST(w + m AS DOUBLE) AS union_area,
             CAST(x AS DOUBLE) + CAST(w AS DOUBLE) / 2 AS pos_x,
             CAST(y AS DOUBLE) + 0.5 AS pos_y,
             CAST(x + cl AS DOUBLE) AS cp_x,
             round(sqrt(CAST((dx2 - cl) * (dx2 - cl) + 25 AS DOUBLE)), 6) AS sl_len,
             'POINT(' || CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || ')' AS snap_wkt
      FROM d ORDER BY l_orderkey, l_linenumber""",
    // dump order is the multipoint's own part order; normalize's canonical
    // ring (min vertex first, then counter-clockwise from it) replayed as
    // string concatenation
    "q72_dump_normalize" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey % 100 AS VARCHAR) AS xs,
              CAST(l_linenumber * 10 AS VARCHAR) AS ys,
              CAST(l_partkey % 100 AS VARCHAR) AS x2s,
              CAST(l_linenumber * 10 + 1 AS VARCHAR) AS y1s,
              CAST(l_orderkey % 100 + 1 AS VARCHAR) AS x1s,
              CAST(l_linenumber * 10 + 2 AS VARCHAR) AS y2s,
              CAST(l_orderkey % 100 + 2 AS VARCHAR) AS xr,
              CAST(l_linenumber * 10 + 5 AS VARCHAR) AS yt
            FROM lineitem),
           p AS (SELECT *, list_value(
              'POINT(' || xs || ' ' || ys || ')',
              'POINT(' || x2s || ' ' || y1s || ')',
              'POINT(' || x1s || ' ' || y2s || ')') AS parts FROM b)
      SELECT l_orderkey, l_linenumber, CAST(i - 1 AS INT) AS part_idx,
             parts[i] AS part_wkt, CAST(3 AS INT) AS n_parts,
             'POLYGON((' || xs || ' ' || ys || ',' || xs || ' ' || yt || ',' || xr || ' '
               || yt || ',' || xr || ' ' || ys || ',' || xs || ' ' || ys || '))' AS norm_wkt
      FROM p, unnest(generate_series(1, 3)) AS u(i)
      ORDER BY l_orderkey, l_linenumber, part_idx""",
    // the CC fixpoint over chain pairs within identical-text groups is
    // simply the group's min id (singletons map to themselves)
    "q73_dedup_clusters" -> """
      SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS component
      FROM documents ORDER BY doc_id""",
    // rank replay: per planted content group, longest copy wins
    "q157_dedup_keep_best" -> """
      SELECT doc_id, content, n_chars FROM (
        SELECT doc_id, 'grp' || CAST(doc_id % 50 AS VARCHAR) AS content,
               n_chars,
               row_number() OVER (PARTITION BY doc_id % 50
                 ORDER BY n_chars DESC, doc_id ASC) AS rn
        FROM documents)
      WHERE rn = 1 ORDER BY doc_id""",
    // component = group min id; keeper = group's rank-1 by score
    "q158_cluster_keep_best" -> """
      WITH a AS (SELECT doc_id, doc_id % 50 AS grp, n_chars FROM documents),
           c AS (SELECT doc_id, grp,
                        min(doc_id) OVER (PARTITION BY grp) AS component
                 FROM a),
           k AS (SELECT grp, doc_id AS keep_id FROM (
                   SELECT grp, doc_id, row_number() OVER (PARTITION BY grp
                     ORDER BY n_chars DESC, doc_id ASC) AS rn FROM a)
                 WHERE rn = 1)
      SELECT c.doc_id AS id, c.component, k.keep_id,
             c.doc_id = k.keep_id AS keep
      FROM c JOIN k ON c.grp = k.grp ORDER BY id""",
    // identical smoothed-idf arithmetic: (N+1.0)/(df+1) in double, ln,
    // +1, ×tf, round 6 — then rank on the ROUNDED score
    "q74_tfidf_terms" -> """
      WITH tf AS (SELECT doc_id, w AS tok, count(*) AS tf
                  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                        FROM documents)
                  GROUP BY doc_id, w),
           dfq AS (SELECT tok, count(*) AS dfreq FROM tf GROUP BY tok),
           s AS (SELECT doc_id, tok, tf, dfreq,
                   round(tf * (ln((SELECT count(*) + 1.0 FROM documents)
                     / CAST(dfreq + 1 AS DOUBLE)) + 1), 6) AS score
                 FROM tf JOIN dfq USING (tok)),
           r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, tok ASC) AS rnk FROM s)
      SELECT doc_id, CAST(rnk AS INT) AS rnk, tok, tf, dfreq, score
      FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""",
    // same centroid seeding (8 lowest vec_ids → cluster 0..7), same
    // double cosine, ties to the lowest cluster — rank-1 per vector
    "q75_kmeans_assign" -> """
      WITH c AS (SELECT embedding::DOUBLE[] AS cv,
                        CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster
                 FROM embeddings ORDER BY vec_id LIMIT 8),
           s AS (SELECT e.vec_id, c.cluster,
                        list_cosine_similarity(e.embedding::DOUBLE[], c.cv) AS cos
                 FROM embeddings e CROSS JOIN c),
           r AS (SELECT vec_id, cluster, cos, row_number() OVER (
                   PARTITION BY vec_id ORDER BY cos DESC, cluster ASC) AS rk FROM s)
      SELECT vec_id, cluster, round(cos, 6) AS cos
      FROM r WHERE rk = 1 ORDER BY vec_id""",
    // q75's centroid/assignment CTE, then the per-cluster prototype rank
    "q145_cluster_coreset" -> """
      WITH c AS (SELECT embedding::DOUBLE[] AS cv,
                        CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster
                 FROM embeddings ORDER BY vec_id LIMIT 8),
           s AS (SELECT e.vec_id, c.cluster,
                        list_cosine_similarity(e.embedding::DOUBLE[], c.cv) AS cos
                 FROM embeddings e CROSS JOIN c),
           r AS (SELECT vec_id, cluster, cos, row_number() OVER (
                   PARTITION BY vec_id ORDER BY cos DESC, cluster ASC) AS rk FROM s),
           a AS (SELECT vec_id, cluster, round(cos, 6) AS cos FROM r WHERE rk = 1),
           p AS (SELECT vec_id, cluster, cos,
                        CAST(row_number() OVER (
                          PARTITION BY cluster ORDER BY cos DESC, vec_id ASC) AS INT) AS rk
                 FROM a)
      SELECT vec_id, cluster, cos, rk FROM p WHERE rk <= 5
      ORDER BY cluster, rk""",
    // q75's centroid/assignment CTE, then the SemDeDup within-cluster
    // pair scan and keep-lowest-id anti-join
    "q119_semantic_dedup" -> SEMANTIC_DEDUP_ORACLE,
    // bit-identical assignment transport (q120 pins it), so the
    // broadcast-path dedup must reproduce q119's oracle exactly
    "q124_semantic_dedup_bcast" -> SEMANTIC_DEDUP_ORACLE,
    // the streaming/incremental variant computes the same function
    "q133_stream_semantic_dedup" -> SEMANTIC_DEDUP_ORACLE,
    // calibrated constants, q35-style: 5 queries x k=3 on both paths,
    // every (qid, nid, rnk) row agreeing, and the corrupted-unprobed-
    // partition read surviving (static partition pruning worked)
    "q125_ann_ivf_persisted" -> """
      SELECT CAST(15 AS BIGINT) AS n_mem, CAST(15 AS BIGINT) AS n_match,
             true AS prune_ok""",
    // append ≡ one-shot frozen-centroid rebuild: all 5x3 (qid, nid,
    // rnk) pairs match at both probe depths; recall guard holds
    "q167_ivf_append" -> """
      SELECT CAST(15 AS BIGINT) AS n_match_full,
             CAST(15 AS BIGINT) AS n_match_partial, true AS drift_ok""",
    // streamed appends + a retry are invisible to the search (fact rows,
    // (qid, nid)-deduped) — the q167 gate verbatim
    "q226_stream_ivf_index" -> """
      SELECT CAST(15 AS BIGINT) AS n_match_full,
             CAST(15 AS BIGINT) AS n_match_partial, true AS drift_ok""",
    // append + compact ≡ frozen-centroid rebuild at full AND partial probe
    "q205_ivf_compact" -> """
      SELECT CAST(15 AS BIGINT) AS n_match_full,
             CAST(15 AS BIGINT) AS n_match_partial, true AS drift_ok""",
    "q126_ann_ivf_quantized" -> """
      SELECT CAST(15 AS BIGINT) AS n_exact, true AS recall_ok,
             true AS rerank_ge""",
    // append ≡ one-shot frozen encode: all 5x3 ranked pairs match in
    // quantized order, after rerank, and at partial probe
    "q173_ivfpq_append" -> """
      SELECT CAST(15 AS BIGINT) AS n_match_q,
             CAST(15 AS BIGINT) AS n_match_rr,
             CAST(15 AS BIGINT) AS n_match_part""",
    "q129_ann_ivfpq" -> """
      SELECT CAST(15 AS BIGINT) AS n_exact, true AS recall_ok,
             true AS rerank_ge, true AS full_ok""",
    // the expected MJPEG frame grid, recomputed arithmetically: doc d
    // has 3 + d%4 frames, stride 2 samples 0,2,..; frame f of doc d was
    // encoded at (16 + d + f) x 24 and must ImageIO-decode back to that
    "q130_mjpeg_frames" -> """
      SELECT d.doc_id, CAST(u.f AS INT) AS frame_idx,
             CAST(16 + d.doc_id + u.f AS INT) AS width,
             CAST(24 AS INT) AS height, true AS real_decode
      FROM documents d,
           unnest(generate_series(0, CAST(3 + d.doc_id % 4 AS INT) - 1, 2)) AS u(f)
      WHERE d.doc_id < 20 ORDER BY doc_id, frame_idx""",
    "q127_transform_utm" -> """
      SELECT true AS rt_ok, true AS range_ok, true AS known_ok""",
    "q131_transform_conic" -> """
      SELECT true AS rt_ok, true AS known_ok, true AS pivot_ok""",
    "q134_transform_national" -> """
      SELECT true AS rt_ok, true AS known_ok, true AS shift_ok""",
    "q140_transform_azimuthal" -> """
      SELECT true AS rt_ok, true AS known_ok, true AS shift_ok""",
    "q163_transform_oblique" -> """
      SELECT true AS rt_ok, true AS known_ok, true AS shift_ok""",
    "q132_geoparquet_covering" -> s"""
      SELECT $KEYS, 'POINT(' || $OPXS || ' ' || $OPYS || ')' AS wkt
      FROM lineitem
      WHERE l_orderkey % 100 BETWEEN 10 AND 40
        AND l_linenumber * 10 BETWEEN 10 AND 30
      ORDER BY $KEYS""",
    "q128_geoparquet_roundtrip" -> s"""
      WITH e AS (SELECT min($OX) AS bx0, min($OY) AS by0,
                        max($OX) AS bx1, max($OY) AS by1
                 FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             'POINT(' || $OPXS || ' ' || $OPYS || ')' AS wkt,
             CAST(4326 AS INT) AS srid,
             e.bx0 AS bb_xmin, e.by0 AS bb_ymin,
             e.bx1 AS bb_xmax, e.by1 AS bb_ymax
      FROM lineitem CROSS JOIN e
      ORDER BY l_orderkey, l_linenumber""",
    // the streaming two-batch election replayed globally: even-id docs
    // arrive first, so the keeper of each paragraph is the smallest
    // (doc_id % 2, doc_id, pos)
    "q123_stream_paragraph_dedup" -> """
      WITH p AS (
        SELECT doc_id, 0 AS pos, 'hdr' AS para FROM documents
        UNION ALL
        SELECT doc_id, 1, 'p' || CAST(doc_id % 7 AS VARCHAR) FROM documents
        UNION ALL
        SELECT doc_id, 2, 'p' || CAST(doc_id % 3 AS VARCHAR) FROM documents),
      r AS (SELECT doc_id, pos, para,
              row_number() OVER (PARTITION BY para
                ORDER BY doc_id % 2, doc_id, pos) AS rk
            FROM p)
      SELECT doc_id,
             coalesce(string_agg(CASE WHEN rk = 1 THEN para END, chr(10)
               ORDER BY pos), '') AS text,
             CAST(count(*) FILTER (WHERE rk = 1) AS INT) AS n_kept,
             CAST(count(*) FILTER (WHERE rk != 1) AS INT) AS n_dropped
      FROM r GROUP BY doc_id ORDER BY doc_id""",
    // keep-first-fingerprint across the whole (twice-staged) stream ≡
    // keep-lowest-doc_id per distinct text over the corpus
    "q121_stream_dedup" -> """
      SELECT min(doc_id) AS doc_id, md5(text) AS fp
      FROM documents GROUP BY md5(text) ORDER BY doc_id""",
    // the same 2n-centroid set (rank order, then reversals offset by n)
    // replayed as rank-over-cosine; both Spark paths must match it, so
    // the oracle emits the winning cluster twice
    "q120_kmeans_assign_bcast" -> """
      WITH e AS (SELECT embedding::DOUBLE[] AS v,
                        CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS r
                 FROM embeddings),
           c AS (SELECT v AS cv, r AS cluster FROM e
                 UNION ALL
                 SELECT list_reverse(v) AS cv,
                        CAST(r + (SELECT COUNT(*) FROM embeddings) AS INT) AS cluster
                 FROM e),
           s AS (SELECT emb.vec_id, c.cluster,
                        list_cosine_similarity(emb.embedding::DOUBLE[], c.cv) AS cos
                 FROM embeddings emb CROSS JOIN c),
           a AS (SELECT vec_id, cluster FROM (
                   SELECT vec_id, cluster, row_number() OVER (
                     PARTITION BY vec_id ORDER BY cos DESC, cluster ASC) AS rk FROM s)
                 WHERE rk = 1)
      SELECT vec_id, cluster, cluster AS cluster_lit FROM a ORDER BY vec_id""",
    // full-probe two-level assignment is exact: same centroid fixture,
    // same rank-over-cosine replay, single cluster column
    "q122_kmeans_two_level" -> """
      WITH e AS (SELECT embedding::DOUBLE[] AS v,
                        CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS r
                 FROM embeddings),
           c AS (SELECT v AS cv, r AS cluster FROM e
                 UNION ALL
                 SELECT list_reverse(v) AS cv,
                        CAST(r + (SELECT COUNT(*) FROM embeddings) AS INT) AS cluster
                 FROM e),
           s AS (SELECT emb.vec_id, c.cluster,
                        list_cosine_similarity(emb.embedding::DOUBLE[], c.cv) AS cos
                 FROM embeddings emb CROSS JOIN c)
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster, row_number() OVER (
          PARTITION BY vec_id ORDER BY cos DESC, cluster ASC) AS rk FROM s)
      WHERE rk = 1 ORDER BY vec_id""",
    // mbc radius = sqrt(w^2+25)/2 (exact-input sqrt, correctly rounded in
    // both engines); oriented envelope of an axis-aligned rect keeps its
    // area; union/merge/extract replay as arithmetic and string concat
    "q81_hulls_linework" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey % 100 AS BIGINT) AS xi,
              CAST(l_linenumber * 10 AS BIGINT) AS yi,
              CAST(l_linenumber AS BIGINT) AS wi,
              CAST(l_orderkey % 5 AS BIGINT) AS si
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             round(sqrt(CAST(wi * wi + 25 AS DOUBLE)) / 2, 6) AS mbc_r,
             round(CAST(wi * 5 AS DOUBLE), 6) AS oe_area,
             CAST(wi + least(si, wi) AS DOUBLE) AS uu_area,
             'LINESTRING(' || CAST(xi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR) || ','
               || CAST(xi + wi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR) || ','
               || CAST(xi + 2 * wi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR) || ')'
               AS lm_wkt,
             CAST(2 * wi AS DOUBLE) AS lm_len,
             'MULTIPOINT(' || CAST(xi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR) || ','
               || CAST(xi + 1 AS VARCHAR) || ' ' || CAST(yi + 2 AS VARCHAR) || ')'
               AS ce_wkt,
             CAST(2 AS INT) AS dt_n
      FROM b ORDER BY l_orderkey, l_linenumber""",
    // islands of size >= 2 cluster (min id), singleton islands → NULL
    "q80_dbscan" -> """
      WITH d AS (SELECT DISTINCT l_orderkey % 100 AS xi, l_linenumber * 10 AS yi
                 FROM lineitem),
           isl AS (SELECT xi, yi,
                    xi - dense_rank() OVER (PARTITION BY yi ORDER BY xi) AS grp
                 FROM d),
           m AS (SELECT yi, grp, min(xi * 1000 + yi) AS cluster, count(*) AS sz
                 FROM isl GROUP BY yi, grp)
      SELECT CAST(isl.xi * 1000 + isl.yi AS BIGINT) AS id,
             CASE WHEN m.sz >= 2 THEN CAST(m.cluster AS BIGINT) ELSE NULL END AS cluster
      FROM isl JOIN m USING (yi, grp) ORDER BY id""",
    // minPts=1 → every point core → clusters = islands, singletons keep
    // their own id (same closed form as q79, no NULL branch)
    "q92_dbscan_minpts1" -> """
      WITH d AS (SELECT DISTINCT l_orderkey % 100 AS xi, l_linenumber * 10 AS yi
                 FROM lineitem),
           isl AS (SELECT xi, yi,
                    xi - dense_rank() OVER (PARTITION BY yi ORDER BY xi) AS grp
                 FROM d),
           m AS (SELECT yi, grp, min(xi * 1000 + yi) AS cluster
                 FROM isl GROUP BY yi, grp)
      SELECT CAST(isl.xi * 1000 + isl.yi AS BIGINT) AS id,
             CAST(m.cluster AS BIGINT) AS cluster
      FROM isl JOIN m USING (yi, grp) ORDER BY id""",
    // rectangle clearance = shorter side, exactly
    // bbox bounds are the envelope corners; maxd is the exact integer
    // diagonal; the longest line runs first-vertex-of-la to
    // last-vertex-of-lb (strict > keeps the first maximizing pair); the
    // angle columns replay az₂ − az₁ + 2π left-to-right so the FP op
    // order matches the kernel bit-for-bit
    "q101_bbox_maxdist_angle" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey % 100 AS BIGINT) AS xi,
              CAST(l_linenumber * 10 AS BIGINT) AS yi,
              CAST(l_linenumber AS BIGINT) AS wi,
              CAST(l_orderkey % 5 AS BIGINT) AS si
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             CAST(xi AS DOUBLE) AS bxmin, CAST(yi AS DOUBLE) AS bymin,
             CAST(xi + wi AS DOUBLE) AS bxmax, CAST(yi + 5 AS DOUBLE) AS bymax,
             round(sqrt(CAST(wi * wi + (si + 1) * (si + 1) AS DOUBLE)), 6) AS maxd,
             'LINESTRING(' || CAST(xi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ',' || CAST(xi + wi AS VARCHAR) || ' '
               || CAST(yi + si + 1 AS VARCHAR) || ')' AS ll_wkt,
             round(atan2(CAST(wi AS DOUBLE), CAST(si + 1 AS DOUBLE))
               - pi() / 2 + 2 * pi(), 6) AS ang3,
             round(atan2(CAST(wi - 1 AS DOUBLE), CAST(si + 1 AS DOUBLE))
               - pi() / 2 + 2 * pi(), 6) AS ang4
      FROM b ORDER BY l_orderkey, l_linenumber""",
    // the CCW fixture ring reversed = CW WKT replayed as string concat;
    // the exact stutter collapses 5 -> 3 vertices; tol 0.5 drops the
    // x+0.4 vertex and keeps both endpoints
    "q102_winding_repeated" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey % 100 AS BIGINT) AS xi,
              CAST(l_linenumber * 10 AS BIGINT) AS yi,
              CAST(l_linenumber AS BIGINT) AS wi
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             true AS is_ccw,
             false AS is_cw,
             true AS forced_cw,
             'POLYGON((' || CAST(xi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR) || ','
               || CAST(xi AS VARCHAR) || ' ' || CAST(yi + 5 AS VARCHAR) || ','
               || CAST(xi + wi AS VARCHAR) || ' ' || CAST(yi + 5 AS VARCHAR) || ','
               || CAST(xi + wi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR) || ','
               || CAST(xi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR) || '))' AS cw_wkt,
             CAST(3 AS INT) AS np_exact,
             'LINESTRING(' || CAST(xi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ',' || CAST(xi + wi AS VARCHAR) || ' '
               || CAST(yi AS VARCHAR) || ')' AS tol_wkt
      FROM b ORDER BY l_orderkey, l_linenumber""",
    // merc_x replays R * (deg * 0.017453292519943295) — JDK
    // Math.toRadians is a single multiply by that precomputed constant
    // (NOT deg/180*pi, which lands 1 ulp off) — with identical IEEE op
    // order the column is bitwise-equal without rounding;
    // roundtrip/geohash columns
    // collapse to the integer inputs at 6dp; tile bounds replay
    // -MercMax + x * ((2 * MercMax) / 8); the zoom-3 y index equals
    // l_linenumber (1..7 < 8); the 4-char cell is 360/1024 wide
    "q104_mercator_tiles_geohash" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey % 100 AS BIGINT) AS xi,
              CAST(l_linenumber AS BIGINT) AS li
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             6378137.0 * (CAST(xi - 50 AS DOUBLE) * 0.017453292519943295) AS merc_x,
             CAST(3857 AS INT) AS merc_srid,
             round(CAST(xi - 50 AS DOUBLE), 6) AS rt_lon,
             round(CAST(li * 10 - 40 AS DOUBLE), 6) AS rt_lat,
             -20037508.342789244 + CAST(xi % 8 AS DOUBLE)
               * (2 * 20037508.342789244 / 8) AS t_xmin,
             20037508.342789244 - CAST(li AS DOUBLE)
               * (2 * 20037508.342789244 / 8) AS t_ymax,
             CAST(3857 AS INT) AS t_srid,
             round(CAST(xi - 50 AS DOUBLE), 6) AS gh_lon,
             round(CAST(li * 10 - 40 AS DOUBLE), 6) AS gh_lat,
             true AS gh_covers,
             CAST(0.3515625 AS DOUBLE) AS gh_w
      FROM b ORDER BY l_orderkey, l_linenumber""",
    // constants of the codec + exact EWKT string
    "q115_metadata" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey % 100 AS BIGINT) AS xi,
              CAST(l_linenumber * 10 AS BIGINT) AS yi
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             false AS empty_f,
             true AS coll_t,
             false AS coll_f,
             CAST(2 AS INT) AS ndims,
             CAST(0 AS INT) AS zmf,
             false AS arc,
             'SRID=4326;POINT(' || CAST(xi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ')' AS f2d,
             CAST(22 AS INT) AS msz
      FROM b ORDER BY l_orderkey, l_linenumber""",
    // single-byte zigzag varints under 64 make the point TWKB hex a
    // printf; roundtrips and tens-rounding are integer string arithmetic
    "q116_twkb" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey % 60 AS BIGINT) AS x,
              CAST(l_linenumber * 9 AS BIGINT) AS y
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             '0100' || printf('%02x', 2 * x) || printf('%02x', 2 * y) AS twkb_hex,
             'LINESTRING(' || x || ' ' || y || ',' || (x + 3) || ' ' || (y + 1)
               || ')' AS ln_rt,
             'POLYGON((' || x || ' ' || y || ',' || (x + 2) || ' ' || y || ','
               || (x + 2) || ' ' || (y + 2) || ',' || x || ' ' || (y + 2) || ','
               || x || ' ' || y || '))' AS pg_rt,
             'POINT(' || (10 * CAST(ROUND(x / 10.0) AS BIGINT)) || ' '
               || (10 * CAST(ROUND(y / 10.0) AS BIGINT)) || ')' AS pt_tens,
             CAST(4 AS INT) AS pt_len
      FROM b ORDER BY l_orderkey, l_linenumber""",
    // rectangle triangulation constants + integer interpolation/swap/GML
    "q117_shape_tools" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey % 100 AS BIGINT) AS x,
              CAST(l_linenumber * 10 AS BIGINT) AS y
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             CAST(2 AS INT) AS tri_n,
             CAST(20 AS DOUBLE) AS tri_area,
             'MULTIPOINT(' || (x + 2) || ' ' || y || ',' || (x + 4) || ' ' || y
               || ',' || (x + 6) || ' ' || y || ',' || (x + 8) || ' ' || y
               || ')' AS interp_mp,
             'POINT(' || (x + 2) || ' ' || y || ')' AS interp_pt,
             'SRID=4326;POINT(' || y || ' ' || x || ')' AS swapped,
             '<gml:Point><gml:coordinates>' || x || ',' || y
               || '</gml:coordinates></gml:Point>' AS gml2_pt,
             '<gml:LineString><gml:posList>' || x || ' ' || y || ' ' || (x + 8)
               || ' ' || y || '</gml:posList></gml:LineString>' AS gml3_ln
      FROM b ORDER BY l_orderkey, l_linenumber""",
    // wi crossings alternating +1/-1 from west->east: single -> 1, odd
    // -> 3 (last matches first), even -> -2; the reversed zigzag
    // reverses and negates the sequence (single -> -1, odd -> -3, even
    // -> -2); the offset line never crosses
    "q114_line_crossing" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_linenumber AS BIGINT) AS wi
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             CAST(CASE WHEN wi = 1 THEN 1 WHEN wi % 2 = 1 THEN 3
                       ELSE -2 END AS INT) AS lcd,
             CAST(CASE WHEN wi = 1 THEN -1 WHEN wi % 2 = 1 THEN -3
                       ELSE -2 END AS INT) AS lcd_rev,
             CAST(0 AS INT) AS lcd_zero
      FROM b ORDER BY l_orderkey, l_linenumber""",
    // DuckDB replays the identical float->double square-sum (list_sum
    // is sequential), sqrt, divide, and float cast — bitwise-equal
    // arrays; the truncation slices the 1-based [1:8] prefix
    "q112_vec_normalize_truncate" -> """
      WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           n AS (SELECT vec_id, e,
                        sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm,
                        sqrt(list_sum(list_transform(e[1:8], x -> x * x))) AS pn
                 FROM b)
      SELECT vec_id,
             CAST(CAST(e[1] / nrm AS FLOAT) AS DOUBLE) AS n1,
             CAST(CAST(e[8] / nrm AS FLOAT) AS DOUBLE) AS n8,
             CAST(CAST(e[1] / pn AS FLOAT) AS DOUBLE) AS t1,
             CAST(CAST(e[8] / pn AS FLOAT) AS DOUBLE) AS t8,
             CAST(8 AS INT) AS t_len,
             CAST(1.0 AS DOUBLE) AS unit_n,
             CAST(1.0 AS DOUBLE) AS unit_t
      FROM n ORDER BY vec_id""",
    // two URLs per doc with closed-form hosts
    "q113_url_extraction" -> """
      SELECT doc_id, CAST(pos AS INT) AS pos, url, host FROM (
        SELECT doc_id, 0 AS pos,
               'http://site' || CAST(doc_id % 5 AS VARCHAR)
                 || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url,
               'site' || CAST(doc_id % 5 AS VARCHAR) || '.example.com' AS host
        FROM documents
        UNION ALL
        SELECT doc_id, 1,
               'https://mirror.example.org/d' || CAST(doc_id % 3 AS VARCHAR),
               'mirror.example.org'
        FROM documents)
      ORDER BY doc_id, pos""",
    // ds_m replays the analytic meridian arc 2*pi*R/360*(wi/100) — the
    // haversine of a same-meridian pair IS the circle arc, FP gap
    // ~1e-9 m against a 0.005 m rounding threshold; property columns
    // (spheroid ratio, symmetry, ordering equality, 3-4-5 circle
    // boundary) are constants of the fixture; DMS strings are exact at
    // quarter/half-degree coordinates
    "q111_geodesic_formatting" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey % 100 AS BIGINT) AS xi,
              CAST(l_linenumber AS BIGINT) AS wi
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             round(2 * pi() * ((2.0 * 6378137.0 + 6356752.314245179) / 3.0)
               / 360 * (wi / 100.0), 2) AS ds_m,
             true AS sp_ratio_ok,
             true AS sp_sym,
             CAST(wi AS VARCHAR) || '°15''0.000"N ' || CAST(xi AS VARCHAR)
               || '°30''0.000"E' AS llt,
             true AS oeq_t,
             false AS oeq_f,
             true AS pic_t,
             false AS pic_f
      FROM b ORDER BY l_orderkey, l_linenumber""",
    // the same first-(doc_id,pos)-wins election, unrolled over the three
    // known paragraph slots; string_agg skips the non-keeper NULLs and
    // coalesce supplies the all-duplicates empty document
    "q110_paragraph_dedup" -> """
      WITH p AS (
        SELECT doc_id, 0 AS pos, 'hdr' AS para FROM documents
        UNION ALL
        SELECT doc_id, 1, 'p' || CAST(doc_id % 7 AS VARCHAR) FROM documents
        UNION ALL
        SELECT doc_id, 2, 'p' || CAST(doc_id % 3 AS VARCHAR) FROM documents),
      r AS (SELECT doc_id, pos, para,
              row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rk
            FROM p)
      SELECT doc_id,
             coalesce(string_agg(CASE WHEN rk = 1 THEN para END, chr(10)
               ORDER BY pos), '') AS text,
             CAST(count(*) FILTER (WHERE rk = 1) AS INT) AS n_kept,
             CAST(count(*) FILTER (WHERE rk != 1) AS INT) AS n_dropped
      FROM r GROUP BY doc_id ORDER BY doc_id""",
    // the bowtie's crossing is the exact integer center (xi+1, yi+1);
    // interchange strings replay the documented formats; hex EWKB of a
    // 2-D point with SRID is always 50 chars starting
    // 0101000020E6100000 (little-endian, SRID flag, EPSG 4326); shared
    // paths overlap is [xi+wi, xi+8], oriented along the first line
    "q109_validity_interchange" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey % 100 AS BIGINT) AS xi,
              CAST(l_linenumber * 10 AS BIGINT) AS yi,
              CAST(l_linenumber AS BIGINT) AS wi
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             'Self-intersection[' || CAST(xi + 1 AS VARCHAR) || ' '
               || CAST(yi + 1 AS VARCHAR) || ']' AS ivr,
             false AS ivd_valid,
             'POINT(' || CAST(xi + 1 AS VARCHAR) || ' ' || CAST(yi + 1 AS VARCHAR)
               || ')' AS ivd_loc_wkt,
             true AS vd2_valid,
             CAST(NULL AS VARCHAR) AS vd2_reason,
             'Polygon[] with 2 rings' AS summ,
             '<Point><coordinates>' || CAST(xi AS VARCHAR) || ','
               || CAST(yi AS VARCHAR) || '</coordinates></Point>' AS kml,
             'M ' || CAST(xi AS VARCHAR) || ' -' || CAST(yi AS VARCHAR)
               || ' L ' || CAST(xi + wi AS VARCHAR) || ' -' || CAST(yi AS VARCHAR) AS svg,
             'SRID=4326;POINT(' || CAST(xi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ')' AS hex_rt,
             '0101000020E6100000' AS hex_prefix,
             CAST(50 AS INT) AS hex_len,
             'GEOMETRYCOLLECTION(MULTILINESTRING((' || CAST(xi + wi AS VARCHAR) || ' '
               || CAST(yi AS VARCHAR) || ',' || CAST(xi + 8 AS VARCHAR) || ' '
               || CAST(yi AS VARCHAR) || ')),MULTILINESTRING EMPTY)' AS sp_same,
             'GEOMETRYCOLLECTION(MULTILINESTRING EMPTY,MULTILINESTRING(('
               || CAST(xi + wi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR) || ','
               || CAST(xi + 8 AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ')))' AS sp_opp
      FROM b ORDER BY l_orderkey, l_linenumber""",
    // affine/editing closed forms: reflection swaps coordinate pairs;
    // transscale is integer arithmetic; shift/wrap is a CASE on xi<50;
    // the scroll starts at ring vertex 2; Chaikin quarter-points land on
    // integers (0.75*xi+0.25*(xi+4) = xi+1 exact); the VW bump area is
    // exactly 5 so tolerance 10 drops it and 1 keeps it; the hull/
    // quantize columns assert documented guarantees; the median of the
    // unit cross is its exact center (Weiszfeld converges in one step)
    "q108_affine_editing" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey % 100 AS BIGINT) AS xi,
              CAST(l_linenumber * 10 AS BIGINT) AS yi,
              CAST(l_linenumber AS BIGINT) AS wi
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             'LINESTRING(' || CAST(yi AS VARCHAR) || ' ' || CAST(xi AS VARCHAR)
               || ',' || CAST(yi AS VARCHAR) || ' ' || CAST(xi + wi AS VARCHAR)
               || ')' AS aff_wkt,
             'POINT(' || CAST((xi + 1) * 2 AS VARCHAR) || ' '
               || CAST((yi + 2) * 3 AS VARCHAR) || ')' AS ts_wkt,
             CASE WHEN xi < 50
               THEN 'POINT(' || CAST(xi + 310 AS VARCHAR) || ' ' || CAST(yi AS VARCHAR) || ')'
               ELSE 'POINT(' || CAST(xi - 50 AS VARCHAR) || ' ' || CAST(yi AS VARCHAR) || ')'
             END AS sl_wkt,
             CASE WHEN xi < 50
               THEN 'POINT(' || CAST(xi + 310 AS VARCHAR) || ' ' || CAST(yi AS VARCHAR) || ')'
               ELSE 'POINT(' || CAST(xi - 50 AS VARCHAR) || ' ' || CAST(yi AS VARCHAR) || ')'
             END AS wrap_wkt,
             'LINESTRING(' || CAST(xi + wi AS VARCHAR) || ' ' || CAST(yi + wi AS VARCHAR)
               || ',' || CAST(xi AS VARCHAR) || ' ' || CAST(yi + wi AS VARCHAR)
               || ',' || CAST(xi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ',' || CAST(xi + wi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ',' || CAST(xi + wi AS VARCHAR) || ' ' || CAST(yi + wi AS VARCHAR)
               || ')' AS scr_wkt,
             'LINESTRING(' || CAST(xi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ',' || CAST(xi + 1 AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ',' || CAST(xi + 3 AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ',' || CAST(xi + 4 AS VARCHAR) || ' ' || CAST(yi + 1 AS VARCHAR)
               || ',' || CAST(xi + 4 AS VARCHAR) || ' ' || CAST(yi + 3 AS VARCHAR)
               || ',' || CAST(xi + 4 AS VARCHAR) || ' ' || CAST(yi + 4 AS VARCHAR)
               || ')' AS cs_wkt,
             CAST(2 AS INT) AS vw_np2,
             CAST(3 AS INT) AS vw_np3,
             true AS hull_cov,
             true AS qc_ok,
             'POINT(' || CAST(xi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ')' AS gm_wkt
      FROM b ORDER BY l_orderkey, l_linenumber""",
    // square cells replay the makeEnvelope ring order on 2x-scaled
    // integers; n_cells is floor arithmetic x 3 rows (the y span
    // yi..yi+5 at size 2 always covers 3 cells); hex_area's analytic
    // 3*sqrt(3)/2*wi^2 round-matches the JTS shoelace at 6dp for all 7
    // wi values (checked numerically); hex_xmin is an exact decimal
    // (1.5*wi has one fractional bit); hex_ymin replays the identical
    // -(sqrt(3)/2*wi) op order; the generate-points columns assert the
    // documented contract (count, containment, seed replay)
    "q107_grids_generatepoints" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey % 100 AS BIGINT) AS xi,
              CAST(l_linenumber * 10 AS BIGINT) AS yi,
              CAST(l_linenumber AS BIGINT) AS wi,
              CAST(l_linenumber AS BIGINT) AS li
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             'POLYGON((' || CAST(2*xi AS VARCHAR) || ' ' || CAST(2*wi AS VARCHAR)
               || ',' || CAST(2*xi AS VARCHAR) || ' ' || CAST(2*wi+2 AS VARCHAR)
               || ',' || CAST(2*xi+2 AS VARCHAR) || ' ' || CAST(2*wi+2 AS VARCHAR)
               || ',' || CAST(2*xi+2 AS VARCHAR) || ' ' || CAST(2*wi AS VARCHAR)
               || ',' || CAST(2*xi AS VARCHAR) || ' ' || CAST(2*wi AS VARCHAR)
               || '))' AS sq_wkt,
             CAST((CAST(floor((xi+wi)/2.0) AS BIGINT)
               - CAST(floor(xi/2.0) AS BIGINT) + 1) * 3 AS INT) AS n_cells,
             CAST(floor(xi/2.0) AS INT) AS first_i,
             CAST(5*li AS INT) AS first_j,
             round(3 * sqrt(3.0) / 2 * wi * wi, 6) AS hex_area,
             CAST(7 AS INT) AS hex_np,
             1.5 * CAST(wi AS DOUBLE) * xi - wi AS hex_xmin,
             -(sqrt(3.0)/2*wi) AS hex_ymin,
             CAST(10+wi AS INT) AS gp_n,
             true AS gp_cov,
             true AS gp_det
      FROM b ORDER BY l_orderkey, l_linenumber""",
    // every column closed-form: WKT columns replay the integer vertex
    // strings; counters are constants of the fixture; areas are exact
    // (wi*5 and wi*5 - 0.25); the 2-leg path length adds sqrt of an
    // exact integer, correctly rounded identically in both engines
    "q106_accessors_constructors" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey % 100 AS BIGINT) AS xi,
              CAST(l_linenumber * 10 AS BIGINT) AS yi,
              CAST(l_linenumber AS BIGINT) AS wi
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             'POINT(' || CAST(xi + wi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ')' AS g2_wkt,
             'LINESTRING(' || CAST(xi + 2 AS VARCHAR) || ' ' || CAST(yi + 2 AS VARCHAR)
               || ',' || CAST(xi + 3 AS VARCHAR) || ' ' || CAST(yi + 2 AS VARCHAR)
               || ',' || CAST(xi + 3 AS VARCHAR) || ' ' || CAST(yi + 3 AS VARCHAR)
               || ',' || CAST(xi + 2 AS VARCHAR) || ' ' || CAST(yi + 3 AS VARCHAR)
               || ',' || CAST(xi + 2 AS VARCHAR) || ' ' || CAST(yi + 2 AS VARCHAR)
               || ')' AS ir_wkt,
             CAST(2 AS INT) AS nrings,
             CAST(3 AS INT) AS np_line,
             CAST(NULL AS INT) AS np_poly,
             CAST(2 AS INT) AS dim_a,
             CAST(2 AS INT) AS cdim,
             'LINESTRING(' || CAST(xi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ',' || CAST(xi + 8 AS VARCHAR) || ' ' || CAST(yi + 8 AS VARCHAR)
               || ')' AS bd_wkt,
             'POINT(' || CAST(xi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ')' AS mkp_wkt,
             CAST(4326 AS INT) AS pt_srid,
             CAST(wi * 5 AS DOUBLE) AS shell_area,
             CAST(wi * 5 AS DOUBLE) - 0.25 AS donut_area,
             'LINESTRING(' || CAST(xi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ',' || CAST(xi + wi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ',' || CAST(xi AS VARCHAR) || ' ' || CAST(yi + 3 AS VARCHAR)
               || ')' AS lmp_wkt,
             CAST(wi AS DOUBLE) + sqrt(CAST(wi * wi + 9 AS DOUBLE)) AS lmp_len
      FROM b ORDER BY l_orderkey, l_linenumber""",
    // unrolled Lloyd replay: seeds = 4 lowest ids in id order; each
    // assignment is the identical (x-cx)*(x-cx)+(y-cy)*(y-cy) double
    // expression with ties to the lowest cluster; each mean is an exact
    // avg over integer-valued doubles, so both engines compute the SAME
    // centers bit-for-bit and the final argmin agrees everywhere
    "q105_cluster_kmeans" -> """
      WITH d AS (SELECT DISTINCT l_orderkey % 100 AS xi, l_linenumber * 10 AS yi
                 FROM lineitem),
           p AS (SELECT CAST(xi * 1000 + yi AS BIGINT) AS id,
                        CAST(xi AS DOUBLE) AS x, CAST(yi AS DOUBLE) AS y FROM d),
           c0 AS (SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cl,
                         x AS cx, y AS cy
                  FROM (SELECT * FROM p ORDER BY id LIMIT 4)),
           a0 AS (SELECT id, x, y, cl, row_number() OVER (PARTITION BY id
                    ORDER BY (x-cx)*(x-cx)+(y-cy)*(y-cy) ASC, cl ASC) AS rk
                  FROM p CROSS JOIN c0),
           m1 AS (SELECT cl, avg(x) AS mx, avg(y) AS my FROM a0 WHERE rk = 1 GROUP BY cl),
           c1 AS (SELECT c0.cl, coalesce(m1.mx, c0.cx) AS cx, coalesce(m1.my, c0.cy) AS cy
                  FROM c0 LEFT JOIN m1 USING (cl)),
           a1 AS (SELECT id, x, y, cl, row_number() OVER (PARTITION BY id
                    ORDER BY (x-cx)*(x-cx)+(y-cy)*(y-cy) ASC, cl ASC) AS rk
                  FROM p CROSS JOIN c1),
           m2 AS (SELECT cl, avg(x) AS mx, avg(y) AS my FROM a1 WHERE rk = 1 GROUP BY cl),
           c2 AS (SELECT c1.cl, coalesce(m2.mx, c1.cx) AS cx, coalesce(m2.my, c1.cy) AS cy
                  FROM c1 LEFT JOIN m2 USING (cl)),
           a2 AS (SELECT id, cl, row_number() OVER (PARTITION BY id
                    ORDER BY (x-cx)*(x-cx)+(y-cy)*(y-cy) ASC, cl ASC) AS rk
                  FROM p CROSS JOIN c2)
      SELECT id, CAST(cl AS INT) AS cluster FROM a2 WHERE rk = 1 ORDER BY id""",
    // rectangle dump: 5 path vertices (closing dup), 4 segments; the
    // second of each is the east edge; the donut area is 64 minus the
    // least(w,6) x 1 hole
    "q103_dumps_buildarea" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey % 100 AS BIGINT) AS xi,
              CAST(l_linenumber * 10 AS BIGINT) AS yi,
              CAST(l_linenumber AS BIGINT) AS wi,
              least(CAST(l_linenumber AS BIGINT), 6) AS hw
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             CAST(5 AS INT) AS np_dump,
             'POINT(' || CAST(xi + wi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ')' AS p2_wkt,
             CAST(4 AS INT) AS nseg,
             'LINESTRING(' || CAST(xi + wi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ',' || CAST(xi + wi AS VARCHAR) || ' '
               || CAST(yi + 5 AS VARCHAR) || ')' AS seg2_wkt,
             'MULTIPOINT(' || CAST(xi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ',' || CAST(xi + wi AS VARCHAR) || ' '
               || CAST(yi AS VARCHAR) || ')' AS pts_wkt,
             'MULTIPOINT(' || CAST(xi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ',' || CAST(xi + wi AS VARCHAR) || ' '
               || CAST(yi AS VARCHAR) || ')' AS homog_wkt,
             CAST(64 - hw AS DOUBLE) AS donut_area,
             CAST(1 AS INT) AS donut_holes
      FROM b ORDER BY l_orderkey, l_linenumber""",
    "q99_min_clearance" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_linenumber AS BIGINT) AS wi
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             CAST(least(wi, 5) AS DOUBLE) AS clearance,
             CAST(least(wi, 5) AS DOUBLE) AS cl_len
      FROM b ORDER BY l_orderkey, l_linenumber""",
    // T-junction noding: 3 segments, length 8 + 3, width 8
    "q98_node" -> """
      SELECT l_orderkey, l_linenumber,
             CAST(3 AS INT) AS n_segs,
             CAST(11 AS DOUBLE) AS total_len,
             CAST(8 AS DOUBLE) AS bbox_w
      FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    // integer parallels: +2 above, -3 below, length preserved
    "q97_offset_curve" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey % 100 AS BIGINT) AS xi,
              CAST(l_linenumber * 10 AS BIGINT) AS yi,
              CAST(l_linenumber AS BIGINT) AS wi
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             'LINESTRING(' || CAST(xi AS VARCHAR) || ' ' || CAST(yi + 2 AS VARCHAR)
               || ',' || CAST(xi + wi AS VARCHAR) || ' ' || CAST(yi + 2 AS VARCHAR)
               || ')' AS left_wkt,
             'LINESTRING(' || CAST(xi AS VARCHAR) || ' ' || CAST(yi - 3 AS VARCHAR)
               || ',' || CAST(xi + wi AS VARCHAR) || ' ' || CAST(yi - 3 AS VARCHAR)
               || ')' AS right_wkt,
             CAST(wi AS DOUBLE) AS off_len
      FROM b ORDER BY l_orderkey, l_linenumber""",
    // edited lines replay as integer string concat
    "q96_line_editors" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey % 100 AS BIGINT) AS xi,
              CAST(l_linenumber * 10 AS BIGINT) AS yi,
              CAST(l_linenumber AS BIGINT) AS wi
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             'LINESTRING(' || CAST(xi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ',' || CAST(xi + wi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ',' || CAST(xi + wi AS VARCHAR) || ' ' || CAST(yi + 5 AS VARCHAR)
               || ')' AS add_wkt,
             'LINESTRING(' || CAST(xi - 1 AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ',' || CAST(xi + wi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ',' || CAST(xi + wi AS VARCHAR) || ' ' || CAST(yi + 5 AS VARCHAR)
               || ')' AS set_wkt,
             'LINESTRING(' || CAST(xi AS VARCHAR) || ' ' || CAST(yi AS VARCHAR)
               || ',' || CAST(xi + wi AS VARCHAR) || ' ' || CAST(yi + 5 AS VARCHAR)
               || ')' AS rm_wkt,
             CAST(3 AS INT) AS np
      FROM b ORDER BY l_orderkey, l_linenumber""",
    // quarter-fraction substring of a straight segment: exact arithmetic
    "q95_line_substring" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey % 100 AS BIGINT) AS xi,
              CAST(l_linenumber * 10 AS BIGINT) AS yi,
              CAST(l_linenumber AS BIGINT) AS wi
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             CAST(xi AS DOUBLE) + CAST(wi AS DOUBLE) / 4 AS x0,
             CAST(xi AS DOUBLE) + 3 * CAST(wi AS DOUBLE) / 4 AS x1,
             CAST(yi AS DOUBLE) AS y0,
             CAST(wi AS DOUBLE) / 2 AS sub_len,
             CAST(2 AS INT) AS np
      FROM b ORDER BY l_orderkey, l_linenumber""",
    // subdivide invariants replay as constants + exact area arithmetic
    "q94_subdivide" -> """
      SELECT l_orderkey, l_linenumber,
             TRUE AS split_happened,
             round(CAST(l_linenumber * 5 AS DOUBLE), 6) AS area_sum,
             TRUE AS parts_small,
             TRUE AS covers
      FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    // width-1.2 rects overlap ↔ consecutive x per y: the q79 islands
    "q93_cluster_intersecting" -> """
      WITH d AS (SELECT DISTINCT l_orderkey % 100 AS xi, l_linenumber * 10 AS yi
                 FROM lineitem),
           isl AS (SELECT xi, yi,
                    xi - dense_rank() OVER (PARTITION BY yi ORDER BY xi) AS grp
                 FROM d),
           m AS (SELECT yi, grp, min(xi * 1000 + yi) AS cluster
                 FROM isl GROUP BY yi, grp)
      SELECT CAST(isl.xi * 1000 + isl.yi AS BIGINT) AS id,
             CAST(m.cluster AS BIGINT) AS cluster
      FROM isl JOIN m USING (yi, grp) ORDER BY id""",
    // islands of consecutive x per y ↔ single-linkage clusters at 1<d<2
    "q79_spatial_cluster" -> """
      WITH d AS (SELECT DISTINCT l_orderkey % 100 AS xi, l_linenumber * 10 AS yi
                 FROM lineitem),
           isl AS (SELECT xi, yi,
                    xi - dense_rank() OVER (PARTITION BY yi ORDER BY xi) AS grp
                 FROM d),
           m AS (SELECT yi, grp, min(xi * 1000 + yi) AS cluster
                 FROM isl GROUP BY yi, grp)
      SELECT CAST(isl.xi * 1000 + isl.yi AS BIGINT) AS id,
             CAST(m.cluster AS BIGINT) AS cluster
      FROM isl JOIN m USING (yi, grp) ORDER BY id""",
    // .3 rounds down, .7 rounds up; size-2 snap pulls odd x to x+1;
    // the reduced envelope is (w+1)×5
    "q91_snap_grid" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey % 100 AS BIGINT) AS xi,
              CAST(l_linenumber * 10 AS BIGINT) AS yi,
              CAST(l_linenumber AS BIGINT) AS wi
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             'POINT(' || CAST(xi AS VARCHAR) || ' ' || CAST(yi + 1 AS VARCHAR) || ')'
               AS snap1_wkt,
             CAST(CASE WHEN xi % 2 = 0 THEN xi ELSE xi + 1 END AS DOUBLE) AS snap2_x,
             CAST((wi + 1) * 5 AS DOUBLE) AS rp_area
      FROM b ORDER BY l_orderkey, l_linenumber""",
    // both metrics collapse to the integer vertical offset s+1; the
    // inscribed radius is least(w,5)/2 exactly at 6dp
    "q90_shape_metrics" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_linenumber AS BIGINT) AS wi,
              CAST(l_orderkey % 5 AS BIGINT) AS si
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             CAST(si + 1 AS DOUBLE) AS hausdorff,
             CAST(si + 1 AS DOUBLE) AS frechet,
             round(CAST(least(wi, 5) AS DOUBLE) / 2, 1) AS mic_r
      FROM b ORDER BY l_orderkey, l_linenumber""",
    // 2D point WKB is always 21 bytes; roundtrip/multi replay as text
    "q89_interchange" -> s"""
      SELECT l_orderkey, l_linenumber,
             CAST(21 AS INT) AS wkb_len,
             'POINT(' || $OPXS || ' ' || $OPYS || ')' AS rt_wkt,
             CAST(l_linenumber AS INT) AS srid_out,
             'MULTIPOINT(' || $OPXS || ' ' || $OPYS || ')' AS multi_wkt
      FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    // closed forms: (w+4)·9 expanded area, x+w eastward projection,
    // ceil(2w/0.9)+1 densified vertices, 2w length
    "q85_expand_project_segmentize" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey % 100 AS BIGINT) AS xi,
              CAST(l_linenumber * 10 AS BIGINT) AS yi,
              CAST(l_linenumber AS BIGINT) AS wi
            FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             CAST((wi + 4) * 9 AS DOUBLE) AS exp_area,
             round(CAST(xi + wi AS DOUBLE), 6) AS proj_x,
             round(CAST(yi AS DOUBLE), 6) AS proj_y,
             CAST(ceil(2.0 * wi / 0.9) + 1 AS INT) AS seg_n,
             CAST(2 * wi AS DOUBLE) AS seg_len
      FROM b ORDER BY l_orderkey, l_linenumber""",
    // DuckDB ROLLUP + GROUPING produce the same grouping sets; cents
    // sums keep everything integral
    "q86_rollup" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(grouping(l_returnflag) AS INT) AS g1,
             CAST(grouping(l_linestatus) AS INT) AS g2,
             CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem
      GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY g1, g2, l_returnflag, l_linestatus""",
    // same tie-stable rank family; percent_rank/cume_dist are exact
    // rational arithmetic on tie-group counts
    "q87_window_analytics" -> """
      SELECT l_orderkey, l_linenumber,
             CAST(rank() OVER w AS INT) AS rnk,
             CAST(dense_rank() OVER w AS INT) AS drnk,
             round(percent_rank() OVER w, 6) AS prnk,
             round(cume_dist() OVER w, 6) AS cdist,
             CAST(count(*) OVER (PARTITION BY l_linenumber) AS BIGINT) AS n_in_part
      FROM lineitem
      WINDOW w AS (PARTITION BY l_linenumber ORDER BY l_orderkey)
      ORDER BY l_linenumber, l_orderkey""",
    // string_agg ordered by line number rebuilds the same coordinate
    // sequence; single-point groups cannot form a line → NULL
    "q84_makeline_trajectories" -> """
      WITH p AS (SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey % 100 AS VARCHAR) AS px,
              CAST(l_linenumber * 10 AS VARCHAR) AS py
            FROM lineitem)
      SELECT l_orderkey,
             CASE WHEN count(*) >= 2
                  THEN 'LINESTRING(' || string_agg(px || ' ' || py, ','
                    ORDER BY l_linenumber) || ')'
                  ELSE NULL END AS traj_wkt,
             CASE WHEN count(*) >= 2 THEN CAST(count(*) AS INT)
                  ELSE NULL END AS n_pts
      FROM p GROUP BY l_orderkey ORDER BY l_orderkey""",
    // same greedy prefix: window cumsum of token counts vs a CASE budget
    "q82_token_budget" -> """
      WITH t AS (SELECT doc_id, source,
              sum(len(string_split(text, ' '))) OVER (PARTITION BY source
                ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM documents)
      SELECT doc_id, source FROM t
      WHERE cum <= CASE source WHEN 'src0' THEN 200 WHEN 'src1' THEN 0 ELSE 700 END
      ORDER BY doc_id""",
    // component = min doc_id per identical text (q73's fixpoint), split
    // thresholds md5(component) exactly like q58 does md5(doc_id)
    "q83_leakage_safe_split" -> """
      WITH c AS (SELECT doc_id,
              min(doc_id) OVER (PARTITION BY text) AS component
            FROM documents)
      SELECT doc_id, component,
             CASE WHEN md5(CAST(component AS VARCHAR))
                       < '40000000000000000000000000000000'
                  THEN 'test' ELSE 'train' END AS split
      FROM c ORDER BY doc_id""",
    // n_exact replays q64's CTE as a doc count; n_missed is the no-false-
    // negative invariant of the Bloom filter
    "q77_bloom_decontaminate" -> """
      WITH t AS (SELECT doc_id AS doc, string_split(text, ' ') AS l
                 FROM documents),
           g AS (SELECT doc, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS gram
                 FROM t, unnest(generate_series(1, len(l) - 2)) AS u(i)
                 WHERE len(l) >= 3),
           bg AS (SELECT DISTINCT gram FROM g WHERE doc % 97 = 0)
      SELECT CAST(count(DISTINCT g.doc) AS BIGINT) AS n_exact,
             CAST(0 AS BIGINT) AS n_missed
      FROM g JOIN bg ON g.gram = bg.gram""",
    // q78's fingerprint set, self-joined on the fingerprint
    "q88_winnow_pairs" -> """
      WITH t AS (SELECT doc_id AS doc, string_split(text, ' ') AS l
                 FROM documents),
           g AS (SELECT doc, CAST(i - 1 AS INT) AS i,
                    md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' '
                      || l[i+3] || ' ' || l[i+4]) AS h
                 FROM t, unnest(generate_series(1, len(l) - 4)) AS u(i)
                 WHERE len(l) >= 5),
           wmin AS (SELECT doc, i,
                    min(h) OVER (PARTITION BY doc ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                    max(i) OVER (PARTITION BY doc) AS n
                 FROM g),
           fps AS (SELECT DISTINCT doc, fp FROM wmin
                   WHERE i <= greatest(n - 3, 0))
      SELECT a.doc AS ida, b.doc AS idb, CAST(count(*) AS BIGINT) AS n_shared
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc < b.doc
      GROUP BY a.doc, b.doc HAVING count(*) >= 2 ORDER BY ida, idb""",
    // same 5-gram md5 hashes, same full-window minima (w=4), same
    // degenerate short-doc rule (global min when fewer than w grams)
    "q78_winnow_fingerprints" -> """
      WITH t AS (SELECT doc_id AS doc, string_split(text, ' ') AS l
                 FROM documents),
           g AS (SELECT doc, CAST(i - 1 AS INT) AS i,
                    md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' '
                      || l[i+3] || ' ' || l[i+4]) AS h
                 FROM t, unnest(generate_series(1, len(l) - 4)) AS u(i)
                 WHERE len(l) >= 5),
           wmin AS (SELECT doc, i,
                    min(h) OVER (PARTITION BY doc ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                    max(i) OVER (PARTITION BY doc) AS n
                 FROM g)
      SELECT DISTINCT doc, fp FROM wmin
      WHERE i <= greatest(n - 3, 0)
      ORDER BY doc, fp""",
    // same bigram enumeration as q52's oracle; same per-term 6dp
    // rounding before the per-doc sum
    "q118_bigram_lm" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
           p AS (SELECT doc_id, l[i] AS w1, l[i+1] AS w2
                 FROM t, unnest(generate_series(1, len(l) - 1)) AS u(i)),
           bc AS (SELECT w1, w2, count(*) AS c12 FROM p GROUP BY w1, w2),
           hc AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bc GROUP BY w1)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS bigrams,
             round(sum(round(-ln(CAST(c12 AS DOUBLE) / c1), 6)), 6) AS xent_sum
      FROM p JOIN bc USING (w1, w2) JOIN hc USING (w1)
      GROUP BY doc_id ORDER BY doc_id""",
    // batch replay of the stream-stream interval join: same per-user
    // [lts, lts + 30 min] self-join over micro-truncated timestamps
    "q76_stream_interval_join" -> """
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events)
      SELECT l.user_id AS user_id, l.event_id AS lid, r.event_id AS rid,
             l.tsu AS lts_us, r.tsu AS rts_us
      FROM e l JOIN e r ON l.user_id = r.user_id
        AND r.tsu >= l.tsu AND r.tsu <= l.tsu + 1800000000
        AND l.event_id <> r.event_id
      ORDER BY l.user_id, lid, rid""",
    // DuckDB's RANGE frame replays the same half-open [ts-1h, ts) window
    "q59_trailing_features" -> """
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events)
      SELECT event_id,
             count(*) OVER (PARTITION BY user_id ORDER BY tsu
               RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING) AS n_prev,
             CAST(coalesce(sum(cents) OVER (PARTITION BY user_id ORDER BY tsu
               RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS sum_prev_cents
      FROM e ORDER BY event_id""",
    "q61_geojson_source" -> s"""
      SELECT $KEYS, $OX AS x, $OY AS y FROM lineitem ORDER BY $KEYS""",
    "q60_top_tokens" -> """
      WITH tc AS (SELECT source, w AS tok, count(*) AS n
                  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
                        FROM documents)
                  GROUP BY source, w),
           r AS (SELECT source, tok, n,
                        row_number() OVER (PARTITION BY source
                          ORDER BY n DESC, tok ASC) AS rnk
                 FROM tc)
      SELECT source, CAST(rnk AS INT) AS rnk, tok, n
      FROM r WHERE rnk <= 3 ORDER BY source, rnk""",
    // same shingle CTE as q28/q44's oracle, reduced to per-doc counts
    "q51_shared_shingles" -> """
      WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS l FROM documents),
           sh AS (SELECT DISTINCT doc_id,
                    CASE WHEN len(l) >= 3 THEN l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                         ELSE text END AS s
                  FROM t, unnest(generate_series(1, greatest(len(l) - 2, 1))) AS u(i)),
           f AS (SELECT s, count(*) AS df FROM sh GROUP BY s)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
      FROM sh JOIN f USING (s) GROUP BY doc_id ORDER BY doc_id""",
    "q52_repetition" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
           tc AS (SELECT doc_id, w, count(*) AS n
                  FROM (SELECT doc_id, unnest(l) AS w FROM t) GROUP BY doc_id, w),
           ts AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
                         CAST(count(*) AS BIGINT) AS n_distinct_tokens,
                         CAST(max(n) AS BIGINT) AS top_token_n
                  FROM tc GROUP BY doc_id),
           bg AS (SELECT doc_id, l[i] || ' ' || l[i+1] AS b
                  FROM t, unnest(generate_series(1, len(l) - 1)) AS u(i)),
           bc AS (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY doc_id, b),
           bs AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
                         CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
                         CAST(max(n) AS BIGINT) AS top_bigram_n
                  FROM bc GROUP BY doc_id)
      SELECT ts.doc_id, n_tokens, n_distinct_tokens, top_token_n,
             coalesce(n_bigrams, 0) AS n_bigrams,
             coalesce(n_distinct_bigrams, 0) AS n_distinct_bigrams,
             coalesce(top_bigram_n, 0) AS top_bigram_n
      FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id ORDER BY ts.doc_id""",
    // identical double arithmetic on both sides: (x*127)/maxabs, then
    // sign·floor(|·|+0.5) — float→double conversion is exact, so the
    // integer codes hash-match; the cosine boolean has a wide margin
    "q53_vec_quantize" -> """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           m AS (SELECT vec_id, v,
                        list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
           qq AS (SELECT vec_id, v, mx,
                         CASE WHEN mx > 0
                              THEN list_transform(v, x -> CAST(sign(x * 127 / mx) *
                                     floor(abs(x * 127 / mx) + 0.5) AS BIGINT))
                              ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS q
                  FROM m)
      SELECT vec_id,
             CAST(len(list_filter(q, x -> abs(x) = 127)) AS INT) AS n_sat,
             CAST(list_sum(q) AS BIGINT) AS qsum,
             CASE WHEN mx > 0
                  THEN list_cosine_similarity(v, list_transform(q, x -> x::DOUBLE)) > 0.999
                  ELSE false END AS cos_ok
      FROM qq ORDER BY vec_id""",
    "q55_salted_join" -> """
      SELECT l_orderkey, l_linenumber, l_orderkey % 3 AS k,
             (l_orderkey % 3) * 100 AS payload
      FROM lineitem
      ORDER BY l_orderkey, l_linenumber""",
    "q56_corpus_stats" -> """
      SELECT count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
             quantile_cont(length(text), 0.25) AS p25_chars,
             quantile_cont(length(text), 0.5) AS p50_chars,
             quantile_cont(length(text), 0.75) AS p75_chars,
             count(DISTINCT source) AS n_sources
      FROM documents""",
    // same augmented text, same three RE2-safe patterns in the same order
    "q57_redact_pii" -> """
      SELECT doc_id, md5(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              text || ' contact' || CAST(doc_id AS VARCHAR) ||
                '@example.com or 555-123-4567 card 4111111111111111',
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
            '\b(?:[0-9][ -]?){12,18}[0-9]\b', '[NUMBER]', 'g'),
          '(?:\+?1[ .-]?)?(?:\([0-9]{3}\)|\b[0-9]{3})[ .-]?[0-9]{3}[ .-]?[0-9]{4}\b', '[PHONE]', 'g')
        ) AS h
      FROM documents ORDER BY doc_id""",
    // 0.25 -> threshold 0x400000000000 over the first 48 bits; fixed-width
    // lowercase hex compares like the number it encodes
    // the exponential sampling key replayed: u = (h48+1)/2^48, r =
    // round(-ln(u)/w, 6), k smallest per source with id tie-break
    "q152_weighted_sample" -> """
      WITH s AS (SELECT doc_id, source, n_chars,
                        round(-ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                                        AS BIGINT) + 1) / 281474976710656.0)
                              / n_chars, 6) AS r
                 FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
           k AS (SELECT doc_id, source, n_chars,
                        CAST(row_number() OVER (
                          PARTITION BY source ORDER BY r ASC, doc_id ASC) AS INT)
                          AS sample_rank
                 FROM s)
      SELECT doc_id, source, n_chars, sample_rank FROM k
      WHERE sample_rank <= 5 ORDER BY source, sample_rank""",
    "q58_train_test_split" -> """
      SELECT doc_id,
             CASE WHEN md5(CAST(doc_id AS VARCHAR))
                       < '40000000000000000000000000000000'
                  THEN 'test' ELSE 'train' END AS split
      FROM documents ORDER BY doc_id""",
    // per-source thresholds over the same first-48-bit hex encoding as
    // q58; rate 1.0 encodes as 'g' (> any hex digit -> keep all)
    "q68_stratified_sample" -> """
      SELECT doc_id, source FROM documents
      WHERE md5(CAST(doc_id AS VARCHAR)) <
        CASE source
          WHEN 'src0' THEN 'g'
          WHEN 'src1' THEN '80000000000000000000000000000000'
          WHEN 'src2' THEN '40000000000000000000000000000000'
          ELSE '20000000000000000000000000000000' END
      ORDER BY doc_id""",
    // rate_d = (n_min/n_d)^(1-alpha); 48-bit md5 prefix compared
    // numerically against rate * 2^48
    "q136_temperature_resample" -> """
      WITH d AS (SELECT doc_id,
                        CAST(length(CAST(doc_id AS VARCHAR)) AS INT) AS dom
                 FROM documents),
      c AS (SELECT dom, count(*) AS n FROM d GROUP BY dom),
      r AS (SELECT dom, pow(CAST((SELECT min(n) FROM c) AS DOUBLE) / n, 0.5) AS rate
            FROM c)
      SELECT d.doc_id, d.dom FROM d JOIN r ON d.dom = r.dom
      WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
            < rate * 281474976710656.0
      ORDER BY doc_id""",
    // the full 3-iteration GD replay: w0 = 0 makes iteration 1's
    // residuals exactly round(0.5 - y, 6); each later iteration is one
    // margin join + residual + gradient block over the SAME 6dp law
    "q144_quality_lr" -> """
      WITH tok AS (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
                   FROM documents),
           f AS (SELECT doc_id,
                        CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) % 256 AS b
                 FROM tok WHERE tok <> ''),
           c AS (SELECT doc_id, b, count(*) AS cnt FROM f GROUP BY doc_id, b),
           tf AS (SELECT doc_id, b,
                         round(CAST(cnt AS DOUBLE) /
                               sum(cnt) OVER (PARTITION BY doc_id), 6) AS tf
                  FROM c),
           lab AS (SELECT doc_id,
                          CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
                   FROM documents),
           nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM lab),
           r1 AS (SELECT doc_id, round(0.5 - y, 6) AS r FROM lab),
           g1 AS (SELECT b, round(round(sum(round(tf * r, 6)), 6) /
                          (SELECT n FROM nn), 6) AS g
                  FROM tf JOIN r1 USING (doc_id) GROUP BY b),
           w1 AS (SELECT b, round(0.0 - g, 6) AS w FROM g1),
           b1 AS (SELECT round(0.0 - round(round(sum(r), 6) / (SELECT n FROM nn), 6), 6) AS bias
                  FROM r1),
           m2 AS (SELECT doc_id, sum(round(tf * w, 6)) AS m
                  FROM tf JOIN w1 USING (b) GROUP BY doc_id),
           r2 AS (SELECT l.doc_id,
                         round(1.0 / (1.0 + exp(-round((SELECT bias FROM b1) +
                           coalesce(m, 0.0), 6))) - y, 6) AS r
                  FROM lab l LEFT JOIN m2 USING (doc_id)),
           g2 AS (SELECT b, round(round(sum(round(tf * r, 6)), 6) /
                          (SELECT n FROM nn), 6) AS g
                  FROM tf JOIN r2 USING (doc_id) GROUP BY b),
           w2 AS (SELECT b, round(w - g, 6) AS w FROM w1 JOIN g2 USING (b)),
           b2 AS (SELECT round((SELECT bias FROM b1) -
                    round(round(sum(r), 6) / (SELECT n FROM nn), 6), 6) AS bias FROM r2),
           m3 AS (SELECT doc_id, sum(round(tf * w, 6)) AS m
                  FROM tf JOIN w2 USING (b) GROUP BY doc_id),
           r3 AS (SELECT l.doc_id,
                         round(1.0 / (1.0 + exp(-round((SELECT bias FROM b2) +
                           coalesce(m, 0.0), 6))) - y, 6) AS r
                  FROM lab l LEFT JOIN m3 USING (doc_id)),
           g3 AS (SELECT b, round(round(sum(round(tf * r, 6)), 6) /
                          (SELECT n FROM nn), 6) AS g
                  FROM tf JOIN r3 USING (doc_id) GROUP BY b),
           w3 AS (SELECT b, round(w - g, 6) AS w FROM w2 JOIN g3 USING (b)),
           b3 AS (SELECT round((SELECT bias FROM b2) -
                    round(round(sum(r), 6) / (SELECT n FROM nn), 6), 6) AS bias FROM r3),
           m4 AS (SELECT doc_id, sum(round(tf * w, 6)) AS m
                  FROM tf JOIN w3 USING (b) GROUP BY doc_id),
           sc AS (SELECT d.doc_id,
                         round((SELECT bias FROM b3) + coalesce(m, 0.0), 6) AS lr_margin
                  FROM (SELECT DISTINCT doc_id FROM documents) d
                  LEFT JOIN m4 USING (doc_id))
      SELECT doc_id, lr_margin,
             round(1.0 / (1.0 + exp(-lr_margin)), 6) AS lr_prob
      FROM sc ORDER BY doc_id""",
    // C4 replay: identical fixture construction, list-lambda line
    // filter, and the same cleaned-text sentence count
    "q143_c4_clean" -> """
      WITH d AS (SELECT doc_id,
              'alpha beta gamma delta.' || chr(10) ||
              'x y.' || chr(10) ||
              'no terminal punctuation here' || chr(10) ||
              CASE WHEN doc_id % 7 = 0
                   THEN 'enable javascript to view this page.' || chr(10)
                   ELSE '' END ||
              CASE WHEN doc_id % 11 = 0
                   THEN 'lorem ipsum dolor sit amet.' || chr(10)
                   ELSE '' END ||
              CASE WHEN doc_id % 13 = 0
                   THEN 'config { debug } done.' || chr(10)
                   ELSE '' END ||
              CASE WHEN doc_id % 9 = 0
                   THEN 'this crummy content should flag.' || chr(10)
                   ELSE '' END ||
              repeat('one more valid sentence goes here.' || chr(10),
                     CAST(doc_id % 6 AS INT)) ||
              'tail line ends here.' AS text
            FROM documents),
      m AS (SELECT doc_id, text,
              string_split(text, chr(10)) AS alll,
              list_filter(string_split(text, chr(10)),
                l -> (ends_with(l, '.') OR ends_with(l, '!') OR
                      ends_with(l, '?') OR ends_with(l, '"'))
                     AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 3
                     AND NOT contains(lower(l), 'javascript')) AS kept
            FROM d),
      c AS (SELECT doc_id, text, alll, kept,
              array_to_string(kept, chr(10)) AS clean,
              CAST(length(regexp_replace(array_to_string(kept, chr(10)),
                '[^.!?]', '', 'g')) AS INT) AS ns
            FROM m)
      SELECT doc_id, clean AS text,
             CAST(len(kept) AS INT) AS n_lines_kept,
             CAST(len(alll) - len(kept) AS INT) AS n_lines_dropped,
             ns AS n_sentences,
             contains(lower(text), 'lorem ipsum') AS has_lorem,
             contains(text, '{') AS has_brace,
             list_contains(string_split(lower(text), ' '), 'crummy') AS has_badword,
             NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{')
               AND NOT list_contains(string_split(lower(text), ' '), 'crummy')
               AND ns >= 5 AS c4_keep
      FROM c ORDER BY doc_id""",
    // DSIR replay: same 48-bit md5 bucket law, add-1 smoothing, 6dp
    // round-then-sum-then-round contract; totals cast to DOUBLE before
    // the smoothed division so no HUGEINT reaches the output
    "q141_dsir_weights" -> """
      WITH rt AS (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
                  FROM documents),
           rf AS (SELECT doc_id,
                         CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) % 1024 AS b
                  FROM rt WHERE tok <> ''),
           tt AS (SELECT unnest(string_split(coalesce(text, ''), ' ')) AS tok
                  FROM documents WHERE lang = 'en'),
           tf AS (SELECT CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) % 1024 AS b
                  FROM tt WHERE tok <> ''),
           cr AS (SELECT b, count(*) AS nr FROM rf GROUP BY b),
           ct AS (SELECT b, count(*) AS nt FROM tf GROUP BY b),
           j AS (SELECT coalesce(cr.b, ct.b) AS b,
                        coalesce(nr, 0) AS nr, coalesce(nt, 0) AS nt
                 FROM cr FULL OUTER JOIN ct ON cr.b = ct.b),
           tot AS (SELECT CAST(sum(nr) AS DOUBLE) AS tr,
                          CAST(sum(nt) AS DOUBLE) AS t2 FROM j),
           r AS (SELECT b, round(ln((nt + 1.0) / (t2 + 1024)) -
                                 ln((nr + 1.0) / (tr + 1024)), 6) AS lr
                 FROM j CROSS JOIN tot),
           s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
                        round(sum(lr), 6) AS dsir_logratio
                 FROM rf JOIN r USING (b) GROUP BY doc_id)
      SELECT d.doc_id, CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
             coalesce(s.dsir_logratio, 0.0) AS dsir_logratio
      FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN s USING (doc_id)
      ORDER BY doc_id""",
    // bucket = h48 mod 64, sign = parity of h48 div 64, integer counts,
    // rounded sqrt norm, rounded quotient
    "q160_hashed_embedding" -> """
      WITH t AS (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
                 FROM documents),
           h AS (SELECT doc_id,
                        CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) AS h
                 FROM t WHERE tok <> ''),
           s AS (SELECT doc_id, h % 64 AS b,
                        CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS sg
                 FROM h),
           v AS (SELECT doc_id, b, CAST(sum(sg) AS BIGINT) AS v
                 FROM s GROUP BY doc_id, b HAVING sum(sg) <> 0),
           n AS (SELECT doc_id, b, v,
                        round(sqrt(CAST(sum(v * v) OVER (PARTITION BY doc_id) AS DOUBLE)), 6) AS nrm
                 FROM v)
      SELECT doc_id, CAST(b AS INT) AS vec_dim, round(v / nrm, 6) AS val
      FROM n ORDER BY doc_id, vec_dim""",
    // one row per unordered pair above the threshold
    "q162_cosine_edges" -> """
      SELECT a.vec_id AS a, b.vec_id AS b,
             round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 6) AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]) >= 0.3
      ORDER BY a, b""",
    // the exact-at-full-probing graph vs the all-pairs rank replay
    "q159_knn_graph" -> """
      WITH s AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
                        list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]) AS cos
                 FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
           r AS (SELECT qid, nid, CAST(row_number() OVER (
                   PARTITION BY qid ORDER BY cos DESC, nid ASC) AS INT) AS rnk
                 FROM s)
      SELECT qid, nid, rnk FROM r WHERE rnk <= 3 ORDER BY qid, rnk""",
    // full PCA replay: moments -> covariance -> 2x12 unrolled power
    // iterations -> deflation -> centered projection (generated CTEs)
    "q147_embedding_pca" -> pcaOracle(PCA_ITERS),
    // the union of interior-disjoint integer unit cells measures
    // count(DISTINCT cell) and spans the arithmetic envelope
    "q149_union_agg" -> """
      WITH cells AS (SELECT l_linenumber AS grp,
                            CAST(l_orderkey % 100 AS DOUBLE) AS x,
                            CAST((l_orderkey // 100) % 50 AS DOUBLE) AS y
                     FROM lineitem)
      SELECT grp, CAST(count(*) AS BIGINT) AS n_in,
             CAST(count(DISTINCT x * 1000 + y) AS DOUBLE) AS union_area,
             min(x) AS xmin, min(y) AS ymin,
             max(x) + 1 AS xmax, max(y) + 1 AS ymax
      FROM cells GROUP BY grp ORDER BY grp""",
    // the staged dissolve covers exactly the distinct integer cells and
    // spans the arithmetic envelope, like q149 but single-group
    "q166_grid_dissolve" -> """
      WITH cells AS (SELECT CAST(l_orderkey % 100 AS DOUBLE) AS x,
                            CAST((l_orderkey // 100) % 50 AS DOUBLE) AS y
                     FROM lineitem)
      SELECT CAST(count(DISTINCT x * 1000 + y) AS DOUBLE) AS union_area,
             min(x) AS xmin, min(y) AS ymin,
             max(x) + 1 AS xmax, max(y) + 1 AS ymax
      FROM cells""",
    // every split-piece measure on the designed grid is arithmetic:
    // square faces {c, 1-c}, donut total 1 - 0.04, segment cuts {c, 2-c}
    // and the midpoint halves — replayed without any spatial function
    "q168_split_exact" -> """
      WITH cells AS (SELECT DISTINCT CAST(l_orderkey % 50 AS DOUBLE) AS x,
                            CAST(l_linenumber AS DOUBLE) * 3.0 AS y,
                            CAST(l_orderkey % 2 AS DOUBLE) AS d
                     FROM lineitem),
           a AS (SELECT x, y, 0.25 + d * 0.25 AS c FROM cells)
      SELECT x, y,
             CAST(2 AS INT) AS poly_n,
             round(least(c, 1 - c), 6) AS poly_a1,
             CAST(1.0 AS DOUBLE) AS poly_tot,
             CAST(2 AS INT) AS donut_n,
             CAST(0.96 AS DOUBLE) AS donut_tot,
             CAST(2 AS INT) AS line_n,
             round(c, 6) AS line_l1,
             CAST(2.0 AS DOUBLE) AS line_tot,
             CAST(2 AS INT) AS pt_n,
             CAST(1.0 AS DOUBLE) AS pt_l1
      FROM a ORDER BY x, y""",
    // exact distinct-token counts and pairwise intersections replayed
    // on the same split-and-filter token law; the sketch estimate is
    // engine-side, deterministic, and pinned by the est_ok gate
    "q169_sketch_overlap" -> """
      WITH t AS (SELECT DISTINCT source, tok AS token
                 FROM documents,
                      unnest(list_filter(string_split(coalesce(text, ''), ' '),
                                         x -> x <> '')) AS u(tok)),
           c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
                 FROM t GROUP BY source),
           p AS (SELECT a.source AS src_a, b.source AS src_b,
                        CAST(count(*) AS BIGINT) AS n_ab
                 FROM t a JOIN t b ON a.token = b.token AND a.source < b.source
                 GROUP BY 1, 2)
      SELECT p.src_a, p.src_b, ca.n AS na, cb.n AS nb, p.n_ab,
             true AS est_ok
      FROM p JOIN c ca ON ca.source = p.src_a
             JOIN c cb ON cb.source = p.src_b
      ORDER BY src_a, src_b""",
    // JL replay: the md5 sign matrix rebuilt in SQL (0-based c/j in the
    // hash string), per-term rounding, snap-before-scale; 1/sqrt(8)
    // 6dp-snapped = 0.353553
    "q148_random_projection" -> ("""
      WITH dims AS (SELECT CAST(i AS INT) AS i
                    FROM unnest(generate_series(1, 64)) AS u(i)),
           comps AS (SELECT CAST(c AS INT) AS c
                     FROM unnest(generate_series(1, 8)) AS u(c)),
           sgn AS (SELECT c, i,
                          CASE WHEN CAST(('0x' || substr(md5('rp:7:' ||
                                 CAST(c - 1 AS VARCHAR) || ':' ||
                                 CAST(i - 1 AS VARCHAR)), 1, 12)) AS BIGINT)
                               % 2 = 0 THEN 1.0 ELSE -1.0 END AS s
                   FROM comps CROSS JOIN dims),
           e AS (SELECT vec_id, CAST(i AS INT) AS i,
                        CAST(embedding[i] AS DOUBLE) AS x
                 FROM embeddings,
                      unnest(generate_series(1, len(embedding))) AS u(i)),
           t AS (SELECT vec_id, c,
                        round(round(sum(round(x * s, 6)), 6) * 0.353553, 6) AS y
                 FROM e JOIN sgn ON e.i = sgn.i GROUP BY vec_id, c)
      SELECT vec_id,""" +
      (1 to 8).map(c =>
        s"\n             max(CASE WHEN c = $c THEN y END) AS rp$c").mkString(",") + """
      FROM t GROUP BY vec_id ORDER BY vec_id"""),
    // per-source token inventory -> normalized weights -> floor/ceil
    // plan arithmetic, all replayed
    "q155_mixture_plan" -> """
      WITH a AS (SELECT source AS domain,
                        CAST(sum(len(list_filter(string_split(coalesce(text, ''), ' '),
                                                 t -> t <> ''))) AS BIGINT) AS avail_tokens
                 FROM documents GROUP BY source),
           p AS (SELECT domain, avail_tokens,
                        round(CAST(CASE domain WHEN 'src0' THEN 0.5
                                               WHEN 'src1' THEN 0.3
                                               WHEN 'src2' THEN 0.2
                                               ELSE 0.0 END AS DOUBLE), 6) AS weight
                 FROM a),
           t AS (SELECT domain, avail_tokens, weight,
                        CAST(floor(100000.0 * weight) AS BIGINT) AS target_tokens
                 FROM p),
           e AS (SELECT domain, avail_tokens, weight, target_tokens,
                        round(CAST(target_tokens AS DOUBLE) / avail_tokens, 6) AS epochs
                 FROM t)
      SELECT domain, avail_tokens, weight, target_tokens, epochs,
             least(1.0, epochs) AS sample_rate,
             CAST(ceil(epochs) AS BIGINT) AS repeats
      FROM e ORDER BY domain""",
    // the roundtrip flags are computed Spark-side; the oracle pins the
    // corpus cardinality they were computed against
    "q153_jsonl_roundtrip" -> """
      SELECT CAST(count(*) AS BIGINT) AS n_docs, true AS manifest_ok,
             true AS roundtrip_ok
      FROM documents""",
    // DuckDB's own normalization functions replay the fixture
    "q154_normalize" -> """
      WITH t(id, s) AS (VALUES
        (1, 'e' || chr(769) || 'cole'),
        (2, chr(233) || 'cole'),
        (3, 'na' || chr(239) || 've'),
        (4, 'plain ascii'),
        (5, 'he' || chr(769) || 'li' || chr(232) || 're'))
      SELECT CAST(id AS BIGINT) AS id, nfc_normalize(s) AS nfc,
             CAST(length(nfc_normalize(s)) AS INT) AS nfc_len,
             strip_accents(s) AS stripped
      FROM t ORDER BY id""",
    // the greedy chain unrolled: min step-k time at or after step-(k-1)
    "q164_event_funnel" -> """
      WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events
                 WHERE event_type IN ('signup', 'view', 'click', 'purchase')),
           s1 AS (SELECT user_id, min(t) AS t1 FROM e
                  WHERE event_type = 'signup' GROUP BY user_id),
           s2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 USING (user_id)
                  WHERE event_type = 'view' AND t >= t1 GROUP BY e.user_id),
           s3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 USING (user_id)
                  WHERE event_type = 'click' AND t >= t2 GROUP BY e.user_id),
           s4 AS (SELECT e.user_id, min(t) AS t4 FROM e JOIN s3 USING (user_id)
                  WHERE event_type = 'purchase' AND t >= t3 GROUP BY e.user_id)
      SELECT u.user_id,
             CAST(CASE WHEN t4 IS NOT NULL THEN 4 WHEN t3 IS NOT NULL THEN 3
                       WHEN t2 IS NOT NULL THEN 2 WHEN t1 IS NOT NULL THEN 1
                       ELSE 0 END AS INT) AS steps_completed,
             t1 AS t_start, coalesce(t4, t3, t2, t1) AS t_end,
             coalesce(t4 IS NOT NULL AND t4 - t1 <= 1000000000000, false)
               AS completed
      FROM (SELECT DISTINCT user_id FROM events) u
      LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
      LEFT JOIN s3 USING (user_id) LEFT JOIN s4 USING (user_id)
      ORDER BY u.user_id""",
    // re-learn the merges, derive the vocabulary ids, tokenize docs < 20
    // with positions, and join ids back on
    "q161_bpe_token_ids" -> (s"""
      WITH ${bpeLearnCtes(BPE_MERGES)},
           chars AS (SELECT DISTINCT substr(w, i, 1) AS token
                     FROM words, unnest(generate_series(1, len(w))) AS u(i)),
           basev AS (SELECT token,
                            CAST(row_number() OVER (ORDER BY token) - 1 AS INT) AS token_id
                     FROM chars),
           mrg AS (""" +
      (1 to BPE_MERGES).map(r =>
        s"SELECT l || r2 AS token, $r AS rnk FROM m$r")
        .mkString("\n                   UNION ALL ") + s"""),
           mergedv AS (SELECT token,
                              CAST((SELECT count(*) FROM basev) + rnk - 1 AS INT) AS token_id
                       FROM mrg),
           voc AS (SELECT token, CAST(min(token_id) AS INT) AS token_id
                   FROM (SELECT * FROM basev UNION ALL SELECT * FROM mergedv)
                   GROUP BY token),
           dw AS (SELECT doc_id, i AS wpos, a[i] AS w
                  FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS a
                        FROM documents WHERE doc_id < 20),
                       unnest(generate_series(1, len(a))) AS u(i)
                  WHERE a[i] <> ''),
           sym0 AS (SELECT doc_id, wpos,
                           chr(1) || string_agg(substr(w, j, 1), chr(1) ORDER BY j)
                           || chr(1) AS s
                    FROM dw, unnest(generate_series(1, len(w))) AS v(j)
                    GROUP BY doc_id, wpos, w),
           symf AS (SELECT doc_id, wpos, ${bpeReplaceChain(BPE_MERGES)} AS s
                    FROM sym0),
           tok AS (SELECT doc_id, wpos, j, parts[j] AS token
                   FROM (SELECT doc_id, wpos, string_split(s, chr(1)) AS parts
                         FROM symf),
                        unnest(generate_series(1, len(parts))) AS v2(j)
                   WHERE parts[j] <> ''),
           seq AS (SELECT doc_id,
                          CAST(row_number() OVER (
                            PARTITION BY doc_id ORDER BY wpos, j) - 1 AS INT) AS pos,
                          token
                   FROM tok)
      SELECT seq.doc_id, seq.pos, seq.token, voc.token_id
      FROM seq LEFT JOIN voc ON seq.token = voc.token
      ORDER BY seq.doc_id, seq.pos"""),
    // re-learn the 8 merges in SQL and emit the merge table
    "q150_bpe_learn" -> (s"""
      WITH ${bpeLearnCtes(BPE_MERGES)}
      SELECT * FROM (""" +
      (1 to BPE_MERGES).map(r =>
        s"""SELECT CAST($r AS INT) AS rank, l AS lsym, r2 AS rsym,
               l || r2 AS merged, c AS pair_count FROM m$r""")
        .mkString("\n      UNION ALL ") + """)
      ORDER BY rank"""),
    // re-learn the merges, then tokenize every doc's words through the
    // same replace chain and count symbols
    // the generated EM replay, final piece table
    "q224_unigram_learn" -> (unigramOracleCtes(UNIGRAM_ITERS,
      UNIGRAM_MAX_WORD, UNIGRAM_PIECE_LEN, UNIGRAM_MAX_PIECES) + s"""
      SELECT piece, cnt, s AS logprob FROM p$UNIGRAM_ITERS ORDER BY piece"""),
    // one extra E-step walk under the final scores = the tokenizer's
    // segmentation; per-word piece counts joined through each doc's words
    "q225_unigram_tokens" -> (unigramOracleCtes(UNIGRAM_ITERS + 1,
      UNIGRAM_MAX_WORD, UNIGRAM_PIECE_LEN, UNIGRAM_MAX_PIECES) + s""",
      wpc AS (SELECT w, CAST(count(*) AS BIGINT) AS np
              FROM u${UNIGRAM_ITERS + 1} GROUP BY w),
      dw AS (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS w
             FROM documents),
      agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                     CAST(SUM(np) AS BIGINT) AS n_pieces
              FROM dw JOIN wpc ON dw.w = wpc.w
              WHERE dw.w <> '' GROUP BY doc_id)
      SELECT d.doc_id AS doc_id,
             CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
             CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces
      FROM (SELECT DISTINCT doc_id FROM documents) d
      LEFT JOIN agg a ON a.doc_id = d.doc_id
      ORDER BY d.doc_id"""),
    "q151_bpe_tokens" -> (s"""
      WITH ${bpeLearnCtes(BPE_MERGES)},
           dw AS (SELECT doc_id, i AS wpos, a[i] AS w
                  FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS a
                        FROM documents),
                       unnest(generate_series(1, len(a))) AS u(i)
                  WHERE a[i] <> ''),
           sym0 AS (SELECT doc_id, wpos,
                           chr(1) || string_agg(substr(w, j, 1), chr(1) ORDER BY j)
                           || chr(1) AS s
                    FROM dw, unnest(generate_series(1, len(w))) AS v(j)
                    GROUP BY doc_id, wpos, w),
           symf AS (SELECT doc_id, wpos, ${bpeReplaceChain(BPE_MERGES)} AS s
                    FROM sym0),
           cnt AS (SELECT doc_id, CAST(count(*) AS INT) AS n_words,
                          CAST(sum(len(s) - len(replace(s, chr(1), '')) - 1) AS INT)
                            AS n_bpe
                   FROM symf GROUP BY doc_id)
      SELECT d.doc_id, coalesce(c.n_words, 0) AS n_words,
             coalesce(c.n_bpe, 0) AS n_bpe_tokens
      FROM (SELECT DISTINCT doc_id FROM documents) d
      LEFT JOIN cnt c ON d.doc_id = c.doc_id
      ORDER BY d.doc_id"""),
    // full BM25 replay: postings -> doc lengths -> corpus scalars ->
    // Lucene idf -> per-(query,doc) 6dp term sum -> rank
    "q146_bm25" -> BM25_ORACLE,
    "q174_bm25_index" -> BM25_ORACLE,
    "q175_bm25_append" -> BM25_ORACLE,
    // folding append deltas must not move a single score or rank
    "q204_bm25_compact" -> BM25_ORACLE,
    "q176_pagerank" -> PAGERANK_ORACLE,
    // disjoint interleave slots: OR replayed as a sum of shifted bits
    "q178_zorder" -> """
      WITH b AS (SELECT l_orderkey, l_linenumber,
                        CAST(l_orderkey % 1024 AS BIGINT) AS x,
                        CAST((l_orderkey // 32) % 1024 AS BIGINT) AS y
                 FROM lineitem)
      SELECT l_orderkey, l_linenumber, x, y,
             CAST((SELECT sum(((x >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i)) +
                              ((y >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1)))
                   FROM unnest(generate_series(0, 9)) AS u(i)) AS BIGINT) AS z
      FROM b ORDER BY l_orderkey, l_linenumber""",
    // tile ownership + the kernel's exact envelope/affine arithmetic,
    // all in mercator meters (E = 20037508.342789244)
    "q177_tile_pyramid" -> """
      WITH b AS (SELECT l_orderkey * 10 + l_linenumber AS id,
                        CAST(l_orderkey % 200 - 100 AS DOUBLE) * 100000.0 AS xm,
                        CAST(l_linenumber * 30 - 100 AS DOUBLE) * 100000.0 AS ym
                 FROM lineitem),
           t AS (SELECT id, xm, ym, CAST(z AS INT) AS z,
                        2 * 20037508.342789244 / power(2.0, z) AS ts
                 FROM b, unnest(generate_series(2, 4)) AS u(z)),
           xy AS (SELECT id, xm, ym, z, ts,
                    CAST(floor((xm + 20037508.342789244) / ts) AS BIGINT) AS x,
                    CAST(floor((20037508.342789244 - ym) / ts) AS BIGINT) AS y
                  FROM t),
           e AS (SELECT id, xm, ym, z, x, y, ts,
                        -20037508.342789244 + x * ts AS txmin,
                        20037508.342789244 - y * ts AS tymax
                 FROM xy),
           w AS (SELECT id, xm, ym, z, x, y,
                        txmin, tymax,
                        (txmin + ts) - txmin AS tw,
                        tymax - (tymax - ts) AS th
                 FROM e)
      SELECT id, z, x, y,
             round(xm * (4096.0 / tw) + (-(txmin) * (4096.0 / tw)), 6) AS mx,
             round(ym * (-4096.0 / th) + (-(tymax) * (-4096.0 / th)), 6) AS my
      FROM w ORDER BY id, z""",
    "q182_hilbert" -> HILBERT_ORACLE,
    "q184_rrf_fusion" -> RRF_ORACLE,
    "q244_retrieval_e2e" -> E2E_RETRIEVAL_ORACLE,
    // per-group rank-at-ceil(q*n) replay
    "q203_group_quantiles" -> """
      WITH v AS (SELECT l_suppkey AS g, l_extendedprice AS x FROM lineitem
                 WHERE l_extendedprice IS NOT NULL),
           r AS (SELECT g, x,
                   CAST(row_number() OVER (PARTITION BY g ORDER BY x) AS BIGINT) AS rn,
                   CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
                 FROM v),
           q(q) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)))
      SELECT g AS l_suppkey, q.q,
             greatest(CAST(1 AS BIGINT), CAST(ceil(q.q * n - 1e-9) AS BIGINT)) AS rank,
             x AS value
      FROM r CROSS JOIN q
      WHERE rn = greatest(CAST(1 AS BIGINT), CAST(ceil(q.q * n - 1e-9) AS BIGINT))
      ORDER BY l_suppkey, q""",
    // brute-force all-pairs ground truth: same exact cross-multiplied
    // threshold test, same 6dp display quotient
    "q202_jaccard_join" -> """
      WITH g AS (SELECT DISTINCT doc_id, tok FROM (
                   SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
                   FROM documents WHERE doc_id < 2000) WHERE tok <> ''),
           sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY doc_id),
           p AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
                        CAST(count(*) AS BIGINT) AS inter
                 FROM g a JOIN g b ON a.tok = b.tok AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
           r AS (SELECT ida, idb, inter, sa.n AS size_a, sb.n AS size_b
                 FROM p JOIN sz sa ON ida = sa.doc_id
                 JOIN sz sb ON idb = sb.doc_id)
      SELECT ida, idb, inter, size_a, size_b,
             round(CAST(inter AS DOUBLE) / (size_a + size_b - inter), 6) AS jac
      FROM r
      WHERE CAST(inter AS DOUBLE) >= 0.9 * (size_a + size_b - inter) - 1e-9
      ORDER BY ida, idb""",
    // 3 BFS rounds unrolled; the min-merge spelled as an explicit CASE
    // so NULL semantics are identical on both engines
    "q201_hop_distance" -> """
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem WHERE l_orderkey % 5 = 0),
           e AS (SELECT DISTINCT x.p AS a, y.p AS b
                 FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
           adj AS MATERIALIZED (SELECT a AS v, b AS u FROM e
                                UNION ALL SELECT b AS v, a AS u FROM e),
           n AS (SELECT DISTINCT v FROM adj),
           d0 AS MATERIALIZED (SELECT v,
                   CASE WHEN v % 97 = 0 THEN CAST(0 AS BIGINT) END AS d
                 FROM n),
           r1 AS (SELECT adj.v, min(d.d + 1) AS nd
                  FROM adj JOIN d0 d ON adj.u = d.v
                  WHERE d.d IS NOT NULL GROUP BY adj.v),
           d1 AS MATERIALIZED (SELECT d0.v,
                   CASE WHEN d0.d IS NULL THEN r1.nd
                        WHEN r1.nd IS NULL THEN d0.d
                        WHEN r1.nd < d0.d THEN r1.nd ELSE d0.d END AS d
                 FROM d0 LEFT JOIN r1 ON d0.v = r1.v),
           r2 AS (SELECT adj.v, min(d.d + 1) AS nd
                  FROM adj JOIN d1 d ON adj.u = d.v
                  WHERE d.d IS NOT NULL GROUP BY adj.v),
           d2 AS MATERIALIZED (SELECT d1.v,
                   CASE WHEN d1.d IS NULL THEN r2.nd
                        WHEN r2.nd IS NULL THEN d1.d
                        WHEN r2.nd < d1.d THEN r2.nd ELSE d1.d END AS d
                 FROM d1 LEFT JOIN r2 ON d1.v = r2.v),
           r3 AS (SELECT adj.v, min(d.d + 1) AS nd
                  FROM adj JOIN d2 d ON adj.u = d.v
                  WHERE d.d IS NOT NULL GROUP BY adj.v),
           d3 AS MATERIALIZED (SELECT d2.v,
                   CASE WHEN d2.d IS NULL THEN r3.nd
                        WHEN r3.nd IS NULL THEN d2.d
                        WHEN r3.nd < d2.d THEN r3.nd ELSE d2.d END AS d
                 FROM d2 LEFT JOIN r3 ON d2.v = r3.v)
      SELECT v AS node, CAST(d AS BIGINT) AS hops
      FROM d3 ORDER BY node""",
    // the four stage laws chained: q20's dedup election, the q21 token
    // count, q58's md5-threshold sample, the per-source running budget
    "q200_pipeline_e2e" -> """
      WITH d AS (SELECT doc_id, source, text,
                   row_number() OVER (PARTITION BY md5(text)
                     ORDER BY doc_id) AS rn
                 FROM documents),
           g AS (SELECT doc_id, source, text FROM d
                 WHERE rn = 1 AND len(string_split(text, ' ')) >= 30),
           s AS (SELECT * FROM g WHERE md5(CAST(doc_id AS VARCHAR))
                   < '80000000000000000000000000000000'),
           c AS (SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
                   sum(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
                     PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                 FROM s)
      SELECT doc_id, source, n_tok FROM c
      WHERE cum <= CASE source WHEN 'src0' THEN 5000
                               WHEN 'src1' THEN 5000 ELSE 3000 END
      ORDER BY doc_id""",
    // ascending-rank Gini replay; HUGEINT numerator, 6dp quotient
    "q199_skew_profile" -> """
      WITH c AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS c
                 FROM lineitem GROUP BY 1),
           n AS (SELECT CAST(count(*) AS BIGINT) AS nk,
                        CAST(sum(c) AS BIGINT) AS nr,
                        CAST(max(c) AS BIGINT) AS maxc FROM c),
           r AS (SELECT c, CAST(row_number() OVER (ORDER BY c ASC, k ASC)
                   AS BIGINT) AS i FROM c),
           g AS (SELECT sum((2 * i - nk - 1) * c) AS num
                 FROM r CROSS JOIN n)
      SELECT nr AS n_rows, nk AS n_keys, maxc AS max_cnt,
             round(CAST(maxc AS DOUBLE) / nr, 6) AS max_share,
             round(CAST(num AS DOUBLE) / CAST(nk * nr AS DOUBLE), 6) AS gini
      FROM g CROSS JOIN n""",
    // full JS replay: md5 buckets, 6dp masses/midpoint/terms, exact
    // DECIMAL term sums, halved and snapped
    "q198_js_divergence" -> """
      WITH ta AS (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
                  FROM documents WHERE lang = 'en'),
           tb AS (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
                  FROM documents WHERE lang <> 'en'),
           ca AS (SELECT CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) % 256 AS b,
                         CAST(count(*) AS BIGINT) AS c
                  FROM ta WHERE tok <> '' GROUP BY 1),
           cb AS (SELECT CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) % 256 AS b,
                         CAST(count(*) AS BIGINT) AS c
                  FROM tb WHERE tok <> '' GROUP BY 1),
           na AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM ca),
           nb AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cb),
           pa AS (SELECT b, round(CAST(c AS DOUBLE) / t, 6) AS p FROM ca CROSS JOIN na),
           pb AS (SELECT b, round(CAST(c AS DOUBLE) / t, 6) AS q FROM cb CROSS JOIN nb),
           f AS (SELECT coalesce(pa.p, 0) AS p, coalesce(pb.q, 0) AS q,
                        round((coalesce(pa.p, 0) + coalesce(pb.q, 0)) / 2, 6) AS m
                 FROM pa FULL OUTER JOIN pb ON pa.b = pb.b),
           s AS (SELECT
                   sum(CAST(CASE WHEN p > 0
                     THEN round(p * round(ln(p / m), 6), 6) ELSE 0 END
                     AS DECIMAL(20,6))) AS sp,
                   sum(CAST(CASE WHEN q > 0
                     THEN round(q * round(ln(q / m), 6), 6) ELSE 0 END
                     AS DECIMAL(20,6))) AS sq
                 FROM f)
      SELECT round(CAST(sp + sq AS DOUBLE) * 0.5, 6) AS js,
             na.t AS n_tokens_a, nb.t AS n_tokens_b
      FROM s CROSS JOIN na CROSS JOIN nb""",
    // same df-filtered universe, sizes, intersections, 6dp quotients
    "q197_containment" -> """
      WITH t AS (SELECT DISTINCT doc_id, tok FROM (
                   SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
                   FROM documents WHERE doc_id < 2000) WHERE tok <> ''),
           k AS (SELECT t.doc_id, t.tok FROM t JOIN (
                   SELECT tok, count(*) AS dfc FROM t GROUP BY tok) d
                 ON t.tok = d.tok WHERE dfc <= 50),
           sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM k GROUP BY doc_id),
           sh AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
                         CAST(count(*) AS BIGINT) AS shared
                  FROM k a JOIN k b ON a.tok = b.tok AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
           r AS (SELECT ida, idb, shared, sa.n AS size_a, sb.n AS size_b,
                        round(CAST(shared AS DOUBLE) / sa.n, 6) AS c_ab,
                        round(CAST(shared AS DOUBLE) / sb.n, 6) AS c_ba
                 FROM sh JOIN sz sa ON sh.ida = sa.doc_id
                 JOIN sz sb ON sh.idb = sb.doc_id)
      SELECT ida, idb, shared, size_a, size_b, c_ab, c_ba
      FROM r WHERE greatest(c_ab, c_ba) >= 0.5 ORDER BY ida, idb""",
    // window replay: preceding-mass < p*total on exact integer cents
    "q196_top_p" -> """
      WITH o AS (SELECT o_custkey % 97 AS grp, o_orderkey,
                        CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
                 FROM orders),
           w AS (SELECT grp, o_orderkey, cents,
                   CAST(coalesce(sum(cents) OVER (PARTITION BY grp
                     ORDER BY cents DESC, o_orderkey ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS cum_prev,
                   CAST(sum(cents) OVER (PARTITION BY grp) AS BIGINT) AS total,
                   CAST(row_number() OVER (PARTITION BY grp
                     ORDER BY cents DESC, o_orderkey ASC) AS INT) AS rnk
                 FROM o)
      SELECT grp, o_orderkey, cents, rnk
      FROM w WHERE cum_prev < 0.6 * total ORDER BY grp, rnk""",
    // the same canonicalization chain in RE2 ('g' flags, \1 backrefs)
    "q195_url_dedup" -> """
      WITH u AS (SELECT p_partkey AS id,
          CASE WHEN p_partkey % 2 = 0 THEN 'HTTP://WWW.' ELSE 'http://' END
          || 'Site' || CAST(p_partkey % 40 AS VARCHAR) || '.example.com'
          || CASE WHEN p_partkey % 4 = 0 THEN ':80' ELSE '' END
          || '/Items/' || CAST(p_partkey % 7 AS VARCHAR)
          || CASE WHEN p_partkey % 3 = 0 THEN '/' ELSE '' END
          || CASE WHEN p_partkey % 5 = 0 THEN '?utm_source=feed'
                  WHEN p_partkey % 5 = 1 THEN
                    '?ref=' || CAST(p_partkey % 3 AS VARCHAR) || '&utm_campaign=x'
                  WHEN p_partkey % 5 = 2 THEN
                    '?gclid=abc&ref=' || CAST(p_partkey % 3 AS VARCHAR)
                  ELSE '' END
          || CASE WHEN p_partkey % 6 = 0 THEN '#Section2' ELSE '' END AS url
        FROM part),
           s AS (SELECT id, regexp_replace(url, '#.*', '', 'g') AS nf FROM u),
           p AS (SELECT id,
                   lower(regexp_extract(nf, '^([a-zA-Z]+://[^/?#]*)', 1)) AS pre,
                   regexp_extract(nf, '^[a-zA-Z]+://[^/?#]*(.*)', 1) AS rest
                 FROM s),
           n AS (SELECT id,
                   regexp_replace(regexp_replace(regexp_replace(pre,
                       '^(http://.*):80$', '\1'),
                       '^(https://.*):443$', '\1'),
                     '^(https?://)www\.', '\1') AS host,
                   regexp_replace(regexp_replace(
                     regexp_replace(rest,
                       '([?&])((utm_[a-zA-Z]+|gclid|fbclid)=[^&#]*&)*(utm_[a-zA-Z]+|gclid|fbclid)=[^&#]*&?', '\1', 'g'),
                     '\?&', '?'), '[?&]$', '') AS path
                 FROM p),
           c AS (SELECT id,
                   regexp_replace(host || path, '/$', '') AS canon_url
                 FROM n)
      SELECT canon_url, min(id) AS keep_id, CAST(count(*) AS BIGINT) AS n_dups
      FROM c GROUP BY canon_url ORDER BY canon_url""",
    // the analytic bit law summed in two 32-bit halves (BIGINT << is
    // safe below bit 32), recombined with the sign fix-up at bit 63
    "q193_image_ahash" -> """
      WITH ids AS (SELECT unnest(range(0, 56)) AS doc_id),
           g AS (SELECT r.r, c.c FROM (SELECT unnest(range(0, 8)) AS r) r
                 CROSS JOIN (SELECT unnest(range(0, 8)) AS c) c),
           bits AS (SELECT doc_id, r, c,
                      CASE WHEN c >= 1 + doc_id % 7
                             OR (doc_id % 2 = 1 AND r = 0 AND c = 0)
                           THEN 1 ELSE 0 END AS bit
                    FROM ids CROSS JOIN g),
           s AS (SELECT doc_id,
                   CAST(sum(CASE WHEN bit = 1 AND r*8 + c < 32
                     THEN CAST(1 AS BIGINT) << CAST(r*8 + c AS INT)
                     ELSE 0 END) AS BIGINT) AS lo,
                   CAST(sum(CASE WHEN bit = 1 AND r*8 + c >= 32
                     THEN CAST(1 AS BIGINT) << CAST(r*8 + c - 32 AS INT)
                     ELSE 0 END) AS BIGINT) AS hi
                 FROM bits GROUP BY doc_id)
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END)
               * 4294967296 + lo AS ahash,
             true AS real_decode
      FROM s ORDER BY doc_id""",
    // all-pairs popcount over the same analytic halves — valid stand-in
    // for the banded search because maxHamming < bands makes it total
    "q194_image_neardup" -> """
      WITH ids AS (SELECT unnest(range(0, 56)) AS doc_id),
           g AS (SELECT r.r, c.c FROM (SELECT unnest(range(0, 8)) AS r) r
                 CROSS JOIN (SELECT unnest(range(0, 8)) AS c) c),
           bits AS (SELECT doc_id, r, c,
                      CASE WHEN c >= 1 + doc_id % 7
                             OR (doc_id % 2 = 1 AND r = 0 AND c = 0)
                           THEN 1 ELSE 0 END AS bit
                    FROM ids CROSS JOIN g),
           s AS (SELECT doc_id,
                   CAST(sum(CASE WHEN bit = 1 AND r*8 + c < 32
                     THEN CAST(1 AS BIGINT) << CAST(r*8 + c AS INT)
                     ELSE 0 END) AS BIGINT) AS lo,
                   CAST(sum(CASE WHEN bit = 1 AND r*8 + c >= 32
                     THEN CAST(1 AS BIGINT) << CAST(r*8 + c - 32 AS INT)
                     ELSE 0 END) AS BIGINT) AS hi
                 FROM bits GROUP BY doc_id)
      SELECT CAST(a.doc_id AS BIGINT) AS ida, CAST(b.doc_id AS BIGINT) AS idb,
             CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INT)
               AS hamming
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
      ORDER BY ida, idb""",
    // the one-shot CM cell replay (q187's `s` CTE): linearity means the
    // two-batch incremental build must reproduce it exactly
    "q192_stream_cms" -> """
      WITH f AS (SELECT r,
                   CAST(('0x' || substr(md5('cms:' || CAST(r AS VARCHAR) || ':'
                     || CAST(l_partkey AS VARCHAR)), 1, 12)) AS BIGINT) % 256 AS b
                 FROM lineitem CROSS JOIN (SELECT unnest(range(0, 3)) AS r) rs)
      SELECT CAST(r AS INT) AS row, b AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM f GROUP BY r, b ORDER BY row, bucket""",
    // capacity >= distinct keys -> the maintained MG summary is the
    // exact frequency table
    "q208_stream_mg" -> """
      SELECT CAST(l_partkey % 50 AS VARCHAR) AS item,
             CAST(count(*) AS BIGINT) AS est
      FROM lineitem GROUP BY 1 ORDER BY item""",
    // all 4 rounds unrolled as MATERIALIZED CTEs; the per-node argmax
    // replayed as a (c DESC, lbl ASC) window — identical tie law
    "q191_label_prop" -> """
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem WHERE l_orderkey % 5 = 0),
           e AS (SELECT DISTINCT x.p AS a, y.p AS b
                 FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
           adj AS MATERIALIZED (SELECT a AS v, b AS u FROM e
                                UNION ALL SELECT b AS v, a AS u FROM e),
           l0 AS MATERIALIZED (SELECT DISTINCT v, v AS lbl FROM adj),
           c1 AS (SELECT adj.v, l.lbl, count(*) AS c
                  FROM adj JOIN l0 l ON adj.u = l.v GROUP BY adj.v, l.lbl),
           l1 AS MATERIALIZED (SELECT v, lbl FROM (
                  SELECT v, lbl, row_number() OVER (
                    PARTITION BY v ORDER BY c DESC, lbl ASC) AS rn FROM c1)
                  WHERE rn = 1),
           c2 AS (SELECT adj.v, l.lbl, count(*) AS c
                  FROM adj JOIN l1 l ON adj.u = l.v GROUP BY adj.v, l.lbl),
           l2 AS MATERIALIZED (SELECT v, lbl FROM (
                  SELECT v, lbl, row_number() OVER (
                    PARTITION BY v ORDER BY c DESC, lbl ASC) AS rn FROM c2)
                  WHERE rn = 1),
           c3 AS (SELECT adj.v, l.lbl, count(*) AS c
                  FROM adj JOIN l2 l ON adj.u = l.v GROUP BY adj.v, l.lbl),
           l3 AS MATERIALIZED (SELECT v, lbl FROM (
                  SELECT v, lbl, row_number() OVER (
                    PARTITION BY v ORDER BY c DESC, lbl ASC) AS rn FROM c3)
                  WHERE rn = 1),
           c4 AS (SELECT adj.v, l.lbl, count(*) AS c
                  FROM adj JOIN l3 l ON adj.u = l.v GROUP BY adj.v, l.lbl),
           l4 AS MATERIALIZED (SELECT v, lbl FROM (
                  SELECT v, lbl, row_number() OVER (
                    PARTITION BY v ORDER BY c DESC, lbl ASC) AS rn FROM c4)
                  WHERE rn = 1)
      SELECT v AS node, CAST(lbl AS BIGINT) AS label
      FROM l4 ORDER BY node""",
    // RE2 spells the script classes \p{Latin}; Java \p{IsLatin} — the
    // same codepoint sets; both length()s count codepoints
    "q190_script_profile" -> """
      WITH s AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
           c AS (SELECT doc_id,
                   CAST(length(t) AS INT) AS n_chars,
                   CAST(length(regexp_replace(t, '[^\p{Latin}]', '', 'g')) AS INT) AS n_latin,
                   CAST(length(regexp_replace(t, '[^\p{Cyrillic}]', '', 'g')) AS INT) AS n_cyrillic,
                   CAST(length(regexp_replace(t, '[^\p{Han}]', '', 'g')) AS INT) AS n_han,
                   CAST(length(regexp_replace(t, '[^\p{Arabic}]', '', 'g')) AS INT) AS n_arabic,
                   CAST(length(regexp_replace(t, '[^0-9]', '', 'g')) AS INT) AS n_digit
                 FROM s)
      SELECT doc_id, n_chars, n_latin, n_cyrillic, n_han, n_arabic, n_digit,
             CASE WHEN n_chars = 0 THEN CAST(0 AS DOUBLE)
                  ELSE round(CAST(n_latin AS DOUBLE) / n_chars, 6) END AS f_latin,
             CASE WHEN n_chars = 0 THEN CAST(0 AS DOUBLE)
                  ELSE round(CAST(n_cyrillic AS DOUBLE) / n_chars, 6) END AS f_cyrillic,
             CASE WHEN n_chars = 0 THEN CAST(0 AS DOUBLE)
                  ELSE round(CAST(n_han AS DOUBLE) / n_chars, 6) END AS f_han,
             CASE WHEN n_chars = 0 THEN CAST(0 AS DOUBLE)
                  ELSE round(CAST(n_arabic AS DOUBLE) / n_chars, 6) END AS f_arabic,
             CASE WHEN n_chars = 0 THEN CAST(0 AS DOUBLE)
                  ELSE round(CAST(n_digit AS DOUBLE) / n_chars, 6) END AS f_digit
      FROM c ORDER BY doc_id""",
    // canonical a<b<c triangle enumeration (e1=(a,b), e2=(b,c),
    // e3=(a,c)) — a different but count-identical strategy to the
    // engine's degree orientation; lcc under the shared 6dp law
    "q189_triangle_stats" -> """
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem WHERE l_orderkey % 5 = 0),
           e AS (SELECT DISTINCT x.p AS a, y.p AS b
                 FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
           deg AS (SELECT v, CAST(count(*) AS BIGINT) AS degree FROM
                     (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
                   GROUP BY v),
           t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                 FROM e e1 JOIN e e2 ON e1.b = e2.a
                 JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
           tv AS (SELECT x AS v FROM t UNION ALL SELECT y AS v FROM t
                  UNION ALL SELECT z AS v FROM t),
           tc AS (SELECT v, CAST(count(*) AS BIGINT) AS triangles
                  FROM tv GROUP BY v)
      SELECT deg.v AS vertex, deg.degree,
             coalesce(tc.triangles, CAST(0 AS BIGINT)) AS triangles,
             CASE WHEN deg.degree >= 2
                  THEN round(2.0 * coalesce(tc.triangles, 0) /
                             (deg.degree * (deg.degree - 1)), 6)
                  ELSE 0.0 END AS lcc
      FROM deg LEFT JOIN tc ON deg.v = tc.v ORDER BY vertex""",
    // rank-at-ceil(q*n) replay: same literal doubles -> same q*n double
    // -> same ceil on both engines; the value is the element itself
    // (type-1), so no rounding law is needed
    "q188_exact_quantiles" -> """
      WITH v AS (SELECT l_extendedprice AS x FROM lineitem
                 WHERE l_extendedprice IS NOT NULL),
           n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
           r AS (SELECT x, CAST(row_number() OVER (ORDER BY x) AS BIGINT) AS rn
                 FROM v),
           q(q) AS (VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
                           (CAST(0.75 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
                           (CAST(0.99 AS DOUBLE))),
           t AS (SELECT q, greatest(CAST(1 AS BIGINT),
                          CAST(ceil(q * n - 1e-9) AS BIGINT)) AS rank
                 FROM q CROSS JOIN n)
      SELECT t.q, t.rank, r.x AS value
      FROM t JOIN r ON r.rn = t.rank ORDER BY q""",
    // full CM replay on the shared md5 hash law: sketch cells, probe
    // buckets, min-over-rows estimate, exact counts
    "q187_cms_counts" -> """
      WITH f AS (SELECT r,
                   CAST(('0x' || substr(md5('cms:' || CAST(r AS VARCHAR) || ':'
                     || CAST(l_partkey AS VARCHAR)), 1, 12)) AS BIGINT) % 256 AS b
                 FROM lineitem CROSS JOIN (SELECT unnest(range(0, 3)) AS r) rs),
           s AS (SELECT r, b, CAST(count(*) AS BIGINT) AS cnt FROM f GROUP BY r, b),
           p AS (SELECT DISTINCT l_partkey AS k FROM lineitem WHERE l_partkey % 37 = 0),
           pb AS (SELECT k, r,
                    CAST(('0x' || substr(md5('cms:' || CAST(r AS VARCHAR) || ':'
                      || CAST(k AS VARCHAR)), 1, 12)) AS BIGINT) % 256 AS b
                  FROM p CROSS JOIN (SELECT unnest(range(0, 3)) AS r) rs),
           e AS (SELECT pb.k, min(coalesce(s.cnt, 0)) AS est
                 FROM pb LEFT JOIN s ON pb.r = s.r AND pb.b = s.b GROUP BY pb.k),
           x AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS exact
                 FROM lineitem GROUP BY 1)
      SELECT e.k AS l_partkey, CAST(e.est AS BIGINT) AS est, x.exact,
             e.est >= x.exact AS ge_exact
      FROM e JOIN x ON e.k = x.k ORDER BY l_partkey""",
    // same fan-out replay: each (day,user) grid row contributes to its
    // trailing-window target days; CASE inside count(DISTINCT ...)
    // mirrors the engine's when()-guarded countDistinct (nulls ignored)
    "q186_rolling_actives" -> """
      WITH dk AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS d0,
                         user_id AS k
                  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
           b AS (SELECT min(d0) AS lo, max(d0) AS hi FROM dk),
           s AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b),
           f AS (SELECT d0, k, unnest(range(d0, d0 + 28)) AS day FROM dk)
      SELECT CAST(s.day AS BIGINT) AS day,
             CAST(count(DISTINCT CASE WHEN f.day - f.d0 < 1 THEN f.k END) AS BIGINT) AS actives_1,
             CAST(count(DISTINCT CASE WHEN f.day - f.d0 < 7 THEN f.k END) AS BIGINT) AS actives_7,
             CAST(count(DISTINCT CASE WHEN f.day - f.d0 < 28 THEN f.k END) AS BIGINT) AS actives_28
      FROM s LEFT JOIN f ON s.day = f.day
      GROUP BY s.day ORDER BY day""",
    // DuckDB's own damerau_levenshtein/jaccard/hamming replay the suite
    "q185_sim_suite" -> """
      WITH t AS (SELECT p_partkey AS id, p_name AS name,
                        lower(string_split(p_name, ' ')[1]) AS blk
                 FROM part WHERE p_partkey % 50 = 0)
      SELECT a.id AS ida, b.id AS idb,
             CAST(damerau_levenshtein(a.name, b.name) AS INT) AS dl,
             jaccard(a.name, b.name) AS jac,
             CAST(hamming(substr(a.name, 1, 6), substr(b.name, 1, 6)) AS INT) AS ham
      FROM t a JOIN t b ON a.blk = b.blk AND a.id < b.id
      WHERE length(a.name) >= 6 AND length(b.name) >= 6
      ORDER BY ida, idb""",
    // same blocking/cap replay as q181, refined by DuckDB's own
    // jaro_winkler_similarity (bit-identical to the engine kernel)
    "q183_jw_linkage" -> """
      WITH t AS (SELECT p_partkey AS id, p_name AS name,
                        lower(string_split(p_name, ' ')[1]) AS blk
                 FROM part WHERE p_partkey % 20 = 0),
           f AS (SELECT t.* FROM t JOIN (SELECT blk FROM t GROUP BY blk
                   HAVING CAST(count(*) AS BIGINT) <= 10000) b USING (blk))
      SELECT a.id AS ida, b2.id AS idb,
             jaro_winkler_similarity(a.name, b2.name) AS sim
      FROM f a JOIN f b2 ON a.blk = b2.blk AND a.id < b2.id
      WHERE jaro_winkler_similarity(a.name, b2.name) >= 0.88
      ORDER BY ida, idb""",
    // blocking + cap + levenshtein, replayed exactly (ASCII inputs, so
    // code-point vs character counting cannot diverge)
    "q181_fuzzy_dedup" -> """
      WITH t AS (SELECT p_partkey AS id, p_name AS name,
                        lower(string_split(p_name, ' ')[1]) AS blk
                 FROM part WHERE p_partkey % 50 = 0),
           f AS (SELECT t.* FROM t JOIN (SELECT blk FROM t GROUP BY blk
                   HAVING CAST(count(*) AS BIGINT) <= 10000) b USING (blk))
      SELECT a.id AS ida, b2.id AS idb,
             CAST(levenshtein(a.name, b2.name) AS INT) AS dist
      FROM f a JOIN f b2 ON a.blk = b2.blk AND a.id < b2.id
      WHERE levenshtein(a.name, b2.name) <= 3
      ORDER BY ida, idb""",
    // full SCD2 replay: current-slice full-outer batch, null-safe attr
    // compare (IS DISTINCT FROM), history unions through
    "q180_scd2_merge" -> """
      WITH dim AS (
        SELECT c_custkey AS k, c_mktsegment AS seg,
               CAST(0 AS BIGINT) AS valid_from,
               CAST(NULL AS BIGINT) AS valid_to, true AS is_current
        FROM customer
        UNION ALL
        SELECT c_custkey, 'LEGACY', CAST(-100 AS BIGINT),
               CAST(0 AS BIGINT), false
        FROM customer WHERE c_custkey % 11 = 0),
      batch AS (
        SELECT c_custkey AS k,
               CASE WHEN c_custkey % 7 = 0 THEN 'WEB' ELSE c_mktsegment END AS seg
        FROM customer WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 'NEWSEG'
        FROM customer WHERE c_custkey % 13 = 0),
      cur AS (SELECT * FROM dim WHERE is_current),
      hist AS (SELECT k, seg, valid_from, valid_to, is_current
               FROM dim WHERE NOT is_current),
      j AS (SELECT coalesce(c.k, b.k) AS k, c.seg AS cseg,
                   c.valid_from AS vf, c.k IS NOT NULL AS matched,
                   b.k IS NOT NULL AS in_batch, b.seg AS bseg
            FROM cur c FULL OUTER JOIN batch b ON c.k = b.k),
      fromcur AS (
        SELECT k, cseg AS seg, vf AS valid_from,
               CASE WHEN in_batch AND cseg IS DISTINCT FROM bseg
                    THEN CAST(86400 AS BIGINT) ELSE CAST(NULL AS BIGINT)
               END AS valid_to,
               NOT (in_batch AND cseg IS DISTINCT FROM bseg) AS is_current
        FROM j WHERE matched),
      opened AS (
        SELECT k, bseg AS seg, CAST(86400 AS BIGINT) AS valid_from,
               CAST(NULL AS BIGINT) AS valid_to, true AS is_current
        FROM j WHERE in_batch AND (NOT matched OR cseg IS DISTINCT FROM bseg))
      SELECT k, seg, valid_from, valid_to, is_current FROM (
        SELECT * FROM hist UNION ALL SELECT * FROM fromcur
        UNION ALL SELECT * FROM opened)
      ORDER BY k, valid_from""",
    // exact-regime heavy hitters: capacity >= vocab, so the summary is
    // the true count table and top-5 replays as a plain window
    "q179_heavy_hitters" -> """
      WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS term
                 FROM documents),
           c AS (SELECT source, term, CAST(count(*) AS BIGINT) AS est
                 FROM t WHERE length(term) > 0 GROUP BY source, term),
           r AS (SELECT source, term, est,
                        row_number() OVER (PARTITION BY source
                                           ORDER BY est DESC, term) AS rnk
                 FROM c)
      SELECT source, CAST(rnk AS INT) AS rnk, term, est
      FROM r WHERE rnk <= 5 ORDER BY source, rnk""",
    // CCNet replay: q118's bigram scoring restricted to the en-trained
    // model, then ntile(3) per language over the identical (ppl, id)
    // total order
    "q142_ccnet_buckets" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
                 WHERE lang = 'en'),
           p AS (SELECT doc_id, l[i] AS w1, l[i+1] AS w2
                 FROM t, unnest(generate_series(1, len(l) - 1)) AS u(i)),
           bc AS (SELECT w1, w2, count(*) AS c12 FROM p GROUP BY w1, w2),
           hc AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bc GROUP BY w1),
           dt AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
           dp AS (SELECT doc_id, l[i] AS w1, l[i+1] AS w2
                  FROM dt, unnest(generate_series(1, len(l) - 1)) AS u(i)),
           sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS bigrams,
                         round(sum(round(-ln(CAST(c12 AS DOUBLE) / c1), 6)), 6) AS xs
                  FROM dp JOIN bc USING (w1, w2) JOIN hc USING (w1)
                  GROUP BY doc_id),
           sp AS (SELECT doc_id, round(xs / bigrams, 6) AS ppl FROM sc)
      SELECT d.doc_id, d.lang, sp.ppl,
             CAST(ntile(3) OVER (PARTITION BY d.lang ORDER BY sp.ppl, d.doc_id)
               AS INT) AS bucket
      FROM documents d JOIN sp USING (doc_id)
      ORDER BY doc_id""",
    // the frequent-line census (>= 50 distinct docs) kills 'nav' and the
    // five 'grp<k>' lines; survivors reassemble in position order
    "q135_remove_boilerplate" -> """
      WITH l AS (
        SELECT doc_id, 0 AS pos, 'nav' AS line FROM documents
        UNION ALL
        SELECT doc_id, 1, 'grp' || CAST(doc_id % 5 AS VARCHAR) FROM documents
        UNION ALL
        SELECT doc_id, 2, 'u' || CAST(doc_id AS VARCHAR) FROM documents
        WHERE doc_id % 10 != 0),
      f AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS nd
                              FROM l GROUP BY line) t
            WHERE nd >= 50),
      j AS (SELECT l.doc_id, l.pos, l.line, f.line IS NOT NULL AS bp
            FROM l LEFT JOIN f ON l.line = f.line)
      SELECT doc_id,
             coalesce(string_agg(CASE WHEN NOT bp THEN line END, chr(10)
               ORDER BY pos), '') AS text,
             CAST(count(*) FILTER (WHERE NOT bp) AS INT) AS n_kept,
             CAST(count(*) FILTER (WHERE bp) AS INT) AS n_dropped
      FROM j GROUP BY doc_id ORDER BY doc_id""",
    // the span-dedup algorithm replayed generically: census of 3-gram
    // md5-prefix keys (>= 2 distinct docs, keeper = min doc), dup-start
    // flags on non-keeper occurrences, coverage via a RANGE window max
    // over [pos-2, pos], survivors re-joined in order
    "q137_dedup_spans" -> """
      WITH d AS (SELECT doc_id,
             'u' || CAST(doc_id AS VARCHAR) || ' c0 c1 c2 c3 g' ||
             CAST(doc_id % 4 AS VARCHAR) || 'x g' ||
             CAST(doc_id % 4 AS VARCHAR) || 'y g' ||
             CAST(doc_id % 4 AS VARCHAR) || 'z' AS text
             FROM documents),
      t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM d),
      tok AS (SELECT doc_id, i AS pos, ts[i + 1] AS tk,
                     CASE WHEN i <= len(ts) - 3
                          THEN substr(md5(array_to_string(ts[i + 1 : i + 3], ' ')), 1, 16)
                     END AS gk
              FROM t, unnest(generate_series(0, len(ts) - 1)) AS u(i)),
      c AS (SELECT gk, min(doc_id) AS keeper FROM tok WHERE gk IS NOT NULL
            GROUP BY gk HAVING count(DISTINCT doc_id) >= 2),
      m AS (SELECT tok.doc_id, tok.pos, tok.tk,
                   CASE WHEN c.keeper IS NOT NULL AND tok.doc_id != c.keeper
                        THEN 1 ELSE 0 END AS dup
            FROM tok LEFT JOIN c ON tok.gk = c.gk),
      f AS (SELECT doc_id, pos, tk,
                   max(dup) OVER (PARTITION BY doc_id ORDER BY pos
                                  RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS cov
            FROM m)
      SELECT doc_id,
             coalesce(string_agg(CASE WHEN cov = 0 THEN tk END, ' ' ORDER BY pos), '') AS text,
             CAST(count(*) FILTER (WHERE cov = 0) AS INT) AS n_kept,
             CAST(count(*) FILTER (WHERE cov = 1) AS INT) AS n_dropped
      FROM f GROUP BY doc_id ORDER BY doc_id""",
    // first-appearance census + K conditional counts
    "q219_vocab_growth" -> """
      WITH f AS (SELECT tok, CAST(min(doc_id) AS BIGINT) AS first
                 FROM (SELECT doc_id,
                         unnest(string_split(coalesce(text, ''), ' ')) AS tok
                       FROM documents)
                 WHERE tok <> '' GROUP BY tok),
           c(checkpoint) AS (VALUES (CAST(50 AS BIGINT)), (CAST(100 AS BIGINT)),
             (CAST(200 AS BIGINT)), (CAST(500 AS BIGINT)),
             (CAST(1000 AS BIGINT)), (CAST(5000 AS BIGINT)))
      SELECT c.checkpoint,
             CAST(count(CASE WHEN f.first <= c.checkpoint THEN 1 END) AS BIGINT) AS vocab
      FROM c CROSS JOIN f GROUP BY c.checkpoint ORDER BY checkpoint""",
    // gram census + per-doc df=1 share, 6dp quotient
    "q220_gram_novelty" -> """
      WITH d AS (SELECT doc_id,
             'u' || CAST(doc_id AS VARCHAR) || ' c0 c1 c2 ' ||
             CASE WHEN doc_id % 7 = 0 THEN 'c3 ' ELSE '' END ||
             'x' || CAST(doc_id AS VARCHAR) ||
             ' g' || CAST(doc_id % 4 AS VARCHAR) || 'a' ||
             ' g' || CAST(doc_id % 4 AS VARCHAR) || 'b' ||
             ' g' || CAST(doc_id % 4 AS VARCHAR) || 'c' AS text
             FROM documents),
      t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM d),
      tok AS (SELECT doc_id,
                     substr(md5(array_to_string(ts[i + 1 : i + 3], ' ')), 1, 16) AS gk
              FROM t, unnest(generate_series(0, len(ts) - 3)) AS u(i)),
      c AS (SELECT gk, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
            FROM tok GROUP BY gk)
      SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(count(CASE WHEN c.nd = 1 THEN 1 END) AS BIGINT) AS n_novel,
             round(CAST(count(CASE WHEN c.nd = 1 THEN 1 END) AS DOUBLE)
               / count(*), 6) AS novelty
      FROM tok JOIN c ON tok.gk = c.gk
      GROUP BY tok.doc_id ORDER BY doc_id""",
    // one-shot min-per-text election over all history = the probe's
    // ground truth (write/append/compact must not change it)
    "q217_exact_index" -> EXACT_INDEX_ORACLE,
    // min-idempotency makes streaming appends + a retry probe the same
    "q223_stream_exact_index" -> EXACT_INDEX_ORACLE,
    // exactly-once overwrite deltas: indexed search after two
    // micro-batches (one retried) = the one-shot index's search
    "q222_stream_bm25_index" -> BM25_ORACLE,
    // brute-force popcount over the same arithmetic fingerprints,
    // restricted to batch-touching pairs — valid stand-in for the
    // banded index probe because maxHamming < bands makes it total
    "q221_hamming_index" -> """
      WITH f AS (SELECT doc_id, (doc_id // 25) // 16 AS g,
                        (doc_id // 25) % 8 AS jit, (doc_id // 25) % 4 AS m4
                 FROM documents WHERE doc_id % 25 = 0),
           s AS (SELECT doc_id, m4,
                   CAST((((g * 2654435761) % 8192) * 8 + jit % 2)
                     + (((g * 2246822519) % 8192) * 8 + (jit // 2) % 2) * 65536
                     + (((g * 3266489917) % 8192) * 8 + (jit // 4) % 2) * 4294967296
                     + (((g * 668265263) % 2048) * 8) * 281474976710656
                     AS BIGINT) AS sh
                 FROM f)
      SELECT a.doc_id AS ida, b.doc_id AS idb,
             CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sh, b.sh)) <= 3 AND (a.m4 = 3 OR b.m4 = 3)
      ORDER BY ida, idb""",
    // the same decimal-sum snap law over the same integer-derived
    // scores; bins from exact-binary-fraction edges
    "q229_calibration" -> """
      WITH s AS (SELECT doc_id,
                   CAST((doc_id * 37) % 1000 AS DOUBLE) / 1000.0 AS score,
                   CASE WHEN (doc_id * 53) % 1000 < (doc_id * 37) % 1000
                        THEN 1 ELSE 0 END AS y
                 FROM documents),
           b AS (SELECT CAST(least(greatest(floor(score * 8), 0), 7) AS INT) AS bin,
                        CAST(round(score, 6) AS DECIMAL(20,6)) AS s6, y
                 FROM s),
           p AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
                        round(CAST(SUM(s6) AS DOUBLE) / count(*), 6) AS mean_score,
                        round(CAST(SUM(y) AS DOUBLE) / count(*), 6) AS frac_pos
                 FROM b GROUP BY bin),
           g AS (SELECT bin, n, mean_score, frac_pos,
                        round(abs(frac_pos - mean_score), 6) AS gap FROM p),
           e AS (SELECT round(CAST(SUM(CAST(round(gap * n, 6) AS DECIMAL(20,6)))
                               AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6) AS ece
                 FROM g)
      SELECT g.bin, g.n, g.mean_score, g.frac_pos, g.gap, e.ece
      FROM g, e ORDER BY g.bin""",
    // the chains' transitive closure is analytic: every doc connects
    // down its residue chain to the minimum member, its doc_id % 40
    "q228_dedup_registry" -> """
      SELECT doc_id, doc_id % 40 AS component
      FROM documents ORDER BY doc_id""",
    // known ids resolve to the chain minimum, unknown ids keep
    // themselves — the analytic closure restricted to the sub-400 edges
    "q236_snapshot_verdict" -> """
      SELECT doc_id,
             CASE WHEN doc_id < 400 THEN doc_id % 40 ELSE doc_id END AS component,
             (CASE WHEN doc_id < 400 THEN doc_id % 40 ELSE doc_id END) = doc_id AS keep
      FROM documents ORDER BY doc_id""",
    // the exact top-7 of every query is analytically its 7 cluster
    // co-members (the fixture's separation proof) — the graph search
    // must return that set through build + append + compact
    "q238_nav_graph_ann" -> """
      WITH v AS (SELECT doc_id // 25 AS i FROM documents WHERE doc_id % 25 = 0),
           q AS (SELECT i FROM v WHERE i % 8 = 5)
      SELECT q.i AS qid, n.i AS nid
      FROM q JOIN v n ON q.i // 8 = n.i // 8 AND q.i <> n.i
      ORDER BY qid, nid""",
    // the oracle recomputes BOTH halves: the brute-force ranking (the
    // q24 shape) and the metric arithmetic — 6dp-snapped terms,
    // DECIMAL(20,6) DCG/AP accumulation, trec_eval evaluated set
    "q240_retrieval_metrics" -> """
      WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id < 8),
           res AS (SELECT qid, nid, rnk FROM (
                     SELECT qid, e.vec_id AS nid, row_number() OVER (
                       PARTITION BY qid ORDER BY
                         list_cosine_similarity(qv, e.embedding::DOUBLE[]) DESC,
                         e.vec_id) AS rnk
                     FROM q CROSS JOIN embeddings e WHERE e.vec_id != qid)
                   WHERE rnk <= 10),
           jud AS (SELECT q.qid, e.vec_id AS did,
                          CASE CAST((e.vec_id + q.qid) % 5 AS INT)
                            WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END AS rel
                   FROM q CROSS JOIN embeddings e
                   WHERE CAST((e.vec_id + q.qid) % 5 AS INT) IN (0, 1)),
           nr AS (SELECT qid, count(*) AS n_rel FROM jud GROUP BY 1),
           idcg AS (SELECT qid, sum(CAST(round((pow(2.0, rel) - 1) / log2(ir + 1), 6)
                             AS DECIMAL(20,6))) AS idcg
                    FROM (SELECT qid, rel, row_number() OVER (
                            PARTITION BY qid ORDER BY rel DESC, did) AS ir FROM jud)
                    WHERE ir <= 10 GROUP BY 1),
           per AS (SELECT r.qid, r.rnk, coalesce(j.rel, 0) AS rel,
                          CASE WHEN coalesce(j.rel, 0) > 0 THEN 1 ELSE 0 END AS hit
                   FROM res r LEFT JOIN jud j ON j.qid = r.qid AND j.did = r.nid),
           per2 AS (SELECT qid, rnk, rel, hit,
                           sum(hit) OVER (PARTITION BY qid ORDER BY rnk) AS cum
                    FROM per),
           ag AS (SELECT qid, sum(hit) AS hits,
                         sum(CAST(round((pow(2.0, rel) - 1) / log2(rnk + 1), 6)
                           AS DECIMAL(20,6))) AS dcg,
                         sum(CAST(CASE WHEN hit = 1
                           THEN round(cum::DOUBLE / rnk, 6) ELSE 0.0 END
                           AS DECIMAL(20,6))) AS apnum,
                         min(CASE WHEN hit = 1 THEN rnk END) AS frst
                  FROM per2 GROUP BY 1)
      SELECT n.qid AS qid, n.n_rel, CAST(coalesce(a.hits, 0) AS INT) AS n_ret_rel,
             round(coalesce(a.hits, 0)::DOUBLE / 10, 6) AS p_at_k,
             round(coalesce(a.hits, 0)::DOUBLE / n.n_rel, 6) AS recall_at_k,
             round(coalesce(1.0 / a.frst, 0.0), 6) AS rr,
             round(coalesce(a.apnum, 0)::DOUBLE / least(n.n_rel, 10), 6) AS ap,
             round(coalesce(a.dcg, 0)::DOUBLE / i.idcg::DOUBLE, 6) AS ndcg
      FROM nr n LEFT JOIN ag a ON a.qid = n.qid LEFT JOIN idcg i ON i.qid = n.qid
      ORDER BY n.qid""",
    // exact filtered search: brute-force top-5 over the PASSING
    // sub-corpus — a post-filtered unfiltered top-k would return
    // fewer rows on selective predicates and hash-mismatch
    "q241_ivf_filtered" -> """
      WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id < 8),
           s AS (SELECT qid, e.vec_id AS nid,
                        list_cosine_similarity(qv, e.embedding::DOUBLE[]) AS c
                 FROM q CROSS JOIN embeddings e
                 WHERE e.vec_id != qid AND e.label % 3 <> 0)
      SELECT qid, nid, rnk
      FROM (SELECT qid, nid,
                   row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rnk
            FROM s)
      WHERE rnk <= 5 ORDER BY qid, rnk""",
    // MaxSim from the BASE rows (no list-building needed): per
    // (query, doc, query-token) the 6dp-snapped max cosine, summed —
    // the engine's nested-lambda score replayed relationally
    "q242_maxsim_topk" -> """
      WITH v AS (SELECT vec_id, vec_id // 4 AS g, embedding::DOUBLE[] AS e
                 FROM embeddings),
           q AS (SELECT g AS qid, vec_id AS qtok, e AS qv FROM v WHERE g < 5),
           m AS (SELECT q.qid, v.g AS doc_id, q.qtok,
                        round(max(list_cosine_similarity(q.qv, v.e)), 6) AS mx
                 FROM q CROSS JOIN v GROUP BY 1, 2, 3),
           s AS (SELECT qid, doc_id, round(sum(mx), 6) AS score FROM m GROUP BY 1, 2)
      SELECT qid, doc_id, score, rnk
      FROM (SELECT qid, doc_id, score, row_number() OVER (
              PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk FROM s)
      WHERE rnk <= 5 ORDER BY qid, rnk""",
    // pre-filter semantics over the graph index: each query's exact
    // top-5 among the ALLOWED sub-corpus is analytically its 5 allowed
    // co-members (cross-cluster cosine can't reach the in-cluster band)
    "q243_nav_filtered" -> """
      WITH v AS (SELECT doc_id // 25 AS i FROM documents WHERE doc_id % 25 = 0),
           q AS (SELECT i FROM v WHERE i % 8 = 5)
      SELECT q.i AS qid, n.i AS nid
      FROM q JOIN v n ON q.i // 8 = n.i // 8 AND q.i <> n.i
                     AND n.i % 8 IN (1, 2, 3, 4, 6)
      ORDER BY qid, nid""",
    // the whole graph-first-stage chain replayed: both first-stage
    // rankings are analytic at mm = 0 queries (rank = co-member mm
    // order, strictly decreasing cosine), then RRF arithmetic, the
    // MaxSim reorder (|cos(0.04·mm)| desc ≡ mm asc) and q240's metric
    // arithmetic at k = 6
    "q245_nav_retrieval_e2e" -> """
      WITH v AS (SELECT doc_id // 25 AS i, (doc_id // 25) % 8 AS mm
                 FROM documents
                 WHERE doc_id % 25 = 0 AND doc_id // 25 < 11200),
           q AS (SELECT a.i FROM v a JOIN v b ON b.i = a.i + 7
                 WHERE a.mm = 0 AND a.i < 80),
           den AS (SELECT q.i AS qid, n.i AS id,
                          CAST(CASE n.mm WHEN 2 THEN 1 WHEN 3 THEN 2
                               WHEN 4 THEN 3 WHEN 6 THEN 4 ELSE 5 END AS INT) AS rnk
                   FROM q JOIN v n ON n.i // 8 = q.i // 8
                                  AND n.mm IN (2, 3, 4, 6, 7)),
           bru AS (SELECT q.i AS qid, n.i AS id, CAST(n.mm AS INT) AS rnk
                   FROM q JOIN v n ON n.i // 8 = q.i // 8 AND n.mm >= 1),
           f AS (SELECT coalesce(d.qid, b.qid) AS qid,
                        coalesce(d.id, b.id) AS id,
                        coalesce(CAST(1 AS DOUBLE) / (60 + d.rnk), 0) +
                        coalesce(CAST(1 AS DOUBLE) / (60 + b.rnk), 0) AS rrf
                 FROM den d FULL OUTER JOIN bru b
                   ON d.qid = b.qid AND d.id = b.id),
           cand AS (SELECT qid, id AS did FROM (
                      SELECT qid, id, row_number() OVER (
                        PARTITION BY qid ORDER BY rrf DESC, id ASC) AS rnk FROM f)
                    WHERE rnk <= 6),
           res AS (SELECT cd.qid, cd.did, CAST(row_number() OVER (
                     PARTITION BY cd.qid ORDER BY n.mm ASC, cd.did ASC) AS INT) AS rnk
                   FROM cand cd JOIN v n ON n.i = cd.did),
           jud AS (SELECT q.i AS qid, n.i AS did,
                          CASE CAST((n.i + q.i) % 5 AS INT)
                            WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END AS rel
                   FROM q CROSS JOIN v n
                   WHERE CAST((n.i + q.i) % 5 AS INT) IN (0, 1)),
           nr AS (SELECT qid, count(*) AS n_rel FROM jud GROUP BY 1),
           idcg AS (SELECT qid, sum(CAST(round((pow(2.0, rel) - 1) / log2(ir + 1), 6)
                             AS DECIMAL(20,6))) AS idcg
                    FROM (SELECT qid, rel, row_number() OVER (
                            PARTITION BY qid ORDER BY rel DESC, did) AS ir FROM jud)
                    WHERE ir <= 6 GROUP BY 1),
           per AS (SELECT r.qid, r.rnk, coalesce(j.rel, 0) AS rel,
                          CASE WHEN coalesce(j.rel, 0) > 0 THEN 1 ELSE 0 END AS hit
                   FROM res r LEFT JOIN jud j ON j.qid = r.qid AND j.did = r.did),
           per2 AS (SELECT qid, rnk, rel, hit,
                           sum(hit) OVER (PARTITION BY qid ORDER BY rnk) AS cum
                    FROM per),
           ag AS (SELECT qid, sum(hit) AS hits,
                         sum(CAST(round((pow(2.0, rel) - 1) / log2(rnk + 1), 6)
                           AS DECIMAL(20,6))) AS dcg,
                         sum(CAST(CASE WHEN hit = 1
                           THEN round(cum::DOUBLE / rnk, 6) ELSE 0.0 END
                           AS DECIMAL(20,6))) AS apnum,
                         min(CASE WHEN hit = 1 THEN rnk END) AS frst
                  FROM per2 GROUP BY 1)
      SELECT n.qid AS qid, n.n_rel, CAST(coalesce(a.hits, 0) AS INT) AS n_ret_rel,
             round(coalesce(a.hits, 0)::DOUBLE / 6, 6) AS p_at_k,
             round(coalesce(a.hits, 0)::DOUBLE / n.n_rel, 6) AS recall_at_k,
             round(coalesce(1.0 / a.frst, 0.0), 6) AS rr,
             round(coalesce(a.apnum, 0)::DOUBLE / least(n.n_rel, 6), 6) AS ap,
             round(coalesce(a.dcg, 0)::DOUBLE / i.idcg::DOUBLE, 6) AS ndcg
      FROM nr n LEFT JOIN ag a ON a.qid = n.qid LEFT JOIN idcg i ON i.qid = n.qid
      ORDER BY n.qid""",
    // degree frame over a fresh m = 4 build: every layer is larger than
    // m+1, so every node's pruned list is exactly m — n_nodes comes
    // from the id laws (level >= 1 ⟺ i % 4 = 0), everything else is
    // the constant the pruning law dictates
    "q246_nav_degree" -> """
      WITH v AS (SELECT doc_id // 25 AS i FROM documents WHERE doc_id % 25 = 0)
      SELECT level, n_nodes, CAST(4.0 AS DOUBLE) AS avg_deg,
             CAST(4 AS BIGINT) AS max_deg, CAST(0 AS BIGINT) AS n_over_m,
             CAST(4 AS INT) AS m
      FROM (SELECT CAST(0 AS INT) AS level,
                   CAST(count(*) AS BIGINT) AS n_nodes FROM v
            UNION ALL
            SELECT CAST(1 AS INT), CAST(count(*) AS BIGINT)
            FROM v WHERE i % 4 = 0)
      ORDER BY level""",
    // streamed vector appends + a retry are invisible to the beam
    // search (node/edge facts + read-side distincts) — the analytic
    // co-member oracle over the mm <= 5 corpus holds verbatim
    "q239_stream_nav_index" -> """
      WITH v AS (SELECT doc_id // 25 AS i FROM documents
                 WHERE doc_id % 25 = 0 AND (doc_id // 25) % 8 <= 5),
           q AS (SELECT a.i FROM v a JOIN v b ON b.i = a.i + 4
                 WHERE a.i % 8 = 1)
      SELECT q.i AS qid, n.i AS nid
      FROM q JOIN v n ON q.i // 8 = n.i // 8 AND q.i <> n.i
      ORDER BY qid, nid""",
    // the full loop's admitted set is analytic: probed groups (m4 <= 2
    // members) keep only their minimum (doc_id % 400 == 0), never-
    // probed m4 = 3 members and every non-fingerprinted doc keep
    // themselves
    "q237_dedup_loop_e2e" -> """
      SELECT doc_id FROM documents
      WHERE doc_id % 25 <> 0
         OR (doc_id // 25) % 4 = 3
         OR doc_id % 400 = 0
      ORDER BY doc_id""",
    // streamed append+refresh per micro-batch with a batch-0 replay:
    // the snapshot's delta view must equal q228's analytic closure
    "q235_stream_snapshot" -> """
      SELECT doc_id, doc_id % 40 AS component
      FROM documents ORDER BY doc_id""",
    // streamed edge-fact appends + a retry are invisible to the
    // clustering (edge-distinct) — q228's analytic closure verbatim
    "q233_stream_registry" -> """
      SELECT doc_id, doc_id % 40 AS component
      FROM documents ORDER BY doc_id""",
    // two delta refreshes over the bootstrap must land on the same
    // analytic chain closure as q228's full CC
    "q232_registry_snapshot" -> """
      SELECT doc_id, doc_id % 40 AS component
      FROM documents ORDER BY doc_id""",
    // the forced-shuffle probe shape returns the same pairs — q221's
    // brute-force popcount oracle verbatim
    "q234_hamming_index_shuffle" -> """
      WITH f AS (SELECT doc_id, (doc_id // 25) // 16 AS g,
                        (doc_id // 25) % 8 AS jit, (doc_id // 25) % 4 AS m4
                 FROM documents WHERE doc_id % 25 = 0),
           s AS (SELECT doc_id, m4,
                   CAST((((g * 2654435761) % 8192) * 8 + jit % 2)
                     + (((g * 2246822519) % 8192) * 8 + (jit // 2) % 2) * 65536
                     + (((g * 3266489917) % 8192) * 8 + (jit // 4) % 2) * 4294967296
                     + (((g * 668265263) % 2048) * 8) * 281474976710656
                     AS BIGINT) AS sh
                 FROM f)
      SELECT a.doc_id AS ida, b.doc_id AS idb,
             CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sh, b.sh)) <= 3 AND (a.m4 = 3 OR b.m4 = 3)
      ORDER BY ida, idb""",
    // streamed banded-fact appends + a retry are invisible to the
    // probe (pair-distinct) — q221's brute-force popcount oracle
    "q231_stream_hamming_index" -> """
      WITH f AS (SELECT doc_id, (doc_id // 25) // 16 AS g,
                        (doc_id // 25) % 8 AS jit, (doc_id // 25) % 4 AS m4
                 FROM documents WHERE doc_id % 25 = 0),
           s AS (SELECT doc_id, m4,
                   CAST((((g * 2654435761) % 8192) * 8 + jit % 2)
                     + (((g * 2246822519) % 8192) * 8 + (jit // 2) % 2) * 65536
                     + (((g * 3266489917) % 8192) * 8 + (jit // 4) % 2) * 4294967296
                     + (((g * 668265263) % 2048) * 8) * 281474976710656
                     AS BIGINT) AS sh
                 FROM f)
      SELECT a.doc_id AS ida, b.doc_id AS idb,
             CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sh, b.sh)) <= 3 AND (a.m4 = 3 OR b.m4 = 3)
      ORDER BY ida, idb""",
    // full-outer hash compare, statuses spelled identically
    "q218_corpus_diff" -> """
      WITH o AS (SELECT doc_id, 'v' || CAST(doc_id % 50 AS VARCHAR) AS text
                 FROM documents),
           n AS (SELECT doc_id,
                        CASE WHEN doc_id % 3 = 0
                             THEN 'w' || CAST(doc_id % 50 AS VARCHAR)
                             ELSE 'v' || CAST(doc_id % 50 AS VARCHAR) END AS text
                 FROM documents WHERE doc_id % 7 <> 0
                 UNION ALL
                 SELECT doc_id + 1000000, 'v0' FROM documents
                 WHERE doc_id % 11 = 0)
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.text <> n.text THEN 'changed' END AS status
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      WHERE (o.doc_id IS NULL OR n.doc_id IS NULL OR o.text <> n.text)
      ORDER BY doc_id""",
    // full-match extraction + host group, same portable pattern (host
    // and path end alphanumeric/body-char, so the %5 docs' ' .)' tail
    // never rides into the url)
    "q215_url_extract" -> """
      WITH d AS (SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN 'no links here'
               ELSE 'see http://www.Site' || CAST(doc_id % 40 AS VARCHAR) ||
                    '.example.com/p' || CAST(doc_id % 7 AS VARCHAR) ||
                    CASE WHEN doc_id % 2 = 0
                         THEN ' and https://cdn' || CAST(doc_id % 3 AS VARCHAR) ||
                              '.example.net:8080/x?y=' || CAST(doc_id AS VARCHAR)
                         ELSE '' END ||
                    CASE WHEN doc_id % 5 = 0
                         THEN ' (see https://ref.example.org/a' ||
                              CAST(doc_id % 9 AS VARCHAR) || '.)'
                         ELSE '' END || ' tail' END AS text
             FROM documents),
      u AS (SELECT doc_id,
              unnest(regexp_extract_all(text,
                'https?://[A-Za-z0-9]([A-Za-z0-9.-]*[A-Za-z0-9])?(:[0-9]+)?(/[^ ]*[A-Za-z0-9/_=&%#-]|/)?')) AS url
            FROM d)
      SELECT doc_id, url,
             lower(regexp_extract(url, '^https?://([^/:]+)', 1)) AS host
      FROM u ORDER BY doc_id, url""",
    // group ranks replayed per (event_type, hour) bucket with the same
    // float-safe ceil
    "q216_time_quantiles" -> """
      WITH e AS (SELECT event_type || ':' ||
                        CAST(epoch_us(ts) // 3600000000 AS VARCHAR) AS g,
                        value FROM events),
           v AS (SELECT g, value AS x FROM e WHERE value IS NOT NULL),
           n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY g),
           r AS (SELECT g, x, CAST(row_number() OVER (
                   PARTITION BY g ORDER BY x) AS BIGINT) AS rn FROM v),
           q(q) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE))),
           t AS (SELECT n.g, q.q, greatest(CAST(1 AS BIGINT),
                   CAST(ceil(q.q * n.n - 1e-9) AS BIGINT)) AS rank
                 FROM n CROSS JOIN q)
      SELECT t.g, t.q, t.rank, r.x AS value
      FROM t JOIN r ON r.g = t.g AND r.rn = t.rank ORDER BY t.g, t.q""",
    // benchmark gram set + semi-join + the same islands merge as q207
    "q214_contaminated_spans" -> """
      WITH d AS (SELECT doc_id,
             'u' || CAST(doc_id AS VARCHAR) || ' c0 c1 c2 ' ||
             CASE WHEN doc_id % 7 = 0 THEN 'c3 ' ELSE '' END ||
             'x' || CAST(doc_id AS VARCHAR) ||
             ' g' || CAST(doc_id % 4 AS VARCHAR) || 'a' ||
             ' g' || CAST(doc_id % 4 AS VARCHAR) || 'b' ||
             ' g' || CAST(doc_id % 4 AS VARCHAR) || 'c' AS text
             FROM documents),
      bt AS (SELECT 'c0 c1 c2 c3' AS btext UNION ALL SELECT 'g1a g1b g1c'),
      bts AS (SELECT string_split(btext, ' ') AS ts FROM bt),
      bg AS (SELECT DISTINCT
               substr(md5(array_to_string(ts[i + 1 : i + 3], ' ')), 1, 16) AS gk
             FROM bts, unnest(generate_series(0, len(ts) - 3)) AS u(i)),
      t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM d),
      tok AS (SELECT doc_id, CAST(i AS INT) AS pos,
                     substr(md5(array_to_string(ts[i + 1 : i + 3], ' ')), 1, 16) AS gk
              FROM t, unnest(generate_series(0, len(ts) - 3)) AS u(i)),
      m AS (SELECT doc_id, pos FROM tok WHERE gk IN (SELECT gk FROM bg)),
      i AS (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
            FROM m)
      SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
             CAST(max(pos) + 2 AS INT) AS span_end,
             CAST(max(pos) - min(pos) + 3 AS INT) AS span_len,
             CAST(count(*) AS BIGINT) AS n_windows
      FROM i GROUP BY doc_id, grp ORDER BY doc_id, span_start""",
    // counts + row_number over the same (cnt desc, tok) order; 6dp logs
    "q212_zipf_profile" -> """
      WITH t AS (SELECT unnest(string_split(coalesce(text, ''), ' ')) AS tok
                 FROM documents),
           c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
                 FROM t WHERE tok <> '' GROUP BY tok),
           r AS (SELECT tok, cnt,
                        row_number() OVER (ORDER BY cnt DESC, tok) AS rnk
                 FROM c)
      SELECT CAST(rnk AS INT) AS rnk, tok AS term, cnt,
             round(ln(rnk), 6) AS ln_rank, round(ln(cnt), 6) AS ln_cnt
      FROM r WHERE rnk <= 50 ORDER BY rnk""",
    // brute-force cosine top-k with (self, qid+7) excluded — the exact
    // ground truth the over-fetch + anti-join + re-rank must reproduce
    "q213_hard_negatives" -> """
      WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id < 5),
           s AS (SELECT qid, e.vec_id AS nid,
                        list_cosine_similarity(qv, e.embedding::DOUBLE[]) AS c
                 FROM q CROSS JOIN embeddings e
                 WHERE e.vec_id != qid AND e.vec_id != qid + 7)
      SELECT qid, nid, rnk
      FROM (SELECT qid, nid,
                   row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rnk
            FROM s)
      WHERE rnk <= 3 ORDER BY qid, rnk""",
    // 3 peels unrolled; edge normalization (a < b distinct) shared with
    // the Spark side, semi-joins spelled as IN
    "q211_kcore" -> """
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem WHERE l_orderkey % 5 = 0),
           e0 AS MATERIALIZED (
             SELECT DISTINCT x.p AS a, y.p AS b
             FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
           k1 AS MATERIALIZED (
             SELECT v FROM (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0)
             GROUP BY v HAVING count(*) >= 3),
           e1 AS MATERIALIZED (
             SELECT a, b FROM e0
             WHERE a IN (SELECT v FROM k1) AND b IN (SELECT v FROM k1)),
           k2 AS MATERIALIZED (
             SELECT v FROM (SELECT a AS v FROM e1 UNION ALL SELECT b FROM e1)
             GROUP BY v HAVING count(*) >= 3),
           e2 AS MATERIALIZED (
             SELECT a, b FROM e1
             WHERE a IN (SELECT v FROM k2) AND b IN (SELECT v FROM k2)),
           k3 AS MATERIALIZED (
             SELECT v FROM (SELECT a AS v FROM e2 UNION ALL SELECT b FROM e2)
             GROUP BY v HAVING count(*) >= 3),
           e3 AS MATERIALIZED (
             SELECT a, b FROM e2
             WHERE a IN (SELECT v FROM k3) AND b IN (SELECT v FROM k3))
      SELECT v AS node, CAST(count(*) AS BIGINT) AS degree
      FROM (SELECT a AS v FROM e3 UNION ALL SELECT b FROM e3)
      GROUP BY v ORDER BY node""",
    // the four pattern censuses replayed with RE2 (patterns shared
    // verbatim with the Spark side — portable constructs only)
    "q209_pii_profile" -> (s"""
      WITH d AS ($PII_FIXTURE_DUCK)
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email,
             CAST(len(regexp_extract_all(text, '\\+?[0-9][0-9()\\- ]{7,14}[0-9]')) AS INT) AS n_phone,
             CAST(len(regexp_extract_all(text, '\\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])(\\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}\\b')) AS INT) AS n_ipv4,
             CAST(len(regexp_extract_all(text, '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b')) AS INT) AS n_ssn,
             (len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
              + len(regexp_extract_all(text, '\\+?[0-9][0-9()\\- ]{7,14}[0-9]'))
              + len(regexp_extract_all(text, '\\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])(\\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}\\b'))
              + len(regexp_extract_all(text, '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b'))) > 0 AS has_pii
      FROM d ORDER BY doc_id""").replace("\\\\", "\\"),
    // the staged chain: each pattern counted on the text it actually
    // scans, then replaced with its tag ('g' = all matches, like Spark)
    "q210_pii_redact" -> (s"""
      WITH d AS ($PII_FIXTURE_DUCK),
      s1 AS (SELECT doc_id, text AS t0,
               regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1 FROM d),
      s2 AS (SELECT *, regexp_replace(t1, '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<SSN>', 'g') AS t2 FROM s1),
      s3 AS (SELECT *, regexp_replace(t2, '\\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])(\\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}\\b', '<IP>', 'g') AS t3 FROM s2),
      s4 AS (SELECT *, regexp_replace(t3, '\\+?[0-9][0-9()\\- ]{7,14}[0-9]', '<PHONE>', 'g') AS t4 FROM s3)
      SELECT doc_id, t4 AS text,
             CAST(len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                + len(regexp_extract_all(t1, '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b'))
                + len(regexp_extract_all(t2, '\\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])(\\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}\\b'))
                + len(regexp_extract_all(t3, '\\+?[0-9][0-9()\\- ]{7,14}[0-9]')) AS INT) AS n_redacted
      FROM s4 ORDER BY doc_id""").replace("\\\\", "\\"),
    // census + inner join to shared grams + the islands merge
    // (pos - row_number is constant on consecutive runs) in plain SQL
    "q207_max_shared_spans" -> """
      WITH d AS (SELECT doc_id,
             'u' || CAST(doc_id AS VARCHAR) || ' c0 c1 c2 ' ||
             CASE WHEN doc_id % 7 = 0 THEN 'c3 ' ELSE '' END ||
             'x' || CAST(doc_id AS VARCHAR) ||
             ' g' || CAST(doc_id % 4 AS VARCHAR) || 'a' ||
             ' g' || CAST(doc_id % 4 AS VARCHAR) || 'b' ||
             ' g' || CAST(doc_id % 4 AS VARCHAR) || 'c' AS text
             FROM documents),
      t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM d),
      tok AS (SELECT doc_id, CAST(i AS INT) AS pos,
                     CASE WHEN i <= len(ts) - 3
                          THEN substr(md5(array_to_string(ts[i + 1 : i + 3], ' ')), 1, 16)
                     END AS gk
              FROM t, unnest(generate_series(0, len(ts) - 1)) AS u(i)),
      c AS (SELECT gk, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
            FROM tok WHERE gk IS NOT NULL GROUP BY gk
            HAVING count(DISTINCT doc_id) >= 2),
      m AS (SELECT tok.doc_id, tok.pos, c.nd
            FROM tok JOIN c ON tok.gk = c.gk),
      i AS (SELECT doc_id, pos, nd,
                   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
            FROM m)
      SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
             CAST(max(pos) + 2 AS INT) AS span_end,
             CAST(max(pos) - min(pos) + 3 AS INT) AS span_len,
             CAST(count(*) AS BIGINT) AS n_windows,
             CAST(min(nd) AS BIGINT) AS min_share
      FROM i GROUP BY doc_id, grp ORDER BY doc_id, span_start""",
    // the eight Gopher rules replayed with DuckDB list lambdas; the
    // ellipsis count divides the removed-char delta by 3 (each
    // non-overlapping '...' removal is exactly 3 chars in both engines)
    "q139_gopher_flags" -> """
      WITH t AS (SELECT doc_id, text,
                        string_split(text, ' ') AS ts,
                        string_split(text, chr(10)) AS ls
                 FROM documents),
      m AS (SELECT doc_id,
              CAST(len(ts) AS DOUBLE) AS nw,
              CAST(len(ls) AS DOUBLE) AS nl,
              CAST(list_sum(list_transform(ts, x -> length(x))) AS DOUBLE)
                / greatest(CAST(len(ts) AS DOUBLE), 1.0) AS mwl,
              CAST((length(text) - length(replace(text, '#', ''))) +
                   (length(text) - length(replace(text, '...', ''))) // 3
                   AS DOUBLE) AS sym,
              CAST(len(list_filter(ls, l -> ends_with(l, '...'))) AS DOUBLE) AS el,
              CAST(len(list_filter(ls, l -> starts_with(l, '•') OR
                                            starts_with(l, '- '))) AS DOUBLE) AS bl,
              CAST(len(list_filter(ts, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) AS aw,
              (CASE WHEN list_contains(ts, 'the') THEN 1 ELSE 0 END +
               CASE WHEN list_contains(ts, 'be') THEN 1 ELSE 0 END +
               CASE WHEN list_contains(ts, 'to') THEN 1 ELSE 0 END +
               CASE WHEN list_contains(ts, 'of') THEN 1 ELSE 0 END +
               CASE WHEN list_contains(ts, 'and') THEN 1 ELSE 0 END +
               CASE WHEN list_contains(ts, 'that') THEN 1 ELSE 0 END +
               CASE WHEN list_contains(ts, 'have') THEN 1 ELSE 0 END +
               CASE WHEN list_contains(ts, 'with') THEN 1 ELSE 0 END) AS nstop
            FROM t)
      SELECT doc_id,
             nw BETWEEN 50 AND 100000 AS words_ok,
             mwl BETWEEN 3.0 AND 10.0 AS word_len_ok,
             sym / greatest(nw, 1.0) <= 0.1 AS symbol_ok,
             el <= 0.3 * nl AS ellipsis_lines_ok,
             bl < 0.9 * nl AS bullet_lines_ok,
             aw >= 0.8 * nw AS alpha_words_ok,
             nstop >= 2 AS stopwords_ok,
             (nw BETWEEN 50 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0) AND
             (sym / greatest(nw, 1.0) <= 0.1) AND (el <= 0.3 * nl) AND
             (bl < 0.9 * nl) AND (aw >= 0.8 * nw) AND (nstop >= 2) AS gopher_pass
      FROM m ORDER BY doc_id""",
    // withinDoc census counts occurrences; the keeper occurrence is the
    // row_number()=1 row under (doc_id, pos) order per gram key
    "q138_dedup_spans_within" -> """
      WITH d AS (SELECT doc_id,
             'u' || CAST(doc_id AS VARCHAR) || ' p q r p q r e' ||
             CAST(doc_id % 5 AS VARCHAR) AS text
             FROM documents),
      t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM d),
      tok AS (SELECT doc_id, i AS pos, ts[i + 1] AS tk,
                     CASE WHEN i <= len(ts) - 3
                          THEN substr(md5(array_to_string(ts[i + 1 : i + 3], ' ')), 1, 16)
                     END AS gk
              FROM t, unnest(generate_series(0, len(ts) - 1)) AS u(i)),
      g AS (SELECT doc_id, pos,
                   count(*) OVER (PARTITION BY gk) AS nocc,
                   row_number() OVER (PARTITION BY gk ORDER BY doc_id, pos) AS rn
            FROM tok WHERE gk IS NOT NULL),
      m AS (SELECT tok.doc_id, tok.pos, tok.tk,
                   CASE WHEN g.nocc >= 2 AND g.rn > 1 THEN 1 ELSE 0 END AS dup
            FROM tok LEFT JOIN g ON tok.doc_id = g.doc_id AND tok.pos = g.pos),
      f AS (SELECT doc_id, pos, tk,
                   max(dup) OVER (PARTITION BY doc_id ORDER BY pos
                                  RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS cov
            FROM m)
      SELECT doc_id,
             coalesce(string_agg(CASE WHEN cov = 0 THEN tk END, ' ' ORDER BY pos), '') AS text,
             CAST(count(*) FILTER (WHERE cov = 0) AS INT) AS n_kept,
             CAST(count(*) FILTER (WHERE cov = 1) AS INT) AS n_dropped
      FROM f GROUP BY doc_id ORDER BY doc_id""",
    // stride-2 sampling of 256-byte frames: n = max(len div 256, 1),
    // indices 0,2,..<n, each frame min(256, len - i*256) bytes
    "q54_frame_sample" -> """
      WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents),
           f AS (SELECT doc_id, len, greatest(len // 256, 1) AS n FROM d)
      SELECT doc_id, CAST(i AS INT) AS frame_idx,
             CAST(least(256, len - i * 256) AS INT) AS n_bytes
      FROM f, unnest(generate_series(0, n - 1, 2)) AS u(i)
      ORDER BY doc_id, frame_idx""",
    // overlapping token windows (window 32, stride 16): 1-based starts
    // 1, 17, 33, ... over the same single-space token array; list_slice
    // end-bound truncates like Spark's slice length does
    "q62_chunk_windows" -> """
      WITH t AS (SELECT doc_id AS doc, string_split(text, ' ') AS toks
                 FROM documents),
           s AS (SELECT doc, toks, u.start
                 FROM t, unnest(generate_series(1, len(toks), 16)) AS u(start)
                 WHERE len(toks) > 0)
      SELECT doc, CAST((start - 1) // 16 AS INT) AS chunk_idx,
             array_to_string(list_slice(toks, start, start + 31), ' ') AS chunk,
             CAST(least(32, len(toks) - start + 1) AS INT) AS n_toks
      FROM s ORDER BY doc, chunk_idx""",
    // concat-and-split packing (seqLen 512, 8 shards): running SUM OVER
    // per shard in doc order, then exact integer div/mod; SUM(BIGINT) is
    // HUGEINT in DuckDB so cast back
    "q63_pack_sequences" -> """
      WITH t AS (SELECT doc_id AS doc, ((doc_id % 8) + 8) % 8 AS shard,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
                 FROM documents),
           o AS (SELECT doc, shard, n_toks,
                   CAST(COALESCE(SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS "offset"
                 FROM t)
      SELECT doc, shard, n_toks, "offset", "offset" // 512 AS pack_id,
             "offset" % 512 AS pack_pos
      FROM o ORDER BY doc""",
    // decontamination vs the doc_id % 97 = 0 benchmark slice: distinct
    // shared token 3-grams per corpus doc (sub-3-token docs emit no grams)
    // q64's gram construction, then pair-distinct counts >= 2 and the
    // per-benchmark-doc rollup
    "q156_contamination_report" -> """
      WITH t AS (SELECT doc_id AS doc, string_split(text, ' ') AS l
                 FROM documents),
           g AS (SELECT DISTINCT doc, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS gram
                 FROM t, unnest(generate_series(1, len(l) - 2)) AS u(i)
                 WHERE len(l) >= 3),
           bg AS (SELECT DISTINCT doc AS bench, gram FROM g WHERE doc % 97 = 0),
           p AS (SELECT bg.bench, g.doc, CAST(count(*) AS BIGINT) AS shared
                 FROM g JOIN bg ON g.gram = bg.gram
                 GROUP BY bg.bench, g.doc
                 HAVING count(*) >= 2)
      SELECT bench AS bench_id, CAST(count(*) AS BIGINT) AS n_corpus_docs,
             CAST(sum(shared) AS BIGINT) AS n_shared_grams,
             CAST(max(shared) AS BIGINT) AS max_shared_one_doc
      FROM p GROUP BY bench ORDER BY bench""",
    "q64_decontaminate" -> """
      WITH t AS (SELECT doc_id AS doc, string_split(text, ' ') AS l
                 FROM documents),
           g AS (SELECT doc, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS gram
                 FROM t, unnest(generate_series(1, len(l) - 2)) AS u(i)
                 WHERE len(l) >= 3),
           bg AS (SELECT DISTINCT gram FROM g WHERE doc % 97 = 0)
      SELECT g.doc, count(DISTINCT g.gram) AS n_shared
      FROM g JOIN bg ON g.gram = bg.gram
      GROUP BY g.doc ORDER BY g.doc""",
    // per-source cap, 10 docs per source in doc_id order
    "q65_domain_cap" -> """
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents)
      WHERE rn <= 10 ORDER BY doc_id""")

  // ---- sf0.1 twin rows (scale-dependent-bug tripwire) -----------------

  /** Bench-subset queries re-run at 10x the contract's scale factor
    * through the SAME closures (zero query-logic duplication). The
    * contract drives correctness at sf0.01 only; a wrong answer that
    * appears only at larger inputs — partition-count-sensitive state
    * like the r9 buffer-cache bug — passes sf0.01 and ships. Each twin
    * hash-compares the full sf0.1 result against DuckDB, so that class
    * of bug now fails the gate instead of surviving until a judge audit. */
  private val sf01TwinNames = Seq(
    "q02_astext", "q07_intersects", "q11_buffer_bbox", "q14_extent",
    "q16_split", "q20_dedup_exact", "q23_jaccard_tokens", "q24_cosine_topk",
    "q28_minhash_lsh", "q32_events_hourly", "q33_ref_linestring_intersects",
    "q34_text_profile", "q48_asof_join", "q49_range_join",
    "q135_remove_boilerplate", "q137_dedup_spans",
    // round-12 selection operators: scoring laws whose totals/buckets
    // shift with corpus size are exactly the scale-dependent-bug class
    "q141_dsir_weights", "q142_ccnet_buckets", "q143_c4_clean",
    "q144_quality_lr", "q145_cluster_coreset",
    // round-12 retrieval/reduction/dissolve operators: BM25's corpus
    // scalars, PCA's moment quotients (the snap-before-divide boundary
    // bug class was FOUND at exactly n=500 — the twin re-proves it at
    // n=5000), and the union's compaction cadence all shift with n
    "q146_bm25", "q147_embedding_pca", "q148_random_projection",
    "q149_union_agg",
    // BPE: the learned merges themselves depend on corpus-wide counts,
    // so a scale-dependent counting bug rewrites the whole merge table
    "q150_bpe_learn", "q151_bpe_tokens",
    "q152_weighted_sample", "q155_mixture_plan",
    // overlap-threshold semantics shift with corpus size like q64's
    "q156_contamination_report",
    "q157_dedup_keep_best", "q158_cluster_keep_best",
    "q159_knn_graph", "q160_hashed_embedding", "q161_bpe_token_ids",
    "q162_cosine_edges", "q164_event_funnel", "q165_asof_forward",
    // the staged dissolve's compaction/pyramid cadence shifts with n
    "q166_grid_dissolve",
    // map-only split kernels over the full lineitem-derived grid
    "q168_split_exact",
    // distinct-token inventories and overlaps shift with corpus size,
    // and the est_ok gate re-proves the HLL error law at 10x the values
    "q169_sketch_overlap",
    // bucket occupancy and collision noise shift with corpus size; the
    // twin re-proves probe ≡ one-shot on 10x buckets
    "q170_lsh_index_dedup",
    // cohort sizes and week spans shift with the event volume
    "q171_retention_cohorts",
    // the persisted-index probe on 10x postings (same oracle as q146's
    // twin, so in-memory and indexed retrieval agree at both sfs)
    "q174_bm25_index",
    // append-grown index on 10x postings, same agreement
    "q175_bm25_append",
    // appended-then-COMPACTED index on 10x postings: folding the dfreq
    // deltas and merging bucket shards must preserve the same agreement
    "q204_bm25_compact",
    // same 100 nodes but 10x the edge density: every rank shifts, so
    // the twin re-proves the whole iteration chain at the larger graph
    "q176_pagerank",
    // map-only fan-out: 10x the points through the same tile laws
    "q177_tile_pyramid",
    // bit-exact interleave on 10x the keys
    "q178_zorder",
    // same 31-token vocab at 10x rows: exact regime must hold at scale
    "q179_heavy_hitters",
    // 10x the dimension through the same row-fate partition
    "q180_scd2_merge",
    // 10x the rows per block: 1.8k pairs through the same cap + refine
    "q181_fuzzy_dedup",
    // bit-exact walk on 10x the keys
    "q182_hilbert",
    // bit-exact JW doubles on 10x the rows per block
    "q183_jw_linkage",
    // both retriever branches and the fixed-order fused sum at 10x
    "q184_rrf_fusion",
    // three byte-exact metrics on 10x the rows per block
    "q185_sim_suite",
    // same dense-spine fan-out law over 10x the (day,user) grid
    "q186_rolling_actives",
    // seed-free CM hash law: cells, probes, exact counts at 10x rows
    "q187_cms_counts",
    // exact rank probes over a 10x histogram (different n -> new ranks)
    "q188_exact_quantiles",
    // degree orientation vs canonical enumeration on the 10x co-order graph
    "q189_triangle_stats",
    // same RE2/Java script-class parity over 10x the documents
    "q190_script_profile",
    // 4 deterministic vote rounds on the 10x co-order graph
    "q191_label_prop",
    // two-batch incremental CM ≡ one-shot over 10x the rows
    "q192_stream_cms",
    // two-batch MG fold ≡ exact counts over 10x the rows (same keys,
    // 10x the mass - every estimate shifts)
    "q208_stream_mg",
    // the full canonicalization chain over 10x the messy URLs
    "q195_url_dedup",
    // exact integer nucleus cut over 10x the orders per bucket
    "q196_top_p",
    // decimal-exact JS over 10x the tokens per language side
    "q198_js_divergence",
    // exact Gini over a 10x key-count distribution
    "q199_skew_profile",
    // the composed 4-stage pipeline over 10x the documents
    "q200_pipeline_e2e",
    // 3 BFS rounds over the 10x co-order graph
    "q201_hop_distance",
    // prefix-filter completeness vs brute force on the 10x fixture slice
    "q202_jaccard_join",
    // per-group ranks over 10x suppliers x rows
    "q203_group_quantiles",
    // census + islands merge over 10x docs (class counts all shift)
    "q207_max_shared_spans",
    // the four pattern censuses over 10x the synthetic contact strings
    "q209_pii_profile",
    // the staged redaction chain over 10x docs
    "q210_pii_redact",
    // 3 peels over the 10x co-order graph (denser -> different core)
    "q211_kcore",
    // benchmark semi-join + islands over 10x train docs
    "q214_contaminated_spans",
    // first-appearance curve over 10x docs (every checkpoint shifts)
    "q219_vocab_growth",
    // census df counts all shift at 10x docs (class sizes x10)
    "q220_gram_novelty",
    // write/append/compact/probe over 10x history and batch
    "q217_exact_index",
    // 10x the ids through the same changelog classes
    "q218_corpus_diff",
    // 10x the synthetic link text (explode mass + host census shift)
    "q215_url_extract",
    // group ranks over 10x the events per (type, hour) bucket
    "q216_time_quantiles",
    // top-50 head over the 10x token mass (counts + logs all shift)
    "q212_zipf_profile",
    // excluded top-k over the 10x embedding corpus
    "q213_hard_negatives",
    // write/append/compact/probe over 10x fingerprint groups (all
    // group hashes shift with the 10x group ids)
    "q221_hamming_index",
    // the forced-shuffle probe shape over the same 10x groups
    "q234_hamming_index_shuffle",
    // two streamed micro-batches + a retry over 10x postings must
    // still equal the one-shot index's search
    "q222_stream_bm25_index",
    // streaming min-idempotent appends + retry over 10x history
    "q223_stream_exact_index",
    // the EM's census counts are corpus-wide like BPE's: a scale-
    // dependent counting bug rewrites every score at 10x
    "q224_unigram_learn",
    // the final model and every doc's piece counts at 10x
    "q225_unigram_tokens",
    // streamed bucket appends + retry at 10x history (q226's constant
    // 15/15/true gate oracle has no table refs, so the twin REWRITE
    // cannot retarget it — its scale path is q170's twin + this one)
    "q227_stream_lsh_index",
    // streamed banded appends + retry over 10x fingerprint groups
    "q231_stream_hamming_index",
    // 10x-long residue chains through write/append/retry/compact/CC
    "q228_dedup_registry",
    // bootstrap + two delta refreshes over 10x-long chains
    "q232_registry_snapshot",
    // streamed edge appends + retry over 10x-long chains
    "q233_stream_registry",
    // streamed append+refresh loop + retry over 10x-long chains
    "q235_stream_snapshot",
    // the corpus-wide verdict over 10x docs (known/unknown id split)
    "q236_snapshot_verdict",
    // probe -> append -> refresh -> admit over 10x fingerprint groups
    // (all group hashes and the admitted set shift with the group ids)
    "q237_dedup_loop_e2e",
    // build/append/compact/search over 10x clusters — and the twin's
    // 150-node build layer crosses bruteMax = 96, so it runs the
    // IVF-probed construction where the base runs brute (both exact,
    // same oracle)
    "q238_nav_graph_ann",
    // two streamed micro-batches + a retry over 10x clusters must
    // still search as the analytic co-member set
    "q239_stream_nav_index",
    // every bin mean/fraction and the ECE shift at 10x scores
    "q229_calibration",
    // 4x the corpus behind the same 8 queries: every rank, every
    // hit set, and every metric denominator shifts at sf0.1
    "q240_retrieval_metrics",
    // 4x the corpus and a re-trained codebook behind the same
    // filtered exact-search contract
    "q241_ivf_filtered",
    // 4x the bags: every MaxSim score and rank recomputed at scale
    "q242_maxsim_topk",
    // filtered beam search over 10x clusters, IVF-probed construction
    // (the 200-vector twin build layer crosses bruteMax = 96)
    "q243_nav_filtered",
    // the full retrieval chain over 10x the corpus: every BM25 score,
    // cosine rank, fused candidate set, rerank score and metric shifts
    "q244_retrieval_e2e",
    // the graph-first-stage chain over 10x clusters (200-node corpus:
    // IVF-probed construction + 10 complete-group queries vs 2 at
    // sf0.01)
    "q245_nav_retrieval_e2e",
    // degree frame over a 10x graph built on the IVF path (200 nodes
    // crosses bruteMax = 96; the sf0.01 build is brute)
    "q246_nav_degree")
    // q197_containment has NO twin: the synthetic corpus's ~31-word
    // vocabulary means any fixed df cap is either empty or total at
    // 10x docs — the absolute-cap semantics are exercised at sf0.01
    // and in the TextVecSpec fixture instead

  /** Twins run on a derived `newSession` — own temp-view namespace over
    * the shared SparkContext — so their sf0.1 `prep` can never clobber
    * the sf0.01 views of base queries running concurrently on Verify's
    * thread pool. One derived session per root session, cached. */
  private val sf01Sessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()
  private def sf01Session(spark: SparkSession): SparkSession =
    sf01Sessions.computeIfAbsent(spark, s => s.newSession())

  /** The sf0.1 tables live next to whatever dir the driver passed
    * (TESTDATA.md: /root/testdata/sf{0.001,0.01,0.1}). Fail loudly if
    * absent — Verify records the failure in its sidecar instead of
    * letting the twin rows silently vanish. */
  private def sf01Dir(dir: String): String = {
    val sib = java.nio.file.Paths.get(dir).toAbsolutePath.normalize
      .resolveSibling("sf0.1")
    require(java.nio.file.Files.isDirectory(sib),
      s"sf0.1 twin rows need $sib alongside $dir")
    sib.toString
  }

  private lazy val sf01Twins: Map[String, (SparkSession, String) => DataFrame] =
    sf01TwinNames.map { n =>
      val base = baseQueries(n)
      (s"sf01_$n", (spark: SparkSession, dir: String) =>
        base(sf01Session(spark), sf01Dir(dir)))
    }.toMap

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ sf01Twins

  /** DuckDB-side twin: shadow every table the base oracle references
    * with a CTE reading the absolute sf0.1 parquet — CTEs take
    * precedence over same-named registered tables, so the base SQL runs
    * untouched against the larger data. Table-name detection is a
    * word-boundary match over the lowercase table names; SQL keywords
    * are uppercase in every oracle, so `part` never matches PARTITION
    * and `orders` never matches ORDER BY. An extra unused CTE would be
    * harmless, a missed one would make the twin silently compare sf0.01
    * against sf0.1 — hence match liberally. */
  private[graft] def oracleAtSf01(sql: String): String = {
    val used = tables.filter(t => s"\\b$t\\b".r.findFirstIn(sql).isDefined)
    require(used.nonEmpty, s"sf0.1 oracle rewrite found no table refs in: $sql")
    val ctes = used.map(t =>
      s"$t AS (SELECT * FROM read_parquet('/root/testdata/sf0.1/$t.parquet'))")
      .mkString(", ")
    val trimmed = sql.trim
    if (trimmed.take(4).equalsIgnoreCase("WITH"))
      s"WITH $ctes, ${trimmed.drop(4).trim}"
    else s"WITH $ctes $trimmed"
  }

  def oracleSql: Map[String, String] =
    baseOracleSql ++
      sf01TwinNames.map(n => s"sf01_$n" -> oracleAtSf01(baseOracleSql(n))).toMap
}
