package graft

import graft.functions.TextKernels
import graft.operators.{Ann, Dedup}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TextVecSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()

  // ---- kernel-level ----------------------------------------------------

  test("fingerprint64 normalizes whitespace and case") {
    assert(TextKernels.fingerprint64("Hello  World") == TextKernels.fingerprint64("hello world"))
    assert(TextKernels.fingerprint64("hello world") != TextKernels.fingerprint64("hello worlds"))
  }

  test("minhash estimates jaccard: identical > near-dup > disjoint") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "the quick brown fox jumps over the lazy cat again and again today"
    val c = "completely different words appear here nothing shared at all whatsoever ok"
    def sim(x: String, y: String): Double = {
      val sx = TextKernels.minhashSig(x, 128)
      val sy = TextKernels.minhashSig(y, 128)
      sx.zip(sy).count { case (p, q) => p == q } / 128.0
    }
    assert(sim(a, a) == 1.0)
    assert(sim(a, b) > 0.4)
    assert(sim(a, c) < 0.1)
  }

  test("property: minhash similarity tracks true shingle jaccard within 0.15") {
    // deterministic corpus of word-overlap pairs across the whole range
    for (overlap <- 0 to 10) {
      val a = (1 to 30).map(i => s"w$i").mkString(" ")
      val b = ((1 to (3 * overlap)).map(i => s"w$i") ++
        (100 until 100 + 30 - 3 * overlap).map(i => s"v$i")).mkString(" ")
      val sa = TextKernels.shingleHashes(a, 3).toSet
      val sb = TextKernels.shingleHashes(b, 3).toSet
      val trueJ = sa.intersect(sb).size.toDouble / sa.union(sb).size
      val ma = TextKernels.minhashSig(a, 256)
      val mb = TextKernels.minhashSig(b, 256)
      val est = ma.zip(mb).count { case (x, y) => x == y } / 256.0
      assert(math.abs(est - trueJ) < 0.15, s"overlap=$overlap true=$trueJ est=$est")
    }
  }

  test("simhash hamming: near-dup close, disjoint far") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "the quick brown fox jumps over the lazy cat again and again today"
    val c = "completely different words appear here nothing shared at all whatsoever ok"
    val hAB = TextKernels.hammingDistance64(TextKernels.simhash64(a), TextKernels.simhash64(b))
    val hAC = TextKernels.hammingDistance64(TextKernels.simhash64(a), TextKernels.simhash64(c))
    assert(hAB < hAC)
    assert(TextKernels.hammingDistance64(TextKernels.simhash64(a), TextKernels.simhash64(a)) == 0)
  }

  test("langId: stopword heuristic + CJK") {
    assert(TextKernels.langId("the cat is in the house and it is warm") == "en")
    assert(TextKernels.langId("der Hund ist nicht mit der Katze und ein Vogel") == "de")
    assert(TextKernels.langId("le chat est dans la maison et les chiens") == "fr")
    assert(TextKernels.langId("el perro es un animal y los gatos en la casa") == "es")
    assert(TextKernels.langId("你好世界") == "zh")
    assert(TextKernels.langId("zzz qqq xxx") == "und")
  }

  // ---- SQL surface -----------------------------------------------------

  test("vec_cosine over SQL: orthogonal, identical, opposite") {
    graft.functions.GeoFunctions.register(spark)
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("v", ArrayType(FloatType))))
    val df = spark.createDataFrame(Seq(
      Row(0, Seq(1.0f, 0.0f)), Row(1, Seq(0.0f, 1.0f)),
      Row(2, Seq(2.0f, 0.0f)), Row(3, Seq(-1.0f, 0.0f))).asJava, schema)
    df.createOrReplaceTempView("v")
    val rows = spark.sql("""
      SELECT a.id, b.id, vec_cosine(a.v, b.v) AS c FROM v a JOIN v b ON a.id < b.id
      ORDER BY a.id, b.id""").collect()
    val m = rows.map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(m((0, 1)) == 0.0)
    assert(m((0, 2)) == 1.0)
    assert(m((0, 3)) == -1.0)
  }

  test("exact dedup keeps lowest id per duplicate group") {
    import spark.implicits._
    val df = Seq((1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")).toDF("id", "text")
    val out = Dedup.exact(df, "id", "text").collect()
      .map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(out.toSeq == Seq((1, 3L), (2, 1L)))
  }

  test("exactKeepFirst keeps the full lowest-id row per distinct content") {
    import spark.implicits._
    val df = Seq((3, "aaa", "x3"), (1, "aaa", "x1"), (2, "bbb", "x2"), (4, "aaa", "x4"))
      .toDF("id", "text", "extra")
    val out = Dedup.exactKeepFirst(df, "id", "text").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(out.toSeq == Seq((1, "aaa", "x1"), (2, "bbb", "x2")))
  }

  test("minhash LSH finds planted near-duplicates and skips unrelated docs") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 7) "CHANGED" else s"word$i").mkString(" ")
    val other = (100 to 140).map(i => s"tok$i").mkString(" ")
    val df = Seq((1, base), (2, nearDup), (3, other)).toDF("id", "text")
    val pairs = Dedup.minhashNearDups(df, "id", "text", threshold = 0.5)
      .select("ida", "idb").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(pairs == Set((1, 2)))
  }

  test("ngram jaccard pairs match a brute-force computation") {
    import spark.implicits._
    val docs = Seq(
      (1, "a b c d e f g h"),
      (2, "a b c d e f g x"),     // shares 5 of 6+6-5 trigrams with doc 1
      (3, "p q r s t u v w"),
      (4, "p q r s t u v w"),     // exact dup of 3
      (5, "zz"))                  // sub-3-token: whole-text gram
    val df = docs.toDF("id", "text")
    def grams(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length < 3) Set(t) else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val brute = (for {
      (i, a) <- docs; (j, b) <- docs if i < j
      ga = grams(a); gb = grams(b)
      inter = (ga & gb).size; uni = (ga | gb).size
      if inter.toDouble / uni >= 0.5
    } yield (i, j, inter, uni)).toSet
    val got = Dedup.ngramJaccardPairs(df, "id", "text", threshold = 0.5)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    assert(got == brute && brute.nonEmpty)
    // maxDocFreq cap drops pairs only reachable through capped grams
    val capped = Dedup.ngramJaccardPairs(df, "id", "text", threshold = 0.5, maxDocFreq = 1)
    assert(capped.count() == 0)
  }

  test("minhash bucket cap bounds degenerate all-identical corpora") {
    import spark.implicits._
    // 60 identical docs: uncapped, every band holds one 60-doc bucket →
    // 16 * C(60,2) raw pairs; capped at 10 the self-join sees nothing
    val boiler = (1 to 60).map(i => (i, "the same boilerplate text repeated across docs"))
    val df = boiler.toDF("id", "text")
    val capped = Dedup.minhashCandidates(df, "id", "text", maxBucket = 10)
    assert(capped.count() == 0)
    val over = Dedup.oversizedBuckets(df, "id", "text", maxBucket = 10)
      .collect().map(r => r.getLong(2))
    assert(over.nonEmpty && over.forall(_ == 60L))
    // a normal-sized corpus is unaffected by the cap
    val mixed = ((1 to 5).map(i => (i, "alpha beta gamma delta epsilon zeta eta theta")) ++
      Seq((6, "totally different words here for the other bucket group"))).toDF("id", "text")
    val pairs = Dedup.minhashCandidates(mixed, "id", "text", maxBucket = 10)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(pairs == (for { a <- 1 to 5; b <- 1 to 5 if a < b } yield (a, b)).toSet)
  }

  test("simhash bucket cap bounds degenerate all-identical corpora") {
    import spark.implicits._
    // 60 identical docs: every band's 16-bit slice is identical, so each
    // of the 4 bands holds one 60-doc bucket. Uncapped that is
    // 4 * C(60,2) candidate pairs; capped at 10 the pair kernel sees
    // nothing — and FINISHES (the degenerate corpus must not blow up)
    val boiler = (1 to 60).map(i => (i, "the same boilerplate text repeated across docs"))
    val df = boiler.toDF("id", "text")
    val capped = Dedup.simhashNearDups(df, "id", "text", maxBucket = 10)
    assert(capped.count() == 0)
    // the audit companion reports exactly what the cap discarded:
    // every band, one bucket of size 60
    val over = Dedup.simhashOversizedBuckets(df, "id", "text", maxBucket = 10)
      .collect().map(r => r.getLong(2))
    assert(over.length == 4 && over.forall(_ == 60L))
    // a normal corpus is unaffected by the cap: identical pair at
    // hamming 0 survives, the disjoint doc pairs with nothing
    val mixed = Seq(
      (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3, "totally different words appear here nothing shared at all")).toDF("id", "text")
    val pairs = Dedup.simhashNearDups(mixed, "id", "text", maxBucket = 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    assert(pairs == Set((1, 2, 0)))
  }

  test("IVF index persists partitioned by list and search prunes to probed lists") {
    val dir = tempDir("graft_ivf").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(org.apache.spark.sql.functions.col("vec_id") < 5)
    val built = Ann.buildIvf(emb, nlist = 8)
    Ann.writeIvfIndex(built, dir)
    val loaded = Ann.readIvfIndex(spark, dir)
    assert(loaded.centroids.length == 8)
    // loaded-index search returns the same result as the in-memory index
    val a = Ann.ivfSearch(built, queries, k = 3, nProbe = 4).collect().map(_.toSeq).toSet
    val b = Ann.ivfSearch(loaded, queries, k = 3, nProbe = 4).collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
    // partition pruning: a list filter over the loaded index becomes a
    // PartitionFilter on the scan (only probed list= directories are read)
    val planStr = loaded.assigned
      .where(org.apache.spark.sql.functions.col("list").isin(0, 1))
      .queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters: ["), planStr)
    assert(!planStr.matches("(?s).*PartitionFilters: \\[\\s*\\].*"), planStr)
  }

  test("ivfSearchWhere: pre-filter equals brute force over the passing sub-corpus") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 4)
    val allowed = emb.where(col("label") % 3 =!= 0)
    val idx = Ann.buildIvf(emb.select("vec_id", "embedding"), nlist = 8, iters = 3)
    val got = Ann.ivfSearchWhere(idx, queries, k = 5, nProbe = 8, allowed)
      .collect().map(_.toSeq)
    // full probe -> EXACT filtered search: brute force over passing rows
    val want = Ann.bruteForceTopK(queries, allowed.select("vec_id", "embedding"), 5)
      .collect().map(_.toSeq)
    assert(got.toSet == want.toSet && got.length == 4 * 5)
    // pre-filter semantics: k survivors per query, every one passing
    val passing = allowed.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.forall(r => passing(r(1).asInstanceOf[Long])))
    // post-filtering an UNFILTERED top-5 would lose recall: at least one
    // query's unfiltered top-5 contains a disallowed id on this fixture
    val unfiltered = Ann.ivfSearch(idx, queries, k = 5, nProbe = 8)
      .collect().map(_.toSeq)
    assert(unfiltered.exists(r => !passing(r(1).asInstanceOf[Long])))
  }

  test("quantized IVF (SQ8): int8 lists, smaller on disk, full-probe rerank equals brute force") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 5)
    val qidx = Ann.buildIvfQ(emb, nlist = 8)
    // lists hold codes + scale, never floats
    assert(qidx.assigned.columns.toSeq == Seq("nid", "q", "qscale", "list"))
    assert(qidx.assigned.schema("q").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType))
    val exact = Ann.bruteForceTopK(queries, emb, 3)
    // quantized-only ranking at full probing: high recall, not exactness
    // (int8 noise can reorder near-ties)
    val qOnly = Ann.ivfSearchQ(qidx, queries, k = 3, nProbe = 8)
    assert(Ann.recall(qOnly, exact) >= 0.8)
    // full probing + full rerank must be EXACTLY brute force: the
    // candidate pool is the whole corpus and the final ranking is the
    // same float cosine with the same tie-break
    val n = emb.count().toInt
    val rr = Ann.ivfSearchQ(qidx, queries, k = 3, nProbe = 8,
      rerank = n, corpus = Some(emb))
    assert(rr.collect().map(_.toSeq).toSet == exact.collect().map(_.toSeq).toSet)
    // the persisted quantized lists carry meaningfully fewer bytes than
    // the float lists (codes are 1/4 the vector payload; parquet framing
    // keeps the ratio under the raw 4x, so assert a lenient 1.5x)
    val fidx = Ann.buildIvf(emb, nlist = 8)
    val fd = tempDir("graft_ivf_f").toString
    val qd = tempDir("graft_ivf_q").toString
    Ann.writeIvfIndex(fidx, fd)
    Ann.writeIvfIndex(qidx, qd)
    def parquetBytes(root: String): Long = {
      val out = collection.mutable.ArrayBuffer.empty[Long]
      java.nio.file.Files.walk(java.nio.file.Paths.get(root)).forEach { p =>
        if (p.toString.endsWith(".parquet")) out += java.nio.file.Files.size(p)
      }
      out.sum
    }
    val (fb, qb) = (parquetBytes(fd), parquetBytes(qd))
    assert(qb * 3 < fb * 2, s"quantized lists not smaller: $qb vs $fb")
    // the quantized index persists/loads through the same partitioned
    // writer and searches identically from disk
    val loaded = Ann.readIvfIndex(spark, qd)
    val fromDisk = Ann.ivfSearchQ(loaded, queries, k = 3, nProbe = 4)
      .collect().map(_.toSeq).toSet
    assert(fromDisk == Ann.ivfSearchQ(qidx, queries, k = 3, nProbe = 4)
      .collect().map(_.toSeq).toSet)
  }

  test("cosine near-dups: LSH banding finds planted duplicates, exact refine filters") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(32)(rnd.nextGaussian().toFloat)
    def jitter(v: Array[Float]): Array[Float] = v.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    val base = (0 until 40).map(i => i -> vec()).toMap
    // plant 5 near-duplicates (cos ~0.9999) with ids 100+i
    val rows = base.toSeq.map { case (i, v) => Row(i, v.toSeq) } ++
      (0 until 5).map(i => Row(100 + i, jitter(base(i)).toSeq))
    val schema = StructType(Seq(StructField("vec_id", IntegerType),
      StructField("embedding", ArrayType(FloatType))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq), schema)
    val got = Ann.cosineNearDups(df, threshold = 0.95)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got == (0 until 5).map(i => (i, 100 + i)).toSet)
  }

  test("simhash near-dups within hamming radius") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    // changing the LAST word alters only the final 3-word shingle —
    // measured hamming 0 with these kernels, inside any banding radius
    val nearDup = (1 to 40).map(i => if (i == 40) "CHANGED" else s"word$i").mkString(" ")
    val other = (100 to 140).map(i => s"tok$i").mkString(" ")
    val df = Seq((1, base), (2, nearDup), (3, other)).toDF("id", "text")
    // pigeonhole guard: banding is complete only below the band count
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDups(df, "id", "text", maxHamming = 4, bands = 4)
    }
    intercept[IllegalArgumentException] {
      Dedup.hammingPairs64(df.selectExpr("id", "CAST(id AS LONG) AS h"),
        "id", "h", maxHamming = 5, bands = 4)
    }
    val pairs = Dedup.simhashNearDups(df, "id", "text", maxHamming = 3)
      .select("ida", "idb").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(pairs == Set((1, 2)))
  }

  test("brute-force ANN ranks by cosine with deterministic tie-break") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", IntegerType), StructField("embedding", ArrayType(FloatType))))
    // q=(1,0); neighbors at decreasing cosine
    val df = spark.createDataFrame(Seq(
      Row(0, Seq(1.0f, 0.0f)),
      Row(1, Seq(1.0f, 0.1f)),  // cos ~0.995
      Row(2, Seq(1.0f, 1.0f)),  // cos ~0.707
      Row(3, Seq(0.0f, 1.0f)),  // cos 0
      Row(4, Seq(-1.0f, 0.0f))).asJava, schema) // cos -1
    val q = df.where("vec_id = 0")
    val out = Ann.bruteForceTopK(q, df, 3).collect()
      .map(r => (r.getInt(1), r.getInt(2))).sortBy(_._2)
    assert(out.toSeq == Seq((1, 1), (2, 2), (3, 3)))
  }

  test("ivfTopK achieves high recall on clustered vectors") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", IntegerType), StructField("embedding", ArrayType(FloatType))))
    // 4 well-separated clusters of 30 vectors each (orthogonal bases + noise)
    val rows = (0 until 120).map { i =>
      val c = i % 4
      val v = Array.tabulate(16) { d =>
        val base = if (d / 4 == c) 1.0 else 0.0
        (base + 0.05 * math.sin(i * 13 + d * 7)).toFloat
      }
      Row(i, v.toSeq)
    }
    val df = spark.createDataFrame(rows.asJava, schema)
    val q = df.where("vec_id < 4")
    val approx = Ann.ivfTopK(q, df, k = 5, nlist = 4, nProbe = 1)
    val exact = Ann.bruteForceTopK(q, df, k = 5)
    val r = Ann.recall(approx, exact)
    assert(r >= 0.9, s"recall $r")
  }

  test("lshTopK results are a subset of scored pairs with correct ranking semantics") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", IntegerType), StructField("embedding", ArrayType(FloatType))))
    val rows = (0 until 50).map { i =>
      Row(i, Seq.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }
    val df = spark.createDataFrame(rows.asJava, schema)
    val q = df.where("vec_id < 3")
    val out = Ann.lshTopK(q, df, 3, nPlanes = 4, nProbe = 4)
    val got = out.collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getInt(2) <= 3))
    // no self-matches
    assert(got.forall(r => r.getInt(0) != r.getInt(1)))
  }

  test("repetitionProfile: token/bigram multiset stats, sub-2-token docs") {
    import spark.implicits._
    val df = Seq((1L, "a a b a"), (2L, "x")).toDF("doc_id", "text")
    val got = operators.TextAnalysis.repetitionProfile(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // doc 1: tokens a,a,b,a; bigrams "a a","a b","b a"
    assert(got(0) == ((1L, 4L, 2L, 3L, 3L, 3L, 1L)))
    // doc 2: one token, no bigrams
    assert(got(1) == ((2L, 1L, 1L, 1L, 0L, 0L, 0L)))
  }

  test("sharedShingleStats: shared vs unique 3-gram counts, short-doc fallback") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat sat on the mat"), // shingles: 4
      (2L, "a cat sat on a rug"),     // shares "cat sat on"
      (3L, "zz yy")).toDF("doc_id", "text") // < 3 tokens → whole-text shingle
    val got = operators.Dedup.sharedShingleStats(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got(0) == ((1L, 4L, 1L)) && got(1) == ((2L, 4L, 1L)))
    assert(got(2) == ((3L, 1L, 0L)))
  }

  test("topTokens: per-group top-k with deterministic count-then-token tie order") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", "x x y z z"), (2L, "a", "z w"),
      (3L, "b", "q q")).toDF("doc_id", "source", "text")
    val got = operators.TextAnalysis.topTokens(df, "source", "text", k = 2)
      .orderBy("source", "rnk").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
    // group a: z=3, x=2, (y=1, w=1 cut); tie x vs nothing; group b: q=2
    assert(got.toSeq == Seq(("a", 1, "z", 3L), ("a", 2, "x", 2L), ("b", 1, "q", 2L)))
  }

  test("quantizeI8: half-away rounding, saturation at 127, zero vector") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", IntegerType), StructField("embedding", ArrayType(FloatType))))
    val rows = Seq(
      Row(1, Seq(1.0f, -0.5f, 0.25f)),
      Row(2, Seq(0.0f, 0.0f, 0.0f)))
    val df = spark.createDataFrame(rows.asJava, schema)
    val out = Ann.quantizeI8(df, "embedding").orderBy("vec_id").collect()
    // -0.5 → |63.5| + 0.5 → 64, half away from zero
    assert(out(0).getSeq[Byte](out(0).fieldIndex("q")) == Seq[Byte](127, -64, 32))
    assert(math.abs(out(0).getDouble(out(0).fieldIndex("qscale")) - 1.0 / 127) < 1e-12)
    assert(out(1).getSeq[Byte](out(1).fieldIndex("q")) == Seq[Byte](0, 0, 0))
    assert(out(1).getDouble(out(1).fieldIndex("qscale")) == 0.0)
  }

  test("quantized cosine stays within noise of exact cosine on random vectors") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(5)
    val schema = StructType(Seq(
      StructField("vec_id", IntegerType), StructField("embedding", ArrayType(FloatType))))
    val rows = (0 until 100).map(i => Row(i, Seq.fill(64)((rnd.nextFloat() - 0.5f) * 4)))
    val df = spark.createDataFrame(rows.asJava, schema)
    val checked = Ann.quantizeI8(df, "embedding")
      .select(Ann.cosineVsQuantized(org.apache.spark.sql.functions.col("embedding"),
        org.apache.spark.sql.functions.col("q")).as("c"))
      .collect().map(_.getDouble(0))
    assert(checked.forall(_ > 0.999))
  }

  // ---- tf-idf ----------------------------------------------------------

  test("tfidfTopTerms: rare terms outrank common ones; k and tie-break respected") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "common common rare common unique"),
      (2L, "common common common common"),
      (3L, "common rare rare")).toDF("id", "text")
    val got = TextAnalysis.tfidfTopTerms(docs, "id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    // doc 1: common tf=3·idf(ln(4/4)+1)=3.0 still tops unique's
    // 1·(ln(4/2)+1)=1.693 — tf dominates at these counts; unique (df=1)
    // outranks rare (df=2) for rank 2
    assert(got.contains((1L, 1, "common")))
    assert(got.contains((1L, 2, "unique")))
    // doc 3: rare tf=2·1.288=2.575 beats common 1·1.0
    assert(got.contains((3L, 1, "rare")))
    assert(got.contains((3L, 2, "common")))
    assert(got.count(_._1 == 1L) == 2) // k respected
  }

  // ---- winnowing fingerprints ------------------------------------------

  test("winnowing guarantee: docs sharing >= w+k-1 tokens share a fingerprint") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // k=5, w=4: any shared run of >= 8 tokens must share a fingerprint
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"one two three $shared four five six"),
      (2L, s"nine ten $shared eleven twelve thirteen fourteen"),
      (3L, "totally different content with no overlap at all here friend")).toDF("id", "text")
    val fps = TextAnalysis.winnowFingerprints(docs, "id", "text", k = 5, w = 4)
    val byDoc = fps.collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getString(1)).toSet).toMap
    assert((byDoc(1L) & byDoc(2L)).nonEmpty)
    assert((byDoc(1L) & byDoc(3L)).isEmpty)
    val pairs = TextAnalysis.winnowSharedPairs(docs, "id", "text", k = 5, w = 4,
      minShared = 1).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("winnowing short-doc degenerate: fewer than w windows selects the global min") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // 6 tokens, k=5 → 2 grams < w=4 windows → exactly one fingerprint
    val docs = Seq((1L, "a b c d e f")).toDF("id", "text")
    val fps = TextAnalysis.winnowFingerprints(docs, "id", "text", k = 5, w = 4).collect()
    assert(fps.length == 1)
  }

  // ---- k-means ---------------------------------------------------------

  test("kmeans recovers three well-separated clusters; Lloyd step is a full-corpus mean") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(7)
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
    // three orthogonal-ish anchors with small noise
    val anchors = Seq(
      Array.tabulate(16)(i => if (i < 5) 1f else 0f),
      Array.tabulate(16)(i => if (i >= 5 && i < 10) 1f else 0f),
      Array.tabulate(16)(i => if (i >= 10) 1f else 0f))
    val rows = (0L until 90L).map { id =>
      val a = anchors((id % 3).toInt)
      Row(id, a.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f).toSeq)
    }
    val df = spark.createDataFrame(rows.asJava, schema)
    val assigned = Ann.kmeans(df, k = 3, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    // every member of an anchor group lands in one cluster
    (0 until 3).foreach { g =>
      val labels = (0L until 90L).filter(_ % 3 == g).map(assigned).distinct
      assert(labels.size == 1, s"group $g split across $labels")
    }
    // and the three groups get three different clusters
    assert((0 until 3).map(g => assigned(g.toLong)).distinct.size == 3)
  }

  // ---- connected components --------------------------------------------

  test("connected components: 200-node chain collapses to one cluster") {
    import spark.implicits._
    // worst case for naive min-propagation (diameter 199); star rounds
    // must collapse it well inside the default iteration budget
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val cc = Dedup.connectedComponents(pairs, "a", "b").collect()
    assert(cc.length == 200)
    assert(cc.forall(_.getLong(1) == 0L))
  }

  test("connected components match brute-force union-find on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val n = 300
    val edges = Seq.fill(260)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // reference: classic union-find
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = (0 until n).map(i => i.toLong -> {
      // component id = min node of the set
      val root = find(i)
      (0 until n).filter(j => find(j) == root).min.toLong
    }).toMap
    val got = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // CC only reports nodes present in the pair graph
    val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
    assert(got.keySet == touched)
    touched.foreach(id => assert(got(id) == expected(id), s"node $id"))
  }

  test("connected components: maxIter exhaustion is loud, not a silent fixpoint") {
    import spark.implicits._
    // a 50-chain cannot converge in one round; the default contract
    // throws rather than returning a possibly-split assignment
    val pairs = (0L until 49L).map(i => (i, i + 1)).toDF("a", "b")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, "a", "b", maxIter = 1).collect()
    }
    assert(ex.getMessage.contains("maxIter=1"))
    // opting out returns the partial (warned) assignment instead
    val partial = Dedup.connectedComponents(pairs, "a", "b", maxIter = 1,
      failOnNonConvergence = false).collect()
    assert(partial.nonEmpty)
  }

  test("dedupSpans: keeper keeps the passage, others lose covered tokens only") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a0 s1 s2 s3 s4 z0"),  // keeper of the shared passage
      (1L, "a1 s1 s2 s3 s4 z1"),  // loses tokens covered by shared 3-grams
      (2L, "a2 w x y z q")        // nothing shared — untouched
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.dedupSpans(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    // shared 3-grams: 's1 s2 s3' (pos 1) and 's2 s3 s4' (pos 2) — in doc 1
    // they cover positions 1..4; 'a1 s1 s2' and 's3 s4 z1' are unique
    assert(got(0) == ((0L, "a0 s1 s2 s3 s4 z0", 6, 0)))
    assert(got(1) == ((1L, "a1 z1", 2, 4)))
    assert(got(2) == ((2L, "a2 w x y z q", 6, 0)))
  }

  test("dedupSpans: shorter-than-n docs and param guards") {
    import spark.implicits._
    val docs = Seq((0L, "x y"), (1L, "x y")).toDF("doc_id", "text")
    // 2-token docs have no 3-grams: identical docs still pass untouched
    val got = graft.operators.Dedup.dedupSpans(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
    assert(got.map(_.getString(1)).toSeq == Seq("x y", "x y"))
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.dedupSpans(docs, "doc_id", "text", n = 1)
    }
    // in-doc repetition alone (one distinct doc) never qualifies a gram
    val rep = Seq((0L, "p q r p q r p q r"), (1L, "other text here")).toDF("doc_id", "text")
    val gotRep = graft.operators.Dedup.dedupSpans(rep, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
    assert(gotRep(0).getString(1) == "p q r p q r p q r")
    // NULL text reads as empty text — the doc still appears in the output
    val withNull = Seq((0L, null.asInstanceOf[String]), (1L, "a b c"))
      .toDF("doc_id", "text")
    val gotNull = graft.operators.Dedup.dedupSpans(withNull, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
    assert(gotNull.length == 2 && gotNull(0).getString(1) == "")
  }

  test("dedupSpans withinDoc: repeated in-doc passages dedup to the first occurrence") {
    import spark.implicits._
    // 'p q r' occurs at pos 0, 3, 6 in doc 0 — occurrences 2 and 3 are
    // covered by non-keeper duplicated grams and die; the cross-doc copy
    // in doc 1 dies entirely (its grams all have earlier occurrences)
    val docs = Seq(
      (0L, "p q r p q r p q r tail0"),
      (1L, "p q r other1")).toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .dedupSpans(docs, "doc_id", "text", n = 3, withinDoc = true)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    // doc 0: grams 'p q r'(0), 'q r p'(1), 'r p q'(2) repeat at +3/+6 —
    // keepers are all in the first window, so positions 3..8 are covered;
    // 'q r tail0' etc are unique. kept: p q r (0-2) + tail0 (9)
    assert(got(0) == ((0L, "p q r tail0", 4, 6)))
    // doc 1: 'p q r' keeper is doc 0 pos 0 → positions 0-2 die
    assert(got(1) == ((1L, "other1", 1, 3)))
    // default mode on the same data: in-doc repeats survive, cross-doc dies
    val def0 = graft.operators.Dedup.dedupSpans(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
    assert(def0(0).getString(1) == "p q r p q r p q r tail0")
    assert(def0(1).getString(1) == "other1")
  }

  test("gopherFlags: each rule fires on its designed violation") {
    import spark.implicits._
    val good = (("the quick brown fox jumps over lazy dogs and cats " * 6) +
      "that have been with them").trim // 64 words, stopwords, all alpha
    val docs = Seq(
      (0L, good),
      (1L, "too short to pass"),                       // words_ok fails
      (2L, ("# " * 60).trim),                          // symbol + alpha fail
      (3L, (("line..." + "\n") * 9 + "ok").trim),      // ellipsis lines fail
      (4L, ("- bullet\n" * 10).trim),                  // bullet lines fail
      (5L, null.asInstanceOf[String])                  // null text → row kept
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.gopherFlags(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got.length == 6)
    def row(i: Int) = got(i)
    assert(row(0).getAs[Boolean]("words_ok") && row(0).getAs[Boolean]("stopwords_ok")
      && row(0).getAs[Boolean]("gopher_pass"))
    assert(!row(1).getAs[Boolean]("words_ok") && !row(1).getAs[Boolean]("gopher_pass"))
    assert(!row(2).getAs[Boolean]("symbol_ok") && !row(2).getAs[Boolean]("alpha_words_ok"))
    assert(!row(3).getAs[Boolean]("ellipsis_lines_ok"))
    assert(!row(4).getAs[Boolean]("bullet_lines_ok"))
    assert(!row(5).getAs[Boolean]("words_ok") && !row(5).getAs[Boolean]("gopher_pass"))
  }

  test("dedupParagraphs: first corpus occurrence wins, docs reassemble in order") {
    import spark.implicits._
    val docs = Seq(
      (0L, "intro\nalpha\nalpha"),     // in-doc dup: second alpha drops
      (1L, "intro\nbeta"),             // intro already seen in doc 0
      (2L, "beta\ngamma\n\ndelta"),    // beta seen; empty paragraph dropped
      (3L, "intro\nbeta")).toDF("doc_id", "text") // fully duplicate doc
    val got = graft.operators.Dedup.dedupParagraphs(docs, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(got(0) == ((0L, "intro\nalpha", 2, 1)))
    assert(got(1) == ((1L, "beta", 1, 1)))
    assert(got(2) == ((2L, "gamma\ndelta", 2, 1)))
    assert(got(3) == ((3L, "", 0, 2)))
  }

  test("dedupParagraphs: hash-keyed election ≡ by-text election; empty docs survive") {
    import spark.implicits._
    val docs = Seq(
      (0L, "intro\nalpha\nalpha"),
      (1L, "intro\nbeta"),
      (2L, "beta\ngamma\n\ndelta"),
      (3L, ""),            // no paragraphs at all — must NOT drop from output
      (4L, "\n\n"),        // separator-only — must NOT drop either
      (5L, "intro\nbeta")).toDF("doc_id", "text")
    def runIt(byText: Boolean) = graft.operators.Dedup
      .dedupParagraphs(docs, "doc_id", "text", byText = byText)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    val hashed = runIt(byText = false)
    val byText = runIt(byText = true)
    assert(hashed.toSeq == byText.toSeq)
    assert(hashed.length == 6) // one row per input doc, no row loss
    assert(hashed(3) == ((3L, "", 0, 0)))
    assert(hashed(4) == ((4L, "", 0, 0)))
    assert(hashed(5) == ((5L, "", 0, 2)))
  }

  test("IVF probe scorers: broadcast top-nProbe ≡ literal, including exact ties") {
    import spark.implicits._
    // 100 synthetic 8-d vectors; codebook of 80 centroids where every
    // even index DUPLICATES its successor (exact cosine ties), so the
    // tie rule (higher list index first, the literal scorer's
    // reverse(array_sort) order) is exercised on every query
    // vec_id 100 is ALL ZEROS: its cosine vs every centroid is NaN, and
    // both scorers must agree NaN sorts greatest (array_sort semantics)
    val queries = ((0L until 100L).map { i =>
      (i, Seq.tabulate(8)(d => (((i * 29 + d * 11) % 17) - 8).toFloat / 8f))
    } :+ (100L, Seq.fill(8)(0f))).toDF("vec_id", "embedding")
    val base = (0 until 40).map { c =>
      Array.tabulate(8)(d => (((c * 13 + d * 3) % 19) - 9).toFloat / 9f)
    }
    val cents = base.flatMap(v => Seq(v, v.clone())).toArray // 80, even≡odd pairs
    import org.apache.spark.sql.functions.col
    val idx = graft.operators.Ann.IvfIndex(cents,
      queries.select(col("vec_id").as("nid"), col("embedding").as("cv"),
        (col("vec_id") % 80).cast("int").as("list")))
    for (nProbe <- Seq(1, 3, 8)) {
      val lit = graft.operators.Ann.probeAssignmentsLiteral(idx, queries, nProbe)
        .select("qid", "list").collect().map(r => (r.getLong(0), r.getInt(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      val bc = graft.operators.Ann.probeAssignmentsBcast(idx, queries, nProbe)
        .select("qid", "list").collect().map(r => (r.getLong(0), r.getInt(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      assert(lit == bc, s"probe sets diverge at nProbe=$nProbe")
      bc.foreach { case (qid, probes) =>
        assert(probes.toSet.size == probes.size)
        if (qid == 100L)
          // all-NaN row: descending (NaN, list) order = highest lists first
          assert(probes == (0 until nProbe).map(79 - _),
            s"NaN probe order violated: $probes")
        else if (nProbe >= 2)
          // with duplicated centroids, the duplicate's partner must sit
          // adjacent: ties resolve to the higher index first on both paths
          assert(probes.head % 2 == 1 && probes(1) == probes.head - 1,
            s"tie order violated: $probes")
      }
    }
    // end-to-end: at FULL probing the broadcast-path search must equal
    // exact brute force over the same corpus (every list probed → the
    // candidate set is the whole corpus; same self-exclusion, same
    // (cos desc, nid asc) rank order)
    val q5 = queries.where(col("vec_id") < 5)
    val full = graft.operators.Ann.ivfSearch(idx, q5, k = 3, nProbe = 80)
      .collect().map(_.toSeq).toSet
    val bf = graft.operators.Ann.bruteForceTopK(q5, queries, 3)
      .collect().map(_.toSeq).toSet
    assert(full == bf && full.nonEmpty, s"full-probe ivfSearch != brute force")
  }

  test("semanticDedup: within-cluster near-dups drop, lowest id survives") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(1.0f, 0.0f)),   // exact dup of 0 -> dropped
      (3L, Seq(0.1f, 0.9f))    // cos to 1 = 0.9939 -> dropped at 0.95
    ).toDF("vec_id", "embedding")
    val cents = Array(Array(1.0f, 0.0f), Array(0.0f, 1.0f))
    val kept = graft.operators.Ann.semanticDedup(emb, cents, 0.95)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getInt(2)))
    assert(kept.toSeq == Seq((0L, 0), (1L, 1)))
    // at an unreachable threshold nothing drops
    assert(graft.operators.Ann.semanticDedup(emb, cents, 1.5).count() == 4)
  }

  test("kmeansAssignBcast / semanticDedupBcast: broadcast centroids ≡ folded literal") {
    import spark.implicits._
    val emb = (0L until 40L).map { i =>
      (i, Seq.tabulate(8)(d => (((i * 31 + d * 7) % 13) - 6).toFloat / 6f))
    }.toDF("vec_id", "embedding")
    val cents = (0 until 10).map { c =>
      Array.tabulate(8)(d => (((c * 17 + d * 5) % 11) - 5).toFloat / 5f)
    }.toArray
    val centDF = spark.createDataFrame(
      cents.toSeq.zipWithIndex.map { case (v, i) => (i, v.toSeq) })
      .toDF("cluster", "cv")
    val viaLit = graft.operators.Ann.kmeansAssign(emb, cents)
      .select("vec_id", "cluster").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val viaBcast = graft.operators.Ann.kmeansAssignBcast(emb, centDF)
      .select("vec_id", "cluster").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(viaLit.toSeq == viaBcast.toSeq)
    val dLit = graft.operators.Ann.semanticDedup(emb, cents, 0.8)
      .select("vec_id", "cluster").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val dBcast = graft.operators.Ann.semanticDedupBcast(emb, centDF, 0.8)
      .select("vec_id", "cluster").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(dLit.toSeq == dBcast.toSeq)
    assert(dLit.length < 40) // the modular fixture does contain near-dups
  }

  test("kmeansAssignTwoLevel: exact at full probing, high agreement when pruned") {
    import spark.implicits._
    val emb = (0L until 300L).map { i =>
      (i, Seq.tabulate(8)(d => (((i * 37 + d * 11) % 29) - 14).toFloat / 14f))
    }.toDF("vec_id", "embedding")
    val centDF = spark.createDataFrame((0 until 60).map { c =>
      (c, Seq.tabulate(8)(d => (((c * 13 + d * 3) % 23) - 11).toFloat / 11f))
    }).toDF("cluster", "cv")
    val exact = graft.operators.Ann.kmeansAssignBcast(emb, centDF)
      .select("vec_id", "cluster").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // nProbe = coarseK probes every cell -> must reproduce the flat argmax
    val full = graft.operators.Ann
      .kmeansAssignTwoLevel(emb, centDF, coarseK = 6, nProbe = 6)
      .select("vec_id", "cluster").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(full == exact)
    // pruned probing keeps every row and agrees on the large majority
    val pruned = graft.operators.Ann
      .kmeansAssignTwoLevel(emb, centDF, coarseK = 6, nProbe = 2)
      .select("vec_id", "cluster").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(pruned.size == 300)
    val agree = pruned.count { case (id, cl) => exact(id) == cl }
    // 2-of-6 probing on this adversarially scattered fixture recovers
    // ~80%; the assertion pins "large majority", not a knife edge
    assert(agree >= 210, s"two-level agreement too low: $agree/300")
  }

  test("kmeansAssignTwoLevel: layout-independent, keepVec=false, coarseK>k clamp") {
    import spark.implicits._
    val emb = (0L until 120L).map { i =>
      (i, Seq.tabulate(6)(d => (((i * 19 + d * 7) % 17) - 8).toFloat / 8f))
    }.toDF("vec_id", "embedding")
    val centRows = (0 until 25).map { c =>
      (c, Seq.tabulate(6)(d => (((c * 11 + d * 5) % 13) - 6).toFloat / 6f))
    }
    val centA = spark.createDataFrame(centRows).toDF("cluster", "cv").repartition(1)
    // same CONTENT, radically different layout: reversed row order, 7
    // hash partitions — the coarse quantizer must not move
    val centB = spark.createDataFrame(centRows.reverse).toDF("cluster", "cv")
      .repartition(7, org.apache.spark.sql.functions.col("cluster"))
    def assign(cents: org.apache.spark.sql.DataFrame) = graft.operators.Ann
      .kmeansAssignTwoLevel(emb, cents, coarseK = 5, nProbe = 2)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toSeq.sorted
    assert(assign(centA) == assign(centB))
    // keepVec=false: only (id, cluster) travels; same assignment
    val slim = graft.operators.Ann
      .kmeansAssignTwoLevel(emb, centA, coarseK = 5, nProbe = 2, keepVec = false)
    assert(slim.columns.toSeq == Seq("vec_id", "cluster"))
    assert(slim.collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq.sorted
      == assign(centA))
    // coarseK far above the centroid count clamps to a degenerate
    // one-cell-per-centroid layout and still matches the flat argmax
    val exact = graft.operators.Ann.kmeansAssignBcast(emb, centA)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val clamped = graft.operators.Ann
      .kmeansAssignTwoLevel(emb, centA, coarseK = 64, nProbe = 64)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(clamped == exact)
  }

  test("bigramCrossEntropy: corpus-model probabilities, short docs drop") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b"),   // bigram (a,b): c12=1 of c1(a)=2 -> -ln(1/2)
      (1L, "a c"),   // bigram (a,c): same
      (2L, "x")      // single token: no bigrams, drops out
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .bigramCrossEntropy(docs, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 2)
    assert(got(0) == ((0L, 1L, 0.693147)))
    assert(got(1) == ((1L, 1L, 0.693147)))
    // a doc made of the corpus's only repeated transition scores 0
    val certain = Seq((0L, "p q"), (1L, "p q"), (2L, "p q p q")).toDF("doc_id", "text")
    val s = graft.operators.TextAnalysis
      .bigramCrossEntropy(certain, "doc_id", "text")
      .where("doc_id = 0").collect()(0)
    // (p,q) is 4 of 4 transitions from p: -ln(1) = 0 exactly
    assert(s.getDouble(2) == 0.0)
  }

  test("bigramCrossEntropyWith: a pre-materialized model reproduces the inline path") {
    import spark.implicits._
    val docs = Seq((0L, "a b c"), (1L, "a b"), (2L, "b c a b"))
      .toDF("doc_id", "text")
    val inline = graft.operators.TextAnalysis
      .bigramCrossEntropy(docs, "doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // build-once-query-many: model written to parquet (the 100 TB shape),
    // read back, scored with ONE corpus scan
    val dir = tempDir("bigram_model").toString
    graft.operators.TextAnalysis.bigramModel(docs, "doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val viaModel = graft.operators.TextAnalysis
      .bigramCrossEntropyWith(docs, "doc_id", "text", spark.read.parquet(dir))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(inline.toSeq == viaModel.toSeq)
  }

  test("vec_normalize / vec_truncate: unit L2 and matryoshka prefixes") {
    graft.functions.GeoFunctions.register(spark)
    // 3-4 vector: norm 5, normalized (0.6, 0.8)
    val n = spark.sql("select vec_normalize(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))")
      .collect()(0).getSeq[Float](0)
    assert(n == Seq(0.6f, 0.8f))
    // zero vector unchanged (no NaN)
    assert(spark.sql("select vec_normalize(array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)))")
      .collect()(0).getSeq[Float](0) == Seq(0.0f, 0.0f))
    // truncation renormalizes over the KEPT prefix only
    val t = spark.sql("select vec_truncate(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT), " +
      "CAST(100.0 AS FLOAT)), 2)").collect()(0).getSeq[Float](0)
    assert(t == Seq(0.6f, 0.8f))
    // unit property after truncation
    val nrm = spark.sql("select vec_norm(vec_truncate(array(CAST(1.0 AS FLOAT), " +
      "CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)), 3))")
      .collect()(0).getDouble(0)
    assert(math.abs(nrm - 1.0) < 1e-6)
    intercept[Exception] {
      spark.sql("select vec_truncate(array(CAST(1.0 AS FLOAT)), 5)").collect()
    }
  }

  test("extractUrls / domainStats: regexp extraction and per-host counts") {
    import spark.implicits._
    val docs = Seq(
      (0L, "see http://a.com/x and https://b.org/y?z=1 done"),
      (1L, "nothing here"),
      (2L, "again http://a.com/other")).toDF("doc_id", "text")
    val urls = graft.operators.TextAnalysis.extractUrls(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3))).toSet
    assert(urls == Set(
      (0L, 0, "http://a.com/x", "a.com"),
      (0L, 1, "https://b.org/y?z=1", "b.org"),
      (2L, 0, "http://a.com/other", "a.com")))
    val stats = graft.operators.TextAnalysis.domainStats(docs, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(stats == Set(("a.com", 2L, 2L), ("b.org", 1L, 1L)))
  }

  test("hashedEmbedding: unit norm, similarity tracks token overlap, Ann-composable") {
    import spark.implicits._
    val docs = Seq(
      (0L, "apple banana cherry date elderberry fig grape"),
      (1L, "apple banana cherry date elderberry fig melon"), // 6/7 shared
      (2L, "x1 x2 x3 x4 x5 x6 x7"),                          // disjoint
      (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val sparse = graft.operators.TextAnalysis
      .hashedEmbedding(docs, "doc_id", "text", dim = 32)
    val norms = sparse.groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("val") *
          org.apache.spark.sql.functions.col("val")).as("n2"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(norms.keySet == Set(0L, 1L, 2L)) // empty/null docs: no rows
    norms.values.foreach(n2 => assert(math.abs(n2 - 1.0) < 1e-4, s"norm² $n2"))
    val vecs = graft.operators.TextAnalysis
      .hashedEmbeddingVec(docs, "doc_id", "text", dim = 32)
    assert(vecs.count() == 5)
    assert(vecs.where("doc_id = 3").head().isNullAt(1))
    val g = vecs.where("embedding IS NOT NULL")
      .withColumnRenamed("embedding", "embedding").withColumnRenamed("doc_id", "vec_id")
    val top = graft.operators.Ann.bruteForceTopK(
      g.where("vec_id = 0"), g, k = 2)
      .orderBy("rnk").collect().map(_.getLong(1)).toSeq
    assert(top.head == 1L, s"near-dup doc not nearest: $top") // overlap beats disjoint
  }

  test("knnGraph: exact at full probing; partial probing recall is sane") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Ann.bruteForceTopK(emb, emb, 3)
    val full = Ann.knnGraph(emb, k = 3, nlist = 4, nProbe = 4)
    assert(full.join(exact, Seq("qid", "nid", "rnk")).count() == exact.count(),
      "full-probe kNN graph must equal the brute-force graph row-for-row")
    val approx = Ann.knnGraph(emb, k = 3, nlist = 8, nProbe = 2)
    val rec = Ann.recall(approx, exact)
    assert(rec >= 0.5, s"partial-probe kNN graph recall too low: $rec")
    intercept[IllegalArgumentException] {
      Ann.knnGraph(emb, 3, nlist = 4, nProbe = 5)
    }
  }

  test("cosineClusters: transitive chains land in one component; isolates self-map") {
    import spark.implicits._
    // chain: v0 ~ v1 ~ v2 (adjacent cos ~0.995, ends cos ~0.98 — all
    // above 0.9) and two orthogonal isolates
    def v(a: Float, b: Float) = Seq(a, b, 0f, 0f)
    val df = Seq(
      (0L, v(1f, 0f)), (1L, v(0.995f, 0.0999f)), (2L, v(0.98f, 0.198f)),
      (10L, v(0f, 1f)), (11L, Seq(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val cl = Ann.cosineClusters(df, threshold = 0.99, nlist = 2, nProbe = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 0~1 and 1~2 connect (cos > .99) even though 0~2 may fall below:
    // the chain must still be ONE component — the thing SemDeDup can't
    // guarantee across centroid cells
    assert(cl(0L) == 0L && cl(1L) == 0L && cl(2L) == 0L, s"chain split: $cl")
    assert(cl(10L) == 10L && cl(11L) == 11L)
    // the edge primitive honors a < b emission and the threshold
    val edges = Ann.cosineEdges(df, 0.99, nlist = 2, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges.contains((0L, 1L)) && edges.contains((1L, 2L)))
    assert(!edges.exists { case (a, b) => a >= b })
    assert(!edges.contains((0L, 10L)))
  }

  test("exactKeepBest / clusterKeepBest: score elects, nulls lose, singletons keep") {
    import spark.implicits._
    val df = spark.sql("""SELECT * FROM VALUES
      (1L, 'same', 0.2D), (2L, 'same', 0.9D), (3L, 'same', CAST(NULL AS DOUBLE)),
      (4L, 'other', CAST(NULL AS DOUBLE)), (5L, 'tie', 1.0D), (6L, 'tie', 1.0D)
      AS t(id, content, score)""")
    val kept = Dedup.exactKeepBest(df, "id", "content", "score")
      .collect().map(_.getLong(0)).toSet
    // 'same' -> highest score (2); 'other' -> its only (null-score) row;
    // 'tie' -> lower id wins the tie
    assert(kept == Set(2L, 4L, 5L))
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val ck = Dedup.clusterKeepBest(df, "id", "score", pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    // component {1,2,3} elects 2; singletons elect themselves
    assert(ck(1L) == ((1L, 2L, false)) && ck(2L) == ((1L, 2L, true)))
    assert(ck(3L) == ((1L, 2L, false)))
    assert(ck(4L) == ((4L, 4L, true)) && ck(5L)._3 && ck(6L) == ((6L, 6L, true)))
  }

  test("dedupClusters: singletons map to themselves") {
    import spark.implicits._
    val docs = Seq((1L, "x"), (2L, "y"), (3L, "x"), (9L, "z")).toDF("doc_id", "text")
    val pairs = Seq((1L, 3L)).toDF("a", "b")
    val got = Dedup.dedupClusters(docs, "doc_id", pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 9L -> 9L))
  }

  test("dsirWeights: target-like docs score higher; empty docs keep a 0 row") {
    import spark.implicits._
    // target domain talks about "alpha beta"; raw has lookalikes and not
    val raw = Seq(
      (0L, "alpha beta alpha beta"),   // pure target vocabulary
      (1L, "zig zag zig zag"),         // pure off-domain vocabulary
      (2L, "alpha zag"),               // mixed
      (3L, ""),                        // empty: must keep a row, score 0
      (4L, null.asInstanceOf[String])) // null: same
      .toDF("doc_id", "text")
    val target = Seq((100L, "alpha beta alpha beta alpha beta")).toDF("doc_id", "text")
    val w = graft.operators.TextAnalysis
      .dsirWeights(raw, target, "doc_id", "text", buckets = 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(w.keySet == Set(0L, 1L, 2L, 3L, 4L))
    assert(w(3L) == ((0L, 0.0)) && w(4L) == ((0L, 0.0)))
    assert(w(0L)._2 > w(2L)._2 && w(2L)._2 > w(1L)._2,
      s"ordering violated: $w")
    // and the deterministic top-k selects the target-like doc first
    val top = graft.operators.TextAnalysis
      .dsirTopK(raw, target, "doc_id", "text", k = 1, buckets = 64)
      .collect()
    assert(top.length == 1 && top(0).getLong(0) == 0L)
  }

  test("clusterCoreset: prototypes take the center, diverse takes the fringe") {
    import spark.implicits._
    // two well-separated 2-D directions with graded off-axis noise:
    // ids 0..4 near +x (id 0 exactly on it), ids 10..14 near +y
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val rows = (0 until 5).map(i => (i.toLong, v(1.0, 0.05 * i))) ++
      (0 until 5).map(i => (10L + i, v(0.05 * i, 1.0)))
    val emb = rows.toDF("vec_id", "embedding")
    val cents = Array(Array(1.0f, 0.0f), Array(0.0f, 1.0f))
    val proto = graft.operators.Ann.clusterCoreset(emb, cents, perCluster = 2)
      .collect().map(r => (r.getInt(1), r.getInt(3)) -> r.getLong(0)).toMap
    // rank 1 of each cluster is the exactly-on-axis vector
    assert(proto((0, 1)) == 0L && proto((1, 1)) == 10L, s"prototypes: $proto")
    assert(proto.size == 4)
    val div = graft.operators.Ann.clusterCoreset(emb, cents, perCluster = 1,
      mode = "diverse")
      .collect().map(r => r.getInt(1) -> r.getLong(0)).toMap
    // the fringe is the most off-axis member (largest noise index)
    assert(div(0) == 4L && div(1) == 14L, s"diverse: $div")
    intercept[IllegalArgumentException] {
      graft.operators.Ann.clusterCoreset(emb, cents, 1, mode = "nope")
    }
  }

  test("trainQualityLr separates a hash-distinct vocabulary; bias scores empty docs") {
    import spark.implicits._
    // positives use one vocabulary, negatives another — with B=64 the
    // bucket sets are (almost surely) disjoint, so 3 GD steps must
    // already order every positive above every negative
    val pos = Seq("alpha beta gamma", "beta gamma alpha beta", "gamma alpha")
    val neg = Seq("zig zag zorro", "zag zig", "zorro zig zag zig")
    val docs = (pos.zipWithIndex.map { case (t, i) => (i.toLong, t, 1.0) } ++
      neg.zipWithIndex.map { case (t, i) => (100L + i, t, 0.0) })
      .toDF("doc_id", "text", "y")
    val (w, b) = graft.operators.TextAnalysis.trainQualityLr(
      docs, "doc_id", "text", "y", buckets = 64, iters = 3, eta = 1.0)
    assert(w.length == 64)
    val scored = graft.operators.TextAnalysis
      .scoreQualityLr(docs.union(Seq((999L, "", 0.0)).toDF("doc_id", "text", "y")),
        "doc_id", "text", w, b)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val worstPos = (0 until 3).map(i => scored(i.toLong)).min
    val bestNeg = (0 until 3).map(i => scored(100L + i)).max
    assert(worstPos > bestNeg, s"no separation: $scored")
    // empty doc: margin is exactly the bias
    assert(math.abs(scored(999L) - 1.0 / (1.0 + math.exp(-b))) < 1e-6)
    // weights are 6dp-clean (the determinism contract)
    assert(w.forall(x => math.abs(x * 1e6 - math.rint(x * 1e6)) < 1e-7))
  }

  test("ccnetBuckets: head gets reference-like docs, unscorable docs drop") {
    import spark.implicits._
    // reference: 'a' continues to 'b' 3x as often as to 'c', so docs
    // built on the rare (a,c) continuation genuinely score worse —
    // the ordering below is a probability gap, not an id tie-break
    val ref = Seq((100L, "a b a b a b a c")).toDF("doc_id", "text")
    val docs = Seq(
      (0L, "en", "a b a b a b"), // fluent under the model -> head
      (1L, "en", "a c a c"),     // rides the rare continuation -> tail
      (2L, "en", "q r s"),       // no model bigrams: unscorable, drops
      (3L, "fr", "a b a b"),     // own language partition -> bucket 1
      (4L, "en", "one"))         // < 2 tokens: drops
      .toDF("doc_id", "lang", "text")
    val b = graft.operators.TextAnalysis
      .ccnetBuckets(docs, "doc_id", "text", "lang", ref, parts = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(3))).toMap
    assert(b.keySet == Set(0L, 1L, 3L))
    assert(b(0L) == (("en", 1)), s"fluent doc not head: $b")
    assert(b(1L) == (("en", 2)), s"noisy doc not tail: $b")
    assert(b(3L) == (("fr", 1)))
  }

  test("ccnetBuckets: skewed language mix matches window-ntile, plans distributed") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(13)
    val vocab = Vector("a", "b", "c", "d")
    def text(): String = (0 until 4 + rnd.nextInt(5))
      .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    // English 50x heavier than the rest (the crawl shape that lands a
    // per-language window on one reducer), one singleton language, and
    // repeated texts so identical ppl values exercise the id tie-break
    val docs = ((0 until 1500).map(i => (i.toLong, "en", text())) ++
      (0 until 1500).map(i => (3000L + i, "en", "a b a c")) ++
      (0 until 30).map(i => (9000L + i, "fr", text())) ++
      Seq((9990L, "zz", "a b"))).toDF("doc_id", "lang", "text")
    val ref = docs.where($"lang" === "en").limit(200)
    val out = graft.operators.TextAnalysis
      .ccnetBuckets(docs, "doc_id", "text", "lang", ref, parts = 4)
    // NOTE: construction is no longer job-free — the lazy
    // localCheckpoint that pins ONE materialization of the
    // rank-assembly frame (the re-evaluation race caught at 6M rows in
    // Freq.exactQuantiles) triggers the upstream AQE stages via toRdd.
    // The correctness trade is deliberate: two consumers of a
    // sampled range exchange must never see different partitionings.
    // the assignment must not come from a per-language ntile window
    assert(!out.queryExecution.optimizedPlan.toString.contains("ntile"),
      "per-language ntile window is a single-reducer sort at scale")
    val rows = out.collect()
    // equivalence: the window-ntile law over the operator's own ppl
    val expected = rows.toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toDF("doc_id", "lang", "ppl")
      .withColumn("bucket", org.apache.spark.sql.functions.ntile(4).over(
        Window.partitionBy("lang").orderBy($"ppl", $"doc_id")))
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(rows.nonEmpty && rows.length == expected.size)
    rows.foreach { r =>
      assert(r.getInt(3) == expected(r.getLong(0)),
        s"doc ${r.getLong(0)}: got ${r.getInt(3)}, ntile ${expected(r.getLong(0))}")
    }
    // the rank-assembly frame must be materialized ONCE and shared by
    // both consumers — the lazy localCheckpoint surfaces as an RDD
    // scan in the plan (exchange REUSE is not a guarantee: the range
    // boundaries are sampled, so re-evaluations can disagree)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
      s"rank assembly must read one checkpointed materialization:\n$plan")
  }

  test("text_normalize: nfc composes, nfkc folds compatibility, strip_accents, errors") {
    import graft.functions.TextKernels.normalizeText
    assert(normalizeText("e\u0301cole", "nfc") == "\u00e9cole")
    assert(normalizeText("\ufb01le", "nfc") == "\ufb01le") // ligature survives NFC
    assert(normalizeText("\ufb01le", "nfkc") == "file")     // ...but not NFKC
    assert(normalizeText("\u00b2", "nfkc") == "2")
    assert(normalizeText("na\u00efve", "strip_accents") == "naive")
    assert(normalizeText("e\u0301cole", "strip_accents") == "ecole")
    intercept[IllegalArgumentException] { normalizeText("x", "NFD") }
    // SQL surface: null-safe, codegen'd
    graft.functions.GeoFunctions.register(spark)
    val r = spark.sql("SELECT text_normalize('e\u0301', 'nfc'), " +
      "text_normalize(CAST(NULL AS STRING), 'nfc')").head()
    assert(r.getString(0) == "\u00e9" && r.isNullAt(1))
  }

  test("bm25TopK: idf discriminates, rare terms win, misses vanish") {
    import spark.implicits._
    val docs = Seq(
      (0L, "rare common common"),        // has the rare term
      (1L, "common common common rare"), // rare term in a longer doc
      (2L, "common common"),             // common-only
      (3L, ""),                          // empty: counts toward N/avgdl only
      (4L, "other words entirely"))
      .toDF("doc_id", "text")
    val qs = Seq((0L, "rare"), (1L, "common rare common"), (2L, "absent"))
      .toDF("qid", "qtext")
    val out = graft.operators.TextAnalysis
      .bm25TopK(docs, "doc_id", "text", qs, "qid", "qtext", k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getInt(2), r.getLong(3), r.getDouble(4)))
      .toMap
    // query 'rare': only docs 0 and 1 match; doc 0 is shorter (dl 3 vs 4)
    // so its tf-normalized score is higher -> rank 1
    assert(out((0L, 0L))._1 == 1 && out((0L, 1L))._1 == 2)
    assert(out((0L, 0L))._3 > out((0L, 1L))._3)
    assert(!out.contains((0L, 2L)) && !out.contains((0L, 3L)))
    // duplicate query terms dedup: 'common rare common' scores docs 0-2
    // with n_terms counting DISTINCT matched terms
    assert(out((1L, 0L))._2 == 2 && out((1L, 2L))._2 == 1)
    // the unmatched query produces no rows at all
    assert(!out.keys.exists(_._1 == 2L))
    // scores are 6dp-rounded (the determinism contract)
    out.values.foreach { case (_, _, s) =>
      assert((s * 1e6).round / 1e6 == s, s"score not 6dp: $s")
    }
  }

  test("deflate_len + compressionProfile: ordering, bounds, empty text, levels, errors") {
    val sp = spark
    import sp.implicits._
    graft.functions.GeoFunctions.register(spark)
    val rep = "tok " * 500
    val rand = (0 until 10).map(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"x:$i".getBytes).map("%02x".format(_)).mkString).mkString
    val df = Seq((0L, rep), (1L, rand), (2L, ""), (3L, "plain short text"))
      .toDF("doc_id", "text")
    val prof = graft.operators.TextAnalysis.compressionProfile(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val (rawRep, cRep, ratioRep) = prof(0L)
    val (rawRand, cRand, ratioRand) = prof(1L)
    assert(rawRep == 2000 && rawRand == 320)
    // template text compresses MUCH better than hex noise
    assert(ratioRep < 0.05 && ratioRep > 0.0)
    assert(ratioRand > ratioRep * 5)
    // DEFLATE stored-block bound: never grows past raw + small overhead
    assert(cRep <= rawRep + 64 && cRand <= rawRand + 64)
    // empty text: a header-only zlib stream (a few bytes), ratio pinned 0
    val (rawE, cE, ratioE) = prof(2L)
    assert(rawE == 0L && cE > 0L && cE <= 16L && ratioE == 0.0)
    // level 0 (stored) >= level 9 (max effort) on compressible input
    val lvls = df.where($"doc_id" === 0L).selectExpr(
      "deflate_len(text, 0) AS l0", "deflate_len(text, 9) AS l9").head()
    assert(lvls.getLong(0) >= lvls.getLong(1))
    intercept[Exception] {
      df.selectExpr("deflate_len(text, 11)").collect()
    }
  }

  test("fuzzyDups: blocking bounds candidates, distance refines, mega-blocks drop") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (1L, "acme corp ltd"),      // dist 1 from id 2 (same block "acme")
      (2L, "acme corp ltd."),
      (3L, "acme industries"),    // same block, dist > 2 from 1/2
      (4L, "zenith corp ltd"),    // dist 1 from id 1 — but different block: missed
      (5L, "beta labs"),
      (6L, "beta labs")           // exact dup, dist 0
    ).toDF("id", "name")
    val out = graft.operators.Dedup.fuzzyDups(df, "id", "name", maxDist = 2)
      .orderBy("ida", "idb").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // (1,2) typo pair; (5,6) exact; (1,3)/(2,3) refined away; (1,4) blocked away
    assert(out == Seq((1L, 2L, 1), (5L, 6L, 0)))
    // cap: a block larger than maxBlock produces NO pairs (dropped whole)
    val big = (0 until 8).map(i => (10L + i, "hot common name")) ++
      Seq((30L, "cold one"), (31L, "cold one"))
    val capped = graft.operators.Dedup.fuzzyDups(
        big.toDF("id", "name"), "id", "name", maxDist = 2, maxBlock = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(capped == Seq((30L, 31L)))
  }

  test("jaro_winkler: DuckDB-pinned fixtures, bit-exact doubles") {
    import graft.functions.TextKernels.{jaroBytes, jaroWinklerBytes}
    def jb(a: String, b: String) = jaroBytes(
      a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    def jw(a: String, b: String) = jaroWinklerBytes(
      a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    // every value below is a DuckDB jaro[_winkler]_similarity probe
    // (2026-08-14), compared with == on the raw double
    assert(jb("martha", "marhta") == 0.9444444444444445)
    assert(jw("martha", "marhta") == 0.9611111111111111)
    assert(jw("dixon", "dicksonx") == 0.8133333333333332)
    assert(jb("", "") == 0.0 && jw("", "a") == 0.0)      // empty -> 0, not 1
    assert(jb("ab", "ba") == 0.0)                        // window max/2-1, unclamped match
    assert(jb("a", "a") == 1.0)                          // ...but >= 0
    assert(jb("abcd", "badc") == 0.8333333333333334)     // t = 4 mismatches / 2
    assert(jb("abcxyz", "bcaxyz") == 0.9444444444444445) // t = 3/2 = 1, INTEGER halving
    assert(jw("abcdefgh", "abcdxxxx") == 0.6666666666666666) // no boost at jaro <= 0.7
    assert(jw("x", "xxxxxxxxxx") == 0.7300000000000001)  // boost just above 0.7
    assert(jw("aaaaaab", "aaaaaac") == 0.9428571428571428) // prefix capped at 4
    assert(jb("héllo", "hello") == 0.8222222222222223)   // BYTES, not code points
    assert(jw("日本語", "日本誤") == 0.9555555555555556)
    // surface: SQL registry + Column API agree with the kernel
    val sp = spark
    import sp.implicits._
    val r = Seq(("martha", "marhta")).toDF("a", "b")
      .selectExpr("jaro_sim(a, b)", "jaro_winkler(a, b)").head()
    assert(r.getDouble(0) == 0.9444444444444445 && r.getDouble(1) == 0.9611111111111111)
  }

  test("damerau/jaccard/hamming: DuckDB-pinned fixtures") {
    import graft.functions.TextKernels.{damerauLevenshteinBytes => dl,
      jaccardBytes => jac, hammingBytes => ham}
    def b(s: String) = s.getBytes("UTF-8")
    // unrestricted DL, not OSA: 'ca' -> 'abc' is 2 (OSA would say 3)
    assert(dl(b("ca"), b("abc")) == 2)
    assert(dl(b("abc"), b("acb")) == 1)      // adjacent transposition
    assert(dl(b("héllo"), b("hello")) == 2)  // bytes, not code points
    assert(dl(b(""), b("abc")) == 3 && dl(b("abc"), b("")) == 3)
    assert(dl(b("kitten"), b("sitting")) == 3)
    // byte-SET jaccard: multiset collapse, byte-level
    assert(jac(b("abc"), b("bcd")) == 0.5)
    assert(jac(b("aab"), b("ab")) == 1.0)
    assert(jac(b("héllo"), b("hello")) == 0.5)
    intercept[IllegalArgumentException] { jac(b(""), b("ab")) }
    // hamming: equal-length only, like DuckDB
    assert(ham(b("abc"), b("abd")) == 1)
    intercept[IllegalArgumentException] { ham(b("ab"), b("abc")) }
    // SQL surface
    val sp = spark
    import sp.implicits._
    val r = Seq(("ca", "abc")).toDF("a", "b")
      .selectExpr("damerau_levenshtein(a, b)", "jaccard_ch(a, b)").head()
    assert(r.getInt(0) == 2 && r.getDouble(1) == 2.0 / 3.0)
  }

  test("jwDups: blocking + cap + prefix-boosted refine") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (1L, "acme corp ltd"),
      (2L, "acme corp ltd."),    // near-identical, same block
      (3L, "acme industries"),   // same block, low sim
      (4L, "beta labs"),
      (5L, "beta labs")          // exact dup -> sim 1.0
    ).toDF("id", "name")
    val out = graft.operators.Dedup.jwDups(df, "id", "name", minSim = 0.9)
      .orderBy("ida", "idb").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out.map(p => (p._1, p._2)) == Seq((1L, 2L), (4L, 5L)))
    assert(out(1)._3 == 1.0 && out(0)._3 > 0.9 && out(0)._3 < 1.0)
  }

  test("jsDivergence: zero on identity, ln2 on disjoint, symmetric, partition-free") {
    val sp = spark
    import sp.implicits._
    val a = Seq((1L, "alpha beta gamma delta"), (2L, "beta gamma epsilon"))
      .toDF("id", "t")
    val b = Seq((1L, "zeta eta theta"), (2L, "iota kappa zeta")).toDF("id", "t")
    def js(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      graft.operators.TextAnalysis.jsDivergence(x, y, "t", buckets = 64)
        .collect().head.getDouble(0)
    assert(js(a, a) == 0.0)
    // disjoint vocabularies -> ln 2, up to the 6dp term snapping
    assert(math.abs(js(a, b) - math.log(2)) < 2e-3, s"disjoint js ${js(a, b)}")
    assert(js(a, b) == js(b, a), "symmetry")
    // the decimal term sums make the statistic partitioning-independent
    assert(js(a.repartition(7), b.repartition(3)) == js(a, b))
    intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.jsDivergence(a, b, "t", buckets = 0)
    }
  }

  test("vocabGrowth: first-appearance curve, saturation, monotonicity") {
    val sp = spark
    import sp.implicits._
    // doc i introduces tokens {t0..t_i} plus shared 'base': vocab after
    // checkpoint c = (c+1 new tokens) + 1
    val docs = (0L to 9L).map(i =>
      (i, ("base" +: (0L to i).map(j => s"t$j")).mkString(" ")))
    val got = graft.operators.TextAnalysis.vocabGrowth(
        docs.toDF("id", "t").repartition(3), "id", "t", Seq(0L, 3L, 9L, 100L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 2L, 3L -> 5L, 9L -> 11L, 100L -> 11L), s"$got")
    intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.vocabGrowth(docs.toDF("id", "t"), "id", "t", Seq())
    }
    intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.vocabGrowth(docs.toDF("id", "t"), "id", "t", Seq(1L, 1L))
    }
  }

  test("gramNovelty: df=1 share per doc, n=1 token path, repeats count") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "shared run here plus unique1 tail1"),
      (2L, "shared run here plus unique2 tail2"),
      (3L, "totally fresh content nobody repeats"))
    // n=2 windows doc1: (shared run)(run here)(here plus)(plus unique1)
    // (unique1 tail1) -> first 3 shared with doc2, last 2 novel -> 2/5
    val got = graft.operators.Dedup.gramNovelty(
        docs.toDF("id", "t"), "id", "t", n = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    def rz6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(got == Set(
      (1L, 5L, 2L, rz6(2.0 / 5)), (2L, 5L, 2L, rz6(2.0 / 5)),
      (3L, 4L, 4L, 1.0)), s"$got")
    // n=1: plain tokens; 'shared run here plus' shared, one unique each
    val t1 = graft.operators.Dedup.gramNovelty(docs.toDF("id", "t"), "id", "t", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(t1 == Set((1L, 6L, 2L), (2L, 6L, 2L), (3L, 5L, 5L)), s"$t1")
    // in-doc repeats of a corpus-unique gram are each counted novel
    val rep = graft.operators.Dedup.gramNovelty(
        Seq((1L, "x y x y"), (2L, "a b")).toDF("id", "t"), "id", "t", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rep == Set((1L, 3L, 3L), (2L, 1L, 1L)), s"$rep")
  }

  test("zipfProfile: exact head counts, tie order, 6dp log-log coordinates") {
    val sp = spark
    import sp.implicits._
    // counts: a=4, b=3, c=3, d=1 — b/c tie breaks token-asc
    val docs = Seq("a b c", "a b c", "a b c d", "a").map(Tuple1(_)).toDF("t")
    val got = graft.operators.TextAnalysis.zipfProfile(docs.repartition(3), "t", 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    def l6(x: Double) = math.floor(math.log(x) * 1e6 + 0.5) / 1e6
    assert(got.toSeq == Seq(
      (1, "a", 4L, l6(1), l6(4)),
      (2, "b", 3L, l6(2), l6(3)),
      (3, "c", 3L, l6(3), l6(3))), s"got ${got.toSeq}")
    // topK beyond the vocabulary returns the whole table, ranks dense
    assert(graft.operators.TextAnalysis.zipfProfile(docs, "t", 100).count() == 4L)
    intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.zipfProfile(docs, "t", 0)
    }
  }

  test("hardNegatives: brute-force excluded top-k, multi-positive queries") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(53)
    val corpus = (0 until 60).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f).toSeq))
      .toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") < 3)
    // q0 has TWO positives, q1 one, q2 none — pad must cover the max
    val positives = Seq((0L, 5L), (0L, 9L), (1L, 11L))
      .toDF("qid", "pos")
    val idx = graft.operators.Ann.buildIvf(corpus, nlist = 4, iters = 3)
    val got = graft.operators.Ann.hardNegatives(idx, queries, positives,
        "qid", "pos", k = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force against the same full-probe exact search
    val excl = Map(0L -> Set(0L, 5L, 9L), 1L -> Set(1L, 11L), 2L -> Set(2L))
    val brute = graft.operators.Ann.bruteForceTopK(queries, corpus, 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1).toSeq.flatMap { case (q, xs) =>
        xs.sortBy(_._3).map(_._2).filterNot(excl(q)).take(4)
          .zipWithIndex.map { case (nid, i) => (q, nid, i + 1) }
      }.toSet
    assert(got == brute, s"got $got\nwant $brute")
    assert(!got.exists { case (q, n, _) => excl(q)(n) })
  }

  test("maximalSharedSpans: islands merge equals brute-force maximal intervals") {
    val sp = spark
    import sp.implicits._
    val n = 3
    val docs = Seq(
      // A and B share "p q r s" (two overlapping shared 3-grams -> one
      // merged span of length 4) and, separately, "k l m"
      (1L, "a1 p q r s b1 k l m c1"),
      (2L, "a2 p q r s b2 k l m c2"),
      // C shares only "q r s" with A/B (sub-span of their longer run)
      (3L, "q r s z3 z4"),
      // D shares nothing n-gram sized
      (4L, "k l x4 p q y4"),
      // E: shorter than n tokens -> no grams at all
      (5L, "t u"))
    def brute: Set[(Long, Int, Int, Int, Long, Long)] = {
      val toks = docs.map { case (id, s) => id -> s.split(" ") }.toMap
      val census = toks.toSeq.flatMap { case (id, ts) =>
        (0 to ts.length - n).map(p => (ts.slice(p, p + n).mkString(" "), id))
      }.groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size.toLong }
      (for {
        (id, ts) <- toks.toSeq
        marked = (0 to ts.length - n)
          .map(p => p -> census(ts.slice(p, p + n).mkString(" ")))
          .filter(_._2 >= 2)
        if marked.nonEmpty
        run <- marked.foldLeft(List.empty[List[(Int, Long)]]) {
          case (acc, (p, c)) => acc match {
            case h :: t if h.head._1 == p - 1 => ((p, c) :: h) :: t
            case _ => List((p, c)) :: acc
          }
        }
      } yield {
        val ps = run.map(_._1)
        (id, ps.min, ps.max + n - 1, ps.max - ps.min + n,
          run.size.toLong, run.map(_._2).min)
      }).toSet
    }
    val got = graft.operators.Dedup.maximalSharedSpans(
        docs.toDF("id", "t").repartition(3), "id", "t", n)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == brute, s"got $got\nwant $brute")
    // A/B must carry the merged 4-token span, C only its 3-token one
    assert(got.contains((1L, 1, 4, 4, 2L, 2L)) && got.contains((3L, 0, 2, 3, 1L, 3L)))
    assert(!got.exists(_._1 == 4L) && !got.exists(_._1 == 5L))
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.maximalSharedSpans(docs.toDF("id", "t"), "id", "t", 1)
    }
  }

  test("contaminatedSpans: maximal benchmark-covered intervals, brute force") {
    val sp = spark
    import sp.implicits._
    val n = 3
    val train = Seq(
      (1L, "a1 p q r s b1 k l m"),   // "p q r s" covered, "k l m" covered
      (2L, "p q r only partial x2"), // "p q r" covered, rest not
      (3L, "nothing shared here at all"),
      (4L, "k l m p q r s"))          // two runs: [0,2] and [3,6]
    val bench = Seq(Tuple1("zz p q r s yy"), Tuple1("k l m")).toDF("btext")
    def brute: Set[(Long, Int, Int, Int, Long)] = {
      val bg = bench.collect().map(_.getString(0)).flatMap { s =>
        val ts = s.split(" "); (0 to ts.length - n).map(p => ts.slice(p, p + n).toSeq)
      }.toSet
      (for {
        (id, s) <- train
        ts = s.split(" ")
        marked = (0 to ts.length - n).filter(p => bg(ts.slice(p, p + n).toSeq))
        if marked.nonEmpty
        run <- marked.foldLeft(List.empty[List[Int]]) { (acc, p) =>
          acc match {
            case h :: t if h.head == p - 1 => (p :: h) :: t
            case _ => List(p) :: acc
          }
        }
      } yield (id, run.min, run.max + n - 1, run.max - run.min + n,
        run.size.toLong)).toSet
    }
    val got = graft.operators.Dedup.contaminatedSpans(
        train.toDF("id", "t").repartition(3), "id", "t", bench, "btext", n)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getLong(4))).toSet
    assert(got == brute, s"got $got\nwant $brute")
    assert(got.contains((4L, 0, 2, 3, 1L)) && got.contains((4L, 3, 6, 4, 2L)))
    assert(!got.exists(_._1 == 3L))
  }

  test("jaccardJoinExact: prefix filter finds exactly the brute-force pairs") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(71)
    val vocab = (0 until 200).map(i => s"w$i")
    // clustered docs: 20 seeds, 5 jittered variants each (high overlap
    // within a cluster, low across) + singleton odds and ends
    val docs = (for {
      s <- 0 until 20
      v <- 0 until 5
    } yield {
      val base = rnd.shuffle(vocab).take(30)
      val jit = base.drop(v) ++ rnd.shuffle(vocab).take(v)
      ((s * 10 + v).toLong, jit.mkString(" "))
    }) ++ (0 until 15).map(i => (900L + i, rnd.shuffle(vocab).take(8).mkString(" ")))
    def brute(t: Double): Set[(Long, Long, Long)] = {
      val sets = docs.map { case (id, s) => id -> s.split(" ").toSet }
      (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        inter = (sa & sb).size.toLong
        if inter.toDouble >= t * (sa.size + sb.size - inter) - 1e-9
      } yield (ia, ib, inter)).toSet
    }
    Seq(0.5, 0.8, 1.0).foreach { t =>
      val got = graft.operators.Dedup.jaccardJoinExact(
          docs.toDF("id", "t"), "id", "t", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == brute(t), s"t=$t: got ${got.size}, brute ${brute(t).size}")
    }
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.jaccardJoinExact(docs.toDF("id", "t"), "id", "t", 0.0)
    }
  }

  test("containmentPairs: subset inclusion found where jaccard would miss it") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"),                                   // A ⊂ B
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota"), // superset
      (3L, "kappa lambda mu nu"),                                 // disjoint
      (4L, "kappa lambda mu nu xi"),                              // near-superset of 3
      (5L, "common common alpha")) // 'common' below, dup tokens collapse
    val got = Dedup.containmentPairs(docs.toDF("id", "t"), "id", "t",
        minContainment = 0.75, maxDf = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    // 1 in 2: shared 3, |1|=3 -> c_ab = 1.0 though jaccard = 3/9
    assert(got((1L, 2L)) == ((3L, 3L, 9L, 1.0, 0.333333)))
    // 3 in 4: shared 4, |3|=4 -> 1.0 / 0.8
    assert(got((3L, 4L)) == ((4L, 4L, 5L, 1.0, 0.8)))
    assert(!got.contains((1L, 3L)) && !got.contains((2L, 4L)))
    // the df cap removes a universal token from sizes AND intersections
    val capped = Dedup.containmentPairs(
        Seq((1L, "x shared"), (2L, "y shared"), (3L, "z shared"))
          .toDF("id", "t"), "id", "t", minContainment = 0.9, maxDf = 2)
      .collect()
    assert(capped.isEmpty) // 'shared' has df 3 > 2; nothing else overlaps
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(docs.toDF("id", "t"), "id", "t", 0.0)
    }
  }

  test("script_counts kernel == the five-regex formulation it fused") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(97)
    // codepoints across the five classes + Common/Greek/emoji noise,
    // including supplementary Han (U+20000+) and surrogate-pair emoji
    val pool: Array[Int] = Array('a', 'Z', 0x00E9, 0x0416, 0x044F, 0x4E2D,
      0x9FFF, 0x20000, 0x0627, 0x0645, '0', '7', ' ', '.', 0x03B1, 0x1F600)
    val docs = (0 until 200).map { i =>
      val n = rnd.nextInt(40)
      val sbuf = new java.lang.StringBuilder
      (0 until n).foreach(_ => sbuf.appendCodePoint(pool(rnd.nextInt(pool.length))))
      (i.toLong, sbuf.toString)
    }
    val df = docs.toDF("id", "text")
    val viaRegex = df.select(col("id"),
      length(regexp_replace(col("text"), "[^\\p{IsLatin}]", "")).as("l"),
      length(regexp_replace(col("text"), "[^\\p{IsCyrillic}]", "")).as("c"),
      length(regexp_replace(col("text"), "[^\\p{IsHan}]", "")).as("h"),
      length(regexp_replace(col("text"), "[^\\p{IsArabic}]", "")).as("a"),
      length(regexp_replace(col("text"), "[^0-9]", "")).as("d"))
    val viaKernel = df.select(col("id"),
      graft.functions.GeoFunctions.script_counts(col("text")).as("sc"))
      .select(col("id"), element_at(col("sc"), 1).as("l"),
        element_at(col("sc"), 2).as("c"), element_at(col("sc"), 3).as("h"),
        element_at(col("sc"), 4).as("a"), element_at(col("sc"), 5).as("d"))
    val x = viaRegex.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val y = viaKernel.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(x == y, s"first diff: ${x.find { case (k, v) => y(k) != v }}")
  }

  test("scriptProfile counts codepoints per script, incl. supplementary Han") {
    val sp = spark
    import sp.implicits._
    // "ab Яз 汉字 عر 12" + supplementary-plane Han U+20000 + emoji (no class)
    val mixed = "ab Яз 汉字 عر 12 " +
      new String(Character.toChars(0x20000)) + "😀"
    val df = Seq((1L, mixed), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val got = graft.operators.TextAnalysis.scriptProfile(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    // 17 codepoints (the UTF-16 string has 19 code units — the two
    // supplementary characters are surrogate pairs; length must count
    // codepoints, not code units)
    assert(mixed.length == 19 && mixed.codePointCount(0, mixed.length) == 17)
    assert(r1.getInt(1) == 17, s"n_chars ${r1.getInt(1)}")
    assert(r1.getInt(2) == 2, "latin")
    assert(r1.getInt(3) == 2, "cyrillic")
    assert(r1.getInt(4) == 3, "han incl. supplementary")
    assert(r1.getInt(5) == 2, "arabic")
    assert(r1.getInt(6) == 2, "digits")
    assert(math.abs(r1.getDouble(7) - 0.117647) < 1e-9) // rz6(2/17)
    // empty and null: zero counts, 0.0 fractions (no division blowup)
    Seq(2L, 3L).foreach { id =>
      val r = got(id)
      (1 to 6).foreach(i => assert(r.getInt(i) == 0))
      (7 to 11).foreach(i => assert(r.getDouble(i) == 0.0))
    }
  }
}
