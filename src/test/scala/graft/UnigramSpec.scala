package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Unigram-LM trainer (operators.Unigram): the EM/Viterbi law, pruning,
  * and the tokenizeIds output-contract parity with the BPE path. */
class UnigramSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()

  import graft.operators.Unigram

  test("viterbi prefers high-probability long pieces; ties take the longer last piece") {
    // scores: 'ab' strongly preferred over 'a'+'b'
    val scores = Map("a" -> -3.0, "b" -> -3.0, "ab" -> -1.0, "ba" -> -5.0)
    assert(Unigram.segment("abab", scores, 2) == Seq("ab", "ab"))
    // tie case: 'aa' = -2.0 equals 'a'+'a' = -2.0; smallest split start
    // wins -> the single longer piece
    val tie = Map("a" -> -1.0, "aa" -> -2.0)
    assert(Unigram.segment("aa", tie, 2) == Seq("aa"))
    // reconstruction invariant
    val words = Seq("customer", "window", "stream", "a")
    val m = Unigram.learnFromCounts(words.map(_ -> 5L), iters = 2,
      maxPieceLen = 4, maxPieces = 30)
    words.foreach { w =>
      assert(Unigram.segment(w, m.scores, m.maxPieceLen).mkString == w)
    }
  }

  test("EM prunes unused multi-codepoint pieces, keeps all single codepoints") {
    val counts = Seq(("abab", 100L), ("abac", 50L), ("zz", 1L))
    val m = Unigram.learnFromCounts(counts, iters = 2, maxPieceLen = 3,
      maxPieces = 0)
    val pieces = m.pieces.map(_.piece).toSet
    // every codepoint of the corpus survives
    assert(Set("a", "b", "c", "z").subsetOf(pieces))
    // dominant bigram survives with positive usage
    val ab = m.pieces.find(_.piece == "ab")
    assert(ab.exists(_.count > 0L), s"expected 'ab' used: ${m.pieces}")
    // pruned pieces are really gone: everything remaining is a single
    // codepoint or was used in the final E-step
    assert(m.pieces.forall(p => p.count > 0L || p.piece.length == 1),
      s"unused multi-char piece survived: ${m.pieces.filter(p => p.count == 0L && p.piece.length > 1)}")
  }

  test("tokenizeIds: BPE output contract parity on a shared single-char vocab") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "ab ba"), (2L, "aa"), (3L, "")).toDF("doc_id", "text")
    // BPE with ZERO merges tokenizes to single chars with ids assigned
    // in binary order from 0 — exactly a unigram model whose pieces are
    // the single chars; the two paths must emit IDENTICAL rows
    val bpeVocab = graft.operators.Bpe.vocab(docs, "text", Seq.empty)
    val bpe = graft.operators.Bpe.tokenizeIds(docs, "doc_id", "text",
        Seq.empty, bpeVocab)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getInt(3))).toSet
    val m = Unigram.learnFromCounts(
      Seq(("ab", 2L), ("ba", 1L), ("aa", 1L)), iters = 1,
      maxPieceLen = 1, maxPieces = 0)
    val uni = Unigram.tokenizeIds(docs, "doc_id", "text", m)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getInt(3))).toSet
    assert(uni == bpe, s"paths diverge: ${uni.diff(bpe)} / ${bpe.diff(uni)}")
  }

  test("executor-side tokenization equals the driver-side segment() walk") {
    val sp = spark
    import sp.implicits._
    // the q224/q225 fixture shape: repeated-vocabulary docs plus a
    // foreign word ('Zq') the model never saw
    val train = (0L until 200L).map(i =>
      (i, s"hash join stream w${i % 7} hash")).toDF("doc_id", "text")
    val m = Unigram.learn(train, "text", iters = 2, maxPieceLen = 4,
      maxPieces = 40)
    val docs = train.unionByName(Seq((999L, "hash Zq"), (1000L, ""))
      .toDF("doc_id", "text"))
    // driver-side reference: per doc, segment each word with the pure law
    val expected = docs.collect().flatMap { r =>
      val id = r.getLong(0)
      val ws = Option(r.getString(1)).getOrElse("").split(" ").filter(_.nonEmpty)
      val pieces = ws.flatMap(w => Unigram.segmentOrChars(w, m.scores, m.maxPieceLen))
      pieces.zipWithIndex.map { case (p, pos) => (id, pos, p) }
    }.toSet
    val got = Unigram.tokenizeIds(docs, "doc_id", "text", m)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got == expected,
      s"executor path diverges: ${got.diff(expected).take(5)} / ${expected.diff(got).take(5)}")
    // tokenCounts agrees with the same reference
    val expCounts = docs.collect().map { r =>
      val id = r.getLong(0)
      val ws = Option(r.getString(1)).getOrElse("").split(" ").filter(_.nonEmpty)
      (id, ws.length.toLong,
        ws.map(w => Unigram.segmentOrChars(w, m.scores, m.maxPieceLen).length.toLong).sum)
    }.toSet
    val gotCounts = Unigram.tokenCounts(docs, "doc_id", "text", m)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotCounts == expCounts)
    // the scale contract itself: no corpus-sized collect can hide in a
    // lazy plan — tokenization must stay a single uninterrupted plan
    // (mapPartitions), which the analyzed tree proves by containing the
    // executor-side node and no LocalRelation of segmented words
    val plan = Unigram.tokenizeIds(docs, "doc_id", "text", m)
      .queryExecution.analyzed.toString
    assert(plan.contains("MapPartitions"),
      s"expected executor-side MapPartitions in the plan:\n$plan")
  }

  test("tokenize: shuffle-free array form == flattened tokenizeIds; BPE contract shape") {
    val sp = spark
    import sp.implicits._
    val train = Seq((1L, "hash join hash stream"), (2L, "join window"))
      .toDF("doc_id", "text")
    val m = Unigram.learn(train, "text", iters = 2, maxPieceLen = 4)
    val docs = train.unionByName(Seq((9L, "hash Zq"), (10L, ""),
      (11L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val arr = Unigram.tokenize(docs, "doc_id", "text", m)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // every doc keeps a row; empty/NULL text gives an empty array
    assert(arr.keySet == Set(1L, 2L, 9L, 10L, 11L))
    assert(arr(10L).isEmpty && arr(11L).isEmpty)
    // equals the positional form flattened in pos order
    val byIds = Unigram.tokenizeIds(docs, "doc_id", "text", m)
      .orderBy("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    docs.collect().map(_.getLong(0)).foreach { id =>
      assert(arr(id) == byIds.getOrElse(id, Seq.empty),
        s"doc $id: ${arr(id)} != ${byIds.getOrElse(id, Seq.empty)}")
    }
    // the plan is map-only: no exchange anywhere
    val plan = Unigram.tokenize(docs, "doc_id", "text", m)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"tokenize must be shuffle-free:\n$plan")
  }

  test("saveModel/loadModel round-trips; loader fails loudly on broken artifacts") {
    val sp = spark
    import sp.implicits._
    val train = Seq((1L, "spark shuffle spark sort"), (2L, "spark codegen"))
      .toDF("doc_id", "text")
    val m = Unigram.learn(train, "text", iters = 2, maxPieceLen = 3)
    val dir = tempDir("graft-unigram-").toString
    Unigram.saveModel(sp, m, dir)
    val loaded = Unigram.loadModel(sp, dir)
    assert(loaded.maxPieceLen == m.maxPieceLen)
    assert(loaded.pieces == m.pieces, "loaded pieces must equal the trained model")
    // tokenization under the loaded model is identical
    val a = Unigram.tokenizeIds(train, "doc_id", "text", m).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.get(3))).toSet
    val b = Unigram.tokenizeIds(train, "doc_id", "text", loaded).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.get(3))).toSet
    assert(a == b)
    // duplicate piece -> loud
    val dupDir = tempDir("graft-unigram-dup-").toString
    Seq(("a", 1L, -1.0), ("a", 2L, -2.0)).toDF("piece", "cnt", "logprob")
      .write.parquet(s"$dupDir/pieces")
    graft.util.FsIO.writeStringAtomic(sp,
      new org.apache.hadoop.fs.Path(dupDir, "_unigram_params.json"),
      """{"maxPieceLen":3}""")
    assertThrows[IllegalArgumentException](Unigram.loadModel(sp, dupDir))
    // broken closure ('ab' without 'b') -> loud
    val gapDir = tempDir("graft-unigram-gap-").toString
    Seq(("a", 1L, -1.0), ("ab", 2L, -2.0)).toDF("piece", "cnt", "logprob")
      .write.parquet(s"$gapDir/pieces")
    graft.util.FsIO.writeStringAtomic(sp,
      new org.apache.hadoop.fs.Path(gapDir, "_unigram_params.json"),
      """{"maxPieceLen":3}""")
    assertThrows[IllegalArgumentException](Unigram.loadModel(sp, gapDir))
    // missing sidecar -> loud
    val noSide = tempDir("graft-unigram-ns-").toString
    Seq(("a", 1L, -1.0)).toDF("piece", "cnt", "logprob")
      .write.parquet(s"$noSide/pieces")
    assertThrows[java.io.IOException](Unigram.loadModel(sp, noSide))
  }

  test("tokenizeIds: positions are contiguous per doc, OOV chars get null ids") {
    val sp = spark
    import sp.implicits._
    val train = Seq((1L, "hash join hash")).toDF("doc_id", "text")
    val m = Unigram.learn(train, "text", iters = 2, maxPieceLen = 4)
    // 'Q' and 'x' were never seen: the word falls back to single
    // codepoints and the unseen ones carry NULL ids
    val docs = Seq((7L, "hash Qx join")).toDF("doc_id", "text")
    val rows = Unigram.tokenizeIds(docs, "doc_id", "text", m)
      .orderBy("pos").collect()
    assert(rows.map(_.getInt(1)).toSeq == rows.indices.toSeq,
      "positions must be 0-based and contiguous")
    val oov = rows.filter(_.isNullAt(3)).map(_.getString(2)).toSet
    assert(oov == Set("Q", "x"), s"expected exactly the unseen chars OOV: $oov")
    // reconstruction across the whole doc
    assert(rows.map(_.getString(2)).mkString == "hashQxjoin")
  }
}
