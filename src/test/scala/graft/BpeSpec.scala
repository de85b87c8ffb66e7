package graft

import graft.operators.Bpe
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class BpeSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()

  test("learnFromCounts reproduces the classic Sennrich example merges") {
    // newest/widest share (e,s) and (s,t) at 9 each -> lexicographic
    // tie-break picks (e,s); then (es,t); then the lo/ow tie at 7 picks
    // (l,o); then (lo,w) at 7
    val counts = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val m = Bpe.learnFromCounts(counts, 4)
    assert(m.map(x => (x.left, x.right, x.count)) == Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L), ("lo", "w", 7L)))
    assert(m.map(_.rank) == Seq(1, 2, 3, 4))
  }

  test("the replace law on immediate repeats: aaaa -> [aa, a, a]") {
    val m = Bpe.learnFromCounts(Seq(("aaaa", 1L)), 1)
    assert(m.head.left == "a" && m.head.right == "a" && m.head.count == 3L)
    import spark.implicits._
    val toks = Bpe.tokenize(Seq((0L, "aaaa")).toDF("id", "t"), "id", "t", m)
      .head().getSeq[String](1)
    assert(toks == Seq("aa", "a", "a"), s"law corner drifted: $toks")
  }

  test("vocabulary exhaustion returns fewer merges, never loops") {
    val m = Bpe.learnFromCounts(Seq(("ab", 1L)), 10)
    assert(m.length == 1 && m.head.merged == "ab")
    assert(Bpe.learnFromCounts(Seq(("a", 1L)), 3).isEmpty)
  }

  test("vocab ids: base chars first in binary order, merges by rank; OOV is NULL") {
    import spark.implicits._
    val docs = Seq((0L, "low lower newest"), (1L, "newest newest"))
      .toDF("doc_id", "text")
    val merges = Bpe.learn(docs, "text", numMerges = 2) // (w,e), (e,we)
    val v = Bpe.vocab(docs, "text", merges)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // base chars of {low, lower, newest}: e l n o r s t w -> ids 0..7
    assert(v("e") == 0 && v("l") == 1 && v("w") == 7)
    assert(v("we") == 8 && v("ewe") == 9) // merges at B + rank - 1
    val ids = Bpe.tokenizeIds(
      Seq((5L, "low zebra")).toDF("doc_id", "text"), "doc_id", "text", merges, v
        .toSeq.toDF("token", "token_id"))
      .orderBy("pos").collect()
    // 'low' -> l,o,w all in vocab; 'zebra' has z/b/a/r... z,b,a OOV
    assert(ids.take(3).map(_.getString(2)).toSeq == Seq("l", "o", "w"))
    assert(ids.take(3).forall(!_.isNullAt(3)))
    val zebraToks = ids.drop(3)
    assert(zebraToks.exists(_.isNullAt(3)), "OOV symbols must surface as NULL ids")
    assert(zebraToks.filter(r => r.getString(2) == "r" || r.getString(2) == "e")
      .forall(!_.isNullAt(3)))
  }

  test("merge artifact roundtrips; truncation fails loudly") {
    import spark.implicits._
    val docs = Seq((0L, "low lower newest"), (1L, "newest newest"))
      .toDF("doc_id", "text")
    val merges = Bpe.learn(docs, "text", numMerges = 3)
    val dir = tempDir("bpe_merges").toString
    Bpe.saveMerges(docs, merges, dir)
    assert(Bpe.loadMerges(spark, dir) == merges)
    // corrupt: drop rank 2 -> gap must throw
    val df = spark.read.parquet(dir).where("rank <> 2")
    val cut = tempDir("bpe_merges_cut").toString
    df.write.mode("overwrite").parquet(cut)
    val e = intercept[IllegalArgumentException] {
      Bpe.loadMerges(spark, cut)
    }
    assert(e.getMessage.contains("gaps"))
  }

  test("tokenCounts and tokenize agree with the driver law end-to-end") {
    import spark.implicits._
    val docs = Seq(
      (0L, "low lower newest"),
      (1L, ""),
      (2L, null.asInstanceOf[String]),
      (3L, "newest newest")).toDF("doc_id", "text")
    val merges = Bpe.learn(docs, "text", numMerges = 4)
    // counts: newest 3, low 1, lower 1. Round 1: we = 3+1 = 4. Then the
    // 3-count ties resolve lexicographically: (e,we), (ewe,s), (ewes,t)
    assert(merges.map(m => (m.left, m.right, m.count)) == Seq(
      ("w", "e", 4L), ("e", "we", 3L), ("ewe", "s", 3L), ("ewes", "t", 3L)))
    val cnt = Bpe.tokenCounts(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    // low -> [l,o,w]; lower -> [l,o,we,r]; newest -> [n,ewest]
    assert(cnt(0L) == ((3, 3 + 4 + 2)))
    assert(cnt(1L) == ((0, 0)) && cnt(2L) == ((0, 0)))
    assert(cnt(3L) == ((2, 4)))
    val toks = Bpe.tokenize(docs, "doc_id", "text", merges)
      .where("doc_id = 0").head().getSeq[String](1)
    assert(toks == Seq("l", "o", "w", "l", "o", "we", "r", "n", "ewest"))
    // the distributed word-count stage matches a local count, capped
    // deterministically
    val wc = Bpe.wordCounts(docs, "text", maxWords = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(wc == Set(("newest", 3L), ("low", 1L)))
  }
}
