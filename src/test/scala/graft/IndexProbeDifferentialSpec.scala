package graft

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized differential of the persisted-index probes against their
  * one-shot references: [[Dedup.hammingIndexPairs]] against
  * [[Dedup.hammingPairs64]] and [[Dedup.lshIndexCandidates]] against
  * [[Dedup.minhashCandidates]], each reference run over history ∪ batch
  * and restricted to pairs of two distinct non-null ids at least one of
  * which is a batch id. Fixtures carry NULL ids, NULL fingerprints and
  * texts, and ids repeated across history and batch with the same
  * content; every probe runs with and without the `maxBucket` cap and in
  * both join shapes (`broadcastMaxRows = 0` forces the shuffle one). */
class IndexProbeDifferentialSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()

  private type Id = java.lang.Long

  /** (history, batch) rows of (id, content): families of near-identical
    * content with sizes 2..12, so some buckets pass a cap of 5 and some
    * do not; plus NULL ids, NULL contents and three batch ids that
    * history already holds with the same content */
  private def fixture[C](seed: Int, family: Int => C,
      variant: (C, scala.util.Random) => C): (Seq[(Id, C)], Seq[(Id, C)]) = {
    val rnd = new scala.util.Random(seed)
    val sizes = Seq(2, 3, 4, 5, 7, 9, 12)
    val rows = sizes.zipWithIndex.flatMap { case (n, f) =>
      Seq.fill(n)(variant(family(f), rnd)) }
    val shuffled = rnd.shuffle(rows).zipWithIndex
      .map { case (c, i) => (Long.box(i.toLong), c) }
    val (hist, batch) = shuffled.partition(_._1 % 3 != 0)
    val nulls = Seq[(Id, C)]((null, family(0)), (null, null.asInstanceOf[C]),
      (Long.box(900L), null.asInstanceOf[C]), (Long.box(901L), null.asInstanceOf[C]))
    (hist ++ nulls.take(3), batch ++ nulls.drop(1) ++ hist.take(3))
  }

  private def frame(rows: Seq[(Id, Any)], contentType: DataType): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, c) => Row(i, c) }: _*),
      StructType(Seq(StructField("id", LongType), StructField("c", contentType))))

  private def restrict(ref: DataFrame, batch: Seq[(Id, Any)]): Set[Seq[Any]] = {
    val batchIds = batch.flatMap(r => Option(r._1)).toSet[Any]
    ref.collect().map(_.toSeq).toSet.filter { r =>
      r(0) != null && r(1) != null && r(0) != r(1) && (batchIds(r(0)) || batchIds(r(1)))
    }
  }

  test("hammingIndexPairs == hammingPairs64 restricted to batch pairs: bands 1, 2, 4") {
    val (hist, batch) = fixture[Id](11,
      f => Long.box(new scala.util.Random(100 + f).nextLong()),
      (base, rnd) => Long.box((0 until math.max(0, rnd.nextInt(4) - 1))
        .foldLeft(base.longValue)((h, _) => h ^ (1L << rnd.nextInt(64)))))
    val all = frame(hist ++ batch, LongType)
    for (bands <- Seq(1, 2, 4)) {
      val maxHamming = bands - 1
      val path = tempDir("hamdiff").toString + "/idx"
      val (h1, h2) = hist.splitAt(hist.size / 2)
      Dedup.writeHammingIndex(frame(h1, LongType), "id", "c", path, bands = bands)
      Dedup.appendToHammingIndex(spark, path, frame(h2, LongType), "id", "c")
      val results = for (maxBucket <- Seq(10000, 5); bmr <- Seq(4000000L, 0L)) yield {
        val ref = restrict(Dedup.hammingPairs64(all, "id", "c", maxHamming,
          bands, maxBucket), batch)
        val got = Dedup.hammingIndexPairs(spark, path, frame(batch, LongType),
            "id", "c", maxHamming, maxBucket, broadcastMaxRows = bmr)
          .collect().map(_.toSeq).toSet
        assert(got == ref, s"bands=$bands maxBucket=$maxBucket broadcastMaxRows=$bmr: " +
          s"extra ${got.diff(ref)}, missing ${ref.diff(got)}")
        maxBucket -> got
      }
      val byCap = results.toMap
      assert(byCap(5).nonEmpty, s"bands=$bands: the capped probe found no pair (vacuous)")
      assert(byCap(5) != byCap(10000), s"bands=$bands: the cap dropped nothing (vacuous)")
    }
  }

  test("lshIndexCandidates == minhashCandidates restricted to batch pairs") {
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
      .split(" ")
    val (hist, batch) = fixture[String](23,
      f => (0 until 12).map(j => s"${words((f * 5 + j) % words.length)}$f").mkString(" "),
      (base, rnd) => {
        val ts = base.split(" ")
        ts.updated(rnd.nextInt(ts.length), "swap").mkString(" ")
      })
    val path = tempDir("lshdiff").toString + "/idx"
    Dedup.writeLshIndex(frame(hist, StringType), "id", "c", path, numHashes = 32, bands = 16)
    // a repeated id's band hits count once per band in the probe but once
    // per ROW in the reference, so the hit threshold is compared on the
    // fixture without repeats
    val noRepeat = batch.dropRight(3)
    val results = for (maxBucket <- Seq(10000, 5); minBandHits <- Seq(1, 4);
        bmr <- Seq(4000000L, 0L)) yield {
      val b = if (minBandHits == 1) batch else noRepeat
      val ref = restrict(Dedup.minhashCandidates(frame(hist ++ b, StringType), "id", "c",
        32, 16, maxBucket, minBandHits), b)
      val got = Dedup.lshIndexCandidates(spark, path, frame(b, StringType), "id", "c",
          maxBucket, minBandHits, broadcastMaxRows = bmr)
        .collect().map(_.toSeq).toSet
      assert(got == ref, s"maxBucket=$maxBucket minBandHits=$minBandHits " +
        s"broadcastMaxRows=$bmr: extra ${got.diff(ref)}, missing ${ref.diff(got)}")
      (maxBucket, minBandHits) -> got
    }
    val m = results.toMap
    assert(m((5, 4)).nonEmpty, "the capped, thresholded probe found no pair (vacuous)")
    assert(m((5, 1)) != m((10000, 1)), "the cap dropped nothing (vacuous)")
    assert(m((10000, 4)) != m((10000, 1)), "the hit threshold dropped nothing (vacuous)")
  }
}
