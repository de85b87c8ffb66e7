package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

import graft.functions.{GeoKernels, TextKernels, VecKernels}
import graft.geo.GeomCodec

/** Per-call cost of the row kernels, on one thread with no Spark in the
  * timed loop: geometry kernels on cells shaped like the generated
  * reference table, vector kernels on the embeddings table, MinHash on the
  * documents table. Each kernel runs eight untimed rounds (enough for the
  * JIT to compile it even when the workload never called it), then nine
  * timed rounds of the same calls; the result is the median ns per call. */
object Kernels {
  private val Rounds = 9
  private val WarmRounds = 8
  private val Calls = 4096

  private def nsPerCall(calls: Int)(body: Int => Unit): Double = {
    def round(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < calls) { body(i); i += 1 }
      (System.nanoTime() - t0).toDouble / calls
    }
    for (_ <- 1 to WarmRounds) round()
    val xs = Array.fill(Rounds)(round()).sorted
    xs(Rounds / 2)
  }

  def run(spark: SparkSession, data: String, seed: Long): Json.Obj = {
    // distinct cells, more than the 64-entry decode cache and the
    // 1024-entry parse cache hold
    val lines: Array[Array[Byte]] = Array.tabulate(Calls) { i =>
      val x = (i * 7 + seed.abs % 1000) / 8.0
      GeoKernels.geomFromText(s"LINESTRING($x ${x + 1}, ${x + 2} ${x + 3}, ${x + 4} ${x + 5})")
    }
    val point = GeoKernels.geomFromText(PerfBench.RefPoint)
    var sink = 0L

    val decode = nsPerCall(Calls)(i => sink += GeomCodec.decode(lines(i)).getNumPoints)
    val miss = nsPerCall(Calls)(i => if (GeoKernels.intersects(lines(i), point)) sink += 1)
    // 32 cells, all resident in the decode cache after the first round
    val hit = nsPerCall(Calls)(i => if (GeoKernels.intersects(lines(i & 31), point)) sink += 1)
    val astext = nsPerCall(Calls)(i => sink += GeoKernels.asText(lines(i)).length)
    val buffer = nsPerCall(Calls)(i => sink += GeoKernels.buffer(lines(i), 0.5, 8).length)

    val vecs: Array[ArrayData] = spark.read.parquet(s"$data/embeddings.parquet")
      .select("embedding").collect()
      .map(r => UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](0).toArray))
    val n = vecs.length
    val cosine = nsPerCall(Calls) { i =>
      if (VecKernels.cosineF(vecs(i % n), vecs((i * 31 + 7) % n)) > 2.0) sink += 1
    }
    val centroids: ArrayData = new GenericArrayData(vecs.take(16).map(v => v: Any))
    val nearest = nsPerCall(Calls)(i => sink += VecKernels.nearestCentroid(vecs(i % n), centroids))

    val docs = spark.read.parquet(s"$data/documents.parquet")
      .select("text").collect().map(_.getString(0)).filter(_ != null)
    val minhash = nsPerCall(1024)(i => sink += TextKernels.minhashSig(docs(i % docs.length), 64)(0))

    // a use of every result, so the JIT cannot drop the timed calls
    if (sink == 42) System.err.print("")
    Json.Obj(
      "kernel.wkb_decode_ns" -> decode,
      "kernel.intersects_miss_ns" -> miss,
      "kernel.intersects_hit_ns" -> hit,
      "kernel.astext_ns" -> astext,
      "kernel.buffer_ns" -> buffer,
      "kernel.cosine_ns" -> cosine,
      "kernel.nearest_centroid_ns" -> nearest,
      "kernel.minhash_ns" -> minhash)
  }
}
