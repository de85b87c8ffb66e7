package graft

import graft.multimodal.{Media, MediaCodec}
import graft.streaming.StreamOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MediaStreamSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()

  private def pngBytes(n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    b(0) = 0x89.toByte; b(1) = 'P'; b(2) = 'N'; b(3) = 'G'
    var i = 4
    while (i < n) { b(i) = (i * 31 % 251).toByte; i += 1 }
    b
  }

  test("media metadata sniffing + partition sizing") {
    import spark.implicits._
    val df = Seq((1L, pngBytes(1000)), (2L, pngBytes(3000)),
      (3L, Array[Byte](0x4d, 0x5a, 1, 2, 3, 4, 5, 6, 7, 8))).toDF("id", "bytes")
    val ds = Media.withMetadata(df, "id", "bytes")
    val metas = ds.collect().map(r => r.mediaId -> r.meta).toMap
    assert(metas(1L).mediaType == "image/png")
    assert(metas(1L).nBytes == 1000)
    assert(metas(3L).mediaType == "application/octet-stream")
    // 4030 payload bytes at 2000-byte target → 3 partitions
    val sized = Media.sizePartitions(ds, targetPartitionBytes = 2000)
    assert(sized.rdd.getNumPartitions == 3)
  }

  test("image feature extraction is deterministic and batch-shaped") {
    import spark.implicits._
    val df = Seq((1L, pngBytes(1000)), (2L, pngBytes(1000))).toDF("id", "bytes")
    val feats = Media.imageFeatures(Media.withMetadata(df, "id", "bytes"), histogramBins = 8)
      .collect().sortBy(_.mediaId)
    assert(feats.length == 2)
    assert(feats(0).histogram.length == 8)
    // identical bytes → identical features (deterministic stub)
    assert(feats(0).histogram.toSeq == feats(1).histogram.toSeq)
    assert(math.abs(feats(0).histogram.sum - 1.0) < 1e-9)
  }

  test("frame sampling emits stride-spaced frames") {
    import spark.implicits._
    val df = Seq((7L, pngBytes(1024))).toDF("id", "bytes")
    val frames = Media.sampleFrames(Media.withMetadata(df, "id", "bytes"),
      stride = 2, frameBytes = 256).collect().sortBy(_.frameIdx)
    assert(frames.map(_.frameIdx).toSeq == Seq(0, 2))
    assert(frames.forall(_.frameBytes.length == 256))
  }

  /** A real MJPEG stream: n distinct JPEG-encoded frames concatenated. */
  private def mjpegBytes(n: Int): (Array[Byte], Seq[Array[Byte]]) = {
    val encoded = (0 until n).map { i =>
      val img = new java.awt.image.BufferedImage(32 + i, 24,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      try { g.setColor(new java.awt.Color(40 * i % 255, 80, 120)); g.fillRect(0, 0, 32 + i, 24) }
      finally g.dispose()
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", buf)
      buf.toByteArray
    }
    (encoded.reduce(_ ++ _), encoded)
  }

  test("MJPEG frame extraction: real SOI..EOI spans, real ImageIO decode") {
    import spark.implicits._
    val (blob, encoded) = mjpegBytes(5)
    assert(MediaCodec.mjpegFrames(blob).size == 5)
    val df = Seq((9L, blob)).toDF("id", "bytes")
    val frames = Media.sampleFramesMjpeg(Media.withMetadata(df, "id", "bytes"),
      stride = 2).collect().sortBy(_.frameIdx)
    assert(frames.map(_.frameIdx).toSeq == Seq(0, 2, 4))
    // byte-exact frames: the extractor reproduces the encoder's output
    frames.foreach { f =>
      assert(f.frameBytes.toSeq == encoded(f.frameIdx).toSeq,
        s"frame ${f.frameIdx} bytes differ from the encoded JPEG")
      assert(f.realDecode, s"frame ${f.frameIdx} did not ImageIO-decode")
      assert(f.width == 32 + f.frameIdx && f.height == 24,
        s"frame ${f.frameIdx} decoded ${f.width}x${f.height}")
    }
  }

  test("MJPEG extraction falls back to byte windows on codec-free blobs") {
    import spark.implicits._
    val junk = Array.tabulate[Byte](600)(i => (i * 37 % 251).toByte)
    val df = Seq((11L, junk)).toDF("id", "bytes")
    val frames = Media.sampleFramesMjpeg(Media.withMetadata(df, "id", "bytes"),
      stride = 1, frameBytes = 256).collect().sortBy(_.frameIdx)
    assert(frames.length == 2) // 600 / 256 = 2 windows
    assert(frames.forall(f => !f.realDecode && f.width == -1))
  }

  test("real PNG decode: true dimensions, channels, luminance histogram") {
    import spark.implicits._
    // paint a genuine 10x6 PNG in-memory: left half black, right half white
    val img = new java.awt.image.BufferedImage(10, 6,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 10)
      img.setRGB(x, y, if (x < 5) 0x000000 else 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray

    // header parse reads the true IHDR dimensions
    val meta = MediaCodec.sniffMeta(png)
    assert(meta.mediaType == "image/png" && meta.width == 10 && meta.height == 6)

    // ImageIO decode: real dims + a half-black/half-white histogram
    val feats = Media.imageFeatures(
        Media.withMetadata(Seq((9L, png)).toDF("id", "bytes"), "id", "bytes"),
        histogramBins = 4)
      .collect().head
    assert(feats.width == 10 && feats.height == 6 && feats.channels == 3)
    assert(math.abs(feats.histogram(0) - 0.5) < 1e-9) // black half
    assert(math.abs(feats.histogram(3) - 0.5) < 1e-9) // white half
    assert(math.abs(feats.histogram.sum - 1.0) < 1e-9)
  }

  test("real resize: aspect-preserving downscale, PNG re-encode, no upscale") {
    import spark.implicits._
    // 40x20 gradient PNG
    val img = new java.awt.image.BufferedImage(40, 20,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 20; x <- 0 until 40) img.setRGB(x, y, x * 6 * 0x010101)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray

    val ds = Media.withMetadata(
      Seq((1L, png), (2L, pngBytes(900))).toDF("id", "bytes"), "id", "bytes")
    val out = Media.resizeImages(ds, maxDim = 10).collect().sortBy(_.mediaId)
    // real image: long side 40 → 10, aspect 2:1 preserved, decodable PNG
    val r1 = out(0)
    assert(r1.realDecode && r1.width == 10 && r1.height == 5)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r1.png))
    assert(back.getWidth == 10 && back.getHeight == 5)
    // undecodable payload: passthrough truncated to maxDim², flagged
    val r2 = out(1)
    assert(!r2.realDecode && r2.png.length == math.min(900, 100))
    // no upscale: already-small image keeps its dimensions
    val small = Media.resizeImages(ds.filter(_.mediaId == 1L), maxDim = 100)
      .collect().head
    assert(small.width == 40 && small.height == 20)
  }

  test("audio stub: per-window energy") {
    val e = MediaCodec.decodeAudioStub(Array.fill[Byte](256)(10), window = 128)
    assert(e.toSeq == Seq(10.0, 10.0))
  }

  test("real WAV decode: RMS energy per window via javax.sound") {
    // synthesize a genuine 16-bit PCM mono WAV: constant ±0.25 square wave
    val nSamples = 512
    val pcm = new Array[Byte](nSamples * 2)
    for (i <- 0 until nSamples) {
      val v: Short = if (i % 2 == 0) 8192 else -8192 // 0.25 full-scale
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    assert(MediaCodec.sniffMeta(wav).mediaType == "audio/wav")
    assert(MediaCodec.sniffMeta(wav).sampleRateHz == 16000)
    val energy = MediaCodec.decodeAudio(wav, window = 128)
    assert(energy.length == 4)
    assert(energy.forall(e => math.abs(e - 0.25) < 1e-3), energy.toSeq)
    // non-audio payloads take the deterministic fallback
    assert(MediaCodec.decodeAudio(Array.fill[Byte](256)(10), window = 128).toSeq ==
      Seq(10.0, 10.0))
  }

  test("stream-static spatial enrichment joins each micro-batch map-only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GeoFunctions.register(spark)
    val regions = spark.sql("""
      SELECT * FROM VALUES
        (100, ST_MakeEnvelope(0.0, 0.0, 10.0, 10.0)),
        (200, ST_MakeEnvelope(20.0, 0.0, 30.0, 10.0)) AS t(rid, rgeom)""")
    val mem = MemoryStream[(Long, String)]
    val pts = mem.toDF().toDF("pid", "wkt")
      .withColumn("geom", expr("ST_GeomFromText(wkt)"))
    val joined = graft.streaming.StreamOps.enrichSpatial(pts, "geom", regions, "rgeom")
    val q = joined.select("pid", "rid").writeStream.format("memory")
      .queryName("enriched").outputMode("append").start()
    mem.addData((1L, "POINT(5 5)"), (2L, "POINT(25 5)"), (3L, "POINT(50 50)"))
    q.processAllAvailable()
    mem.addData((4L, "POINT(1 1)"))
    q.processAllAvailable()
    val rows = spark.table("enriched").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    q.stop()
    assert(rows == Set((1L, 100), (2L, 200), (4L, 100)))
  }

  test("stream-static latest-per-key enrichment joins map-only per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // dimension history: key 1 has two versions (ts 10 < 20), key 2 one
    val dim = Seq((1L, 10L, "old"), (1L, 20L, "new"), (2L, 5L, "only"))
      .toDF("k", "ts", "v")
    val mem = MemoryStream[Long]
    val stream = mem.toDF().toDF("k")
    val enriched = StreamOps.enrichLatest(stream, dim, "k", "ts", Seq("v"))
    val query = enriched.writeStream.format("memory").queryName("enrichlatest")
      .outputMode("append").start()
    mem.addData(1L, 2L, 3L)
    query.processAllAvailable()
    val rows = spark.table("enrichlatest").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getString(2)))).toSet
    query.stop()
    // key 1 → latest version only; unknown key 3 → nulls (left join)
    assert(rows == Set(
      (1L, Some(20L), Some("new")), (2L, Some(5L), Some("only")), (3L, None, None)))
  }

  test("native session_window agrees with the batch lag+cumsum sessionization") {
    import spark.implicits._
    // real events: TIMESTAMP_NTZ micros -> tz-free long micros
    val e = spark.read
      .option("mergeSchema", "false").parquet("/root/testdata/sf0.001/events.parquet")
      .selectExpr("user_id",
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) AS tsu")
    val gapUs = 1800000000L // 30 min
    // session_window merges at diff <= gap (UpdatingSessionsIterator
    // closes a session only when newStart > currentEnd) — the SAME
    // inclusive boundary as the lag+cumsum operator, so the gaps match 1:1
    val ours = graft.operators.Sessionize
      .sessionStats(e, "user_id", "tsu", gap = gapUs)
      .select(col("user_id"), col("n_events"), col("start_ts"), col("end_ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val native = graft.streaming.StreamOps
      .sessionWindows(e.select(col("user_id"),
        expr("timestamp_micros(tsu)").as("t")), "t", "user_id", "30 minutes")
      .selectExpr("user_id", "n_events",
        "unix_micros(start_ts) AS s", "unix_micros(end_ts) AS e")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(ours == native)
    assert(ours.nonEmpty)
    // pin the boundary convention itself: two events exactly gap apart
    // MERGE on both sides
    import spark.implicits._
    val pair = Seq((1L, 0L), (1L, gapUs)).toDF("user_id", "tsu")
    assert(graft.operators.Sessionize
      .sessionStats(pair, "user_id", "tsu", gap = gapUs).count() == 1L)
    assert(graft.streaming.StreamOps
      .sessionWindows(pair.select(col("user_id"),
        expr("timestamp_micros(tsu)").as("t")), "t", "user_id", "30 minutes")
      .count() == 1L)
  }

  test("streaming windowed counts over MemoryStream match the batch shape") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val agg = StreamOps.windowedCounts(df, "ts", "event_type", "1 hour", "2 hours")
    val query = agg.writeStream.format("memory").queryName("wincounts")
      .outputMode("complete").start()
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    mem.addData((t(1, 10), "click", 1.0), (t(1, 50), "click", 5.0), (t(2, 10), "view", 2.0))
    query.processAllAvailable()
    val rows = spark.table("wincounts")
      .select(col("event_type"), col("n"), col("vmin"), col("vmax")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    query.stop()
    assert(rows == Set(("click", 2L, 1.0, 5.0), ("view", 1L, 2.0, 2.0)))
  }

  test("streaming windowed agg over the real events table equals the batch rollup") {
    // the events parquet carries TIMESTAMP(MICROS)/NTZ — rebuild a
    // (zone-aware) timestamp column via the tz-free micros long,
    // exactly as the batch q32 does
    // the streaming file source wants a directory
    val dir = tempDir("events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet("/root/testdata/sf0.001/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .parquet(dir.toString)
      .withColumn("ts2", timestamp_micros(
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")))
    val agg = StreamOps.windowedCounts(stream, "ts2", "event_type")
    val q = agg.writeStream.format("memory").queryName("realevents")
      .outputMode("complete").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("realevents")
      .select("event_type", "n").groupBy("event_type").agg(sum("n").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
    assert(streamed.values.sum > 0)
  }

  test("geo functions + st_extent run inside a streaming aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GeoFunctions.register(spark)
    val mem = MemoryStream[(String, String)]
    mem.toDF().toDF("grp", "wkt").createOrReplaceTempView("geo_stream")
    val agg = spark.sql("""
      SELECT grp, st_extent(ST_GeomFromText(wkt)) AS ext
      FROM geo_stream GROUP BY grp""")
    val q = agg.writeStream.format("memory").queryName("geoext")
      .outputMode("complete").start()
    mem.addData(("a", "POINT(0 1)"), ("a", "POINT(5 6)"), ("b", "POINT(2 3)"))
    q.processAllAvailable()
    val rows = spark.table("geoext").collect()
      .map(r => r.getString(0) -> r.getStruct(1)).toMap
    q.stop()
    assert(rows("a").getDouble(0) == 0.0 && rows("a").getDouble(3) == 6.0)
    assert(rows("b").getDouble(0) == 2.0 && rows("b").getDouble(2) == 2.0)
  }

  test("streaming near-dup filtering on text fingerprints (whitespace/case variants collapse)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GeoFunctions.register(spark)
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "text")
      .withColumn("fp", expr("text_fingerprint(text)"))
    val dedup = StreamOps.streamingDedup(df, "ts", Seq("fp"))
    val q = dedup.writeStream.format("memory").queryName("fpdedup")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 01:00:00")
    // the 2nd and 3rd rows are normalization-equivalent to the 1st
    mem.addData(
      (t0, 1L, "hello world"),
      (t0, 2L, "Hello  World"),
      (t0, 3L, "HELLO WORLD"),
      (t0, 4L, "different text entirely"))
    q.processAllAvailable()
    val ids = spark.table("fpdedup").select("doc_id").collect().map(_.getLong(0)).toSet
    q.stop()
    assert(ids == Set(1L, 4L))
  }

  test("CompactingKeyState: bounded reads over many batches, union content, dedup wiring") {
    import spark.implicits._
    val dir = tempDir("graft-keystate-").toString
    val compactEvery = 2
    val state = new graft.streaming.CompactingKeyState(spark, dir, compactEvery)
    assert(state.read().isEmpty)
    // six micro-batches with overlapping keys; after every append the
    // read side must touch at most 1 base + compactEvery deltas no
    // matter how many batches have run (the naive append dir reads
    // O(batches) datasets by batch six)
    val batches = Seq(Seq(1L, 2L, 3L), Seq(3L, 4L), Seq(5L, 1L),
      Seq(6L), Seq(7L, 4L), Seq(8L, 2L))
    var expected = Set.empty[Long]
    batches.foreach { b =>
      // the streaming-dedup wiring: only keys unseen so far get appended
      val keys = b.toDF("pkey")
      val fresh = state.read() match {
        case Some(s) => keys.join(s, Seq("pkey"), "left_anti")
        case None => keys
      }
      state.append(fresh)
      expected ++= b
      assert(state.datasetCount <= 1 + compactEvery,
        s"state reads unbounded: ${state.datasetCount} datasets")
      assert(state.read().get.collect().map(_.getLong(0)).toSet == expected)
    }
    // compaction must have collapsed history at least once by batch 6
    assert(state.datasetCount < batches.length)
  }

  test("sessionize closes a stale session when data resumes after the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val out = StreamOps.sessionize(mem.toDS(), gapMs = 100L)
    val q = out.writeStream.format("memory").queryName("gapsplit")
      .outputMode("append").start()
    try {
      // data resumes 9990 > gap after the earlier events: the OLD session
      // (2 events, 0..10) must close and emit, never merge into the
      // resumed one. A ProcessingTimeTimeout query keeps scheduling
      // timeout-check batches, so processAllAvailable can block
      // indefinitely — poll the sink with a deadline instead.
      mem.addData((1L, 0L), (1L, 10L))
      mem.addData((1L, 10000L))
      val expected = StreamOps.SessionUpdate(1L, 2L, 0L, 10L)
      def emitted() = spark.table("gapsplit")
        .as[StreamOps.SessionUpdate].collect().toSet
      val deadline = System.currentTimeMillis() + 60000
      while (!emitted().contains(expected) &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
      // the open tail (1 event at 10000) may or may not have timed out
      // yet — assert containment, not equality
      assert(emitted().contains(expected))
    } finally q.stop()
  }

  test("CompactingKeyState.prune applies retention and keeps reads bounded") {
    import spark.implicits._
    val dir = tempDir("graft-keystate-ttl-").toString
    val state = new graft.streaming.CompactingKeyState(spark, dir, compactEvery = 3)
    // keys carry their event time (micros); duplicates can only arrive
    // within 100us, so everything older than watermark-100 is prunable
    state.append(Seq((1L, 100L), (2L, 150L)).toDF("pkey", "ts"))
    state.append(Seq((3L, 300L), (4L, 450L)).toDF("pkey", "ts"))
    state.prune(col("ts") >= lit(300L))
    assert(state.read().get.collect().map(_.getLong(0)).toSet == Set(3L, 4L))
    // prune consolidated into a single base
    assert(state.datasetCount == 1)
    // appends after a prune keep working and re-compact
    state.append(Seq((5L, 500L)).toDF("pkey", "ts"))
    assert(state.read().get.collect().map(_.getLong(0)).toSet == Set(3L, 4L, 5L))
    // prune-to-empty leaves a readable empty state, not a missing one
    state.prune(col("ts") >= lit(9999L))
    assert(state.read().get.count() == 0L)
    // pruning an EMPTY store is a no-op (no crash on first batch)
    val fresh = new graft.streaming.CompactingKeyState(spark,
      tempDir("graft-keystate-empty-").toString)
    fresh.prune(col("ts") >= lit(0L))
    assert(fresh.read().isEmpty)
  }

  test("session state stays watermark-bounded over a 1M-event stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the 100x-readiness assertion for the streaming family: with
    // watermark + append (the production contract in the sessionWindows
    // scaladoc), state row count tracks OPEN sessions only — closed
    // sessions are emitted and EVICTED, so state stays flat no matter
    // how long the stream runs
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "user_id").withWatermark("ts", "10 minutes")
    val sess = StreamOps.sessionWindows(df, "ts", "user_id", "10 minutes")
    val q = sess.writeStream.format("memory").queryName("scale_sessions")
      .outputMode("append").start()
    val nKeys = 1000
    val perBatch = 200000
    val batches = 5 // 1M events total
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    for (b <- 0 until batches) {
      // batch b: a 5-minute burst (events 1.5s apart per key -> one
      // session per key), bursts 1 hour apart -> every batch is a fresh
      // session and pushes the watermark past the previous batch's
      val rows = (0 until perBatch).map { i =>
        (new java.sql.Timestamp(base + b * 3600000L + (i / nKeys) * 1500L),
          (i % nKeys).toLong)
      }
      mem.addData(rows)
      q.processAllAvailable()
    }
    // batches 0..3 closed by later watermarks; batch 4 still open
    val emitted = spark.table("scale_sessions")
    assert(emitted.count() == (batches - 1).toLong * nKeys)
    assert(emitted.agg(sum("n_events")).head().getLong(0) ==
      (batches - 1).toLong * perBatch)
    val stateRows = q.recentProgress.reverse
      .find(_.stateOperators.nonEmpty).get.stateOperators(0).numRowsTotal
    q.stop()
    // ~1 open session per key — NOT the 5000 sessions seen overall
    assert(stateRows <= 2L * nKeys, s"state rows $stateRows not watermark-bounded")
    assert(stateRows >= nKeys.toLong)
  }

  test("stream-stream interval join matches batch brute force and evicts state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime + min * 60000L)
    // impressions / clicks: click attributes to an impression of the same
    // key within [imp_ts, imp_ts + 10 minutes]
    val imps = Seq((1L, ts(0), "ad_a"), (1L, ts(30), "ad_b"), (2L, ts(5), "ad_c"))
    val clks = Seq((1L, ts(7), "c1"), // -> ad_a
      (1L, ts(35), "c2"),             // -> ad_b
      (1L, ts(20), "c3"),             // matches nothing (gap)
      (2L, ts(5), "c4"))              // boundary: 0 offset -> ad_c
    val memI = MemoryStream[(Long, java.sql.Timestamp, String)]
    val memC = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = StreamOps.intervalJoinStreams(
      memI.toDF().toDF("user_id", "imp_ts", "ad"), "imp_ts",
      memC.toDF().toDF("user_id", "clk_ts", "click"), "clk_ts",
      "user_id", lookback = "0 minutes", lookahead = "10 minutes",
      watermark = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    memI.addData(imps); memC.addData(clks)
    q.processAllAvailable()
    // advance both watermarks far past every row so all results emit
    // (distinct keys so the probes cannot join with each other)
    memI.addData((8L, ts(600), "late")); memC.addData((9L, ts(600), "late"))
    q.processAllAvailable()
    val got = spark.table("attrib").select("ad", "click")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("ad_a", "c1"), ("ad_b", "c2"), ("ad_c", "c4")))
    // state evicted once the watermark passed the interval horizon:
    // far fewer state rows than total rows seen would be without eviction
    val stateRows = q.recentProgress.reverse
      .find(_.stateOperators.nonEmpty).get.stateOperators(0).numRowsTotal
    q.stop()
    assert(stateRows <= 4, s"join state not watermark-bounded: $stateRows")
    // batch equivalence: the same operator over batch frames returns the
    // same pairs (plus the late probe rows' non-match)
    val batch = StreamOps.intervalJoinStreams(
      imps.toDF("user_id", "imp_ts", "ad"), "imp_ts",
      clks.toDF("user_id", "clk_ts", "click"), "clk_ts",
      "user_id", "0 minutes", "10 minutes")
      .select("ad", "click")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(batch == got)
  }

  test("streaming dedup drops in-watermark duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "event_id")
    val dedup = StreamOps.streamingDedup(df, "ts", Seq("event_id"))
    val query = dedup.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 01:00:00")
    mem.addData((ts0, 1L), (ts0, 1L), (ts0, 2L))
    query.processAllAvailable()
    mem.addData((java.sql.Timestamp.valueOf("2026-01-01 01:05:00"), 1L)) // dup, in watermark
    query.processAllAvailable()
    val ids = spark.table("dedup").select("event_id").collect().map(_.getLong(0)).sorted
    query.stop()
    assert(ids.toSeq == Seq(1L, 2L))
  }

  test("aHash64: analytic bits on a real PNG; stub path on raw bytes") {
    import spark.implicits._
    // 16x16, left quarter black: every 8x8 grid cell uniform (cells are
    // 2x2 pixel blocks), bright cells are exactly those with c >= 2
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16)
      img.setRGB(x, y, if (x < 4) 0x000000 else 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val (h, real) = MediaCodec.aHash64(bos.toByteArray)
    assert(real)
    val expected = (for { r <- 0 until 8; c <- 2 until 8 }
      yield 1L << (r * 8 + c)).sum
    assert(h == expected, f"ahash $h%016x != $expected%016x")
    // non-image bytes: deterministic stub (realDecode=false), stable
    val junk = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
    val (s1, r1) = MediaCodec.aHash64(junk)
    val (s2, r2) = MediaCodec.aHash64(junk)
    assert(!r1 && !r2 && s1 == s2)
    // dataset plumbing end-to-end
    val ds = Media.withMetadata(Seq((1L, bos.toByteArray), (2L, junk))
      .toDF("id", "b"), "id", "b")
    val rows = Media.imageAHash(ds).collect().map(a => a.mediaId -> a).toMap
    assert(rows(1L).ahash == expected && rows(1L).realDecode)
    assert(rows(2L).ahash == s1 && !rows(2L).realDecode)
  }

  test("hammingPairs64 finds exactly the brute-force pairs when maxHamming < bands") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    // clustered hashes: 12 seeds, each with 4 low-bit-flip variants
    val seeds = (0 until 12).map(_ => rnd.nextLong())
    val hashes = (for {
      (s, i) <- seeds.zipWithIndex
      j <- 0 until 4
    } yield ((i * 4 + j).toLong, s ^ (if (j == 0) 0L else 1L << rnd.nextInt(64)))) :+
      ((999L, rnd.nextLong()))
    val got = graft.operators.Dedup.hammingPairs64(
        hashes.toDF("id", "h"), "id", "h", maxHamming = 7, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 7
    } yield (ia, ib, d)).toSet
    assert(got == brute, s"got ${got.size} pairs, brute ${brute.size}")
  }
}
