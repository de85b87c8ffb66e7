package graft

import graft.sources.GeoParquet
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GeoParquetSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()

  private def tmp(prefix: String): String =
    tempDir(prefix).toString

  private def pointsDf(n: Int) = {
    graft.functions.GeoFunctions.register(spark)
    spark.sql(s"""
      SELECT id,
             ST_GeomFromText('POINT(' || CAST(id % 50 AS STRING) || ' '
               || CAST(id % 7 AS STRING) || ')') AS geom
      FROM range(0, $n) t(id)""")
  }

  test("GeoParquet write stamps spec metadata; read round-trips geometry + srid") {
    val dir = tmp("graft_gpq_rt_")
    GeoParquet.write(pointsDf(500), dir, "geom")
    // every data file carries parseable spec metadata
    val metas = GeoParquet.fileMeta(spark, dir)
    assert(metas.nonEmpty && metas.forall(_._2.isDefined))
    for ((_, Some(m)) <- metas) {
      assert(m.primaryColumn == "geom")
      assert(m.encoding == "WKB")
      assert(m.srid == 4326) // null crs = OGC:CRS84 default
      val (x0, y0, x1, y1) = m.bbox.get
      assert(x0 >= 0 && y0 >= 0 && x1 <= 49 && y1 <= 6)
    }
    // the rewritten files stay byte-valid parquet for a PLAIN reader,
    // and the WKB column is raw (untagged) binary it can consume
    val plain = spark.read.parquet(dir)
    assert(plain.schema("geom").dataType ==
      org.apache.spark.sql.types.BinaryType)
    assert(plain.count() == 500)
    // GeoParquet.read re-tags into engine geometry with the crs srid
    val back = GeoParquet.read(spark, dir)
    val got = back.selectExpr("id", "ST_AsText(geom)", "ST_SRID(geom)")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(got.length == 500)
    assert(got.forall { case (id, wkt, srid) =>
      wkt == s"POINT(${id % 50} ${id % 7})" && srid == 4326 })
  }

  test("GeoParquet per-file bbox prunes foreign-readable files (behavioral)") {
    val dir = tmp("graft_gpq_prune_")
    // range-partition by x so files carry tight disjoint bboxes
    val df = pointsDf(2000).withColumn("__x",
      expr("ST_X(ST_Centroid(geom))"))
    GeoParquet.write(df.repartitionByRange(8, col("__x")).drop("__x"),
      dir, "geom")
    val (hit, total) = GeoParquet.pruningStats(spark, dir, 0, 0, 5, 6)
    assert(total >= 4, s"expected several files, got $total")
    assert(hit < total, s"envelope should prune some files ($hit/$total)")
    // BEHAVIORAL proof: corrupt every file the envelope does not touch;
    // the pruned read must still succeed — impossible if it listed or
    // read the pruned files
    val metas = GeoParquet.fileMeta(spark, dir)
    val pruned = metas.collect {
      case (f, Some(m)) if !m.bbox.forall { case (x0, y0, x1, y1) =>
        x0 <= 5 && x1 >= 0 && y0 <= 6 && y1 >= 0 } => f
    }
    assert(pruned.nonEmpty)
    // corrupt the DATA PAGES of every pruned file while leaving the
    // leading magic and the footer intact: the footer must stay
    // parseable (a destroyed footer makes fileMeta return None, and the
    // absent-metadata-degrades-to-read policy would deliberately un-prune
    // the file), but any attempt to actually scan the pages now throws
    pruned.foreach { f =>
      val raf = new java.io.RandomAccessFile(
        new java.io.File(new java.net.URI(f)), "rw")
      try {
        raf.seek(4) // keep the 4-byte PAR1 header magic
        raf.write(Array.fill[Byte](64)(0x5a))
      } finally raf.close()
    }
    val rows = GeoParquet.readIntersecting(spark, dir, 0, 0, 5, 6)
      .selectExpr("id", "ST_X(ST_Centroid(geom)) AS x").collect()
    assert(rows.nonEmpty)
    // file-level pruning returns whole files: every envelope row must be
    // present (pruning lost NOTHING), boundary-file rows may ride along,
    // and the pruned files' rows are gone (strictly fewer than all rows)
    val ids = rows.map(_.getLong(0)).toSet
    val expected = (0 until 2000).filter(i => i % 50 <= 5).map(_.toLong).toSet
    assert(expected.subsetOf(ids))
    assert(ids.size < 2000)
  }

  test("GeoParquet read degrades safely without or with malformed metadata") {
    // plain parquet (no geo key): read returns it untouched
    val plainDir = tmp("graft_gpq_plain_")
    pointsDf(20).withColumn("geom",
      graft.functions.GeoFunctions.st_asbinary(col("geom")))
      .write.mode("overwrite").parquet(plainDir)
    val r1 = GeoParquet.read(spark, plainDir)
    assert(r1.schema("geom").dataType == org.apache.spark.sql.types.BinaryType)
    assert(r1.count() == 20)
    // malformed geo JSON: parse returns None, read degrades to plain
    assert(GeoParquet.fileMeta(spark, plainDir).forall(_._2.isEmpty))
  }

  test("GeoParquet 1.1 covering: bbox column, metadata, exact results") {
    graft.functions.GeoFunctions.register(spark)
    val dir = tmp("graft_gpq_cov_")
    // points spread over a 100x80 lon/lat domain
    val df = spark.sql("""
      SELECT id, ST_GeomFromText('POINT(' || CAST(id % 100 AS STRING) || ' '
        || CAST(CAST(id / 100 AS INT) % 80 AS STRING) || ')') AS geom
      FROM range(0, 8000) t(id)""")
    GeoParquet.writeCovered(df, dir, "geom")
    // metadata: version 1.1.0 + covering paths (raw footer text check)
    val conf = spark.sessionState.newHadoopConf()
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.toString)
    assert(files.nonEmpty)
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      conf, new org.apache.hadoop.fs.Path(files.head))
    val geo = footer.getFileMetaData.getKeyValueMetaData.get("geo")
    assert(geo != null && geo.contains("\"version\":\"1.1.0\""))
    assert(geo.contains("\"covering\""))
    assert(geo.contains("[\"bbox\",\"xmin\"]"))
    // per-row bbox struct matches the point coordinates exactly
    val sample = spark.read.parquet(dir)
      .selectExpr("id", "bbox.xmin", "bbox.ymax").collect()
    assert(sample.length == 8000)
    sample.foreach { r =>
      val id = r.getLong(0)
      assert(r.getDouble(1) == (id % 100).toDouble, s"bbox.xmin of $id")
      assert(r.getDouble(2) == ((id / 100) % 80).toDouble, s"bbox.ymax of $id")
    }
    // covered read returns exactly the envelope's points (point data:
    // bbox filter IS exact here; the ST_Intersects refine agrees)
    val env = GeoParquet.readCoveredIntersecting(spark, dir, 10, 10, 19, 19)
    val ids = env.select("id").collect().map(_.getLong(0)).toSet
    val expected = (0L until 8000L).filter(i =>
      i % 100 >= 10 && i % 100 <= 19 && (i / 100) % 80 >= 10 &&
        (i / 100) % 80 <= 19).toSet
    assert(ids == expected, s"got ${ids.size}, expected ${expected.size}")
  }

  test("GeoParquet covering prunes ROW GROUPS, not just files (behavioral)") {
    graft.functions.GeoFunctions.register(spark)
    val dir = tmp("graft_gpq_rg_")
    val df = spark.sql("""
      SELECT id, ST_GeomFromText('POINT(' || CAST(id % 100 AS STRING) || ' '
        || CAST(CAST(id / 100 AS INT) % 80 AS STRING) || ')') AS geom
      FROM range(0, 60000) t(id)""").repartition(1)
    // tiny row groups + spatial clustering → many spatially-tight row
    // groups inside few files
    GeoParquet.writeCovered(df, dir, "geom", blockSize = Some(64 * 1024))
    // count row groups to prove the layout actually has several
    val conf = spark.sessionState.newHadoopConf()
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.toString)
    val nRowGroups = files.map { f =>
      org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        conf, new org.apache.hadoop.fs.Path(f)).getBlocks.size()
    }.sum
    assert(nRowGroups >= 8, s"layout produced only $nRowGroups row groups")
    // a corner query: scan metrics must show row-group skipping — the
    // scan emits far fewer rows than the table holds (Spark does not
    // re-filter rows at the parquet record level by default, so a
    // full-table scan would emit all 60000 from the scan node)
    val q = GeoParquet.readCoveredIntersecting(spark, dir, 0, 0, 9, 9)
    val got = q.collect()
    val expected = (0L until 60000L).filter(i =>
      i % 100 <= 9 && (i / 100) % 80 <= 9).size
    assert(got.length == expected, s"rows ${got.length} vs expected $expected")
    // isolate ROW-GROUP skipping from file-level footer pruning: scan
    // ALL files (plain reader, no footer prune) with only the pushed
    // bbox range predicate. Spark does not re-filter parquet rows at
    // record level by default, so the scan node emits every row of
    // every row group it READS — fewer-than-total scan output rows can
    // only come from parquet skipping whole row groups on bbox stats.
    val pure = spark.read.parquet(dir)
      .where(GeoParquet.bboxIntersects(0, 0, 9, 9))
    pure.collect()
    val scanned = pure.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numOutputRows").value
    }.sum
    assert(scanned > 0 && scanned < 30000,
      s"scan emitted $scanned rows of 60000 — row groups were NOT skipped")
  }
}
