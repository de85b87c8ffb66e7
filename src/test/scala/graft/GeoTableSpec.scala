package graft

import graft.functions.GeoFunctions
import graft.sources.GeoTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GeoTableSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()

  test("location-clustered write + bbox sidecar prunes files for spatial reads") {
    GeoFunctions.register(spark)
    val dir = tempDir("geotable").toString
    // 1000 points along a 0..999 diagonal — clustered files get disjoint ranges
    val df = spark.sql("""
      SELECT id, ST_GeomFromText('POINT(' || CAST(id AS STRING) || ' ' || CAST(id AS STRING) || ')') AS geom
      FROM range(0, 1000) t(id)""")
    GeoTable.writePartitionedByLocation(df, dir, "geom", cellSize = 100.0, numFiles = 8)

    // full read intact
    assert(GeoTable.read(spark, dir).count() == 1000)

    // a 0..99 query envelope must touch a strict subset of files
    val (hit, total) = GeoTable.pruningStats(spark, dir, 0, 0, 99, 99)
    assert(total >= 4, s"expected several files, got $total")
    assert(hit < total, s"pruning skipped nothing: $hit/$total")

    // pruned read returns exactly the rows in the envelope
    val pruned = GeoTable.readIntersecting(spark, dir, 0, 0, 99, 99)
    val ids = pruned.where(
        GeoFunctions.st_intersects(col("geom"),
          GeoFunctions.st_makeenvelope(lit(0.0), lit(0.0), lit(99.0), lit(99.0))))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L to 99L))

    // empty envelope → zero rows, schema preserved
    val none = GeoTable.readIntersecting(spark, dir, 5000, 5000, 6000, 6000)
    assert(none.count() == 0)
    assert(none.columns.toSeq == Seq("id", "geom"))
  }

  test("corrupt sidecar falls back to a full read instead of dropping data") {
    GeoFunctions.register(spark)
    val dir = tempDir("geotable_corrupt").toString
    val df = spark.sql("""
      SELECT id, ST_GeomFromText('POINT(' || CAST(id AS STRING) || ' 0)') AS geom
      FROM range(0, 100) t(id)""")
    GeoTable.write(df, dir, "geom")
    // clobber the sidecar with garbage the parser yields no entries for
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_geo_meta.json"), "{not json at all")
    val got = GeoTable.readIntersecting(spark, dir, 0, 0, 10, 10)
    // fallback = full read: all 100 rows visible, pruning disabled
    assert(got.count() == 100)

    // torn sidecar: declared count disagrees with parsed entries → full read
    graft.util.FsIO.writeStringAtomic(spark,
      new org.apache.hadoop.fs.Path(dir, "_geo_meta.json"),
      """{"count": 5}
        [{"file": "/nonexistent/part-0.parquet", "xmin": 0.0, "ymin": 0.0, "xmax": 1.0, "ymax": 1.0}]""")
    assert(GeoTable.readIntersecting(spark, dir, 0, 0, 10, 10).count() == 100)
    assert(GeoTable.pruningStats(spark, dir, 0, 0, 10, 10) == (0, 0))
  }

  test("ndjson GeoJSON source roundtrips geometries and typed properties") {
    GeoFunctions.register(spark)
    val dir = tempDir("geojson_src").toString
    val df = spark.sql("""
      SELECT id, 'n"ame' || CAST(id AS STRING) AS label,
             ST_GeomFromText(CASE WHEN id % 2 = 0
               THEN 'POINT(' || CAST(id AS STRING) || ' 5)'
               ELSE 'LINESTRING(0 0,' || CAST(id AS STRING) || ' 1)' END) AS geom
      FROM range(0, 20) t(id)""")
    graft.sources.GeoJsonSource.write(df, "geom", Seq("id", "label"), dir)
    val back = graft.sources.GeoJsonSource
      .readWithProps(spark, dir, "id BIGINT, label STRING")
      .selectExpr("id", "label", "ST_AsText(geom) AS wkt")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val want = df.selectExpr("id", "label", "ST_AsText(geom) AS wkt")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // JSON-escaped quotes in properties and mixed geometry kinds survive
    assert(back == want && back.size == 20)
    // raw read keeps the properties JSON and the geometry JSON leg
    val raw = graft.sources.GeoJsonSource.read(spark, dir)
    assert(raw.where(col("properties").isNull).count() == 0)
    assert(raw.where(col("geojson").like("%coordinates%")).count() == 20)
  }

  test("GeoJSON source: null geometries survive the roundtrip; strict read rejects junk") {
    GeoFunctions.register(spark)
    val dir = tempDir("geojson_null").toString
    val df = spark.sql("""
      SELECT id, CASE WHEN id % 3 = 0 THEN CAST(NULL AS BINARY)
                      ELSE ST_GeomFromText('POINT(' || CAST(id AS STRING) || ' 1)') END AS geom
      FROM range(0, 9) t(id)""")
    graft.sources.GeoJsonSource.write(df, "geom", Seq("id"), dir)
    // all 9 rows come back; the 3 null geometries stay null, not dropped
    val back = graft.sources.GeoJsonSource.readWithProps(spark, dir, "id BIGINT")
    assert(back.count() == 9)
    assert(back.where(col("geom").isNull).count() == 3)

    // corrupt line: lenient read skips it, strict read fails the job
    val junkDir = tempDir("geojson_junk").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(junkDir, "part-0.txt"),
      ("""{"type": "Feature", "geometry": {"type": "Point", "coordinates": [1,2]}, "properties": {}}""" +
        "\n{\"broken\n\n").getBytes)
    assert(graft.sources.GeoJsonSource.read(spark, junkDir).count() == 1)
    val ex = intercept[Exception] {
      graft.sources.GeoJsonSource.read(spark, junkDir, strict = true).count()
    }
    assert(ex.getMessage != null)
  }
}
