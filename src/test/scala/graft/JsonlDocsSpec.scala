package graft

import graft.sources.JsonlDocs
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class JsonlDocsSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()

  private def scratch(): String =
    tempDir("jsonl_spec").toString

  test("roundtrip preserves rows and the RECORDED schema, not inference") {
    import spark.implicits._
    // score is all-null: inference would demote it; the manifest schema
    // must keep it DOUBLE
    val df = spark.sql("""
      SELECT id, concat('doc ', CAST(id AS STRING)) AS text,
             CAST(NULL AS DOUBLE) AS score
      FROM range(0, 100)""")
    val dir = scratch()
    val shards = JsonlDocs.write(df, dir, maxRecordsPerShard = 30)
    assert(shards >= 4) // 4 tasks x ceil-split; at least ceil(100/30)
    val back = JsonlDocs.read(spark, dir)
    assert(back.schema.map(f => (f.name, f.dataType.sql)).toSet ==
      df.schema.map(f => (f.name, f.dataType.sql)).toSet)
    assert(back.count() == 100)
    assert(back.except(df).count() == 0 && df.except(back).count() == 0)
  }

  test("validation fails loudly on missing, extra, and resized shards") {
    import spark.implicits._
    val df = (0 until 50).map(i => (i.toLong, s"t$i")).toDF("id", "text")
    val dir = scratch()
    JsonlDocs.write(df, dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    // resized
    val fw = new java.io.FileWriter(files.head, true)
    fw.write("{\"id\":999,\"text\":\"smuggled\"}\n"); fw.close()
    val e1 = intercept[IllegalArgumentException] { JsonlDocs.read(spark, dir) }
    assert(e1.getMessage.contains("resized"))
    // missing
    JsonlDocs.write(df, dir)
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .headOption.foreach(_.delete())
    val e2 = intercept[IllegalArgumentException] { JsonlDocs.read(spark, dir) }
    assert(e2.getMessage.contains("missing"))
    // extra
    JsonlDocs.write(df, dir)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-99999-extra.json"), "{\"id\":1}\n")
    val e3 = intercept[IllegalArgumentException] { JsonlDocs.read(spark, dir) }
    assert(e3.getMessage.contains("extra"))
    // no manifest at all
    val bare = scratch()
    df.write.mode("overwrite").json(bare)
    val e4 = intercept[IllegalStateException] { JsonlDocs.read(spark, bare) }
    assert(e4.getMessage.contains("manifest"))
  }
}
