package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** FsIO sidecar + directory primitives: atomic string write/read
  * degradation, and swapDir's documented contract (kept for unversioned
  * in-place replacement; the index families use publishVersion, specced
  * in IndexVersioningSpec). */
class FsIOSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()

  private def scratch(): java.nio.file.Path =
    tempDir("fsio")

  test("writeStringAtomic overwrites in place; readString degrades to None") {
    val root = scratch()
    val p = new Path(root.toString, "sidecar.json")
    graft.util.FsIO.writeStringAtomic(spark, p, "v1")
    assert(graft.util.FsIO.readString(spark, p).contains("v1"))
    graft.util.FsIO.writeStringAtomic(spark, p, "v2")
    assert(graft.util.FsIO.readString(spark, p).contains("v2"))
    // no .tmp residue from the rename protocol
    assert(!root.toFile.listFiles().exists(_.getName.endsWith(".tmp")))
    // absent file is an Option, never a throw
    assert(graft.util.FsIO.readString(spark,
      new Path(root.toString, "missing")).isEmpty)
  }

  test("swapDir replaces dst, cleans the aside, and rolls back on failure") {
    val root = scratch()
    def mk(name: String, marker: String): Path = {
      val d = root.resolve(name)
      java.nio.file.Files.createDirectory(d)
      java.nio.file.Files.write(d.resolve("content"), marker.getBytes)
      new Path(d.toString)
    }
    val dst = mk("idx", "old")
    val tmp = mk("idx.__new", "new")
    graft.util.FsIO.swapDir(spark, tmp, dst)
    assert(new String(java.nio.file.Files.readAllBytes(
      root.resolve("idx/content"))) == "new")
    assert(!root.resolve("idx.__new").toFile.exists(), "tmp must move away")
    assert(!root.resolve("idx.__pre_swap").toFile.exists(), "aside must be swept")
    // failure case: the replacement directory does not exist -> the
    // original must be rolled back into place, not left parked aside
    intercept[java.io.IOException] {
      graft.util.FsIO.swapDir(spark,
        new Path(root.resolve("nope").toString), dst)
    }
    assert(new String(java.nio.file.Files.readAllBytes(
      root.resolve("idx/content"))) == "new",
      "failed swap must restore the original directory")
    assert(!root.resolve("idx.__pre_swap").toFile.exists())
  }
}
