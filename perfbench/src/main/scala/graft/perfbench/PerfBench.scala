package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM.
  *
  * An operation is a whole user call: the DataFrame is built (which runs
  * every eager job inside the operator: index writes, k-means training,
  * graph builds), then executed to a `noop` sink. A run makes the inputs,
  * runs one warm pass whose outputs are written as JSON lines for the
  * checker and a fixed number of untimed warm-up passes, then a fixed
  * number of timed passes over the workload's operations, each started
  * from a settled JVM (see `settle`). Everything
  * it measures goes to `<out>/result.json`; `perfbench/run.py` turns that
  * into metrics.
  *
  * Arguments (all required): --workload --ops (comma-separated: `ref_*`
  * operations on the generated table and `graft.SparkEntry` row names)
  * --seed --warmup-passes --passes --trace --data --out --local-dir
  * --slots --rows --run-dir. The JVM halts, after deleting --run-dir, as soon as its
  * standard input reaches end of file: the parent holds that pipe open for
  * as long as it waits, so a killed parent takes the JVM with it.
  */
object PerfBench {

  final case class Op(name: String, build: SparkSession => DataFrame)

  /** The generated reference table: `rows` distinct 3-point linestrings
    * (x, y) (x+2, y+2) (x+4, y+4) with x = k/8 for a seeded permutation k
    * of 0..rows-1, and y = x + delta for a seeded delta. `perfbench/check.py`
    * recomputes the same coordinates from the seed to check every output
    * row analytically, so the two formulas must stay in step. */
  def refLinesSql(rows: Int, seed: Long, parts: Int): String = {
    val s = java.lang.Math.floorMod(seed, 1L << 31)
    s"""SELECT id, x0, x0 + CASE dk WHEN 0 THEN 1.0 WHEN 1 THEN 2.5 WHEN 2 THEN -3.0 ELSE 1.0 END AS y0
       |FROM (SELECT id,
       |        CAST(pmod(id * 2654435761 + ${s}L * 40503, $rows) AS DOUBLE) / 8.0 AS x0,
       |        CAST(shiftright(pmod(id * 2246822519 + ${s}L * 3266489917, 4294967296), 30) AS INT) AS dk
       |      FROM range(0, $rows, 1, $parts))""".stripMargin
  }

  val RefPoint = "POINT(10 11)"
  val RefEnvelope = "1000.0625, 1000.0625, 9000.0625, 9000.0625"
  val RefBufferWidth = "0.5"

  /** Operations on the generated reference table, by name. */
  private val refOps: Map[String, SparkSession => DataFrame] = Map(
    "ref_intersects" -> (_.sql(
      s"SELECT id, ST_Intersects(geom, ST_GeomFromText('$RefPoint')) AS hit FROM ref_lines")),
    "ref_astext" -> (_.sql("SELECT id, ST_AsText(geom) AS wkt FROM ref_lines")),
    "ref_buffer_box2d" -> (_.sql(
      s"SELECT id, box2d(ST_Buffer(geom, $RefBufferWidth, 8)) AS bb FROM ref_lines")),
    "ref_length_npoints" -> (_.sql(
      "SELECT id, ST_Length(geom) AS len, ST_NPoints(geom) AS np FROM ref_lines")),
    "ref_within" -> (_.sql(
      s"SELECT id, ST_Within(geom, ST_MakeEnvelope($RefEnvelope)) AS inside FROM ref_lines")))

  /** Brings the JVM to the same state before every timed pass: a full GC,
    * a wait until the JIT compiler has been idle for 100 ms (at most 5 s)
    * and Spark's cleaner has dropped the blocks of frames the GC found
    * unreachable, then a second full GC. Returns the heap then in use, in
    * MB: what the workload keeps live between calls. */
  def settle(): Double = {
    val jit = ManagementFactory.getCompilationMXBean
    System.gc()
    val t0 = System.nanoTime()
    var last = -1L
    while (jit.getTotalCompilationTime != last && System.nanoTime() - t0 < 5e9) {
      last = jit.getTotalCompilationTime
      Thread.sleep(100)
    }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** CPU nanoseconds of every live Java thread, with its name, by thread id. */
  private def threadCpu(): Map[Long, (String, Long)] = {
    val mx = ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.toSeq.flatMap { id =>
      val info = mx.getThreadInfo(id)
      val ns = mx.getThreadCpuTime(id)
      if (info == null || ns < 0) None else Some(id -> (info.getThreadName, ns))
    }.toMap
  }

  /** Where a pass's process CPU went, in seconds: the driver thread
    * (building frames, planning, eager collects), Spark's task threads, the
    * other Java threads (broadcast and subquery pools, listener bus,
    * cleaner), and what is left for the JVM's own threads (JIT compiler,
    * GC). `jit_s` is the JIT's compilation time in the pass, a share of
    * the JVM part. */
  private def cpuSplit(before: Map[Long, (String, Long)], after: Map[Long, (String, Long)],
                       processS: Double, jitS: Double): Seq[(String, Any)] = {
    val byGroup = after.toSeq.map { case (id, (name, ns)) =>
      val group =
        if (name == "main") "driver"
        else if (name.startsWith("Executor task launch worker")) "tasks"
        else "other_threads"
      group -> (ns - before.get(id).map(_._2).getOrElse(0L)) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
    val g = Seq("driver", "tasks", "other_threads").map(k => k -> byGroup.getOrElse(k, 0.0))
    g.map { case (k, v) => s"cpu.${k}_s" -> v } ++ Seq(
      "cpu.jvm_s" -> (processS - g.map(_._2).sum), "cpu.jit_s" -> jitS)
  }

  /** Whole-stage and expression classes Spark has compiled so far: a
    * compile is a miss of Spark's generated-code cache. */
  private def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Halts the JVM, after deleting `runDir`, once standard input ends. */
  private def exitWithParent(runDir: String): Unit = {
    val t = new Thread(() => {
      def rm(f: File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete() }
      try {
        while (System.in.read() >= 0) {}
        rm(new File(runDir))
      } finally Runtime.getRuntime.halt(3)
    }, "perfbench-parent-watch")
    t.setDaemon(true)
    t.start()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opt("seed").toLong
    val passCount = opt("passes").toInt
    val warmupCount = opt("warmup-passes").toInt
    val traced = opt("trace") == "1"
    val data = opt("data")
    val out = opt("out")
    val slots = opt("slots").toInt
    val rows = opt("rows").toInt
    val names = opt("ops").split(',').toSeq
    exitWithParent(opt("run-dir"))
    val entryRows = names.filterNot(refOps.contains)

    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName(s"perfbench-${opt("workload")}")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("local-dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GeoFunctions.register(spark)
    val setup = collection.mutable.LinkedHashMap[String, Double]()
    var mark = ManagementFactory.getRuntimeMXBean.getStartTime
    def lap(name: String): Unit = {
      val now = System.currentTimeMillis()
      setup(name) = (now - mark) / 1000.0
      mark = now
    }
    lap("session")

    if (names.exists(refOps.contains)) {
      val input = s"$out/input/ref_lines"
      spark.sql(refLinesSql(rows, seed, slots))
        .selectExpr("id", "x0", "y0",
          "ST_GeomFromText(concat('LINESTRING(', x0, ' ', y0, ', ', x0 + 2, ' ', y0 + 2, " +
            "', ', x0 + 4, ' ', y0 + 4, ')')) AS geom")
        .write.parquet(input)
      spark.read.parquet(input).createOrReplaceTempView("ref_lines")
      lap("ref_lines")
    }
    val ops: Seq[Op] = names.map(n => Op(n, refOps.getOrElse(n,
      (s: SparkSession) => graft.SparkEntry.queries(n)(s, data))))

    val tmpRoot = new File(System.getProperty("java.io.tmpdir"))
    val tracer = if (traced) Some(new Tracer(spark, slots, tmpRoot)) else None

    // warm pass: outputs go to JSON lines (nulls kept) and a file of column
    // names for the checker instead of noop; an operation that fails here
    // has no output to check, so it counts as attempted and failed like a
    // failure in a timed pass
    val failed = collection.mutable.LinkedHashMap[String, String]()
    var attempted = 0
    var opFailures = 0
    for (op <- ops) {
      attempted += 1
      try {
        val df = op.build(spark)
        df.write.option("ignoreNullFields", "false").json(s"$out/check/${op.name}")
        Files.writeString(Paths.get(s"$out/check/${op.name}.columns"), df.columns.mkString("\n"))
      } catch { case e: Throwable =>
        opFailures += 1
        failed(op.name) = s"warm: $e"
      }
      lap(s"warm.${op.name}")
    }
    val warmFailed = failed.keys.toSeq

    /** One pass over the operations, each built and run to a noop sink;
      * returns each operation's wall time in seconds. */
    def runOps(kind: String): Seq[(String, Double)] = ops.map { op =>
      attempted += 1
      val s0 = System.nanoTime()
      try {
        val df = op.build(spark)
        tracer.foreach(_.noteAnalysis(df))
        df.write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        opFailures += 1
        failed.getOrElseUpdate(op.name, s"$kind: $e")
      }
      op.name -> (System.nanoTime() - s0) / 1e9
    }

    // untimed passes, so that the timed ones start once the JIT compiler
    // has caught up with the workload's code
    for (i <- 1 to warmupCount) {
      runOps("warmup")
      lap(s"warmup.$i")
    }
    val setupEndMs = System.currentTimeMillis()

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jit = ManagementFactory.getCompilationMXBean
    val passes = collection.mutable.ArrayBuffer[Json.Obj]()
    var liveHeapMb = 0.0
    settle()
    for (_ <- 1 to passCount) {
      tracer.foreach(_.begin())
      val threads0 = threadCpu()
      val jit0 = jit.getTotalCompilationTime
      val gen0 = codegenCompiles
      val cpu0 = os.getProcessCpuTime
      val p0 = System.nanoTime()
      val opTimes = runOps("timed")
      val wall = (System.nanoTime() - p0) / 1e9
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      val process = cpuSplit(threads0, threadCpu(), cpu, (jit.getTotalCompilationTime - jit0) / 1000.0) :+
        ("codegen.compiles" -> (codegenCompiles - gen0).toDouble)
      val layers = tracer.map(_.end(wall)).getOrElse(Json.Obj())
      passes += Json.Obj("wall_s" -> wall, "cpu_s" -> cpu, "process" -> Json.Obj(process: _*),
        "ops" -> Json.Obj(opTimes: _*), "layers" -> layers)
      liveHeapMb = math.max(liveHeapMb, settle())
    }

    val kernels = tracer.map(_ => Kernels.run(spark, data, seed)).getOrElse(Json.Obj())
    val oracle = entryRows.map(n => n -> graft.SparkEntry.oracleSql(n))
    val result = Json.Obj(
      "workload" -> opt("workload"), "seed" -> seed, "rows" -> rows, "slots" -> slots,
      "setup_end_ms" -> setupEndMs, "setup_phases_s" -> Json.Obj(setup.toSeq: _*),
      "attempted" -> attempted, "failed" -> opFailures,
      "failures" -> Json.Obj(failed.toSeq: _*), "warm_failures" -> warmFailed,
      "heap_live_peak_mb" -> liveHeapMb,
      "ops" -> ops.map(_.name), "oracle" -> Json.Obj(oracle: _*),
      "passes" -> passes.toSeq, "kernels" -> kernels)
    Files.writeString(Paths.get(s"$out/result.json"), Json.render(result))
    spark.stop()
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  final case class Obj(fields: (String, Any)*)
  def render(v: Any): String = v match {
    case o: Obj => o.fields.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
