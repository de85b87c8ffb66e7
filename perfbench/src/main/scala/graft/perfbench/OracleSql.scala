package graft.perfbench

/** Prints, as one JSON object, the DuckDB oracle SQL of every
  * `graft.SparkEntry` row named in the arguments. `perfbench/oracle.py`
  * runs it to remake the expected results the checks compare against. */
object OracleSql {
  def main(args: Array[String]): Unit =
    println(Json.render(Json.Obj(args.toSeq.map(n => n -> graft.SparkEntry.oracleSql(n)): _*)))
}
