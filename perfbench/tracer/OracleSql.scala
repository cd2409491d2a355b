package perfbench

/** Prints the program's DuckDB oracle SQL for the named queries as one
  * JSON object, so the benchmark can count expected rows without
  * keeping a copy of the SQL. Needs no Spark session.
  * Run: `perfbench.OracleSql <query>...`
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    println(Trace.value(args.toSeq.flatMap(n => sql.get(n).map(n -> _)).toMap))
  }
}
