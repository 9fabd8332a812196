package perfbench

import java.nio.file.{Files, Paths}

/** Writes `SparkEntry.oracleSql` for every query the workloads time to a
  * JSON file, the input of `oracle.py`.
  *
  * Usage: perfbench.OracleDump <out.json>
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val missing = Workload.AllRows.filterNot(sql.contains)
    require(missing.isEmpty, s"no oracle SQL for ${missing.mkString(", ")}")
    Files.writeString(Paths.get(args(0)),
      Json.write(Workload.AllRows.map(q => q -> sql(q)).toMap))
  }
}
