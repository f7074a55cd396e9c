package graft

import java.nio.file.{Files, Paths}

/** Write `oracle_sql.json` (the [[SparkEntry.oracleSql]] map) WITHOUT
  * running any query — the DuckDB anchor only needs the SQL text, and
  * the full `graft.Verify` run that also produces this file happens much
  * later in the ritual than the anchor's same-window DuckDB timing slot
  * (which sits at the center of the bench interleave, see
  * tools/round_artifacts.sh step [3]).
  *
  * usage: OracleDump <outDir>
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: OracleDump <outDir>")
    val dir = Paths.get(args(0))
    Files.createDirectories(dir)
    Runner.writeOracleSql(args(0), SparkEntry.oracleSql.toSeq.sortBy(_._1))
    println(s"[oracledump] ${SparkEntry.oracleSql.size} oracle entries -> " +
      dir.resolve("oracle_sql.json"))
  }
}
