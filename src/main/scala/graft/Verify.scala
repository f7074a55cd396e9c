package graft
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare.
  *
  * usage: Verify <sfDir> <outDir> [only=q1,q2]
  * (the optional subset is for fast local iteration; a full-registry
  * run passes two args) */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, names) = Runner.dumpArgs("Verify", args)
    val spark = GraftSession.get()
    Runner.dump(spark, sfDir, outDir, names, "verify")
    spark.stop()
  }
}
