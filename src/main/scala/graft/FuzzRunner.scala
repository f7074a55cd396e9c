package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Spark half of the differential fuzz harness: executes each generated
  * query (tools/gen_fuzz.py, name<TAB>single-line-SQL TSV) with
  * `spark.sql` over the registered fixture views and dumps Verify-shaped
  * output — per-query parquet + an oracle_sql.json whose "oracle" is the
  * IDENTICAL query text — so `tools/check_oracles.py` applies the same
  * pandas-canonicalized comparator the driver uses. Because both engines
  * evaluate the same SQL, a mismatch here is a genuine cross-engine
  * semantic divergence, which generalizes the reference's fixed-corpus
  * differential testing (reference: tests/tpch.rs:168-194) to an
  * unbounded generated corpus.
  *
  * usage: sbt "runMain graft.FuzzRunner <sfDir> <queriesTsv> <outDir>"
  */
object FuzzRunner {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: FuzzRunner <sfDir> <queriesTsv> <outDir>")
    val Array(sfDir, tsv, outDir) = args
    val spark = GraftSession.get()
    Catalog.registerAll(spark, sfDir)
    val queries = Files.readAllLines(Paths.get(tsv)).asScala
      .filter(_.nonEmpty)
      .map { line =>
        val i = line.indexOf('\t')
        require(i > 0, s"malformed fuzz line: $line")
        (line.substring(0, i), line.substring(i + 1))
      }
    Runner.claim(outDir, "fuzz")
    val failed = queries.filter { case (name, sql) =>
      Runner.attempt("fuzz", name)(spark.sql(sql).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")).isLeft
    }.map(_._1)
    Runner.writeOracleSql(outDir, queries.toSeq)
    require(failed.isEmpty,
      s"fuzz queries failed to EXECUTE on Spark (dialect bug in the " +
        s"generator, fix gen_fuzz.py): ${failed.sorted.mkString(", ")}")
    spark.stop()
  }
}
