package graft

import org.apache.spark.sql.functions._

/** SQL entry path: statements through `spark.sql`, over the session's
  * temp views and parquet warehouse. */
class SqlSpec extends SparkSpec {

  test("q15-style 3-statement view flow runs end-to-end") {
    Catalog.registerAll(spark, sf0001)
    val script = """
      CREATE OR REPLACE TEMP VIEW rev_t AS
        SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey;
      SELECT s_suppkey, n FROM supplier JOIN rev_t ON s_suppkey = l_suppkey
        WHERE n = (SELECT MAX(n) FROM rev_t) ORDER BY s_suppkey;
      DROP VIEW rev_t"""
    val Array(create, select, drop) = script.split(";")
    spark.sql(create)
    assert(spark.sql(select).collect().nonEmpty)
    spark.sql(drop)
    assert(intercept[Exception](spark.table("rev_t")).getMessage.contains("rev_t"))
  }

  test("CTAS + INSERT INTO flow through the script path (DDL/DML surface)") {
    // the warehouse write path: CREATE TABLE AS SELECT materializes a
    // parquet-backed managed table, INSERT INTO appends
    Catalog.registerAll(spark, sf0001)
    spark.sql("DROP TABLE IF EXISTS ctas_nation")
    val script = """
      CREATE TABLE ctas_nation USING parquet AS
        SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 10;
      INSERT INTO ctas_nation
        SELECT n_nationkey, n_name FROM nation WHERE n_nationkey >= 10;
      SELECT COUNT(*) AS n FROM ctas_nation"""
    val stmts = script.split(";")
    stmts.init.foreach(spark.sql)
    val out = spark.sql(stmts.last).head.getLong(0)
    assert(out === Catalog.table(spark, sf0001, "nation").count())
    // appended rows are readable with full fidelity, not just countable
    assert(spark.table("ctas_nation").orderBy("n_nationkey")
      .collect().map(_.getString(1)).toSeq ===
      Catalog.table(spark, sf0001, "nation").orderBy("n_nationkey")
        .collect().map(r => r.getString(r.fieldIndex("n_name"))).toSeq)
    spark.sql("DROP TABLE ctas_nation")
  }

  test("ANSI substring(x FROM i FOR n) syntax parses (SURVEY risk item)") {
    val r = spark.sql("SELECT substring('graft' FROM 1 FOR 2) AS s").head.getString(0)
    assert(r === "gr")
  }

  test("SQL over registered views matches the DataFrame path") {
    Catalog.registerAll(spark, sf0001)
    val sql = spark.sql(
      "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val df = Catalog.table(spark, sf0001, "lineitem")
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sql === df)
  }

  test("x_recursive_cte executes as an iterative UnionLoop, not an unrolled union") {
    val df = Registry.byName("x_recursive_cte").run(spark, sf0001)
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("UnionLoop"), s"expected UnionLoopExec in:\n$s")
    // gap-fill contract: every calendar day survives, zero-activity days as 0
    val rows = df.collect()
    assert(rows.length === 31)
    assert(rows.map(_.getDate(0).toString).toSeq === // contiguous spine
      (1 to 31).map(d => f"1995-03-$d%02d"))
  }

  test("x_sql_udf bodies are inlined at analysis time (no ScalaUDF, codegen intact)") {
    val df = Registry.byName("x_sql_udf").run(spark, sf0001)
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("ScalaUDF"), s"SQL UDF fell back to a black-box UDF:\n$s")
    // the function body appears as a plain CASE WHEN projected right above
    // the scan — Catalyst sees through it (codegen + pushdown apply as if
    // the user had written the expression by hand)
    assert(s.contains("CASE WHEN"), s"expected the inlined body in:\n$s")
    // and the result equals the hand-inlined expression path
    val expect = Catalog.table(spark, sf0001, "orders")
      .groupBy(when(col("o_totalprice") < 50000, "small")
        .when(col("o_totalprice") < 150000, "mid").otherwise("large").as("band"))
      .agg(count(lit(1)).as("n_orders"),
        count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)).as("n_urgent"))
      .orderBy("band")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expect)
  }
}
