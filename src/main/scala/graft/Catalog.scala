package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Table registration, mirroring the reference's parquet-directory catalog
  * (reference: tests/tpch.rs:137-166 registers each TPC-H table from
  * `testdata/tpch/parquet/<table>/`; benchmarks/src/tpch/run.rs:284-346 adds
  * csv/tbl/memtable variants).
  *
  * Spark-first: `spark.read.parquet` gives footer schema inference, column
  * pruning, predicate pushdown and row-group pruning natively; a registered
  * temp view makes the same relation reachable from SQL.
  */
object Catalog {

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one table of the driver-generated testdata layout.
    *
    * `events.ts` contract: every event query does its time math on a BIGINT
    * of epoch-nanoseconds — the engine-portable comparison currency (DuckDB
    * oracles use `epoch_ns(ts)`). Fixture generations have shipped the
    * column as parquet TIMESTAMP(NANOS) *and* as timestamp[us] (naive), so
    * the read normalizes whatever the footer declares to that contract:
    *
    *  - TIMESTAMP(NANOS): only readable behind the legacy flag (set
    *    defensively here so driver-built sessions work too) → already a
    *    BIGINT of epoch-ns, passed through.
    *  - timestamp[us] naive (isAdjustedToUTC=false → TIMESTAMP_NTZ): the
    *    wall clock IS the UTC instant by the generator's contract. The
    *    NTZ→TIMESTAMP cast resolves the wall clock in the session timezone,
    *    so the session tz is pinned to UTC first (measured: to_utc_timestamp
    *    tricks are NOT tz-independent — under America/New_York they shift
    *    every epoch by the zone offset); under UTC the cast is exact and
    *    DST-free.
    *  - timestamp[us] instant (isAdjustedToUTC=true → TIMESTAMP): already an
    *    instant; `unix_micros` is tz-independent.
    *
    * Any other physical type fails loudly here — one clear error instead of
    * fifteen analysis errors downstream.
    *
    * Scale note: normalizing in the scan expression trades parquet
    * row-group pruning on `ts` (a computed column takes no PushedFilter)
    * for a fixture-proof contract; event queries are full-scan shaped, so
    * at 100 TB the right layout lever is the partitioned-by-day write
    * (`writePartitioned`), not min/max pruning on this column.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // defensive: queries using the native expressions (cosine_sim,
    // damerau_levenshtein) must work in DRIVER-built sessions too, where
    // the extension injection of GraftSession never ran. Idempotent and
    // cheap; removes a real ordering hazard (a standalone run of a query
    // that assumed some earlier query had registered the functions).
    graft.functions.GraftFunctions.register(spark)
    // events confs matter at SCAN EXECUTION, not just build: re-assert on
    // every call so a cached events frame stays readable even if a spec
    // restored the conf in between
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
    val key =
      s"${org.apache.spark.sql.graft.GraftBridge.sessionUUID(spark)}|$sfDir|$name"
    val hit = tableCache.get(key)
    if (hit != null) hit
    else {
      val df = buildTable(spark, sfDir, name)
      tableCache.putIfAbsent(key, df) // benign duplicate build under race
      tableCache.get(key)
    }
  }

  /** Per-(session, dir, table) cache of the normalized source frames.
    * `spark.read.parquet` runs a driver-side schema-inference JOB on every
    * call (~25-50 ms per table), so an uncached Catalog.table put 2-4
    * footer-read jobs in front of EVERY query execution — at SF1 that was
    * ~30% of a short query's wall clock (floor profile, round 7). The
    * frame is an immutable logical plan over read-only fixture dirs;
    * staleness risk is the same as Spark's own FileStatusCache (a fixture
    * regenerated MID-SESSION was already unsafe before this cache).
    * Keyed by `spark.sessionUUID` (globally unique per session, unlike an
    * identity hash code, which can collide across live and stopped
    * sessions): entries of stopped sessions are a few KB of unreferenced
    * plan — negligible leak for the harness's JVM lifetimes. */
  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def buildTable(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      df.schema("ts").dataType match {
        case LongType         => df // nanos fixture + legacy flag
        case TimestampNTZType =>
          df.withColumn("ts",
            org.apache.spark.sql.functions
              .expr("unix_micros(cast(ts as timestamp)) * 1000L"))
        case TimestampType =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.expr("unix_micros(ts) * 1000L"))
        case other =>
          throw new IllegalStateException(
            s"events.ts inferred as $other — fixture regenerated with an " +
              "unsupported physical type; extend Catalog.table's " +
              "normalization (contract: BIGINT epoch-nanos)")
      }
    } else {
      val path = s"$sfDir/$name.parquet"
      val df = spark.read.parquet(path)
      // Tiny-dimension inlining (r10, the SF1 short-query floor lever):
      // a table whose files total under [[SmallDimInlineBytes]] is read
      // ONCE and pinned as a literal LocalRelation. Every broadcast build
      // over a file-backed tiny dim costs a scheduled 1-task Spark job
      // (~15-25 ms of driver round-trips — the q02/q11 job-chain floor,
      // r9 PhaseProbe); over a LocalRelation the broadcast materializes
      // driver-side with NO job at all, and Catalyst can constant-fold
      // through LocalTableScan. This is the fixed-cardinality reference
      // table case (TPC-H nation=25/region=5 rows AT EVERY SCALE): at
      // 100 TB these stay kilobytes while facts grow, so the size-based
      // rule self-selects exactly them. The collect happens once per
      // (session, dir) via tableCache, costs one job where the first
      // broadcast build would have, and can never mis-fire on real data
      // (a 32 KB "fact" does not exist).
      val bytes = totalBytes(new java.io.File(path))
      if (bytes > 0 && bytes < SmallDimInlineBytes) {
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
      } else df
    }

  /** Tables under this total file size are inlined as LocalRelations by
    * [[table]] — sized to catch the bounded-cardinality dims (nation,
    * region at every SF and replica) and nothing that grows with SF past
    * the smallest fixtures. */
  val SmallDimInlineBytes: Long = 32L << 10

  private def totalBytes(f: java.io.File): Long =
    if (f.isDirectory)
      Option(f.listFiles()).map(_.map(totalBytes).sum).getOrElse(0L)
    else f.length()

  /** On-disk bytes of one table at `sfDir` (file or part-file directory) —
    * a zero-job size signal for data-dependent execution-regime gates
    * (e.g. the simhash interpreted-tail decision). */
  def tableBytes(sfDir: String, name: String): Long =
    totalBytes(new java.io.File(s"$sfDir/$name.parquet"))

  /** Register every table of `sfDir` as a temp view (idempotent). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    tableNames.foreach { n =>
      table(spark, sfDir, n).createOrReplaceTempView(n)
    }

  /** Declared-schema CSV registration (reference:
    * benchmarks/src/tpch/mod.rs:41-141 + run.rs:294-309 — `.tbl` files with
    * '|' delimiter and no header).
    */
  def registerCsv(
      spark: SparkSession,
      name: String,
      path: String,
      schema: org.apache.spark.sql.types.StructType,
      delimiter: String = "|"): DataFrame = {
    val df = spark.read
      .option("delimiter", delimiter)
      .option("header", "false")
      .schema(schema)
      .csv(path)
    df.createOrReplaceTempView(name)
    df
  }

  /** Hive-layout partitioned write: `<path>/<col>=<value>/part-*.parquet`.
    * THE layout decision at 100 TB — a time- or tenant-partitioned fact
    * table lets a filtered query touch only matching directories (static
    * partition pruning) and lets a join against a filtered dimension skip
    * fact partitions at runtime (dynamic partition pruning); both proven
    * in PartitionPruningSpec. Partition columns should be low-cardinality
    * (days, not user ids): each value is a directory, and a high-card
    * partition column produces the classic million-small-files failure. */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /** Range-partitioned, in-file-sorted write — the Spark analog of the
    * reference's declared file sort order (reference:
    * benchmarks/src/tpch/run.rs:334-339 `file_sort_order`): each output
    * file covers a DISJOINT range of the sort key (`repartitionByRange`
    * keeps equal keys together, so file spans never overlap) and is
    * internally sorted, so every parquet row group carries tight min/max
    * statistics on the key. A range predicate then prunes to the few row
    * groups whose span intersects it (vanilla Spark prunes ROW GROUPS at
    * read time from these stats; file-level skipping on min/max is what
    * table formats add on top — the layout guarantee proven in
    * SortedLayoutSpec is what makes either effective). At 100 TB this is
    * the clustering lever for the fine-grained access column once
    * partition directories handle the coarse one (partition by day,
    * range-sort by the query's range key within). */
  def writeRangeSorted(df: DataFrame, path: String, nFiles: Int,
      sortCols: Column*): Unit =
    df.repartitionByRange(nFiles, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .write.mode("overwrite").parquet(path)

  /** JSON-lines registration with a declared schema (schema-on-read, no
    * inference pass over the data — at 100 TB an inference scan would cost
    * as much as the query). Columns absent from a line read as null;
    * `columnNameOfCorruptRecord` is left at Spark's default PERMISSIVE
    * handling so one bad line cannot kill an ingest.
    */
  def registerJson(
      spark: SparkSession,
      name: String,
      path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val df = spark.read.schema(schema).json(path)
    df.createOrReplaceTempView(name)
    df
  }

  /** ORC registration — same footer-driven pruning/pushdown properties as
    * parquet (Spark's native vectorized ORC reader).
    */
  def registerOrc(spark: SparkSession, name: String, path: String): DataFrame = {
    val df = spark.read.orc(path)
    df.createOrReplaceTempView(name)
    df
  }

  /** In-memory preload (reference: benchmarks/src/tpch/run.rs:225-235
    * `--mem-table`): cache + materialize.
    *
    * NOT composable with the harness query boundary:
    * [[graft.GraftSession.releaseQueryState]] calls
    * `cacheManager.clearCache()` between registry queries, which drops
    * THIS cache too — a Bench/Verify loop over a cacheTable preload would
    * silently measure cold parquet reads after the first query while
    * claiming mem-table mode. Preload-mode measurement must either run
    * single-query or skip the release boundary.
    */
  def cacheTable(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = table(spark, sfDir, name).cache()
    df.count() // materialize
    df.createOrReplaceTempView(name)
    df
  }

  /** External-table registration + REAL statistics collection — the Spark
    * analog of the reference's `with_collect_statistics(true)` /
    * `--disable-statistics` toggle (reference:
    * benchmarks/src/tpch/run.rs:90-92,118). Temp views carry no stats, so
    * `GraftTuning.cboEnabled` is only substance when tables live in the
    * catalog WITH analyzed stats: this registers each parquet dir as an
    * external table under the `dbName` database and runs
    * `ANALYZE TABLE … COMPUTE STATISTICS FOR ALL COLUMNS` (row count +
    * per-column NDV/min/max/null-count — what the CBO join reorder and
    * filter-selectivity estimates consume). At 100 TB this is the
    * difference between a cost-based join order and SQL-text order.
    *
    * `events` is excluded by default: its TIMESTAMP(NANOS) column needs
    * the legacy read flag and event queries use the DataFrame path.
    */
  def registerAnalyzed(
      spark: SparkSession,
      sfDir: String,
      names: Seq[String] = tableNames.filterNot(_ == "events"),
      dbName: String = "graft_stats"): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$dbName`")
    names.foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS `$dbName`.`$n`")
      spark.sql(
        s"CREATE TABLE `$dbName`.`$n` USING parquet LOCATION '$sfDir/$n.parquet'")
      spark.sql(
        s"ANALYZE TABLE `$dbName`.`$n` COMPUTE STATISTICS FOR ALL COLUMNS")
    }
  }

  /** Bucketed + sorted managed table — the Spark analog of the
    * reference's sorted-file declaration (`file_sort_order`, reference:
    * benchmarks/src/tpch/run.rs:334-339) and the scale path for repeated
    * co-located joins: two tables bucketed by the same key join WITHOUT a
    * shuffle, which is the difference between O(data) and O(data+shuffle)
    * per query on a 100 TB fact table joined every hour.
    */
  /** Warehouse locations written by [[writeBucketed]], deleted at JVM
    * exit: table names are PID-suffixed (two JVMs — bench + verify — may
    * run the registry concurrently, so a fixed name could overwrite
    * part files mid-read), which means a same-named overwrite never
    * reclaims a PREVIOUS JVM's data — without this hook every run leaks
    * both tables' bytes in /tmp/graft-warehouse indefinitely. */
  private val bucketedLocs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  sys.addShutdownHook {
    bucketedLocs.forEach { root =>
      try {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(root)
      } catch { case _: Throwable => () } // best-effort: exit must not fail
    }
  }

  def writeBucketed(df: DataFrame, tableName: String, nBuckets: Int,
      key: String, sortCols: Seq[String] = Seq.empty): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    // a location orphaned by a previous metastore (fresh derby per JVM)
    // blocks CREATE TABLE — clear it
    val loc = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
        .getPath + "/" + tableName.toLowerCase)
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(loc)
    }
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, key)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(tableName)
    bucketedLocs.add(loc)
  }
}
