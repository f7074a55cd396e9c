package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one per-query execution boundary behind every registry main, after
  * the reference's single timing loop (reference:
  * benchmarks/src/tpch/run.rs:181-213). [[each]] runs queries one at a
  * time, logs a failure with its root cause, and always ends a query with
  * [[SparkEntry.restore]] and [[GraftSession.releaseQueryState]], so no
  * query's conf or cached blocks reach the next. The mains are formatters
  * over [[each]], the timed loop ([[timed]]) and the Verify-shaped dump
  * ([[dump]]). */
object Runner {

  /** One query's result, or the root cause of its failure. */
  final case class Outcome[T](name: String, result: Either[Throwable, T]) {
    def ok: Boolean = result.isRight
  }

  /** One timed iteration: wall seconds, whether it succeeded, and the
    * [[EnvCounters]] delta around it as a JSON object. */
  final case class Timing(wallS: Double, ok: Boolean, env: String)

  /** Registry names in name order: all of them, or the comma-separated
    * `only` list. Unknown names are rejected, all listed, before any
    * query runs — a typo must not read as an empty, all-green run. */
  def select(only: Option[String]): Seq[String] = only match {
    case None => Registry.all.map(_.name).sorted
    case Some(csv) =>
      val names = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- Registry.byName.keySet
      require(unknown.isEmpty,
        s"unknown query names: ${unknown.toSeq.sorted.mkString(",")}")
      names.toSeq.sorted
  }

  /** `body`'s value, or its root cause — logged as
    * `[tag] <name> FAILED: <Class>: <msg>`, since a swallowed failure is
    * undiagnosable after the fact. */
  def attempt[T](tag: String, name: String)(body: => T): Either[Throwable, T] =
    try Right(body)
    catch { case e: Throwable =>
      var root = e
      while (root.getCause != null && root.getCause != root) root = root.getCause
      System.err.println(
        s"[$tag] $name FAILED: ${root.getClass.getName}: ${root.getMessage}")
      Left(root)
    }

  /** Run `action` once per name, in order. The action gets the name and a
    * function that builds the query through the contract layer
    * ([[SparkEntry.tuned]]); each call builds a fresh plan. */
  def each[T](spark: SparkSession, sfDir: String, names: Seq[String], tag: String)(
      action: (String, () => DataFrame) => T): Seq[Outcome[T]] =
    names.map { name =>
      val query = () => SparkEntry.tuned(Registry.byName(name))(spark, sfDir)
      val result =
        try attempt(tag, name)(action(name, query))
        finally {
          SparkEntry.restore(spark)
          GraftSession.releaseQueryState(spark)
        }
      Outcome(name, result)
    }

  /** `iterations` timed noop writes of one query. The noop format
    * materializes every output column (a bare count() would let Catalyst
    * prune computed columns and time a pipeline that never ran). The
    * counters are read AFTER the timed region. A failed iteration is
    * logged and marked, and the others still run, so one transient
    * failure neither poisons the timing nor brands the query broken. */
  def timed(spark: SparkSession, tag: String, name: String,
      query: () => DataFrame, iterations: Int): Seq[Timing] =
    (1 to iterations).map { _ =>
      val env0 = EnvCounters.snap(spark)
      val t0 = System.nanoTime()
      val ok = attempt(tag, name)(
        query().write.format("noop").mode("overwrite").save()).isRight
      val wall = (System.nanoTime() - t0) / 1e9
      Timing(wall, ok, EnvCounters.deltaJson(env0, EnvCounters.snapAfter(spark)))
    }

  /** The Verify-shaped dump for the DuckDB compare: each query's rows as
    * one parquet file under `outDir/<name>`, then `oracle_sql.json` with
    * the oracle of every selected query that has one. A failed query
    * leaves no output, which the compare reports. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String], tag: String): Seq[Outcome[Unit]] = {
    claim(outDir, tag)
    val outcomes = each(spark, sfDir, names, tag) { (name, query) =>
      query().coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    writeOracleSql(outDir,
      names.flatMap(n => Registry.byName(n).oracle.map(n -> _)))
    outcomes
  }

  /** `(sfDir, outDir, names)` from a dump main's `<sfDir> <outDir>
    * [only=q1,q2]` arguments. */
  def dumpArgs(main: String, args: Array[String]): (String, String, Seq[String]) = {
    require(args.length == 2 || args.length == 3,
      s"usage: $main <sfDir> <outDir> [only=q1,q2] (got ${args.mkString(" ")})")
    val only = args.lift(2).map { a =>
      require(a.startsWith("only="), s"unrecognized arg $a (expected only=...)")
      a.stripPrefix("only=")
    }
    (args(0), args(1), select(only))
  }

  /** Marks a directory as a dump's own. */
  private val Marker = ".graft-verify"

  /** Make `outDir` this run's output directory, clearing stale outputs
    * first: a stale `oracle_sql.json` would make a crashed run look like
    * a pass downstream. Only a new or empty directory, or one carrying
    * the marker a previous claim wrote, is cleared and (re)marked. Any
    * other non-empty directory — a mistyped outDir, say the fixture dir
    * — is left in place and NOT marked: a marker there would let the
    * next claim of the same path delete its content recursively.
    * Returns whether the directory is owned. */
  def claim(outDir: String, tag: String): Boolean = {
    val out = new File(outDir)
    val children = Option(out.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    val owned = !out.exists() || (out.isDirectory && children.isEmpty) ||
      children.exists(_.getName == Marker)
    if (owned) {
      def rm(f: File): Unit = {
        // listFiles is null on an I/O error or a concurrent removal
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(out)
    } else System.err.println(s"[$tag] $outDir is non-empty without a " +
      s"$Marker marker — leaving existing files in place, overwriting outputs only")
    out.mkdirs()
    if (owned) Files.writeString(Paths.get(outDir, Marker), s"$tag-run\n")
    owned
  }

  /** `oracle_sql.json`: a JSON object of name → SQL, in the given order. */
  def writeOracleSql(outDir: String, entries: Seq[(String, String)]): Unit =
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), entries
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{\n", ",\n", "\n}\n"))

  /** A JSON string literal. Every control char (< 0x20) is escaped: a tab
    * or CR in an oracle's SQL would otherwise make the compare's
    * json.load fail. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Provenance fields for a result file: the commit and the fixture's
    * newest mtime — a proof artifact without them cannot be dated against
    * HEAD or the fixtures. */
  def provenance(sfDir: String): String = {
    val commit =
      try new String(Runtime.getRuntime.exec(Array("git", "rev-parse", "HEAD"))
        .getInputStream.readAllBytes()).trim
      catch { case _: Throwable => "unknown" }
    val fixtureMtime =
      try new File(sfDir).listFiles().map(_.lastModified()).max / 1000
      catch { case _: Throwable => 0L }
    s""""commit":"$commit","testdata_mtime":$fixtureMtime"""
  }
}
