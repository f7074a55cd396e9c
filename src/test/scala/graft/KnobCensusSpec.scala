package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Census of the settable values main code reads: every environment
  * variable (`sys.env` / `System.getenv`) and every `graft.*` or
  * `spark.graft.*` session conf key literal under `src/main` must be on
  * an allow-list below with a one-line reason, and every allow-list
  * entry must still be read somewhere. A new knob therefore has to
  * justify itself here, and a knob whose last reader is deleted leaves
  * the list with it. Switches that exist only to turn a mechanism off
  * for an A/B do not belong: an ablation compares the parent commit with
  * the change instead.
  * Entry points get the same census: every object under `src/main` that
  * defines `main` is listed with a one-line reason, so a one-off probe
  * main has to justify itself the way a knob does. So do the listeners
  * main code adds to the Spark context: one collector counts tasks and
  * jobs, and a second one cannot come back unnoticed. */
class KnobCensusSpec extends AnyFunSuite {

  private val allowedEnv: Map[String, String] = Map(
    "SPARK_GRAFT_CPUS" -> "deployment: local parallelism of the session",
    "SPARK_GRAFT_LOCAL_DIR" -> "deployment: shuffle and spill scratch directory",
    "SPARK_GRAFT_SF_DIR" -> "Bench: data directory of the driver bench",
    "SPARK_GRAFT_BENCH_DETAIL" -> "Bench: path of the per-iteration detail file",
    "SPARK_GRAFT_BENCH_ONLY" -> "Bench: restricts a run to the named queries",
    "GRAFT_CLUSTER_TOPOLOGY" -> "ClusterCheck: executors, cores and MB per executor on small hosts",
    "GRAFT_PROBE_VARIANTS" -> "ConfProbe: the conf variants of its same-JVM A/B")

  private val allowedConf: Map[String, String] = Map(
    "graft.autotune.origPartitions" ->
      "AdaptiveGate's marker: the session's own partitions while the gate overrides them",
    "graft.simhash.interpretedTail" ->
      "t_simhash_neardup's size-gate signal, read back by its execution-regime conf",
    "graft.stream.filesPerTrigger" ->
      "StreamingSpec's batching-invariance parameter for the streaming replays",
    "spark.graft.reliableCheckpointDir" ->
      "a durable path that switches the ccLabels cuts to reliable checkpoints (GraphOpsSpec)")

  private val allowedMains: Map[String, String] = Map(
    "graft.Bench" -> "driver bench contract: one JSON line over the registry",
    "graft.BenchFull" -> "per-query iteration timings that tools/merge_bench.py compares",
    "graft.Verify" -> "correctness dump for the DuckDB oracle compare (tools/gate.sh)",
    "graft.OracleDump" -> "oracle SQL without running queries (tools/round_artifacts.sh)",
    "graft.ClusterCheck" -> "the registry across two executor JVMs (tools/round_artifacts.sh)",
    "graft.FaultCheck" -> "executor-kill recovery proof (tools/round_artifacts.sh)",
    "graft.FuzzRunner" -> "generated-SQL differential against DuckDB (tools/fuzz.sh)",
    "graft.ScaleUp" -> "key-shifted replicas for perfbench and the 10x rung",
    "graft.Plans" -> "regenerates PLANS.md",
    "graft.PlanDump" -> "raw formatted plans for before/after plan diffs",
    "graft.ConfProbe" -> "same-JVM session-conf A/B over registry queries")

  private val allowedListeners: Map[String, String] = Map(
    "src/main/scala/graft/EnvCounters.scala" ->
      "the task and job counters of the bench detail files and `measure`",
    "src/main/scala/graft/FaultCheck.scala" ->
      "counts executor removals to prove the kill happened",
    "src/main/scala/graft/ConfProbe.scala" ->
      "records each stage's task count, a plan shape rather than a counter")

  /** (file:line, line) of every non-comment line of main Scala source. */
  private lazy val codeLines: Seq[(String, String)] = {
    val root = Paths.get("src/main")
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
    files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if !isComment(line) => (s"$f:${i + 1}", line)
      }
    }
  }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  private val EnvAccess = """sys\.env|System\.getenv""".r
  private val EnvRead =
    """(?:sys\.env(?:\.(?:get|getOrElse|contains|apply))?|System\.getenv)\(\s*"([A-Za-z0-9_]+)"""".r
  private val ConfKey = """"((?:spark\.)?graft\.[A-Za-z0-9_.]+)"""".r

  /** Variable name of each env access, or Left(site) when the name is
    * not a literal (a computed or whole-map read cannot be audited). */
  private lazy val envReads: Seq[Either[String, String]] =
    codeLines.flatMap { case (site, line) =>
      EnvAccess.findAllMatchIn(line).map { m =>
        EnvRead.findPrefixMatchOf(line.substring(m.start))
          .map(r => Right(r.group(1))).getOrElse(Left(s"$site: ${line.trim}"))
      }
    }

  private val PackageDecl = """^\s*package\s+([\w.]+)""".r
  private val ObjectDecl = """\bobject\s+(\w+)""".r
  private val MainDef = """\bdef\s+main\s*\(""".r

  /** Qualified name of each object whose body defines `main`: the
    * package and object declared last before the definition. */
  private lazy val mains: Set[String] = {
    var pkg = ""
    var obj = ""
    codeLines.flatMap { case (_, line) =>
      PackageDecl.findFirstMatchIn(line).foreach(m => pkg = m.group(1))
      ObjectDecl.findFirstMatchIn(line).foreach(m => obj = m.group(1))
      MainDef.findFirstIn(line).map(_ => s"$pkg.$obj")
    }.toSet
  }

  private lazy val confKeys: Set[String] =
    codeLines.flatMap { case (_, line) =>
      ConfKey.findAllMatchIn(line).map(_.group(1))
    }.toSet

  test("every environment read names its variable as a literal") {
    val opaque = envReads.collect { case Left(site) => site }
    assert(opaque.isEmpty, s"unauditable env reads:\n${opaque.mkString("\n")}")
  }

  test("every environment variable main code reads is on the allow-list") {
    val read = envReads.collect { case Right(name) => name }.toSet
    val unlisted = read -- allowedEnv.keySet
    assert(unlisted.isEmpty,
      s"env vars read but not allowed (add a reason or delete the read): $unlisted")
    val stale = allowedEnv.keySet -- read
    assert(stale.isEmpty, s"allow-listed env vars no longer read: $stale")
  }

  test("every graft.* conf key main code names is on the allow-list") {
    val unlisted = confKeys -- allowedConf.keySet
    assert(unlisted.isEmpty,
      s"conf keys named but not allowed (add a reason or delete the key): $unlisted")
    val stale = allowedConf.keySet -- confKeys
    assert(stale.isEmpty, s"allow-listed conf keys no longer named: $stale")
  }

  test("every main object is on the allow-list") {
    val unlisted = mains -- allowedMains.keySet
    assert(unlisted.isEmpty,
      s"main objects not allowed (add a reason or delete the main): $unlisted")
    val stale = allowedMains.keySet -- mains
    assert(stale.isEmpty, s"allow-listed main objects no longer defined: $stale")
  }

  test("every SparkListener main code adds is on the allow-list, once per file") {
    val sites = codeLines.collect {
      case (site, line) if line.contains("addSparkListener") => site
    }
    val byFile = sites.groupBy(_.takeWhile(_ != ':'))
    val unlisted = byFile.collect {
      case (f, s) if !allowedListeners.contains(f) || s.size > 1 => s
    }.flatten
    assert(unlisted.isEmpty,
      s"listener sites not allowed (add a reason or fold into EnvCounters): $unlisted")
    val stale = allowedListeners.keySet -- byFile.keySet
    assert(stale.isEmpty, s"allow-listed listener files no longer add one: $stale")
  }
}
