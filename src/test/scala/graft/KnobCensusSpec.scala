package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Census of the settable values main code reads: every environment
  * variable (`sys.env` / `System.getenv`) and every `graft.*` session conf
  * key literal under `src/main` must be on an allow-list below with a
  * one-line reason, and every allow-list entry must still be read
  * somewhere. A new knob therefore has to justify itself here, and a
  * knob whose last reader is deleted leaves the list with it. Switches
  * that exist only to turn a mechanism off for an A/B do not belong:
  * an ablation compares the parent commit with the change instead. */
class KnobCensusSpec extends AnyFunSuite {

  private val allowedEnv: Map[String, String] = Map(
    "SPARK_GRAFT_CPUS" -> "deployment: local parallelism of the session",
    "SPARK_GRAFT_LOCAL_DIR" -> "deployment: shuffle and spill scratch directory",
    "SPARK_GRAFT_SF_DIR" -> "Bench: data directory of the driver bench",
    "SPARK_GRAFT_BENCH_DETAIL" -> "Bench: path of the per-iteration detail file",
    "SPARK_GRAFT_BENCH_ONLY" -> "Bench: restricts a run to the named queries",
    "GRAFT_CLUSTER_ONLY" -> "ClusterCheck: restricts the multi-JVM run to the named queries",
    "GRAFT_CLUSTER_TOPOLOGY" -> "ClusterCheck: executors, cores and MB per executor on small hosts",
    "GRAFT_PROBE_VARIANTS" -> "ConfProbe: the conf variants of its same-JVM A/B")

  private val allowedConf: Map[String, String] = Map(
    "graft.autotune.origPartitions" ->
      "AdaptiveGate's marker: the session's own partitions while the gate overrides them",
    "graft.simhash.interpretedTail" ->
      "t_simhash_neardup's size-gate signal, read back by its execution-regime conf",
    "graft.stream.filesPerTrigger" ->
      "StreamingSpec's batching-invariance parameter for the streaming replays")

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
  private val ConfKey = """"(graft\.[A-Za-z0-9_.]+)"""".r

  /** Variable name of each env access, or Left(site) when the name is
    * not a literal (a computed or whole-map read cannot be audited). */
  private lazy val envReads: Seq[Either[String, String]] =
    codeLines.flatMap { case (site, line) =>
      EnvAccess.findAllMatchIn(line).map { m =>
        EnvRead.findPrefixMatchOf(line.substring(m.start))
          .map(r => Right(r.group(1))).getOrElse(Left(s"$site: ${line.trim}"))
      }
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
}
