package graft

import java.io.File
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import graft.plans.AdaptiveGate

/** Pins the registry runner's contract: name selection, the per-query
  * boundary (failure with its root cause, restore and release after
  * every query, no gate conf left behind), the output-dir guard, and the
  * JSON string escaper the oracle files are written with. */
class RunnerSpec extends SparkSpec {

  private val q01 = "q01_pricing_summary"
  private val q06 = "q06_scalar_agg"
  private val gateKeys = Seq("spark.sql.adaptive.enabled",
    "spark.sql.constraintPropagation.enabled", "spark.sql.shuffle.partitions",
    "graft.autotune.origPartitions")

  private def gateConf = gateKeys.map(k => k -> spark.conf.getOption(k)).toMap

  test("select picks names in name order and rejects unknown names up front") {
    assert(Runner.select(Some(s" $q06,$q01,$q06 ")) === Seq(q01, q06))
    assert(Runner.select(None) === Registry.all.map(_.name).sorted)
    val e = intercept[IllegalArgumentException](
      Runner.select(Some(s"$q01,q01_typo,zz_typo")))
    assert(e.getMessage.contains("q01_typo,zz_typo"))
  }

  test("the boundary leaves no gate conf behind a query") {
    AdaptiveGate.reset(spark) // a clean slate, whatever ran before
    val before = gateConf
    val out = Runner.each(spark, sf0001, Seq(q01), "runner-spec") { (_, query) =>
      val df = query()
      // the gate did pick single-shot mode for this execution...
      assert(spark.conf.get("spark.sql.adaptive.enabled") === "false")
      df.count()
    }
    assert(out.map(_.ok) === Seq(true))
    // ...and the boundary put the session's own conf back
    assert(gateConf === before)
  }

  test("a failing action yields its root cause and the next query still runs") {
    AdaptiveGate.reset(spark)
    val before = gateConf
    var seenByNext: Option[Map[String, Option[String]]] = None
    val out = Runner.each(spark, sf0001, Seq(q01, q06), "runner-spec") {
      case (`q01`, query) =>
        query() // leaves the gate's single-shot conf set
        throw new RuntimeException("wrapped", new IllegalStateException("root cause"))
      case (_, query) =>
        seenByNext = Some(gateConf)
        query().count()
    }
    assert(out.map(_.name) === Seq(q01, q06))
    out.head.result match {
      case Left(e: IllegalStateException) => assert(e.getMessage === "root cause")
      case other => fail(s"expected the root cause, got $other")
    }
    assert(out(1).result === Right(1L))
    assert(seenByNext === Some(before), "the failed query's conf reached the next")
    assert(gateConf === before)
  }

  test("claim clears only directories it owns and never marks a foreign one") {
    val root = Files.createTempDirectory("runner-claim").toFile
    try claimCases(root)
    finally Files.walk(root.toPath).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
  }

  private def claimCases(root: File): Unit = {
    def marked(d: File) = new File(d, ".graft-verify").exists()
    // a new directory and an empty one are claimed
    val fresh = new File(root, "fresh")
    assert(Runner.claim(fresh.getPath, "spec"))
    assert(marked(fresh))
    val empty = new File(root, "empty")
    assert(empty.mkdir())
    assert(Runner.claim(empty.getPath, "spec"))
    assert(marked(empty))
    // a prior run's directory is cleared and re-marked
    Files.writeString(Paths.get(fresh.getPath, "stale.txt"), "stale")
    assert(Runner.claim(fresh.getPath, "spec"))
    assert(fresh.list().toSet === Set(".graft-verify"))
    // a foreign directory is kept and gets no marker...
    val foreign = new File(root, "foreign")
    assert(foreign.mkdir())
    Files.writeString(Paths.get(foreign.getPath, "keep.txt"), "keep")
    assert(!Runner.claim(foreign.getPath, "spec"))
    assert(!marked(foreign))
    // ...so a second claim, after a dump wrote its outputs there, still
    // deletes nothing
    Runner.writeOracleSql(foreign.getPath, Seq(q01 -> "select 1"))
    assert(!Runner.claim(foreign.getPath, "spec"))
    assert(foreign.list().toSet === Set("keep.txt", "oracle_sql.json"))
  }

  test("jsonStr escapes quotes, backslashes and control chars") {
    val s = "a\"b\\c\nd\re\tf\u0001g"
    val bs = "\\"
    val expected = "\"a" + bs + "\"b" + bs + bs + "c" + bs + "nd" + bs + "re" +
      bs + "tf" + bs + "u0001g\""
    assert(Runner.jsonStr(s) === expected)
    assert(new ObjectMapper().readValue(Runner.jsonStr(s), classOf[String]) === s)
  }
}
