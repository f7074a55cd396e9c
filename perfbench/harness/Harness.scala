package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

import graft.{Catalog, GraftSession, SparkEntry}

/** One benchmark run in one JVM: set up the engine once, timed from JVM
  * start; run a cold pass, fixed warm-up passes and a fixed number of
  * measured warm passes over a workload's registry queries; and write the
  * raw measurements as JSON for `run.py` to reduce. Every execution's
  * output is digested after its pass clock stops, so every execution is
  * checked.
  *
  * Only the program's public entry points are called: `GraftSession.get`,
  * `Catalog.table`, `SparkEntry.queries`, `SparkEntry.restore`,
  * `GraftSession.releaseQueryState` and the registered SQL functions.
  *
  * usage: Harness --data-root <dir> --data <name> --queries <q1,q2,..>
  *          --tables <t1,..> --seed <n> --seconds <s> --trace <0|1>
  *          --out <json> [--spans <json>] [--dump <dir>]
  *
  * The workload reads `<data-root>/<data>`; the kernel rung of a traced
  * run reads `<data-root>/x4`. `--seconds` sets the number of measured
  * warm passes, one per three seconds (at least two): a count, not a
  * deadline, so every commit measures the same passes. With `--dump`,
  * every query is run once, untimed, and its output, digest and oracle SQL
  * written under that directory (see oracle.py).
  */
object Harness {

  /** Warm-up passes between the cold pass and the measured ones. As the
    * JIT settles, pass time falls with a step, every query at once,
    * somewhere between pass 5 and pass 10; eight warm-up passes put the
    * measured passes after that step in most runs. */
  val WarmupPasses = 8

  final case class Timed(
      pass: Int, name: String, t0Ms: Long, buildEndMs: Long, execEndMs: Long,
      endMs: Long, buildNs: Long, execNs: Long, releaseNs: Long,
      residentMb: Double) {
    def latencyMs: Double = (buildNs + execNs) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val dir = s"${opt("data-root")}/${opt("data")}"
    val queries = opt("queries").split(",").toSeq
    val tables = opt("tables").split(",").toSeq
    val out = new Json

    // ---- set-up, timed from JVM start: session, function registration
    // and registration of the workload's tables
    val wallMinusNanoNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val jvmStartNs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L - wallMinusNanoNs
    val tS = System.nanoTime()
    val spark = GraftSession.get()
    val tR = System.nanoTime()
    tables.foreach(t => Catalog.table(spark, dir, t))
    val t1 = System.nanoTime()
    out.num("setup_s", (t1 - jvmStartNs) / 1e9)
    val cores = spark.sparkContext.defaultParallelism

    if (opt.contains("dump")) {
      dump(spark, dir, queries, opt("dump"))
      spark.stop()
      write(opt("out"), out.render)
      return
    }

    val seed = opt("seed").toLong
    val warmPasses = math.max(2, math.round(opt("seconds").toDouble / 3).toInt)
    val traced = opt("trace") == "1"
    val jvm = new JvmCounters
    val timed = mutable.ArrayBuffer.empty[Timed]
    val digests = mutable.ArrayBuffer.empty[Either[String, String]] // per timed execution
    val passes = mutable.ArrayBuffer.empty[(Int, Double, String)] // pass, seconds, kind
    def runPass(kind: String): Unit = {
      val pass = passes.size
      val order = new Random(seed * 1000003L + pass).shuffle(queries)
      val t0 = System.nanoTime()
      val results = order.map(q => runQuery(spark, dir, q, pass))
      passes += ((pass, (System.nanoTime() - t0) / 1e9, kind))
      // outputs are digested after the pass clock stops
      timed ++= results.map(_._1)
      digests ++= results.map(_._2.map { case (cols, rows) => Digest.of(cols, rows) })
    }

    // ---- a cold pass, the warm-up passes, then the measured warm passes.
    // A traced run then measures as many passes again with the listeners
    // attached (for trace.overhead), takes the memory the engine retains
    // (after a full GC, which would slow the pass after it), and runs the
    // kernel rung
    val cold0 = jvm.snap()
    runPass("cold")
    val cold = jvm.snap().minus(cold0)
    (1 to WarmupPasses).foreach(_ => runPass("warmup"))
    (1 to warmPasses).foreach(_ => runPass("warm"))
    var liveMb = 0.0
    val recorder = if (!traced) None else {
      val r = new Recorder(spark)
      val warm0 = jvm.snap()
      (1 to warmPasses).foreach(_ => runPass("traced"))
      r.jvmWarm = jvm.snap().minus(warm0)
      r.jvmCold = cold
      liveMb = liveHeapMb()
      r.kernels = Kernels.run(spark, s"${opt("data-root")}/x4")
      Some(r)
    }

    val rssMb = procStatusKb("VmHWM") / 1024.0
    spark.stop() // drains the listener bus before the recorder is read

    out.raw("passes", passes.map { case (p, s, k) =>
      s"""{"pass":$p,"seconds":$s,"kind":"$k"}""" }.mkString("[", ",", "]"))
    out.raw("queries", timed.zip(digests).map { case (t, d) =>
      s"""{"pass":${t.pass},"name":"${t.name}","latency_ms":${t.latencyMs},""" +
        s""""build_ms":${t.buildNs / 1e6},"release_ms":${t.releaseNs / 1e6},""" +
        d.fold(e => s""""error":${Json.str(e)}}""", d => s""""digest":$d}""")
    }.mkString("[", ",", "]"))
    recorder.foreach { r =>
      def median(kind: String) = {
        val s = passes.filter(_._3 == kind).map(_._2).sorted
        (s((s.size - 1) / 2) + s(s.size / 2)) / 2
      }
      val tracedPasses = passes.filter(_._3 == "traced").map(_._1).toSet
      val (layers, spans) = r.report(timed.filter(t => tracedPasses(t.pass)).toSeq,
        tracedPasses.toSeq.sorted, cores)
      val all = layers ++ Seq(
        "session.start_ms" -> (tR - tS) / 1e6,
        "catalog.register_ms" -> (t1 - tR) / 1e6,
        "cold_pass_s" -> passes.head._2,
        "jvm.peak_rss_mb" -> rssMb,
        "jvm.live_heap_mb" -> liveMb,
        "trace.overhead" -> median("traced") / median("warm"))
      out.raw("layers", all.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
        .mkString("{", ",", "}"))
      opt.get("spans").foreach(p => write(p, spans))
    }
    write(opt("out"), out.render)
  }

  /** One timed execution: build, then collect the result to the driver.
    * Returns the timing and the collected output (or the error). */
  private def runQuery(spark: SparkSession, dir: String, name: String, pass: Int)
      : (Timed, Either[String, (Seq[String], Array[Row])]) = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"perfbench/$pass/$name", name)
    val resident = residentMb(spark)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var tB, wB = 0L
    val result =
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        tB = System.nanoTime(); wB = System.currentTimeMillis()
        Right((df.columns.toSeq, df.collect()))
      } catch { case e: Throwable => Left(err(e)) }
    val tE = System.nanoTime()
    val wE = System.currentTimeMillis()
    if (tB == 0L) { tB = tE; wB = wE }
    SparkEntry.restore(spark)
    GraftSession.releaseQueryState(spark)
    val tR = System.nanoTime()
    sc.clearJobGroup()
    (Timed(pass, name, w0, wB, wE, System.currentTimeMillis(),
      tB - t0, tE - tB, tR - tE, resident), result)
  }

  /** Heap in use after a full collection. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def residentMb(spark: SparkSession): Double = {
    val st = spark.sparkContext.getExecutorMemoryStatus.values
    math.max(0L, st.map(_._1).sum - st.map(_._2).sum) / 1048576.0
  }

  /** Writes each query's output as parquet, its digest, and its oracle
    * SQL (when it has one) under `outDir`. */
  private def dump(spark: SparkSession, dir: String, queries: Seq[String], outDir: String): Unit = {
    val digests = queries.map { q =>
      val d =
        try {
          val df = SparkEntry.queries(q)(spark, dir)
          df.write.mode("overwrite").parquet(s"$outDir/$q")
          Digest.of(df.columns.toSeq, df.collect())
        } catch { case e: Throwable => s"""{"error":${Json.str(err(e))}}""" }
        finally {
          SparkEntry.restore(spark)
          GraftSession.releaseQueryState(spark)
        }
      s"${Json.str(q)}:$d"
    }
    write(s"$outDir/digests.json", digests.mkString("{", ",", "}"))
    val oracle = SparkEntry.oracleSql
    write(s"$outDir/oracle_sql.json", queries.flatMap(q => oracle.get(q).map(sql =>
      s"${Json.str(q)}:${Json.str(sql)}")).mkString("{", ",", "}"))
  }

  def err(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)

  def procStatusKb(key: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  def write(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
  }
}

/** JIT, GC and written-bytes counters of this process. */
final case class Snap(jitMs: Double, gcMs: Double, wcharMb: Double) {
  def minus(o: Snap): Snap = Snap(jitMs - o.jitMs, gcMs - o.gcMs, wcharMb - o.wcharMb)
}

final class JvmCounters {
  def snap(): Snap = Snap(
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble,
    wchar() / 1048576.0)
  private def wchar(): Double =
    try {
      scala.io.Source.fromFile("/proc/self/io").getLines()
        .find(_.startsWith("wchar:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    } catch { case _: Throwable => 0.0 }
}

/** Order-insensitive digest of a query's output: row count plus the sum
  * (mod 2^64) of a 64-bit hash of each row's canonical text, in which
  * columns are ordered by name and floating-point values are rounded to
  * 8 significant digits. */
object Digest {
  def of(cols: Seq[String], rows: Array[Row]): String = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    val sum = rows.iterator.map(r => hash64(order.map(i => canon(r.get(i))).mkString("|"))).sum
    s"""{"rows":${rows.length},"hash":"${java.lang.Long.toHexString(sum)}","columns":${
      cols.sorted.map(Json.str).mkString("[", ",", "]")}}"""
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (math.abs(d) < 1e-12) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(8))
      .stripTrailingZeros.toPlainString

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case b: scala.math.BigDecimal => num(b.toDouble)
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case x => x.toString
  }

  private def hash64(s: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }
}

/** Minimal JSON object writer. */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  def num(k: String, v: Double): Unit = fields += s"${Json.str(k)}:${Json.num(v)}"
  def num(k: String, vs: Seq[Double]): Unit =
    fields += s"${Json.str(k)}:${vs.map(Json.num).mkString("[", ",", "]")}"
  def raw(k: String, v: String): Unit = fields += s"${Json.str(k)}:$v"
  def render: String = fields.mkString("{", ",", "}")
}

object Json {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
