package graft

import graft.streaming.StreamOps
import graft.streaming.StreamOps.Ev
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming specs driven through MemoryStream — the streaming
  * twins of the batch event ops. */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private val min = 60L * 1000000L

  test("streaming hourlyStats emits closed windows after watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamOps.hourlyStats(in.toDF())
      .writeStream.format("memory").queryName("hs").outputMode(OutputMode.Append)
      .start()
    try {
      in.addData(
        Ev(1, 5 * min, "click", 1.5), Ev(2, 10 * min, "click", 2.5),
        Ev(1, 65 * min, "view", 1.0))
      q.processAllAvailable()
      // push watermark beyond hour 0 and 1 (wm = max event - 2h)
      in.addData(Ev(9, 300 * min, "late", 0.0))
      q.processAllAvailable()
      val rows = spark.table("hs").as[(Long, String, Long, Long)].collect().sortBy(_._1)
      assert(rows.toSeq === Seq(
        (0L, "click", 2L, 4000000L),
        (60L * 60L * 1000000L, "view", 1L, 1000000L)))
    } finally q.stop()
  }

  test("streaming dedup drops repeated keys within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val q = StreamOps.dedupByKey(
        in.toDF().toDF("event_key", "ts_us"), retention = "1 hour")
      .writeStream.format("memory").queryName("dd").outputMode(OutputMode.Append)
      .start()
    try {
      in.addData(("a", 100 * min), ("b", 101 * min), ("a", 102 * min))
      q.processAllAvailable()
      in.addData(("a", 110 * min), ("c", 111 * min))
      q.processAllAvailable()
      val keys = spark.table("dd").select("event_key").as[String].collect().sorted
      assert(keys.toSeq === Seq("a", "b", "c"), s"got ${keys.toSeq}")
    } finally q.stop()
  }

  test("stream-static join enriches a stream against a batch dimension") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{broadcast, count, lit}
    val m = min
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val in = MemoryStream[Ev]
    val q = in.toDF().join(broadcast(dim), Seq("user_id"), "left_outer")
      .groupBy($"tier").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("ssj")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
      .start()
    try {
      in.addData(Ev(1, m, "a", 1.0), Ev(1, 2 * m, "b", 1.0),
        Ev(2, 3 * m, "c", 1.0), Ev(9, 4 * m, "d", 1.0))
      q.processAllAvailable()
      val rows = spark.table("ssj").as[(Option[String], Long)].collect().toMap
      assert(rows === Map(Some("gold") -> 2L, Some("basic") -> 1L, None -> 1L))
    } finally q.stop()
  }

  test("checkpointed query restarts exactly-once: no re-emitted rows after recovery") {
    implicit val sqlCtx = spark.sqlContext
    // The fault-tolerance contract a 100 TB continuous ingest stands on:
    // offsets + sink commit log in the checkpoint make a restart resume
    // from the last committed micro-batch, never re-emitting its rows.
    // The file sink's manifest is the exactly-once half: files written by
    // an uncommitted batch are not listed, so readers never see replays.
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-ckpt-out").toString
    val in = MemoryStream[Ev]
    def start() = StreamOps.hourlyStats(in.toDF())
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    val q1 = start()
    try {
      in.addData(Ev(1, 5 * min, "click", 1.5), Ev(2, 10 * min, "click", 2.5))
      q1.processAllAvailable()
      in.addData(Ev(9, 300 * min, "late", 0.0)) // closes hour-0 window
      q1.processAllAvailable()
    } finally q1.stop()
    val afterFirst = spark.read.parquet(outDir).count()
    // restart from the same checkpoint; feed one more watermark push that
    // closes the remaining windows — rows from the first run must not reappear
    val q2 = start()
    try {
      in.addData(Ev(9, 600 * min, "late2", 0.0))
      q2.processAllAvailable()
    } finally q2.stop()
    val rows = spark.read.parquet(outDir)
      .select("window_start_us", "event_type", "n", "tot_value_fix6")
      .as[(Long, String, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(afterFirst === 1L, s"first run should emit exactly the closed hour-0 window")
    // exactly-once: hour-0 'click' window appears ONCE despite the restart,
    // and the second run contributed only the newly-closed windows
    assert(rows.count(r => r._2 == "click") === 1)
    assert(rows === rows.distinct, "restart re-emitted committed rows")
    assert(rows.map(_._2).contains("late"), "second run must close the 'late' window")
    spark.read.parquet(outDir).count() // sink dir remains a readable table
  }

  test("streaming sessionize closes sessions on gap timeout") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamOps.sessionize(in.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Append)
      .start()
    try {
      // user 1: two events 10min apart (one session), then 50min gap, one
      // more. (Events are offset from t=0: a row whose event time equals
      // the current watermark is dropped by the stateful-op late filter.)
      in.addData(Ev(1, 100 * min, "a", 1.0), Ev(1, 110 * min, "b", 2.0))
      q.processAllAvailable()
      in.addData(Ev(1, 160 * min, "c", 3.0))
      q.processAllAvailable()
      // advance watermark far enough to time out the open session
      in.addData(Ev(2, 600 * min, "z", 0.0))
      q.processAllAvailable()
      in.addData(Ev(2, 1200 * min, "z", 0.0))
      q.processAllAvailable()
      val sess = spark.table("sess")
        .as[StreamOps.Session].collect().filter(_.user_id == 1).sortBy(_.start_us)
      assert(sess.length === 2)
      assert(sess(0).n_events === 2 && sess(0).tot_value_fix6 === 3000000L)
      assert(sess(0).start_us === 100 * min && sess(0).end_us === 110 * min)
      assert(sess(1).n_events === 1 && sess(1).tot_value_fix6 === 3000000L)
    } finally q.stop()
  }

  test("monotone replays are batching-invariant: filesPerTrigger 2 and 6 == 1") {
    // the r14 `graft.stream.filesPerTrigger` knob must not change any
    // monotone replay's declared output (the claim that lets the batch
    // granularity be an ingest-throughput parameter rather than a
    // semantics one). The three LATE replays ignore the knob by
    // construction (lateSemantics pins 1 file/batch) — covered by the
    // oracle gate, not re-run here (slow).
    val monotone = Seq("s_hourly_stats", "s_sessionize", "s_dedup_keys",
      "s_cdc_latest", "s_interval_join")
    def run(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf0001).collect().map(_.toString).toSeq
    val base = monotone.map(n => n -> run(n)).toMap
    for (mft <- Seq("2", "6")) {
      spark.conf.set("graft.stream.filesPerTrigger", mft)
      try monotone.foreach { n =>
        assert(run(n) === base(n), s"$n output changed at filesPerTrigger=$mft")
      } finally spark.conf.unset("graft.stream.filesPerTrigger")
    }
  }

  test("a replay's second run compiles no generated code") {
    // each stream run executes in a clone of the session; its generated
    // classes must come from the codegen cache on every run after the
    // first (a per-session classloader made every run recompile them).
    // The compile counter is JVM-wide: suites run one at a time in the
    // forked test JVM, so nothing else compiles in between.
    val replays = SparkEntry.queries.keys.filter(_.startsWith("s_")).toSeq.sorted
    assert(replays.size === 8, s"replays: $replays")
    def compiles(name: String): Long = {
      val before = EnvCounters.snap(spark).compiles
      SparkEntry.queries(name)(spark, sf0001).collect()
      EnvCounters.snap(spark).compiles - before
    }
    val warm = replays.map { n => compiles(n); n -> compiles(n) }
    assert(warm.forall(_._2 == 0L), s"classes compiled on a warm run: $warm")
  }

  test("replays declare the schema their layout files carry") {
    // runStream hands readStream the events projection's analyzed schema
    // instead of reading the files back; it must be the files' schema
    import graft.queries.StreamRuns
    def cols(t: org.apache.spark.sql.types.StructType) = t.map(f => f.name -> f.dataType)
    val files = spark.read.parquet(StreamRuns.replayRoot(spark, sf0001) + "/data").schema
    assert(cols(StreamRuns.replayEvents(spark, sf0001).schema) === cols(files))
  }
}
