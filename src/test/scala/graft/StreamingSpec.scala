package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.TestGroupState
import graft.streaming.{Monitor, TaskStateMachine}
import graft.streaming.Monitor.{Progress, StallStatus, updateProgress}
import graft.streaming.TaskStateMachine._

class StreamingSpec extends SparkSpec {

  private def state(initial: Option[TaskState]) =
    TestGroupState.create[TaskState](
      optionalState = initial.map(org.apache.spark.api.java.Optional.of[TaskState])
        .getOrElse(org.apache.spark.api.java.Optional.empty[TaskState]()),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout(),
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)

  test("task state machine: queued → rendering → completed removes state") {
    val s1 = state(None)
    val out1 = updateTaskState("t1",
      Iterator(TaskEvent("t1", "queued", null, 100L, null)), s1).toSeq
    assert(out1.head.status == "queued" && s1.exists)

    val s2 = state(Some(out1.head))
    val out2 = updateTaskState("t1",
      Iterator(TaskEvent("t1", "rendering", "w1", 200L, null)), s2).toSeq
    assert(out2.head.status == "rendering" && out2.head.workerId == "w1")

    val s3 = state(Some(out2.head))
    val out3 = updateTaskState("t1",
      Iterator(TaskEvent("t1", "completed", "w1", 300L, null)), s3).toSeq
    assert(out3.head.status == "completed")
    assert(!s3.exists) // terminal → state freed
  }

  test("failed task requeues with retry counting up to MaxRetries") {
    var cur = updateTaskState("t1",
      Iterator(TaskEvent("t1", "queued", null, 0L, null)), state(None)).toSeq.head
    for (i <- 1 to MaxRetries) {
      val s = state(Some(cur))
      cur = updateTaskState("t1",
        Iterator(TaskEvent("t1", "failed", "w1", i * 100L, s"err$i")), s).toSeq.head
      assert(cur.status == "queued", s"retry $i should requeue")
      assert(cur.attempts == i)
    }
    // exceeding MaxRetries → terminal failed
    val s = state(Some(cur))
    val last = updateTaskState("t1",
      Iterator(TaskEvent("t1", "failed", "w1", 999L, "final")), s).toSeq.head
    assert(last.status == "failed" && last.attempts == MaxRetries + 1)
    assert(!s.exists)
  }

  test("events within a batch apply in timestamp order") {
    val out = updateTaskState("t1", Iterator(
      TaskEvent("t1", "rendering", "w1", 200L, null),
      TaskEvent("t1", "queued", null, 100L, null)), state(None)).toSeq
    assert(out.head.status == "rendering")
    assert(out.head.createdAtMillis == 100L)
  }

  test("same-millisecond events apply in lifecycle order, not alphabetically") {
    val s = state(None)
    val out = updateTaskState("t1", Iterator(
      TaskEvent("t1", "rendering", "w1", 100L, null),
      TaskEvent("t1", "completed", "w1", 100L, null),
      TaskEvent("t1", "assigned", "w1", 100L, null),
      TaskEvent("t1", "queued", null, 100L, null)), s).toSeq
    assert(out.head.status == "completed")
    assert(!s.exists) // terminal → state freed
    val s2 = state(None)
    val out2 = updateTaskState("t1", Iterator(
      TaskEvent("t1", "assigned", "w1", 100L, null),
      TaskEvent("t1", "queued", null, 100L, null)), s2).toSeq
    assert(out2.head.status == "assigned" && s2.exists)
    // documented trade-off: a retry landing in the failure's millisecond
    // ranks below it, so the task ends requeued
    val s3 = state(Some(out.head.copy(status = "rendering")))
    val out3 = updateTaskState("t1", Iterator(
      TaskEvent("t1", "failed", "w1", 300L, "err"),
      TaskEvent("t1", "assigned", "w2", 300L, null),
      TaskEvent("t1", "rendering", "w2", 300L, null)), s3).toSeq
    assert(out3.head.status == "queued" && out3.head.attempts == 1 && s3.exists)
  }

  test("worker heartbeat timeout emits dead-worker event") {
    val alive = TestGroupState.create[WorkerStatus](
      org.apache.spark.api.java.Optional.of(WorkerStatus("w1", alive = true, 500L)),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 100000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = true)
    val out = updateWorker(60000L)("w1", Iterator.empty, alive).toSeq
    assert(out.head.alive == false && !alive.exists)
  }

  private def stallState(prior: StallStatus, batchTimeMs: Long) =
    TestGroupState.create[StallStatus](
      org.apache.spark.api.java.Optional.of(prior),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = batchTimeMs,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)

  test("stall: a job reporting the same frame count stalls once its deadline passes") {
    val t = 60000L
    val prior = StallStatus("j1", stalled = false, frameCount = 5L, sinceMillis = 0L)
    // no increase for 2·T: stalled, state freed, as the timeout branch does
    val stuck = stallState(prior, 2 * t)
    val out = updateProgress(t)("j1", Iterator(Progress("j1", 5L, 2 * t)), stuck).toSeq
    assert(out == Seq(prior.copy(stalled = true)) && !stuck.exists)
    // no increase, deadline not reached: still waiting, state kept
    val waiting = stallState(prior, t / 2)
    val out2 = updateProgress(t)("j1", Iterator(Progress("j1", 5L, t / 2)), waiting).toSeq
    assert(out2 == Seq(prior) && waiting.exists)
    // progress restarts the clock at the batch time
    val moving = stallState(prior, 2 * t)
    val out3 = updateProgress(t)("j1", Iterator(Progress("j1", 6L, 2 * t)), moving).toSeq
    assert(out3 == Seq(StallStatus("j1", stalled = false, 6L, 2 * t)) && moving.exists)
  }

  test("end-to-end: progress events stream through the stall monitor") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[Progress]
    val query = Monitor.stallMonitor(input.toDS(), stallTimeoutMillis = 600000L)
      .writeStream.format("memory").queryName("stall_status")
      .outputMode("append").start()
    // a processing-time timeout makes every trigger run a batch, so
    // processAllAvailable never returns: wait for the expected rows instead
    def rowsWhen(n: Int): Array[StallStatus] = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      var rows = sp.table("stall_status").as[StallStatus].collect()
      while (rows.length < n && System.nanoTime() < deadline) {
        Thread.sleep(50)
        rows = sp.table("stall_status").as[StallStatus].collect()
      }
      rows
    }
    try {
      input.addData(Progress("j1", 1L, 100L), Progress("j2", 3L, 100L))
      assert(rowsWhen(2).length == 2)
      input.addData(Progress("j1", 2L, 200L))
      val rows = rowsWhen(3)
      assert(rows.forall(!_.stalled))
      assert(rows.filter(_.jobId == "j1").map(_.frameCount).sorted.toSeq == Seq(1L, 2L))
      assert(rows.filter(_.jobId == "j2").map(_.frameCount).toSeq == Seq(3L))
    } finally query.stop()
  }

  test("end-to-end: task events stream through flatMapGroupsWithState") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[TaskEvent]
    val query = TaskStateMachine.taskStates(input.toDS())
      .writeStream.format("memory").queryName("task_states")
      .outputMode("append").start()
    try {
      input.addData(
        TaskEvent("t1", "queued", null, 100L, null),
        TaskEvent("t2", "queued", null, 110L, null))
      query.processAllAvailable()
      input.addData(TaskEvent("t1", "completed", "w1", 200L, null))
      query.processAllAvailable()
      val rows = sp.table("task_states").collect()
      val t1 = rows.filter(_.getAs[String]("taskId") == "t1").map(_.getAs[String]("status"))
      assert(t1.contains("queued") && t1.contains("completed"))
    } finally query.stop()
  }

  test("streaming ingest dedup drops duplicate fingerprints across batches") {
    import org.apache.spark.sql.functions.col
    import graft.llmops.{Dedup, TextStats}
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val df = input.toDF().toDF("id", "ts", "text")
    val deduped = Dedup.streamingDedup(
      df, TextStats.fingerprint(col("text")), "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    try {
      input.addData((1L, ts(0), "a b c"), (2L, ts(1), "x y"))
      q.processAllAvailable()
      // id 3 is a fingerprint-duplicate of id 1 (same distinct token set)
      input.addData((3L, ts(2), "c b a a"), (4L, ts(3), "fresh new"))
      q.processAllAvailable()
      val ids = sp.table("stream_dedup").collect().map(_.getAs[Long]("id")).toSet
      assert(ids == Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("status-file stream skips mid-write/corrupt JSON without failing") {
    val sp = spark
    val tmp = java.nio.file.Files.createTempDirectory("graft_status").toFile
    try {
      java.nio.file.Files.writeString(
        new java.io.File(tmp, "a.render_status.json").toPath,
        """{"status":"completed","sequence":"seq1","job_name":"j1","success":true}""")
      // a worker mid-write: truncated document
      java.nio.file.Files.writeString(
        new java.io.File(tmp, "b.render_status.json").toPath,
        """{"status":"rendering","seq""")
      val q = graft.streaming.Monitor.statusFileStream(sp, tmp.getAbsolutePath)
        .writeStream.format("memory").queryName("status_stream")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val rows = sp.table("status_stream").collect()
        assert(rows.length == 1, rows.mkString("; "))
        assert(rows.head.getAs[String]("status") == "completed")
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("stateful query restarts from checkpoint with state intact, no duplicates") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile
    val ckpt = new java.io.File(tmp, "checkpoint").getAbsolutePath
    val out = new java.io.File(tmp, "out").getAbsolutePath
    val input = MemoryStream[TaskEvent]
    def start() = TaskStateMachine.taskStates(input.toDS())
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()

    val q1 = start()
    try {
      input.addData(TaskEvent("t1", "queued", null, 100L, null))
      q1.processAllAvailable()
    } finally q1.stop()

    // restart from the same checkpoint: the flatMapGroupsWithState state
    // (t1 created at 100) must survive, and batch 1's output must not
    // be re-emitted
    val q2 = start()
    try {
      input.addData(TaskEvent("t1", "completed", "w1", 200L, null))
      q2.processAllAvailable()
    } finally q2.stop()

    val rows = sp.read.parquet(out).collect()
    assert(rows.length == 2, rows.mkString("; "))       // one row per batch, none duplicated
    val byStatus = rows.map(r => r.getAs[String]("status") -> r).toMap
    assert(byStatus.keySet == Set("queued", "completed"))
    // recovered state preserved createdAtMillis from the pre-restart batch
    assert(byStatus("completed").getAs[Long]("createdAtMillis") == 100L)
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("attribution join survives a restart: buffered state matches, no duplicates") {
    // The stream-stream join's crash-recovery contract: an impression
    // buffered in join state BEFORE a stop must still attribute a
    // conversion that arrives AFTER the restart, a match emitted before
    // the stop must not re-emit, and the final output must equal the
    // batch join over the union of all events (streamed ≡ batch across
    // the forced restart — the TaskStateMachine drill, join edition).
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_attr_ckpt").toFile
    val ckpt = new java.io.File(tmp, "checkpoint").getAbsolutePath
    val out = new java.io.File(tmp, "out").getAbsolutePath
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    val impIn = MemoryStream[(String, java.sql.Timestamp, Long)]
    val convIn = MemoryStream[(String, java.sql.Timestamp, Long)]
    def join(imp: org.apache.spark.sql.DataFrame,
        conv: org.apache.spark.sql.DataFrame) =
      graft.streaming.StreamJoin.attributionJoin(imp, conv, "user_id",
        "imp_ts", "conv_ts", lookback = "10 minutes", delay = "5 minutes")
    def start() = join(
        impIn.toDF().toDF("user_id", "imp_ts", "imp_id"),
        convIn.toDF().toDF("user_id", "conv_ts", "conv_id"))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()

    val allImps = Seq(("u1", ts(0), 1L), ("u2", ts(0), 2L))
    val preConvs = Seq(("u2", ts(60), 100L)) // matches u2 pre-restart
    val postConvs = Seq(
      ("u1", ts(120), 101L), // matches u1's PRE-restart buffered impression
      ("u2", ts(90), 102L),  // second in-window conv for u2 — also matches
      ("u3", ts(120), 103L)) // no impression — must never surface

    val q1 = start()
    try {
      impIn.addData(allImps: _*)
      convIn.addData(preConvs: _*)
      q1.processAllAvailable()
    } finally q1.stop()

    val q2 = start()
    try {
      convIn.addData(postConvs: _*)
      q2.processAllAvailable()
    } finally q2.stop()

    val got = sp.read.parquet(out)
      .select("user_id", "imp_id", "conv_id")
      .as[(String, Long, Long)].collect().toList
    assert(got.distinct.size == got.size,
      s"restart re-emitted pre-stop matches: $got")
    // batch ground truth: the same operator over the union of all events
    // (withWatermark is a no-op on batch, so the join semantics shared)
    val want = join(allImps.toDF("user_id", "imp_ts", "imp_id"),
        (preConvs ++ postConvs).toDF("user_id", "conv_ts", "conv_id"))
      .select("user_id", "imp_id", "conv_id")
      .as[(String, Long, Long)].collect().toSet
    assert(want.map(_._3) == Set(100L, 101L, 102L), s"fixture drifted: $want")
    assert(got.toSet == want,
      s"streamed=${got.toSet} batch=$want diff=${(want diff got.toSet)}")
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("minute summary: streaming availableNow equals the batch aggregation") {
    // Batch/streaming parity over the LIVE fixture: the same
    // Monitor.minuteSummary transform, run (a) as the batch oracle query
    // does and (b) as a file-source stream drained with AvailableNow,
    // must produce identical windows. This is the contract that lets the
    // monitor queries ship as one implementation for both modes.
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, s"$dir not present")
    val sp = spark
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"
    // the file source wants a directory; glob-filter it to the events table
    val stream = sp.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    val q = graft.streaming.Monitor.minuteSummary(stream, "ts", "event_type")
      .writeStream.format("memory").queryName("minute_parity")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000), "stream did not drain in time")
    finally q.stop()
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(org.apache.spark.sql.functions.col("window.start").as("ws"),
        org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("count"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val streamed = norm(sp.table("minute_parity"))
    val batch = norm(graft.streaming.Monitor.minuteSummary(
      graft.model.Tables.events(sp, dir), "ts", "event_type"))
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"streaming=${streamed.size} windows, batch=${batch.size} windows, " +
        s"diff=${(streamed diff batch).take(3)} / ${(batch diff streamed).take(3)}")
  }

  test("streaming funnel matches the batch scan across micro-batch splits") {
    import graft.operators.Funnel
    import graft.operators.Funnel.{FunnelEvent, FunnelProgress}
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val stages = Seq("view", "click", "purchase")
    val events = Seq(
      FunnelEvent("a", "view", 100L), FunnelEvent("a", "click", 200L),
      FunnelEvent("a", "purchase", 300L),
      FunnelEvent("b", "view", 100L), FunnelEvent("b", "purchase", 200L),
      FunnelEvent("c", "click", 100L), // no view — never progresses
      FunnelEvent("d", "view", 100L), FunnelEvent("d", "click", 100L)) // tie blocked
    // ground truth: the batch scan over the same rows
    import org.apache.spark.sql.functions.col
    val batchDf = events.toDF("uid", "etype", "tsm")
      .withColumn("ts", (col("tsm") / 1000).cast("timestamp"))
    val expected = Funnel.deepestStage(batchDf, "uid", "etype", "ts", stages)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // stream it with DIFFERENT batch splits; the final per-entity state
    // must be identical each time
    for (cut <- Seq(events.length, 3, 5)) {
      val input = MemoryStream[FunnelEvent]
      val q = Funnel.deepestStageStream(input.toDS(), stages)
        .writeStream.format("memory").queryName(s"funnel_stream_$cut")
        .outputMode("append").start()
      try {
        events.grouped(cut).foreach { batch =>
          input.addData(batch: _*)
          q.processAllAvailable()
        }
        val got = sp.table(s"funnel_stream_$cut").as[FunnelProgress]
          .collect().groupBy(_.entity)
          .map { case (e, rows) => e -> rows.maxBy(_.deepest).deepest }
        assert(got == expected, s"cut=$cut: $got vs $expected")
      } finally q.stop()
    }
  }

  test("streaming CUSUM alarms match the batch scan across micro-batch splits") {
    import graft.streaming.ChangePoint
    import graft.streaming.ChangePoint.{CusumAlarm, MetricEvent}
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val rnd = new scala.util.Random(5)
    // i/2: every other pair of events shares a timestamp — equal-ts
    // events are legitimate at millisecond granularity and must flow
    // through the (ts, seq) admit test, not be dropped as replays
    val events = for (u <- Seq("a", "b", "c"); i <- 1 to 40)
      yield MetricEvent(u, (i / 2) * 1000L, i.toLong, rnd.nextInt(1200) / 100.0)
    // ground truth: the batch ordered scan, alarms only
    val batch = events.toDF("u", "tsm", "seq", "x")
    val expected = ChangePoint.cusum(batch, "u", Seq("tsm", "seq"), "x", k = 6.0, h = 9.0)
      .filter($"alarm").select("seq", "s").as[(String, Double)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    for (cut <- Seq(events.length, 7, 25)) {
      val input = MemoryStream[MetricEvent]
      val q = ChangePoint.cusumAlarmStream(input.toDS(), k = 6.0, h = 9.0)
        .writeStream.format("memory").queryName(s"cusum_stream_$cut")
        .outputMode("append").start()
      try {
        events.grouped(cut).foreach { b =>
          input.addData(b: _*)
          q.processAllAvailable()
        }
        val got = sp.table(s"cusum_stream_$cut").as[CusumAlarm]
          .collect().groupBy(_.key)
          .view.mapValues(_.map(_.s).sorted.toSeq).toMap
        assert(got == expected, s"cut=$cut")
      } finally q.stop()
    }
  }

  test("stream-stream attribution join matches batch across micro-batch splits") {
    import graft.streaming.StreamJoin
    import graft.streaming.StreamJoin.{Impression, Conversion}
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // base offset keeps event times away from epoch 0: the initial
    // watermark is 0 and the join's derived state watermark clamps there,
    // so an epoch-0 row sits exactly on the eviction boundary
    def ts(m: Long) = new java.sql.Timestamp((100000L + m) * 60000L)
    val imps = Seq(
      Impression(1, 10, ts(0)), Impression(1, 11, ts(50)),
      Impression(2, 12, ts(0)), Impression(3, 13, ts(200)))
    val convs = Seq(
      Conversion(1, 100, ts(60)), Conversion(2, 101, ts(150)),
      Conversion(3, 102, ts(210)), Conversion(4, 103, ts(60)))
    // ground truth from the identical code run batch-side
    val batch = StreamJoin.attributionJoin(imps.toDF(), convs.toDF(),
        "user_id", "imp_ts", "conv_ts", "90 minutes", "10 minutes")
      .select("user_id", "imp_id", "conv_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch == Set((1L, 10L, 100L), (1L, 11L, 100L), (3L, 13L, 102L)),
      s"batch ground truth: $batch")
    for (cut <- Seq(1, 2, 4)) {
      val impIn = MemoryStream[Impression]
      val convIn = MemoryStream[Conversion]
      val q = StreamJoin.attributionJoin(impIn.toDF(), convIn.toDF(),
          "user_id", "imp_ts", "conv_ts", "90 minutes", "10 minutes")
        .select("user_id", "imp_id", "conv_id")
        .writeStream.format("memory").queryName(s"attr_join_$cut")
        .outputMode("append").start()
      try {
        impIn.addData(imps: _*)
        q.processAllAvailable()
        convs.grouped(cut).foreach { b =>
          convIn.addData(b: _*)
          q.processAllAvailable()
        }
        val got = sp.table(s"attr_join_$cut")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got == batch, s"cut=$cut: $got vs $batch")
      } finally q.stop()
    }
  }

  test("unattributed conversions emit once the watermark closes the window") {
    import graft.streaming.StreamJoin
    import graft.streaming.StreamJoin.{Impression, Conversion}
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // base offset keeps event times away from epoch 0: the initial
    // watermark is 0 and the join's derived state watermark clamps there,
    // so an epoch-0 row sits exactly on the eviction boundary
    def ts(m: Long) = new java.sql.Timestamp((100000L + m) * 60000L)
    val impIn = MemoryStream[Impression]
    val convIn = MemoryStream[Conversion]
    val q = StreamJoin.unattributed(convIn.toDF(), impIn.toDF(),
        "user_id", "conv_ts", "imp_ts", "90 minutes", "10 minutes")
      .select("user_id", "conv_id")
      .writeStream.format("memory").queryName("unattr")
      .outputMode("append").start()
    try {
      impIn.addData(Impression(1, 10, ts(0)))
      convIn.addData(Conversion(1, 100, ts(60)),  // attributed -> silent
        Conversion(2, 101, ts(60)))               // no impression -> emits
      q.processAllAvailable()
      // watermark sentinels push event time far past both windows so the
      // outer side can prove "no impression can still arrive"
      impIn.addData(Impression(99, 990, ts(5000)))
      convIn.addData(Conversion(99, 991, ts(5000)))
      q.processAllAvailable()
      val got = sp.table("unattr")
        .filter(org.apache.spark.sql.functions.col("user_id") =!= 99)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((2L, 101L)), s"got $got")
    } finally q.stop()
  }

  test("task state machine runs on the RocksDB state store backend") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = sp.conf.getOption(key)
    graft.streaming.StateBackends.rocksDb.foreach { case (k, v) => sp.conf.set(k, v) }
    try {
      val input = MemoryStream[TaskEvent]
      val query = TaskStateMachine.taskStates(input.toDS())
        .writeStream.format("memory").queryName("task_states_rocksdb")
        .outputMode("append").start()
      try {
        input.addData(TaskEvent("t1", "queued", null, 100L, null))
        query.processAllAvailable()
        input.addData(TaskEvent("t1", "completed", "w1", 200L, null))
        query.processAllAvailable()
        val statuses = sp.table("task_states_rocksdb").collect()
          .map(_.getAs[String]("status")).toSet
        assert(statuses == Set("queued", "completed"))
      } finally query.stop()
    } finally prev match {
      case Some(v) => sp.conf.set(key, v)
      case None => sp.conf.unset(key)
    }
  }

  test("registry ingest stream ≡ the same batches applied in batch mode") {
    import org.apache.spark.sql.functions.col
    import graft.llmops.{Pipelines, SparseSim}
    import graft.streaming.RegistryIngest
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // the incremental-curate fixture: every registry stage has a victim,
    // ids monotonic across the two batches (the crawl contract)
    val b1 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (10L, "one two three four five six seven eight nine ten eleven twelve"),
      (20L, "red orange yellow green blue indigo violet cyan magenta teal maroon navy"),
      (21L, "red orange yellow green blue indigo violet cyan magenta teal maroon olive"))
    val b2 = Seq(
      (100L, "the the the the"),
      (110L, "one two three four five six seven eight nine ten eleven twelve"),
      (120L, "red orange yellow green blue indigo violet cyan magenta teal maroon pine"),
      (130L, "contaminated trigram leak plus filler words here now okay fine good yes"),
      (140L, "sun moon star cloud rain snow wind storm mist frost dew hail"),
      (150L, "north south east west up down left right front back inner outer"),
      (151L, "north south east west up down left right front back inner void"))
    val bench = Seq("contaminated trigram leak").toDF("text")
    val cfg = RegistryIngest.Config("doc_id", "text", bench, "text",
      stopwords = Seq("the", "a"), minQuality = 0.3, shingleSize = 3,
      numHashes = 16, rowsPerBand = 1, nearDupThreshold = 0.5,
      decontamN = 3, ngram = 1)
    val root = java.nio.file.Files.createTempDirectory("reging").toString
    val cp = java.nio.file.Files.createTempDirectory("regingcp").toString
    val input = MemoryStream[(Long, String)]
    val q = RegistryIngest.start(input.toDF().toDF("doc_id", "text"),
      cfg, root, cp)
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // batch-mode replay with the same batch boundaries
    def ingest(rows: Seq[(Long, String)], reg: Pipelines.CurationRegistry) =
      Pipelines.curateIngest(rows.toDF("doc_id", "text"), "doc_id", "text",
        bench, "text", Seq("the", "a"), 0.3, 3, 16, 1, 0.5, 3, reg)
    val reg0 = Pipelines.CurationRegistry.empty(sp, "doc_id", "text")
    val (kept1, d1) = ingest(b1, reg0)
    val reg1 = Pipelines.mergeRegistry(reg0, d1)
    val (kept2, d2) = ingest(b2, reg1)
    val batchReg = Pipelines.mergeRegistry(reg1, d2)
    // curation-registry parity: identical tables
    val streamed = RegistryIngest.openRegistry(sp, root, "doc_id", "text")
    def sigRows(r: Pipelines.CurationRegistry) =
      r.sigs.select(col("doc_id"), col("sig"))
        .as[(Long, Seq[Long])].collect().toSet
    assert(sigRows(streamed) == sigRows(batchReg) && sigRows(streamed).nonEmpty)
    assert(streamed.keys.as[String].collect().sorted.toSeq ==
      batchReg.keys.as[String].collect().sorted.toSeq)
    assert(streamed.texts.as[(Long, String)].collect().toSet ==
      batchReg.texts.as[(Long, String)].collect().toSet)
    // BM25-registry parity: the streamed segments open to the same index
    // the batch-mode kept docs build
    val bmStream = RegistryIngest.openBm25(sp, root)
    val bmBatch = SparseSim.mergeIndex(
      SparseSim.buildIndex(kept1, "doc_id", "text", cfg.ngram),
      SparseSim.buildIndex(kept2, "doc_id", "text", cfg.ngram))
    def postRows(i: SparseSim.Bm25Index) =
      i.postings.select(col("id"), col("term"), col("tf"), col("len"))
        .as[(Long, String, Long, Long)].collect().toSet
    assert(postRows(bmStream) == postRows(bmBatch) && postRows(bmStream).nonEmpty)
    // two segments landed per registry — the O(batch) layout
    assert(RegistryIngest.registrySegments(root).length == 2)
    assert(RegistryIngest.bm25Segments(root).length == 2)
  }
}
