package pipebench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery, TestGroupState, Trigger}

import graft.streaming.TaskStateMachine
import graft.streaming.TaskStateMachine._

/** render_queue: open loop at a fixed offered rate. The benchmark emits
  * render-task lifecycle events and worker heartbeats into two streaming
  * queries (`TaskStateMachine.taskStates`, `workerLiveness`) on the RocksDB
  * state store. Catch-up: a fresh query drains a pre-built backlog
  * (rows_per_s). Steady: events are offered on a fixed schedule and the op
  * is each event's lag from its due time to the sink emitting the
  * task-state row it produced. */
object RenderQueue {

  val HeartbeatTtlMs = 60000L
  /** The generator offers events every 100 ms. */
  val TickNs = 100000000L
  /** Catch-up drains run batches back to back; the steady task query runs
    * on a 1 s trigger, as a deployment would, so its batch cadence (and the
    * state-store files each batch commits) does not drift with load. */
  val DrainTrigger: Trigger = Trigger.ProcessingTime(0L)
  val SteadyTrigger: Trigger = Trigger.ProcessingTime(1000L)
  /** The liveness monitor (steady phase only) checks every 5 s, well inside
    * the 60 s heartbeat TTL; its processing-time timeout makes every
    * trigger a batch, data or not. */
  val MonitorTrigger: Trigger = Trigger.ProcessingTime(5000L)

  final case class Events(tasks: Array[TaskEvent], beats: Array[Heartbeat], taskBytes: Long, beatBytes: Long)

  def load(dir: Path, name: String): Events = {
    def opt(s: String) = if (s.isEmpty) null else s
    val ev = Io.lines(dir.resolve(s"${name}_events.csv")).drop(1).map { l =>
      val a = l.split(",", -1)
      TaskEvent(a(1), a(2), opt(a(3)), a(0).toLong, opt(a(4)))
    }.toArray
    val hb = Io.lines(dir.resolve(s"${name}_beats.csv")).drop(1).map { l =>
      val a = l.split(",")
      Heartbeat(a(1), a(0).toLong)
    }.toArray
    Events(ev, hb, Io.size(dir.resolve(s"${name}_events.csv")), Io.size(dir.resolve(s"${name}_beats.csv")))
  }

  /** The task-state query and (with `monitor`) the liveness monitor on fresh
    * memory sources, each sink collecting its rows on the driver with the
    * time it saw them. */
  final class Queues(spark: SparkSession, val checkpoint: Path, name: String, taskTrigger: Trigger,
      monitor: Boolean) {
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val events = MemoryStream[TaskEvent]
    val beats = MemoryStream[Heartbeat]
    val states = ArrayBuffer[(TaskState, Long)]()
    val workers = ArrayBuffer[WorkerStatus]()
    /** Events handed to the source so far, and the backlog seen per batch. */
    val offered = new AtomicLong(0)
    val backlog = ArrayBuffer[Double]()
    private var running: Seq[StreamingQuery] = Nil

    def start(): Unit = {
      val q1 = TaskStateMachine.taskStates(events.toDS()).writeStream.queryName(s"$name-tasks")
        .option("checkpointLocation", Io.uri(checkpoint.resolve("tasks")))
        .trigger(taskTrigger)
        .foreachBatch { (ds: Dataset[TaskState], _: Long) =>
          val rows = ds.collect()
          val now = System.nanoTime()
          synchronized {
            rows.foreach(r => states += ((r, now)))
            if (rows.nonEmpty) backlog += (offered.get - rows.map(_.updatedAtMillis).max - 1).max(0L).toDouble
          }
          ()
        }.start()
      val q2 = if (!monitor) None else Some(
        TaskStateMachine.workerLiveness(beats.toDS(), HeartbeatTtlMs).writeStream.queryName(s"$name-workers")
          .option("checkpointLocation", Io.uri(checkpoint.resolve("workers")))
          .trigger(MonitorTrigger)
          .foreachBatch { (ds: Dataset[WorkerStatus], _: Long) =>
            val rows = ds.collect()
            synchronized { workers ++= rows; rows.foreach(w => seen(w.workerId) = w.lastSeenMillis) }
            ()
          }.start())
      running = q1 +: q2.toSeq
    }

    private val seen = collection.mutable.Map[String, Long]()
    private val beatsOffered = collection.mutable.Map[String, Long]()

    def offer(ev: Seq[TaskEvent], hb: Seq[Heartbeat]): Unit = {
      require(monitor || hb.isEmpty, "heartbeats need the liveness monitor")
      if (ev.nonEmpty) events.addData(ev)
      if (hb.nonEmpty) beats.addData(hb)
      synchronized { hb.foreach(b => beatsOffered(b.workerId) = b.tsMillis) }
      offered.addAndGet(ev.length)
    }

    /** Process everything offered, then stop. The monitor never idles (a
      * batch per trigger), so it is done once its sink has seen every
      * worker's latest heartbeat; the wait for that is capped at 30 s. */
    def drainAndStop(): Long = {
      running.head.processAllAvailable()
      val drained = System.nanoTime()
      val deadline = drained + 30000000000L
      while (synchronized(beatsOffered.exists { case (w, ts) => !seen.get(w).contains(ts) }) &&
        System.nanoTime() < deadline) Thread.sleep(10)
      running.foreach(_.stop())
      drained
    }
  }

  /** The offline answer: a task's events folded through the pure
    * `TaskStateMachine.updateTaskState` in one group. */
  def fold(task: String, evs: Seq[TaskEvent]): TaskState = {
    val st = TestGroupState.create[TaskState](Optional.empty[TaskState](), GroupStateTimeout.NoTimeout(),
      0L, Optional.empty[Long](), false)
    TaskStateMachine.updateTaskState(task, evs.iterator, st).toSeq.last
  }

  /** Failures: tasks whose last streamed state differs from the offline
    * fold of the events offered for them, and workers whose last status is
    * not alive at their latest heartbeat. Returns (judged, failures). */
  def check(offered: Seq[TaskEvent], beats: Seq[Heartbeat], streamed: Seq[TaskState],
      workers: Seq[WorkerStatus]): (Int, Seq[String]) = {
    val last = streamed.groupBy(_.taskId).map { case (k, v) => k -> v.last }
    val tasks = offered.groupBy(_.taskId).toSeq.sortBy(_._1).map { case (task, evs) =>
      val want = fold(task, evs)
      if (last.get(task).contains(want)) None else Some(s"task $task streamed ${last.get(task)} but fold gives $want")
    }
    val lastBeat = beats.groupBy(_.workerId).map { case (w, b) => w -> b.map(_.tsMillis).max }
    val lastStatus = workers.groupBy(_.workerId).map { case (k, v) => k -> v.last }
    val ws = lastBeat.toSeq.sortBy(_._1).map { case (w, ts) =>
      if (lastStatus.get(w).contains(WorkerStatus(w, alive = true, ts))) None
      else Some(s"worker $w last status ${lastStatus.get(w)}, last heartbeat at $ts")
    }
    (tasks.length + ws.length, (tasks ++ ws).flatten)
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val rate = ctx.params.double("rate")
    val warm = load(ctx.input, "warmup")
    val backlog = load(ctx.input, "backlog")
    val steady = load(ctx.input, "steady")
    val backlogFinal = Gen.truth(ctx.input, "backlog_final.txt").map { l =>
      val Array(t, s) = l.split(" "); t -> s
    }.toMap
    var attempted = 0L
    var failed = 0L
    var written = 0L
    var consumed = 0L
    def judge(q: Queues, evs: Seq[TaskEvent], hb: Seq[Heartbeat]): Unit = {
      val (n, problems) = check(evs, hb, q.states.map(_._1).toSeq, q.workers.toSeq)
      attempted += n
      failed += problems.length
      problems.take(5).foreach(p => ctx.log(s"CHECK FAILED: $p"))
      written += Io.size(q.checkpoint)
    }
    /** A fresh task-state query draining a backlog of task events. */
    def drain(q: Queues, e: Events): Double = {
      q.offer(e.tasks.toSeq, Nil)
      val t0 = System.nanoTime()
      q.start()
      (q.drainAndStop() - t0) / 1e9
    }
    // set-up: a fresh query draining a small warm-up backlog; no
    // program-side state
    val setupS = ctx.setup(drain(new Queues(spark, ctx.work.resolve("warm"), "warm", DrainTrigger, false), warm),
      _ => ())
    // phase 1, catch-up: fresh queries drain the whole backlog
    val catchUps = (0 until (if (ctx.traceRun) 4 else 3)).map { i =>
      val q = new Queues(spark, ctx.work.resolve(s"catchup-$i"), s"catchup$i", DrainTrigger, false)
      val traced = ctx.traceRun && i % 2 == 1
      ctx.tracer.enabled = traced
      val (s, _) = if (traced || !ctx.traceRun) ctx.timed(ctx.tracer.trace("pass", s"drain-$i") {
        ctx.tracer.span("streaming.drain")(drain(q, backlog))
      }) else { val s = drain(q, backlog); (s, s) }
      ctx.tracer.enabled = false
      ctx.log(f"catch-up $i ${if (traced) "traced" else "untraced"} ${backlog.tasks.length} events $s%.3f s")
      judge(q, backlog.tasks.toSeq, Nil)
      val finals = q.states.map(_._1).groupBy(_.taskId).map { case (k, v) => k -> v.last.status }
      val wrong = backlogFinal.count { case (t, st) => !finals.get(t).contains(st) }
      if (wrong > 0) { failed += wrong; ctx.log(s"CHECK FAILED: $wrong backlog tasks end off their planted state") }
      attempted += backlogFinal.size
      consumed += backlog.taskBytes
      (s, traced)
    }
    // phase 2, steady: offer events on schedule for the run's seconds
    val q = new Queues(spark, ctx.work.resolve("steady"), "steady", SteadyTrigger, true)
    ctx.streams.foreach(_.on = true)
    ctx.tracer.enabled = ctx.traceRun
    val late = ArrayBuffer[Double]()
    var next = 0
    var nextBeat = 0
    val ns = 1e9 / rate
    val ((t0, _), _) = ctx.timed(ctx.tracer.trace("steady", "steady")(ctx.tracer.span("streaming.steady") {
      q.start()
      val t0 = System.nanoTime()
      val deadline = t0 + (ctx.seconds * 1e9).toLong
      // one offer per tick of every event due by then (a memory-source
      // batch per offer: finer ticks would only grow each micro-batch's
      // union of source batches)
      var tick = 1L
      var now = t0
      while (now < deadline && next < steady.tasks.length) {
        val due = t0 + tick * TickNs
        if (now < due) Thread.sleep((due - now) / 1000000L, ((due - now) % 1000000L).toInt)
        now = System.nanoTime()
        late += (now - due) / 1e6
        val upto = math.min(steady.tasks.length, ((now - t0) / ns).toLong + 1).toInt
        var b = nextBeat
        while (b < steady.beats.length && steady.beats(b).tsMillis < upto) b += 1
        q.offer(steady.tasks.slice(next, upto).toSeq, steady.beats.slice(nextBeat, b).toSeq)
        next = upto
        nextBeat = b
        tick += 1
      }
      q.drainAndStop()
      (t0, 0)
    }))
    ctx.tracer.enabled = false
    ctx.streams.foreach(_.on = false)
    if (next >= steady.tasks.length) ctx.log("generator ran out of steady events before the deadline")
    val lags = q.states.map { case (st, emitted) => (emitted - (t0 + st.updatedAtMillis * ns)) / 1e6 }.toSeq
    judge(q, steady.tasks.take(next).toSeq, steady.beats.take(nextBeat).toSeq)
    consumed += ((steady.taskBytes + steady.beatBytes) * next.toDouble / steady.tasks.length).toLong
    ctx.log(f"steady: offered $next events at $rate%.0f/s, ${lags.length} task-state rows, " +
      f"generator late p50 ${Stats.median(late.toSeq)}%.3f ms max ${late.max}%.3f ms")

    val untracedDrains = catchUps.filterNot(_._2).map(_._1)
    val notes = ArrayBuffer(("lag_p50_ms", Stats.median(lags), "ms"),
      ("offered_rate", rate, "events/s"), ("backlog_events", backlog.tasks.length.toDouble, "events"))
    Stats.tail(lags).foreach { case (p, v) => notes += ((f"lag_tail_ms_p$p%.1f_n${lags.length}", v, "ms")) }
    val layer = collection.mutable.Map[String, Double]()
    if (ctx.traceRun) {
      val progress = ctx.streams.map(_.batches("steady-tasks")).getOrElse(Nil)
      def dur(k: String*) = progress.map(p => k.map(x => Option(p.durationMs.get(x)).map(_.toDouble).getOrElse(0.0)).sum)
      if (progress.nonEmpty) {
        layer("streaming.batch_ms") = Stats.median(dur("triggerExecution"))
        layer("streaming.add_batch_ms") = Stats.median(dur("addBatch"))
        layer("streaming.commit_ms") = Stats.median(dur("walCommit", "commitOffsets"))
        layer("streaming.rows_per_batch") = Stats.median(progress.map(_.numInputRows.toDouble))
        val ops = progress.last.stateOperators
        if (ops.nonEmpty) {
          layer("streaming.state_rows") = ops.head.numRowsTotal.toDouble
          layer("streaming.state_mem_mb") = ops.head.memoryUsedBytes / (1024.0 * 1024.0)
        }
      }
      if (q.backlog.nonEmpty) layer("streaming.backlog_rows") = Stats.median(q.backlog.toSeq)
      layer("streaming.generator_late_ms") = Stats.median(late.toSeq)
      layer ++= Ctx.traceSummary(catchUps, ctx.tracer.selfSeconds("pass").getOrElse("pass", 0.0))
    }
    Result(setupS, lags, backlog.tasks.length / Stats.median(untracedDrains), written, consumed,
      attempted, failed, catchUps.count(_._2) + (if (ctx.traceRun) 1 else 0), notes.toSeq, layer.toMap)
  }
}
