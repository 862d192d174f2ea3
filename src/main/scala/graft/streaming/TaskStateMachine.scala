package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Q1-Q3 — distributed render-task lifecycle as Structured Streaming
  * state (reference: structure.md Redis schema: `render_queue` list,
  * `task:{id}` status hash, `worker:{id}:heartbeat` TTL keys; polling
  * loops in rendering/monitor.py:117-174).
  *
  * The Redis task hash becomes a keyed state store updated by
  * `flatMapGroupsWithState`; the heartbeat TTL becomes a
  * ProcessingTimeTimeout (NOT a watermark — the TTL is wall-clock
  * liveness, independent of event time; SURVEY.md §7.3). State size is
  * O(live tasks) — bounded, and sharded by key across executors.
  */
object TaskStateMachine {

  case class TaskEvent(taskId: String, status: String, workerId: String,
      tsMillis: Long, error: String)

  case class TaskState(taskId: String, status: String, workerId: String,
      createdAtMillis: Long, updatedAtMillis: Long, attempts: Int, error: String)

  /** Legal transitions (reference lifecycle: queued → assigned → rendering
    * → completed | failed; failed tasks may requeue ≤ maxRetries with the
    * seed+1000 convention — structure.md §Step3). */
  final val MaxRetries = 5

  /** Position in the lifecycle; unknown statuses rank after all of these. */
  private val lifecycleRank =
    Map("queued" -> 0, "assigned" -> 1, "rendering" -> 2, "completed" -> 3, "failed" -> 3)

  /** Pure state-transition function — unit-testable without a stream.
    *
    * A batch's events apply in (timestamp, lifecycle rank, status) order:
    * a `completed` that shares its millisecond with `rendering` applies
    * last, so the task ends terminal and frees its state slot. The rank
    * knows no attempts: a `failed` and the retry's `assigned`/`rendering`
    * in one millisecond apply as assigned, rendering, failed, so the task
    * ends `queued` with the failure counted and the retry's progress lost.
    * Ordering is per batch only: an event older than the stored state that
    * arrives in a LATER batch is applied on top of it and overwrites the
    * newer status and `updatedAtMillis`. */
  def updateTaskState(
      taskId: String,
      events: Iterator[TaskEvent],
      state: GroupState[TaskState]): Iterator[TaskState] = {
    var cur = state.getOption.orNull
    val sorted = events.toSeq.sortBy(e =>
      (e.tsMillis, lifecycleRank.getOrElse(e.status, 4), e.status))
    for (e <- sorted) {
      cur =
        if (cur == null)
          TaskState(taskId, e.status, e.workerId, e.tsMillis, e.tsMillis,
            attempts = if (e.status == "failed") 1 else 0, e.error)
        else {
          val attempts = cur.attempts + (if (e.status == "failed") 1 else 0)
          val requeued =
            if (e.status == "failed" && attempts <= MaxRetries) "queued"
            else e.status
          cur.copy(
            status = requeued,
            workerId = if (e.workerId != null) e.workerId else cur.workerId,
            updatedAtMillis = e.tsMillis,
            attempts = attempts,
            error = if (e.error != null) e.error else cur.error)
        }
    }
    if (cur != null) {
      state.update(cur)
      if (cur.status == "completed" ||
          (cur.status == "failed" && cur.attempts > MaxRetries)) {
        state.remove() // terminal — free the state store slot
      }
      Iterator.single(cur)
    } else Iterator.empty
  }

  /** Streaming wrapper: task-event stream → task-state change stream. */
  def taskStates(events: Dataset[TaskEvent]): Dataset[TaskState] = {
    implicit val tsEnc = Encoders.product[TaskState]
    events.groupByKey(_.taskId)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(updateTaskState)
  }

  case class Heartbeat(workerId: String, tsMillis: Long)
  case class WorkerStatus(workerId: String, alive: Boolean, lastSeenMillis: Long)

  /** Q3 — heartbeat TTL: a worker with no heartbeat for `ttlMillis` emits
    * a dead-worker event via processing-time timeout
    * (reference: structure.md `worker:{id}:heartbeat` TTL=60s). */
  def updateWorker(ttlMillis: Long)(
      workerId: String,
      beats: Iterator[Heartbeat],
      state: GroupState[WorkerStatus]): Iterator[WorkerStatus] = {
    if (state.hasTimedOut) {
      val last = state.get
      state.remove()
      Iterator.single(last.copy(alive = false))
    } else {
      val latest = beats.foldLeft(
        state.getOption.map(_.lastSeenMillis).getOrElse(0L))((m, b) =>
        math.max(m, b.tsMillis))
      val st = WorkerStatus(workerId, alive = true, latest)
      state.update(st)
      state.setTimeoutDuration(ttlMillis)
      Iterator.single(st)
    }
  }

  /** Q3 — the heartbeat TTL as a streaming query: `beats` grouped by
    * worker, [[updateWorker]] per group under a processing-time timeout,
    * append output. A batch emits one `alive = true` row per worker that
    * beat in it, carrying its latest heartbeat time; a worker with no
    * heartbeat for `ttlMillis` of processing time emits one
    * `alive = false` row with its last-seen time, from the first batch
    * after the timeout fires, and its state is dropped.
    *
    * The caller must start the query with a processing-time trigger
    * spaced well inside `ttlMillis` (the render_queue benchmark uses 5 s
    * against a 60 s TTL). The timeout makes every trigger run a batch,
    * data or not, so under the default trigger the query runs no-data
    * batches back to back, each committing state files, and
    * `processAllAvailable()` never returns on it. */
  def workerLiveness(beats: Dataset[Heartbeat], ttlMillis: Long): Dataset[WorkerStatus] = {
    implicit val wsEnc = Encoders.product[WorkerStatus]
    beats.groupByKey(_.workerId)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.ProcessingTimeTimeout())(updateWorker(ttlMillis))
  }
}
