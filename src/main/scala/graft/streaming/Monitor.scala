package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Q4-Q6 — render monitor semantics as Structured Streaming
  * (reference: rendering/monitor.py:117-174, 223-249;
  * run_render_job_headless.py:215-335).
  */
object Monitor {

  /** S11 — status-file source: stream of `.render_status.json` documents
    * from a directory (reference: monitor.py:52-71 polling loop →
    * declarative file source; new files picked up per micro-batch).
    *
    * Render workers write status files in place, so the monitor can see
    * truncated/mid-write JSON (the reference skips unparseable files).
    * PERMISSIVE parsing routes such documents into a corrupt-record
    * column, which is filtered out — a malformed file never kills the
    * monitor stream, it is simply not a status yet. */
  def statusFileStream(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val schema = "status STRING, sequence STRING, job_name STRING, " +
      "output_directory STRING, start_time STRING, end_time STRING, " +
      "success BOOLEAN, _corrupt STRING"
    spark.readStream.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(dir)
      .filter(col("_corrupt").isNull)
      .drop("_corrupt")
  }

  /** Q6 — live counters by status (`stats:*`): streaming groupBy count in
    * update mode (reference: structure.md stats counters). */
  def statusCounts(statusEvents: DataFrame, statusCol: String): DataFrame =
    statusEvents.groupBy(col(statusCol)).count()

  /** Q4 — per-minute job-summary: tumbling processing-time window count
    * (reference: monitor.py minute summary). Caller attaches a
    * `current_timestamp()`-derived column when the source has no ts. */
  def minuteSummary(statusEvents: DataFrame, tsCol: String, statusCol: String): DataFrame =
    statusEvents
      .withWatermark(tsCol, "2 minutes")
      .groupBy(window(col(tsCol), "1 minute"), col(statusCol))
      .count()

  case class Progress(jobId: String, frameCount: Long, tsMillis: Long)
  case class StallStatus(jobId: String, stalled: Boolean, frameCount: Long,
      sinceMillis: Long)

  /** W9/Q5 — stall detection: a job whose frame count has not increased
    * for `stallTimeoutMillis` emits a stalled event and loses its state
    * (the "no new frames for N minutes" heuristic,
    * run_render_job_headless.py:312-325; monitor.py's "no increase for N
    * checks"). A job that keeps reporting the same count stalls on the
    * first batch at or past its deadline; one that goes silent stalls
    * through the processing-time timeout, which is always set to the
    * time left. Time is the batch's processing time, so the function is
    * deterministic under `TestGroupState`. */
  def updateProgress(stallTimeoutMillis: Long)(
      jobId: String,
      updates: Iterator[Progress],
      state: GroupState[StallStatus]): Iterator[StallStatus] = {
    if (state.hasTimedOut) {
      val last = state.get
      state.remove()
      Iterator.single(last.copy(stalled = true))
    } else {
      val now = state.getCurrentProcessingTimeMs()
      val prev = state.getOption
      val maxFrame = updates.foldLeft(prev.map(_.frameCount).getOrElse(-1L))(
        (m, p) => math.max(m, p.frameCount))
      val since = prev.filter(_.frameCount >= maxFrame).map(_.sinceMillis).getOrElse(now)
      val st = StallStatus(jobId, stalled = false, maxFrame, since)
      val idle = now - since
      if (idle >= stallTimeoutMillis) {
        state.remove()
        Iterator.single(st.copy(stalled = true))
      } else {
        state.update(st)
        state.setTimeoutDuration(stallTimeoutMillis - idle)
        Iterator.single(st)
      }
    }
  }

  def stallMonitor(progress: Dataset[Progress],
      stallTimeoutMillis: Long): Dataset[StallStatus] = {
    implicit val sEnc = Encoders.product[StallStatus]
    progress.groupByKey(_.jobId)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.ProcessingTimeTimeout())(updateProgress(stallTimeoutMillis))
  }

  /** Q5 batch analog — session gap "silence ⇒ done": the event-time
    * session-window form (reference: run_render_job_headless.py:318-325).
    */
  def silenceSessions(frames: DataFrame, tsCol: String, jobCol: String,
      gap: String): DataFrame =
    frames.groupBy(col(jobCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_frames"))
}
