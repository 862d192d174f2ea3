package pipebench

import java.nio.file.Path

/** The benchmark checking itself, without a Spark session: the generator
  * is a pure function of its seed, and every correctness check rejects a
  * deliberately corrupted output. */
object SelfTest {

  def run(home: Path, p: Params): Boolean = {
    val root = home.resolve("selftest")
    Io.delete(root)
    var ok = true
    def expect(cond: Boolean, what: String): Unit = {
      println(s"[pipebench] self-test ${if (cond) "ok  " else "FAIL"} $what")
      ok &&= cond
    }
    for (w <- Main.Workloads) {
      val (a, b, c) = (root.resolve(s"$w-1a"), root.resolve(s"$w-1b"), root.resolve(s"$w-2"))
      Gen.generate(w, 1, p, a)
      Gen.generate(w, 1, p, b)
      Gen.generate(w, 2, p, c)
      expect(Io.sameTree(a, b), s"$w: seed 1 twice gives byte-identical inputs")
      expect(!Io.sameTree(a, c), s"$w: seeds 1 and 2 give different inputs")
    }

    // curate_batch: the planted truth's own answer passes; one kept doc
    // dropped, or one exact duplicate kept, fails
    val cb = CurateBatch.truth(root.resolve("curate_batch-1a"))
    val keep = cb.unique
    expect(CurateBatch.check(keep, cb).isEmpty, "curate_batch: the planted answer passes")
    expect(CurateBatch.check(keep - keep.min, cb).nonEmpty, "curate_batch: one kept doc dropped fails")
    expect(CurateBatch.check(keep + cb.exact.min, cb).nonEmpty, "curate_batch: one exact duplicate kept fails")
    expect(CurateBatch.check(keep ++ cb.near, cb).nonEmpty, "curate_batch: near-duplicates kept fail the recall floor")

    // camera_export: one frame removed, one cache hit lost, one rotation
    // skewed: each fails
    val camDir = root.resolve("camera_export-1a")
    val unchanged = Gen.truth(camDir, "unchanged_maps.txt").toSet
    val seqs = p.int("sequences")
    val frames = seqs.toLong * CameraExport.FramesPerSequence
    val maps = p.int("maps")
    val rows = maps + math.max(1, maps * 3 / 100)
    val good = CameraExport.PassOut(rows, unchanged, 0L, rows, 0L)
    val rot = Array(0.0, 0, 1, 0, 0, 1, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 1)
    def cam(o: CameraExport.PassOut, ext: Long, sample: Seq[Array[Double]]) =
      CameraExport.check(o, ext, ext, sample, seqs, unchanged, rows)
    expect(cam(good, frames, Seq(rot)).isEmpty, "camera_export: the planted answer passes")
    expect(cam(good, frames - 1, Seq(rot)).nonEmpty, "camera_export: one frame removed fails")
    expect(cam(good.copy(hits = unchanged.tail), frames, Seq(rot)).nonEmpty, "camera_export: one cache hit lost fails")
    expect(cam(good, frames, Seq(rot.updated(1, 0.5))).nonEmpty, "camera_export: a skewed rotation fails")

    // curate_ingest: a planted repeat kept, a fresh doc dropped, the first
    // batch off the full-corpus filter, a search missing its source: each fails
    val ci = root.resolve("curate_ingest-1a")
    val repeats = Gen.truth(ci, "repeats.txt").map(_.split(" ")(0).toLong).toSet
    val batch = Io.lines(ci.resolve("batch_0.csv")).drop(1).map(_.split(",", 2)(0).toLong).toSet
    val kept = CurateIngest.expectedKept(batch, repeats)
    expect(CurateIngest.checkIngest(kept, batch, repeats).isEmpty, "curate_ingest: the planted answer passes")
    expect(CurateIngest.checkIngest(kept + (batch intersect repeats).min, batch, repeats).nonEmpty,
      "curate_ingest: one planted repeat kept fails")
    expect(CurateIngest.checkIngest(kept - kept.min, batch, repeats).nonEmpty, "curate_ingest: one kept doc dropped fails")
    expect(CurateIngest.checkEquivalence(kept - kept.min, kept, batch).nonEmpty,
      "curate_ingest: first batch off the curateFilterStages answer fails")
    val q = CurateIngest.queries(ci).head
    expect(CurateIngest.checkSearch(Seq(q.source), q).isEmpty && CurateIngest.checkSearch(Seq(-1L), q).nonEmpty,
      "curate_ingest: a search missing its source doc fails")

    // render_queue: the offline fold passes against itself; one task's
    // state flipped fails
    val ev = RenderQueue.load(root.resolve("render_queue-1a"), "warmup")
    val folded = ev.tasks.toSeq.groupBy(_.taskId).map { case (t, e) => RenderQueue.fold(t, e) }.toSeq.sortBy(_.taskId)
    val workers = ev.beats.toSeq.groupBy(_.workerId).map { case (w, b) =>
      graft.streaming.TaskStateMachine.WorkerStatus(w, alive = true, b.map(_.tsMillis).max)
    }.toSeq
    val flipped = folded.updated(0, folded.head.copy(status = if (folded.head.status == "completed") "failed" else "completed"))
    expect(RenderQueue.check(ev.tasks.toSeq, ev.beats.toSeq, folded, workers)._2.isEmpty,
      "render_queue: the offline fold passes")
    expect(RenderQueue.check(ev.tasks.toSeq, ev.beats.toSeq, flipped, workers)._2.nonEmpty,
      "render_queue: one task state flipped fails")
    expect(RenderQueue.check(ev.tasks.toSeq, ev.beats.toSeq, folded, workers.tail)._2.nonEmpty,
      "render_queue: one worker's liveness lost fails")

    Io.delete(root)
    println(s"[pipebench] self-test ${if (ok) "passed" else "FAILED"}")
    ok
  }
}
