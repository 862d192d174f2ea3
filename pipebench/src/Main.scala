package pipebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]. `opMs` are the latency
  * samples of the workload's user-visible op; `attempted`/`failed` count
  * the units the correctness checks judged. */
final case class Result(
    setupS: Double,
    opMs: Seq[Double],
    rowsPerS: Double,
    bytesWritten: Long,
    inputBytes: Long,
    attempted: Long,
    failed: Long,
    windows: Int,
    notes: Seq[(String, Double, String)],
    perLayer: Map[String, Double])

/** Everything a workload needs: the session, its counters, where its
  * inputs are, a scratch directory, and the run's time budget. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val traceRun: Boolean,
    val engine: Option[EngineCounters],
    val streams: Option[StreamCounters],
    val heap: HeapSampler,
    val input: Path,
    val work: Path,
    val params: Params,
    val seconds: Double,
    val cores: Int) {

  def log(msg: String): Unit = println(s"[pipebench] $msg")

  /** Time `body` with the heap sampler and (traced runs) the engine
    * counters on; seconds elapsed. */
  def timed[T](body: => T): (T, Double) = {
    engine.foreach(_.on())
    heap.open()
    val t0 = System.nanoTime()
    try {
      val out = body
      (out, (System.nanoTime() - t0) / 1e9)
    } finally {
      engine.foreach(_.off())
      heap.close()
    }
  }

  /** The workload's set-up after the session: one warm-up pass on a small
    * input (timed once: the cold start every process pays) plus the median
    * of three builds of the program-side state a deployment builds once.
    * Seconds. */
  def setup(warmUp: => Unit, state: Int => Unit): Double = {
    val t0 = System.nanoTime()
    warmUp
    val warmS = (System.nanoTime() - t0) / 1e9
    val builds = (0 until 3).map { i =>
      val t1 = System.nanoTime()
      state(i)
      (System.nanoTime() - t1) / 1e9
    }
    log(f"set-up: warm-up pass $warmS%.3f s, state builds ${builds.map(s => f"$s%.3f").mkString(", ")} s")
    warmS + Stats.median(builds)
  }

  /** Closed loop, one client: `restore` (untimed), one timed pass, then
    * `after` (untimed: the pass's correctness check), until the timed
    * passes add up to the run's seconds, and at least two passes. A traced
    * run alternates untraced and traced passes, at least two of each, so
    * the tracing overhead is the gap between their medians. Returns each pass's seconds and
    * whether it was traced. */
  def closedLoop(restore: Int => Unit, pass: Int => Unit,
      after: Int => Unit): Seq[(Double, Boolean)] = {
    val out = ArrayBuffer[(Double, Boolean)]()
    var spent = 0.0
    var i = 0
    while (spent < seconds || i < (if (traceRun) 4 else 2)) {
      restore(i)
      val traced = traceRun && i % 2 == 1
      tracer.enabled = traced
      val (_, s) =
        if (traced || !traceRun) timed(tracer.trace("pass", s"pass-$i")(pass(i)))
        else { val t0 = System.nanoTime(); pass(i); ((), (System.nanoTime() - t0) / 1e9) }
      tracer.enabled = false
      log(f"pass $i ${if (traced) "traced" else "untraced"} $s%.3f s")
      after(i)
      out += ((s, traced))
      spent += s
      i += 1
    }
    out.toSeq
  }
}

object Ctx {

  /** The trace.* rows of a traced run: median traced and untraced pass
    * seconds, the overhead between them, and the seconds per pass no layer
    * span covered. Empty unless both kinds of pass ran. */
  def traceSummary(passes: Seq[(Double, Boolean)], unattributedS: Double): Map[String, Double] = {
    val traced = passes.filter(_._2).map(_._1)
    val untraced = passes.filterNot(_._2).map(_._1)
    if (traced.isEmpty || untraced.isEmpty) Map.empty
    else Map(
      "trace.pass_s" -> Stats.median(traced),
      "trace.untraced_pass_s" -> Stats.median(untraced),
      "trace.overhead_s" -> (Stats.median(traced) - Stats.median(untraced)),
      "trace.unattributed_s" -> unattributedS)
  }
}

object Main {

  val Workloads = Seq("camera_export", "curate_batch", "curate_ingest", "render_queue")

  /** Every per-layer metric, emitted by every traced run (0 where the
    * workload never calls that layer). */
  val PerLayer: Seq[String] = Seq(
    "catalog.merge_s", "catalog.rows_out",
    "spatial.bounds_s",
    "graph.connectivity_s", "graph.maps_analysed", "graph.cache_hit_ratio", "graph.knn_edges",
    "trajectory.generate_s", "trajectory.window_s", "trajectory.clamp_s", "trajectory.extrinsic_s",
    "trajectory.frames",
    "sources.csv_write_s", "sources.bytes_written",
    "llmops.quality_s", "llmops.exact_dedup_s", "llmops.decontam_s", "llmops.neardup_s",
    "llmops.plan_shard_s", "llmops.output_write_s",
    "llmops.docs_after_quality", "llmops.docs_after_exact", "llmops.docs_after_decontam",
    "llmops.docs_after_neardup", "llmops.lsh_candidates", "llmops.lsh_precision",
    "streaming.batch_ms", "streaming.add_batch_ms", "streaming.commit_ms", "streaming.state_rows",
    "streaming.state_mem_mb", "streaming.rows_per_batch", "streaming.backlog_rows",
    "streaming.generator_late_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_busy_s", "spark.cpu_s", "spark.core_util",
    "spark.task_wait_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.stage_skew", "spark.gc_s",
    "trace.pass_s", "trace.untraced_pass_s", "trace.overhead_s", "trace.unattributed_s")

  val PerLayerUnits: Map[String, String] = PerLayer.map { n =>
    n -> (if (n.endsWith("_s")) "s" else if (n.endsWith("_ms")) "ms" else if (n.endsWith("_mb")) "MB"
      else if (n.endsWith("ratio") || n.endsWith("precision") || n.endsWith("util") ||
        n.endsWith("skew")) "ratio"
      else if (n.endsWith("bytes_written") || n.endsWith("segment_bytes")) "bytes" else "count")
  }.toMap

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val entered = System.currentTimeMillis()
    val bootS = (entered - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val home = Io.path(arg(args, "--home").getOrElse(sys.error("--home is required"))).toAbsolutePath
    val cores = arg(args, "--cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val params = Params(args.sliding(2).collect { case Array("--param", kv) =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }.toMap)
    if (args.contains("--self-test")) {
      sys.exit(if (SelfTest.run(home, params)) 0 else 1)
    }
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    require(Workloads.contains(workload), s"unknown workload $workload (one of ${Workloads.mkString(", ")})")
    val seed = arg(args, "--seed").getOrElse(sys.error("--seed is required")).toLong
    val seconds = arg(args, "--seconds").getOrElse(sys.error("--seconds is required")).toDouble
    val traceRun = arg(args, "--trace").getOrElse("0") == "1"

    val input = home.resolve("inputs").resolve(s"$workload-v${Gen.Version}-${params.tag}-seed$seed")
    val g0 = System.nanoTime()
    Gen.ensure(workload, seed, params, input)
    val genS = (System.nanoTime() - g0) / 1e9

    val work = home.resolve("work").resolve(s"$workload-${ProcessHandle.current().pid()}")
    Io.delete(work)
    Files.createDirectories(work)
    val s0 = System.nanoTime()
    val spark = Session.start(home, cores)
    val sessionS = (System.nanoTime() - s0) / 1e9
    val heap = new HeapSampler
    val ctx = new Ctx(spark, new Tracer(false, spark), traceRun,
      if (traceRun) Some(new EngineCounters(spark)) else None,
      if (traceRun) Some(new StreamCounters(spark)) else None,
      heap, input, work, params, seconds, cores)
    ctx.log(s"workload=$workload seed=$seed seconds=$seconds trace=${if (traceRun) 1 else 0} " +
      s"cores=$cores heap_max_mb=${Runtime.getRuntime.maxMemory / (1024 * 1024)}")
    Io.lines(input.resolve("sizes.txt")).foreach(l => ctx.log(s"input $l"))
    ctx.log(f"input generation $genS%.3f s (cached inputs are reused; not part of setup_s)")

    val r = workload match {
      case "camera_export" => CameraExport.run(ctx)
      case "curate_batch" => CurateBatch.run(ctx)
      case "curate_ingest" => CurateIngest.run(ctx)
      case "render_queue" => RenderQueue.run(ctx)
    }
    val setupS = bootS + sessionS + r.setupS
    ctx.log(f"setup: jvm $bootS%.3f s + session $sessionS%.3f s + workload set-up ${r.setupS}%.3f s")

    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("rows_per_s", r.rowsPerS, "rows/s"),
      ("op_p50_ms", Stats.median(r.opMs), "ms"),
      ("bytes_written_per_input_byte", r.bytesWritten.toDouble / r.inputBytes, "ratio"),
      ("heap_peak_mb", heap.peakMb, "MB"))
    val errorRatio = r.failed.toDouble / math.max(1L, r.attempted)
    (endToEnd ++ r.notes :+ (("error_ratio", errorRatio, "ratio"))).foreach { case (n, v, u) =>
      ctx.log(f"metric $n%-30s $v%.6g $u")
    }
    Stats.tail(r.opMs).foreach { case (p, v) =>
      ctx.log(f"metric op_tail_ms                     $v%.6g ms (p$p%.1f of ${r.opMs.length} ops)")
    }

    val metrics: Seq[(String, Double, String)] =
      if (!traceRun) endToEnd
      else {
        val fromEngine = ctx.engine.map(_.metrics(r.windows, cores)).getOrElse(Map.empty)
        val all = r.perLayer ++ fromEngine
        PerLayer.map(n => (n, all.getOrElse(n, 0.0), PerLayerUnits(n)))
      }
    if (traceRun) {
      metrics.foreach { case (n, v, u) => ctx.log(f"layer $n%-30s $v%.6g $u") }
      // layers of workloads outside the benchmark's set (printed only)
      r.perLayer.filterNot(kv => PerLayer.contains(kv._1)).toSeq.sorted.foreach { case (n, v) =>
        ctx.log(f"layer $n%-30s $v%.6g")
      }
      val out = home.resolve("traces").resolve(s"$workload-seed$seed.json")
      Io.write(out, Json.value(Map(
        "spans" -> ctx.tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "trace" -> s.traceId, "start_ns" -> s.start, "end_ns" -> s.end)),
        "engine_by_span" -> ctx.engine.map(_.perSpan).getOrElse(Map.empty))))
      ctx.log(s"spans written to $out")
    }
    spark.stop()
    Io.delete(work)
    val body = metrics.map { case (n, v, u) => Json.str(n) + ": " + Json.value(Map("value" -> v, "unit" -> u)) }
    println(s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
    System.out.flush()
    sys.exit(0)
  }
}

/** The pinned session: local[cores], shuffle partitions = cores, the
  * library's extensions, RocksDB state store, all scratch under the
  * benchmark's build dir. */
object Session {
  def start(home: Path, cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("pipebench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", home.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", home.resolve("warehouse").toString)
    graft.streaming.StateBackends.rocksDb.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
