package pipebench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.CatalogOps
import graft.graph.ConnectivityCache
import graft.sources.Sources
import graft.spatial.SpatialAgg
import graft.trajectory.{BehaviorGenerator, Extrinsics, TrajectoryOps}

/** camera_export: closed loop, one client; one pass is one job-prep batch
  * of the reference data plane — catalog merge, map bounds, per-map
  * connectivity through the cache, trajectory generation and windowing,
  * extrinsics, and the camera CSV sinks. The op is the pass. */
object CameraExport {

  /** The reference clip spec: 120 s at 30 fps, 150 cm/s. */
  val Clip = BehaviorGenerator.Config(durationSeconds = 120.0, fps = 30, speedCmPerSec = 150.0)
  val FramesPerSequence = 3600
  val K = 8
  val MinIslandRatio = 0.05
  /** 30 degrees per second at 30 fps. */
  val MaxYawStep = 1.0
  val AnalysisDate = "2026-01-15"

  private def csv(spark: SparkSession, f: Path, schema: String): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(Io.uri(f))

  val CatalogSchema = "scene_name string, map_name string, map_path string, navmesh_baked boolean, " +
    "navmesh_hash string, navmesh_auto_scale boolean, navmesh_bounds string, metadata string, " +
    "version int, created_at timestamp"

  final case class PassOut(mapsAnalysed: Int, hits: Set[String], knnEdges: Long, catalogRows: Int,
      cacheBytes: Long)

  /** Hit or miss, seen from outside: a miss rewrites the map's cache
    * partition, so its file names change. */
  private def listing(cache: Path, map: String): Set[String] = {
    val d = cache.resolve(s"map_name=$map")
    if (!Files.isDirectory(d)) Set.empty
    else { val s = Files.list(d); try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close() }
  }

  /** Per-map connectivity through the cache; returns the cache hits and the
    * kNN edges computed for the misses. */
  def connectivity(spark: SparkSession, cache: Path, points: DataFrame, maps: Seq[String]): (Set[String], Long) = {
    var edges = 0L
    val hits = maps.filter { m =>
      val before = listing(cache, m)
      val doc = ConnectivityCache.readOrCompute(spark, Io.uri(cache),
        points.filter(col("map_name") === m).select("point_id", "vec"), m, "point_id", "vec",
        3, K, MinIslandRatio, AnalysisDate)
      val n = doc.select("sample_count").head().getLong(0)
      val hit = before.nonEmpty && listing(cache, m) == before
      if (!hit) edges += n * K
      hit
    }.toSet
    (hits, edges)
  }

  /** The cache a deployment fills once: every map's analysis document,
    * written in one go. */
  def fillCache(cache: Path, points: DataFrame, maps: Seq[String]): Unit = {
    val docs = maps.map { m =>
      val pts = points.filter(col("map_name") === m).select("point_id", "vec")
      val fp = ConnectivityCache.inputFingerprint(pts, "point_id", "vec", K, MinIslandRatio)
      ConnectivityCache.analysisDoc(pts, m, "point_id", "vec", 3, K, MinIslandRatio, AnalysisDate, fp)
    }
    ConnectivityCache.write(docs.reduce(_ unionByName _), Io.uri(cache))
  }

  def points(spark: SparkSession, f: Path): DataFrame =
    csv(spark, f, "map_name string, point_id long, x double, y double, z double")
      .select(col("map_name"), col("point_id"), array(col("x"), col("y"), col("z")).as("vec"))

  def pass(ctx: Ctx, jobsFile: String, cache: Path, out: Path, mapLimit: Int): PassOut = {
    val spark = ctx.spark
    val t = ctx.tracer
    val in = ctx.input
    // 1. catalog: upsert the update batch, keep each map's render state
    val merged = t.span("catalog.merge") {
      val latest = CatalogOps.upsertLatest(csv(spark, in.resolve("catalog.csv"), CatalogSchema),
        csv(spark, in.resolve("catalog_update.csv"), CatalogSchema), Seq("map_name"), "version", Seq("created_at"))
      t.materialize(CatalogOps.statusPreservingMerge(latest,
        csv(spark, in.resolve("map_state.csv"), "map_name string, status string, render_count int"),
        Seq("map_name"), Map("status" -> lit("pending"), "render_count" -> lit(0))))
    }
    // 2. spatial: per-map bounds and navmesh scale -> the job-prep rows
    val prep = t.span("spatial.bounds") {
      val box = SpatialAgg.aabb(csv(spark, in.resolve("actors.csv"),
          "map_name string, x double, y double, z double, ex double, ey double, ez double"),
        Seq("map_name"), Seq(("x", col("x"), col("ex")), ("y", col("y"), col("ey")), ("z", col("z"), col("ez"))))
        .withColumn("navmesh_scale", SpatialAgg.adaptiveScale(greatest(col("half_x"), col("half_y")), 120.0, 1.0, 100.0))
      merged.join(box, Seq("map_name"), "left")
        .select("map_name", "status", "navmesh_scale").collect()
    }
    val maps = prep.map(_.getString(0)).sorted.take(mapLimit).toSeq
    // 3. graph: connectivity per map, read through the cache
    val (hits, edges) = t.span("graph.connectivity") {
      val pts = points(spark, in.resolve("navmesh_pass.csv")).localCheckpoint()
      connectivity(spark, cache, pts, maps)
    }
    // 4-6. trajectories, windows, clamp, extrinsics
    val jobs = csv(spark, in.resolve(jobsFile), "sequence_id string, map_name string, seed long")
    val frames = t.span("trajectory.generate")(t.materialize(BehaviorGenerator.generateAll(jobs, Clip)))
    val windowed = t.span("trajectory.window") {
      t.materialize(TrajectoryOps.cumArcLength(frames, "sequence_id", "frame", col("x"), col("y"), col("z")))
    }
    // the clamped table feeds both CSV sinks: checkpointed once either way
    val clamped = t.span("trajectory.clamp") {
      val c = TrajectoryOps.rateClampOrdered(windowed, "sequence_id", Seq("frame"), "yaw", MaxYawStep)
      windowed.join(c.select(col("seq").as("sequence_id"), (col("idx") - 1).cast("int").as("frame"),
          col("clamped").as("yaw_clamped")), Seq("sequence_id", "frame"))
        .withColumn("roll", lit(0.0)).localCheckpoint()
    }
    val (ext, tr) = t.span("trajectory.extrinsic") {
      (t.materialize(Extrinsics.extrinsicRowsKeyed(clamped, Seq("sequence_id"), "frame", "x", "y", "z",
        "roll", "pitch", "yaw_clamped")),
        t.materialize(Extrinsics.transformRows(clamped, "frame", "x", "y", "z", "roll", "pitch", "yaw_clamped")))
    }
    // 7. sources: the camera CSVs
    t.span("sources.csv_write")(Sources.writeCameraCsvs(ext, tr, Extrinsics.intrinsicsRow(spark), Io.uri(out)))
    val cacheBytes = maps.filterNot(hits).map(m => Io.size(cache.resolve(s"map_name=$m"))).sum
    PassOut(maps.length, hits, edges, prep.length, cacheBytes)
  }

  /** Data rows of a CSV sink dir (every part file carries one header). */
  def csvRows(dir: Path): Long = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".csv"))
      .map(f => math.max(0L, Io.lines(f).length - 1L)).sum
    finally s.close()
  }

  /** Rotation block of sampled extrinsic rows: R^T R = I within 1e-6. */
  def orthonormal(row: Array[Double]): Boolean = {
    def r(i: Int, j: Int) = row(1 + i * 4 + j)
    (0 until 3).forall(i => (0 until 3).forall { j =>
      val dot = (0 until 3).map(k => r(i, k) * r(j, k)).sum
      math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-6
    })
  }

  /** Failures of one pass against the planted truth. */
  def check(o: PassOut, extrinsicRows: Long, transformRows: Long, sample: Seq[Array[Double]],
      sequences: Int, unchanged: Set[String], catalogRows: Int): Seq[String] = Seq(
    if (extrinsicRows != sequences.toLong * FramesPerSequence)
      Some(s"extrinsic CSV has $extrinsicRows frames, expected ${sequences.toLong * FramesPerSequence}") else None,
    if (transformRows != extrinsicRows) Some(s"transform CSV has $transformRows rows, extrinsic $extrinsicRows") else None,
    if (o.hits != unchanged) Some(s"cache hits ${o.hits.size} != planted unchanged maps ${unchanged.size}") else None,
    if (o.catalogRows != catalogRows) Some(s"catalog has ${o.catalogRows} rows, expected $catalogRows") else None,
    if (sample.isEmpty || !sample.forall(orthonormal)) Some("sampled extrinsic rotations not orthonormal") else None
  ).flatten

  def sampleExtrinsics(dir: Path, n: Int): Seq[Array[Double]] = {
    val s = Files.list(dir)
    val f = try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".csv")).toSeq.sortBy(_.toString)
      finally s.close()
    f.headOption.toSeq.flatMap(p => Io.lines(p).drop(1).take(n).map(_.split(",").map(_.toDouble)))
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val cache = ctx.work.resolve("connectivity")
    val snapshot = ctx.work.resolve("connectivity_setup")
    val out = ctx.work.resolve("camera")
    val maps = ctx.params.int("maps")
    val sequences = ctx.params.int("sequences")
    // set-up: a warm-up pass on one sequence and two maps, then the
    // connectivity cache a deployment fills once (every map analysed)
    val setupS = ctx.setup(
      pass(ctx, "warmup_jobs.csv", ctx.work.resolve("warm-cache"), ctx.work.resolve("warm-out"), 2),
      _ => {
        Io.delete(cache)
        val pts = points(spark, ctx.input.resolve("navmesh_setup.csv")).localCheckpoint()
        fillCache(cache, pts, (0 until maps).map(m => f"map_$m%04d"))
      })
    Io.copyTree(cache, snapshot)
    val unchanged = Gen.truth(ctx.input, "unchanged_maps.txt").toSet
    val catalogRows = maps + math.max(1, maps * 3 / 100)
    var failed = 0L
    var last: PassOut = null
    var frames = 0.0 // frames in the last pass's extrinsic CSV
    val passes = ctx.closedLoop(
      _ => { Io.copyTree(snapshot, cache); Io.delete(out) },
      _ => last = pass(ctx, "jobs.csv", cache, out, Int.MaxValue),
      _ => {
        val ext = csvRows(out.resolve("extrinsic"))
        frames = ext.toDouble
        val problems = check(last, ext, csvRows(out.resolve("transform")),
          sampleExtrinsics(out.resolve("extrinsic"), 50), sequences, unchanged, catalogRows)
        problems.foreach(p => ctx.log(s"CHECK FAILED: $p"))
        if (problems.nonEmpty) failed += 1
      })
    val untraced = passes.filterNot(_._2).map(_._1)
    val written = Io.size(out) + last.cacheBytes
    val inputBytes = Seq("catalog.csv", "catalog_update.csv", "map_state.csv", "actors.csv", "navmesh_pass.csv",
      "jobs.csv").map(f => Io.size(ctx.input.resolve(f))).sum
    val layer = collection.mutable.Map[String, Double]()
    if (ctx.traceRun) {
      val self = ctx.tracer.selfSeconds("pass")
      Seq("catalog.merge", "spatial.bounds", "graph.connectivity", "trajectory.generate", "trajectory.window",
        "trajectory.clamp", "trajectory.extrinsic", "sources.csv_write").foreach { n =>
        layer(s"${n}_s") = self.getOrElse(n, 0.0)
      }
      layer("catalog.rows_out") = last.catalogRows
      layer("graph.maps_analysed") = last.mapsAnalysed
      layer("graph.cache_hit_ratio") = last.hits.size.toDouble / last.mapsAnalysed
      layer("graph.knn_edges") = last.knnEdges.toDouble
      layer("trajectory.frames") = frames
      layer("sources.bytes_written") = Io.size(out).toDouble
      layer ++= Ctx.traceSummary(passes, self.getOrElse("pass", 0.0))
    }
    Result(setupS, untraced.map(_ * 1000), frames / Stats.median(untraced), written, inputBytes,
      passes.length, failed, passes.count(_._2),
      Seq(("pass_frames", frames, "frames"), ("cache_hits", last.hits.size.toDouble, "maps")), layer.toMap)
  }
}
