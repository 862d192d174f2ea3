package graft

import org.apache.spark.sql.functions._
import graft.sources.Sources
import graft.llmops.Multimodal
import graft.trajectory.Extrinsics
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("bcecmd parse: PRE prefixes, TOTAL footers, paths with spaces") {
    val lines = Seq(
      "  PRE  UE4scenes/Nordic Harbour/",
      "2026-01-12 08:33:21  123456  bos:/bucket/key with spaces.png",
      "TOTAL 2 OBJECTS; 123456 BYTES",
      "").toDF("value")
    val out = Sources.parseBcecmdListing(lines).orderBy("key").collect()
    assert(out.length == 2)
    val pre = out.find(_.getAs[Boolean]("is_prefix")).get
    assert(pre.getAs[String]("key") == "UE4scenes/Nordic Harbour")
    assert(pre.get(pre.fieldIndex("size")) == null)
    val obj = out.find(!_.getAs[Boolean]("is_prefix")).get
    assert(obj.getAs[String]("key") == "bos:/bucket/key with spaces.png")
    assert(obj.getAs[Long]("size") == 123456L)
    assert(obj.getAs[String]("modified") == "2026-01-12 08:33:21")
  }

  test("scenes.json document build + read roundtrip") {
    val scenes = Seq(("SceneA", "dirA", "/Game/A"), ("SceneB", "dirB", "/Game/B"))
      .toDF("scene_name", "launch_directory", "base_game_path")
    val maps = Seq(("SceneA", "M1", "/Game/A/Maps/M1"), ("SceneA", "M2", "/Game/A/Maps/M2"))
      .toDF("scene_name", "map_name", "map_path")
    val doc = Sources.scenesJsonDocument(scenes, maps)
    val row = doc.collect().head
    assert(row.getAs[Int]("total_scenes") == 2)

    val tmp = Files.createTempDirectory("scenesjson").toString
    doc.select(to_json(struct(col("total_scenes"),
        map_from_entries(transform(col("scenes"),
          s => struct(s.getField("scene_name"),
            struct(s.getField("launch_directory"), s.getField("base_game_path"),
              s.getField("maps"))))).as("scenes"))).as("j"))
      .as[String].collect()
      .foreach(j => Files.writeString(java.nio.file.Paths.get(s"$tmp/scenes.json"), j))
    val back = Sources.readScenesJson(spark, s"$tmp/scenes.json")
    val rows = back.orderBy("scene_name", "map_name").collect()
    assert(rows.length == 3) // SceneA×2 maps + SceneB×1 null map
    assert(rows.head.getAs[String]("map_name") == "M1")
    assert(rows.last.getAs[String]("scene_name") == "SceneB")
    assert(rows.last.get(rows.last.fieldIndex("map_name")) == null)
  }

  test("camera CSV sinks write exact reference column order") {
    val tmp = Files.createTempDirectory("csv").toString
    val traj = Seq((0, 100.0, 200.0, 170.0, 0.0, 5.0, 90.0))
      .toDF("frame", "x", "y", "z", "roll", "pitch", "yaw")
    Sources.writeCameraCsvs(
      Extrinsics.extrinsicRows(traj, "frame", "x", "y", "z", "roll", "pitch", "yaw"),
      Extrinsics.transformRows(traj, "frame", "x", "y", "z", "roll", "pitch", "yaw"),
      Extrinsics.intrinsicsRow(spark), tmp)
    def header(sub: String) = {
      val f = new java.io.File(s"$tmp/$sub").listFiles()
        .filter(_.getName.endsWith(".csv")).head
      Files.readAllLines(f.toPath).get(0)
    }
    assert(header("extrinsic") == "frame," + (for (r <- 0 until 4; c <- 0 until 4) yield s"m$r$c").mkString(","))
    assert(header("transform") == "frame,loc_x,loc_y,loc_z,rot_x,rot_y,rot_z")
    assert(header("intrinsic") == "fov,aspect_ratio,width,height,sensor_width,sensor_height,focal_length")
    // transform converts cm → m
    val t = spark.read.option("header", "true").csv(s"$tmp/transform").collect().head
    assert(t.getAs[String]("loc_x").toDouble == 1.0)
  }

  /** Two frames of a trajectory, in the exporter's column names. */
  private def twoFrames = Seq((0, 100.0, 200.0, 170.0, 0.0, 5.0, 90.0),
      (1, 150.0, -20.0, 165.5, 0.0, -12.5, 135.0))
    .toDF("frame", "x", "y", "z", "roll", "pitch", "yaw")

  /** A CSV sink dir as (header, data lines sorted): every part file must
    * carry the same header. */
  private def csvDir(dir: String): (String, Seq[String]) = {
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
      .map(f => Files.readAllLines(f.toPath).asScala.toSeq)
    assert(parts.nonEmpty, s"no part file in $dir")
    assert(parts.map(_.head).distinct.length == 1, s"headers differ in $dir")
    (parts.head.head, parts.flatMap(_.tail).sorted.toSeq)
  }

  test("camera CSV sinks write the exporter's headers and rows") {
    val tmp = Files.createTempDirectory("csv-rows").toString
    val traj = twoFrames
    Sources.writeCameraCsvs(
      Extrinsics.extrinsicRows(traj, "frame", "x", "y", "z", "roll", "pitch", "yaw"),
      Extrinsics.transformRows(traj, "frame", "x", "y", "z", "roll", "pitch", "yaw"),
      Extrinsics.intrinsicsRow(spark), tmp)
    assert(csvDir(s"$tmp/extrinsic") == (
      "frame,m00,m01,m02,m03,m10,m11,m12,m13,m20,m21,m22,m23,m30,m31,m32,m33",
      Seq("0,6.099933241728101E-17,0.9961946980917455,-0.08715574274765817," +
          "-1.8442246335124721,-1.0,6.123233995736766E-17,0.0,0.9999999999999999," +
          "5.336750069161486E-18,0.08715574274765817,0.9961946980917455," +
          "-1.8678424722512836,0.0,0.0,0.0,1.0",
        "1,-0.6903455270798547,0.6903455270798549,0.21643961393810288," +
          "0.815379834968193,-0.7071067811865476,-0.7071067811865475,0.0," +
          "0.919238815542512,0.15304591873303092,-0.15304591873303094," +
          "0.9762960071199334,-1.8759479536296424,0.0,0.0,0.0,1.0")))
    assert(csvDir(s"$tmp/transform") == ("frame,loc_x,loc_y,loc_z,rot_x,rot_y,rot_z",
      Seq("0,1.0,2.0,1.7,0.0,5.0,90.0", "1,1.5,-0.2,1.655,0.0,-12.5,135.0")))
    assert(csvDir(s"$tmp/intrinsic") == (
      "fov,aspect_ratio,width,height,sensor_width,sensor_height,focal_length",
      Seq("90.0,1.7777777777777777,1920,1080,24.576,13.824,35.0")))
  }

  test("camera CSV sinks: a frame missing a column fails before any directory is written") {
    val traj = twoFrames
    val ext = Extrinsics.extrinsicRows(traj, "frame", "x", "y", "z", "roll", "pitch", "yaw")
    val tr = Extrinsics.transformRows(traj, "frame", "x", "y", "z", "roll", "pitch", "yaw")
    Seq((ext.drop("m33"), tr), (ext, tr.drop("rot_z"))).foreach { case (e, t) =>
      val tmp = Files.createTempDirectory("csv-missing").toString
      intercept[org.apache.spark.sql.AnalysisException](
        Sources.writeCameraCsvs(e, t, Extrinsics.intrinsicsRow(spark), tmp))
      Seq("extrinsic", "transform", "intrinsic").foreach { sub =>
        assert(!Files.exists(java.nio.file.Path.of(tmp, sub)), sub)
      }
    }
  }

  test("camera CSV sinks: a failing write leaves no job running") {
    val tmp = Files.createTempDirectory("csv-fail").toString
    // 'x0' cannot be cast to a double: the extrinsic write fails in a task
    val bad = Extrinsics.extrinsicRows(twoFrames, "frame", "x", "y", "z", "roll", "pitch", "yaw")
      .repartition(2).withColumn("m00", concat(lit("x"), col("frame").cast("string")).cast("double"))
    val traj = twoFrames
    intercept[NumberFormatException](Sources.writeCameraCsvs(bad,
      Extrinsics.transformRows(traj, "frame", "x", "y", "z", "roll", "pitch", "yaw"),
      Extrinsics.intrinsicsRow(spark), tmp))
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
  }

  test("fs inventory lists only matching files, metadata-only") {
    val tmp = Files.createTempDirectory("inv")
    Files.writeString(tmp.resolve("a.umap"), "x")
    Files.createDirectory(tmp.resolve("sub"))
    Files.writeString(tmp.resolve("sub/b.umap"), "yy")
    Files.writeString(tmp.resolve("c.txt"), "zzz")
    val inv = Sources.fsInventory(spark, tmp.toString, "*.umap")
    val rows = inv.orderBy("path").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Long]("size")).toSeq == Seq(1L, 2L))
    val assets = Sources.ueAssetPaths(inv, tmp.toString).orderBy("path").collect()
    assert(assets.head.getAs[String]("asset_path") == "/Game/a")
    assert(assets.last.getAs[String]("asset_path") == "/Game/sub/b")
  }

  test("multimodal: real decode is deterministic, sniffs kind, validates metadata") {
    val media = Multimodal.syntheticMedia(spark, 9)
    val f1 = Multimodal.extractFeatures(media, 8).orderBy("media_id").collect()
    val f2 = Multimodal.extractFeatures(media, 8).orderBy("media_id").collect()
    assert(f1.map(_.getAs[Double]("mean_value")).toSeq ==
      f2.map(_.getAs[Double]("mean_value")).toSeq)
    assert(f1.forall(_.getAs[Seq[Float]]("feature").length == 8))
    // every synthetic payload is a VALID container: detection and declared
    // metadata must agree for all rows
    assert(f1.forall(r => r.getAs[String]("kind_detected") == r.getAs[String]("kind")))
    assert(f1.forall(_.getAs[Boolean]("meta_ok")))
    // n_values follows the per-kind geometry: image w*h luma pixels,
    // audio n samples, video frames*w*h luma pixels
    val nv = f1.map(r => r.getAs[String]("kind") -> r.getAs[Int]("n_values")).toSeq
    assert(nv == Seq("image" -> 32, "audio" -> 120, "video" -> 960,
      "image" -> 72, "audio" -> 128, "video" -> 960,
      "image" -> 64, "audio" -> 136, "video" -> 960))
  }

  test("audioEnvelope covers the clip tail when length is not a multiple of nWindows") {
    import spark.implicits._
    import graft.llmops.Codecs
    // 10 samples, 4 windows: the fixed-width bucketing dropped the last
    // len % nWindows samples — energy parked at the tail would vanish.
    val samples = Array.fill[Short](8)(0) ++ Array[Short](32767, 32767)
    val media = Seq((1L, "audio", Codecs.Wav.encode(8000, samples)))
      .toDF("media_id", "kind", "payload")
    val env = Multimodal.audioEnvelope(media, 4).collect().head
      .getSeq[Float](1)
    assert(env.length == 4)
    // boundaries at b*len/n: [0,2) [2,5) [5,7) [7,10) — tail bucket sees
    // samples 7..9 = (0, max, max) → mean |.| = 2/3 of full scale
    assert(math.abs(env(3) - 2f * (32767f / 32768f) / 3f) < 1e-6)
    assert(env.take(3).forall(_ == 0f))
  }

  test("multimodal: corrupt payload degrades to meta_ok=false, not a failure") {
    import spark.implicits._
    val bad = Seq((99L, "image", "not media at all".getBytes("UTF-8"), 8, 4, 0, 1))
      .toDF("media_id", "kind", "payload", "width", "height", "sample_rate", "n_frames")
    val row = Multimodal.extractFeatures(bad, 8).collect().head
    assert(row.getAs[String]("kind_detected") == null)
    assert(!row.getAs[Boolean]("meta_ok"))
    assert(row.getAs[Int]("n_values") == 0)
  }

  test("resize maps corners exactly, is the identity at native size, re-encodes valid PPM") {
    val media = Multimodal.syntheticMedia(spark, 3) // media 0 is an image, 8×4
    def resizedRow(w: Int, h: Int) =
      Multimodal.resize(media, w, h).filter(col("media_id") === 0L).collect().head
    def pixels(r: org.apache.spark.sql.Row): Seq[Float] =
      r.getSeq[Float](r.fieldIndex("pixels")).toSeq
    val srcBytes = media.filter(col("media_id") === 0L)
      .collect().head.getAs[Array[Byte]]("payload")
    val src = graft.llmops.Codecs.Ppm.decode(srcBytes).get
    val srcLuma = graft.llmops.Codecs.Ppm.luma(src).toSeq
    val native = resizedRow(8, 4)
    assert(pixels(native) == srcLuma, "resize to native size is the identity")
    assert(native.getAs[Array[Byte]]("payload").toSeq == srcBytes.toSeq,
      "native-size re-encode reproduces the original container bytes")
    val down = resizedRow(4, 2)
    assert(pixels(down).length == 8)
    assert(pixels(down).head == srcLuma.head, "top-left corner preserved")
    // output payload is itself a decodable PPM of the target geometry
    val out = graft.llmops.Codecs.Ppm.decode(down.getAs[Array[Byte]]("payload")).get
    assert(out.width == 4 && out.height == 2)
  }

  test("frame sampling slices exact frame bytes with no decoder in the plan") {
    val media = Multimodal.syntheticMedia(spark, 6)
    val out = Multimodal.sampleFrames(media, stride = 10)
    val rows = out.filter(col("media_id") === 2L) // a video row (kind idx 2)
      .orderBy("frame_idx").collect()
    assert(rows.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 10, 20)) // n=30
    // the expression-sliced bytes must equal the codec's view of the frame
    val payload = media.filter(col("media_id") === 2L)
      .collect().head.getAs[Array[Byte]]("payload")
    val video = graft.llmops.Codecs.Y4m.decode(payload).get
    for (r <- rows) {
      val idx = r.getAs[Int]("frame_idx")
      val sliced = r.getAs[Array[Byte]]("frame_bytes")
      assert(sliced.length == graft.llmops.Codecs.Y4m.frameLen(8, 4) - 6)
      assert(java.util.Arrays.equals(
        java.util.Arrays.copyOfRange(sliced, 0, 32), video.framePlaneY(idx)),
        s"Y-plane mismatch at frame $idx")
    }
  }
}
