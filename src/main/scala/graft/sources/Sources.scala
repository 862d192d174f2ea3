package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Concurrent

/** Scans / sources / sinks (SURVEY.md §2.1).
  *
  * Everything file-shaped goes through Spark's own file sources (parquet /
  * binaryFile / text / json / csv) so listing, partition pruning, glob
  * pushdown, and schema handling come from the engine instead of hand-
  * rolled os.walk loops (reference: scene_scanner.py:84-160, 856-896).
  */
object Sources {

  /** S5/S6 — recursive asset scan: path inventory of files matching a
    * glob, as a DataFrame of (path, size, mtime). `binaryFile` is used as
    * a *listing* source — content is never read because we never select
    * the `content` column (column pruning keeps the scan metadata-only).
    */
  def fsInventory(spark: SparkSession, root: String, glob: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(root)
      .select(col("path"), col("length").as("size"),
        col("modificationTime").as("mtime"))

  /** S6 helper — `/Game/...` asset path from a Content-relative file path
    * (reference: scene_scanner.py:66-81). */
  def ueAssetPaths(inventory: DataFrame, contentRoot: String): DataFrame =
    inventory.withColumn("asset_path",
      concat(lit("/Game"),
        regexp_replace(
          regexp_replace(col("path"), "^.*" + java.util.regex.Pattern.quote(contentRoot), ""),
          "\\.(umap|uasset)$", "")))

  /** S8 — `bcecmd bos ls` output parse: CLI table text → rows. Handles
    * `PRE ` directory prefixes, `TOTAL` footers, and space-containing
    * paths via anchored regex projection (reference:
    * storage/scene_copy.py:94-145, sync_baked_scenes.py:17-78).
    *
    * Line shapes:
    *   `  PRE  UE4scenes/Nordic Harbour/`
    *   `  2026-01-12 08:33:21  123456  bos:/bucket/key with spaces.png`
    *   `TOTAL 42 OBJECTS; 1234 BYTES`
    */
  def parseBcecmdListing(lines: DataFrame, valueCol: String = "value"): DataFrame = {
    val v = trim(col(valueCol))
    lines
      .filter(!v.startsWith("TOTAL") && v =!= "")
      .withColumn("is_prefix", v.startsWith("PRE"))
      .withColumn("key",
        when(col("is_prefix"), regexp_replace(regexp_extract(v, "^PRE\\s+(.*)$", 1), "/$", ""))
          .otherwise(regexp_extract(v, "^\\S+\\s+\\S+\\s+\\d+\\s+(.*)$", 1)))
      .withColumn("size",
        when(col("is_prefix"), lit(null).cast("long"))
          .otherwise(regexp_extract(v, "^\\S+\\s+\\S+\\s+(\\d+)\\s+", 1).cast("long")))
      .withColumn("modified",
        when(col("is_prefix"), lit(null).cast("string"))
          .otherwise(regexp_extract(v, "^(\\S+\\s+\\S+)\\s+\\d+\\s+", 1)))
      .filter(col("key") =!= "")
      .select("key", "size", "modified", "is_prefix")
  }

  /** S7/A14 — first-level folder extraction from an object listing
    * (reference: scene_scanner.py:593-614). */
  def topLevelFolders(listing: DataFrame, keyCol: String): DataFrame =
    listing.select(element_at(split(col(keyCol), "/"), 1).as("folder"))
      .filter(col("folder") =!= "").distinct()

  /** S9 — camera CSV sinks with exact reference column order
    * (reference: camera_exporter.py:383-437). One directory per
    * sequence; header row included. The three projections are analysed
    * on the calling thread, so a missing column fails before any
    * directory is written; the three writes are independent and run at
    * once ([[Concurrent.runConcurrently]]). Every write has ended when
    * this returns or throws. After a task fails at run time, its sibling
    * directories may already be written. */
  def writeCameraCsvs(extrinsic: DataFrame, transform: DataFrame,
      intrinsic: DataFrame, outDir: String): Unit = {
    val sinks = Seq(
      "extrinsic" -> extrinsic.select(
        ("frame" +: (for (r <- 0 until 4; c <- 0 until 4) yield s"m$r$c")).map(col): _*),
      "transform" -> transform.select("frame", "loc_x", "loc_y", "loc_z", "rot_x", "rot_y", "rot_z"),
      "intrinsic" -> intrinsic)
    Concurrent.runConcurrently(extrinsic.sparkSession, sinks.map { case (name, df) =>
      () => df.write.mode("overwrite").option("header", "true").csv(s"$outDir/$name")
    })
  }

  /** S2 — scenes.json catalog read: nested {scenes: {name: {..., maps:
    * [{name, path}]}}} normalized to scene + map rows
    * (reference: scene_scanner.py:204-222). */
  def readScenesJson(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    // the catalog is a dict-of-scenes — declare scenes as a MAP so schema
    // inference doesn't widen it to one struct field per scene name
    val schema = StructType(Seq(
      StructField("total_scenes", LongType),
      StructField("scenes", MapType(StringType, StructType(Seq(
        StructField("launch_directory", StringType),
        StructField("base_game_path", StringType),
        StructField("maps", ArrayType(StructType(Seq(
          StructField("name", StringType),
          StructField("path", StringType)))))))))))
    val raw = spark.read.option("multiLine", "true").schema(schema).json(path)
    raw.select(explode(col("scenes")).as(Seq("scene_name", "scene")))
      .select(col("scene_name"), col("scene.launch_directory"),
        col("scene.base_game_path"),
        explode_outer(col("scene.maps")).as("map"))
      .select(col("scene_name"), col("launch_directory"), col("base_game_path"),
        col("map.name").as("map_name"), col("map.path").as("map_path"))
  }

  /** S3 — scenes.json catalog write: rows → one nested JSON document with
    * a total_scenes/last_updated envelope (reference:
    * scene_scanner.py:530-587). The nested doc is built with
    * collect_list(struct(...)) — a single-row result, written by the
    * caller; the aggregation is distributed, only the envelope is tiny.
    */
  def scenesJsonDocument(scenes: DataFrame, maps: DataFrame): DataFrame = {
    val mapsBy = maps.groupBy("scene_name")
      .agg(collect_list(struct(col("map_name").as("name"),
        col("map_path").as("path"))).as("maps"))
    scenes.join(mapsBy, Seq("scene_name"), "left")
      .select(struct(col("scene_name"), col("launch_directory"),
        col("base_game_path"), coalesce(col("maps"), array()).as("maps")).as("scene"))
      .agg(collect_list(col("scene")).as("scenes"))
      .select(size(col("scenes")).as("total_scenes"), col("scenes"))
  }

  /** S3 — scenes.json document as TEXT: the same envelope serialized to a
    * deterministic compact JSON string (scenes sorted by name, maps sorted
    * by (name, path)), matching what the reference actually produces — a
    * JSON *text* file (scene_scanner.py:530-587). String output is
    * hash-comparable by the oracle harness, unlike nested arrays.
    */
  def scenesJsonText(scenes: DataFrame, maps: DataFrame): DataFrame = {
    val mapsBy = maps.groupBy("scene_name")
      .agg(array_sort(collect_list(struct(col("map_name").as("name"),
        col("map_path").as("path")))).as("maps"))
    val emptyMaps = array().cast("array<struct<name:string,path:string>>")
    scenes.join(mapsBy, Seq("scene_name"), "left")
      .select(struct(col("scene_name"), col("launch_directory"),
        col("base_game_path"), coalesce(col("maps"), emptyMaps).as("maps")).as("scene"))
      .agg(array_sort(collect_list(col("scene"))).as("scenes"))
      .select(size(col("scenes")).cast("long").as("total_scenes"),
        to_json(col("scenes")).as("scenes_json"))
  }
}
