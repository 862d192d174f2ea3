package graft.model

import org.apache.spark.sql.types._

/** Reference-shaped catalog entities (SURVEY.md §1.1 E1-E4) as explicit
  * schemas + case classes. The SQLite registry becomes parquet tables
  * read through [[Tables]].
  */
object Catalog {

  case class Scene(
      scene_name: String, launch_directory: String, content_path: String,
      base_game_path: String, last_updated: java.sql.Timestamp,
      low_actor: Boolean, baked: Boolean,
      last_baked: Option[java.sql.Timestamp])

  case class MapEntry(
      scene_name: String, map_name: String, map_path: String,
      navmesh_baked: Boolean, navmesh_hash: Option[String],
      navmesh_auto_scale: Boolean, navmesh_bounds: Option[String],
      metadata: Option[String])

  case class SequenceMeta(
      scene_name: String, map_name: String, sequence_name: String,
      sequence_path: String, seed: Long, duration_seconds: Double,
      created_at: java.sql.Timestamp,
      uploaded_at: Option[java.sql.Timestamp], metadata: Option[String])

  val sceneSchema: StructType = StructType(Seq(
    StructField("scene_name", StringType, nullable = false),
    StructField("launch_directory", StringType),
    StructField("content_path", StringType),
    StructField("base_game_path", StringType),
    StructField("last_updated", TimestampType),
    StructField("low_actor", BooleanType),
    StructField("baked", BooleanType),
    StructField("last_baked", TimestampType)))

  val mapSchema: StructType = StructType(Seq(
    StructField("scene_name", StringType, nullable = false),
    StructField("map_name", StringType, nullable = false),
    StructField("map_path", StringType),
    StructField("navmesh_baked", BooleanType),
    StructField("navmesh_hash", StringType),
    StructField("navmesh_auto_scale", BooleanType),
    StructField("navmesh_bounds", StringType), // JSON {"min":[..],"max":[..]}
    StructField("metadata", StringType)))

  val sequenceSchema: StructType = StructType(Seq(
    StructField("scene_name", StringType, nullable = false),
    StructField("map_name", StringType, nullable = false),
    StructField("sequence_name", StringType, nullable = false),
    StructField("sequence_path", StringType),
    StructField("seed", LongType),
    StructField("duration_seconds", DoubleType),
    StructField("created_at", TimestampType),
    StructField("uploaded_at", TimestampType),
    StructField("metadata", StringType)))
}
