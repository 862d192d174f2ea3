package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Path/string scalar functions (SURVEY.md §2.8) — all built from codegen'd
  * built-ins, registered for SQL use via [[register]].
  */
object PathFunctions {

  /** Last path segment, with any `.ObjectName` asset suffix stripped
    * (reference: core/job_utils.py:332-347 + camera_exporter.py:16-33). */
  def extractMapName(path: Column): Column =
    regexp_replace(element_at(split(path, "/"), -1), "\\.[^.]*$", "")

  /** First 3 segments + "/Sequence"
    * (reference: job_utils.py:350-379 derive_output_dir_from_map). */
  def deriveOutputDir(path: Column): Column =
    concat(array_join(slice(split(path, "/"), 1, 4), "/"), lit("/Sequence"))

  /** Path segment at 1-based index (reference: job_utils.py:382-415). */
  def segment(path: Column, i: Int): Column = element_at(split(path, "/"), i)

  /** Strip a trailing `_NNN`/`-NNN` index
    * (reference: render_engine.py:102-105). */
  def stripTrailingIndex(name: Column): Column =
    regexp_replace(name, "[_-]?\\d+$", "")

  /** Space→underscore safe name (reference: scene_copy.py:317-318). */
  def safeName(name: Column): Column = regexp_replace(name, " ", "_")

  /** snake_case → camelCase (reference: core/logger.py:10-14). */
  def snakeToCamel(name: Column): Column = {
    val parts = split(name, "_")
    concat(element_at(parts, 1), array_join(
      transform(slice(parts, 2, 1000), p => initcap(p)), ""))
  }

  /** Human-readable byte size, B→KB→MB→GB→TB→PB with 1 decimal
    * (reference: copy_scene_assets.py:192-197). Pure CASE chain — exact
    * double division by powers of 1024, deterministic rounding. */
  def formatSize(bytes: Column): Column = {
    val k = 1024.0
    def r(x: Column) = round(x, 1)
    when(bytes < k, concat(bytes.cast("long").cast("string"), lit(" B")))
      .when(bytes < k * k, concat(r(bytes / k).cast("string"), lit(" KB")))
      .when(bytes < k * k * k, concat(r(bytes / (k * k)).cast("string"), lit(" MB")))
      .when(bytes < k * k * k * k, concat(r(bytes / (k * k * k)).cast("string"), lit(" GB")))
      .when(bytes < k * k * k * k * k, concat(r(bytes / (k * k * k * k)).cast("string"), lit(" TB")))
      .otherwise(concat(r(bytes / (k * k * k * k * k)).cast("string"), lit(" PB")))
  }

  /** Append `/yyyy-MM-dd` to a dir unless already date-suffixed
    * (reference: job_utils.py:53-104). */
  def withDateSuffix(dir: Column, date: Column): Column =
    when(dir.rlike("/\\d{4}-\\d{2}-\\d{2}$"), dir)
      .otherwise(concat(dir, lit("/"), date_format(date, "yyyy-MM-dd")))

  /** Register the SQL-facing subset (usable from spark.sql). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.udf.register("extract_map_name",
      (p: String) => if (p == null) null
        else p.split("/").lastOption.map(_.replaceAll("\\.[^.]*$", "")).orNull)
    spark.udf.register("strip_trailing_index",
      (n: String) => if (n == null) null else n.replaceAll("[_-]?\\d+$", ""))
  }
}
