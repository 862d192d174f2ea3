package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** S15 — job-manifest source (reference: core/job_utils.py:14-46,
  * 111-126, 271-329; manifest shape per SURVEY §2.2 E11).
  *
  * The reference's meta-pipeline loads a JSON job manifest, deep-merges
  * it over a template config (manifest wins; `"default"` placeholders
  * keep the template value), auto-appends the run date to `*_dir` paths,
  * and validates `job_type`. Two consumption modes here:
  *
  *  - single manifest → driver-side config ([[loadManifest]] /
  *    [[deepMerge]] on json4s ASTs — json4s ships with Spark): config
  *    objects drive query parameters, they are not data-plane rows;
  *  - manifest *collections* → a real DataFrame source
  *    ([[loadCollection]] via `spark.read.json`), so a fleet of job specs
  *    can be joined/filtered/aggregated like any other table.
  */
object Manifests {

  /** A directory of one-object-per-file JSON manifests as a DataFrame
    * (nested configs become struct columns; schema is unioned across
    * files, absent keys are null). */
  def loadCollection(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("multiLine", "true").json(dir)

  /** Append the run date as a path segment to every top-level `*_dir`
    * string column (reference auto-dates output directories,
    * job_utils.py:53-104). */
  def resolveDatedDirs(df: DataFrame, date: String): DataFrame =
    df.schema.fields.foldLeft(df) { (acc, f) =>
      if (f.name.endsWith("_dir") && f.dataType.typeName == "string")
        acc.withColumn(f.name, when(col(f.name).isNotNull,
          concat(col(f.name), lit("/" + date))))
      else acc
    }

  /** Recursive config merge, overlay (manifest) winning on scalar
    * conflict: objects merge key-wise, anything else — including arrays —
    * is REPLACED by the overlay (matching the reference's deep_merge,
    * job_utils.py:217-238, not json4s's array-concatenating `merge`).
    * An overlay value of `"default"` keeps the base value (placeholder
    * expansion, job_utils.py:271-329). */
  def deepMerge(base: JValue, overlay: JValue): JValue = (base, overlay) match {
    case (b, JString("default")) => b
    case (JObject(bf), JObject(of)) =>
      val om = of.toMap
      val bKeys = bf.map(_._1).toSet
      val merged = bf.map { case (k, bv) =>
        k -> om.get(k).map(ov => deepMerge(bv, ov)).getOrElse(bv)
      } ++ of.filterNot(f => bKeys.contains(f._1))
      JObject(merged)
    case (_, o) => o
  }

  /** Load one manifest, merge over the template, validate the job type
    * (reference: load_manifest + merge_configs + the `job_type ==
    * "render"` gate, job_utils.py:111-136). */
  def loadManifest(path: String, template: JValue = JObject(),
      requiredType: Option[String] = Some("render")): JValue = {
    val manifest = JsonMethods.parse(
      new java.io.File(path), useBigDecimalForDouble = false)
    val merged = deepMerge(template, manifest)
    requiredType.foreach { t =>
      val actual = merged \ "job_type"
      require(actual == JString(t),
        s"manifest $path: job_type must be '$t', got ${JsonMethods.compact(JsonMethods.render(actual))}")
    }
    merged
  }
}
