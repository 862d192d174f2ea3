package graft.trajectory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Camera extrinsic/transform export (SURVEY.md E7-E10; reference:
  * export/camera_exporter.py:253-306, 383-437).
  *
  * The 4×4 view matrix is [Rᵀ | −Rᵀ·t; 0 0 0 1] with R built from UE
  * rotator order Yaw→Pitch→Roll (camera_exporter.py:258-273) and
  * translation converted to meters (UE_TO_METERS = 0.01,
  * camera_exporter.py:13). Pure math → a deterministic Scala function,
  * exposed as a UDF returning the 16 row-major entries; property-tested
  * (R orthonormal, E·E⁻¹ = I) and golden-locked in ExtrinsicsSpec.
  */
object Extrinsics {

  final val UeToMeters = 0.01

  /** Row-major 4×4 extrinsic from position (cm) + rotation (degrees). */
  def extrinsicMatrix(x: Double, y: Double, z: Double,
      roll: Double, pitch: Double, yaw: Double): Array[Double] = {
    val cy = math.cos(math.toRadians(yaw));   val sy = math.sin(math.toRadians(yaw))
    val cp = math.cos(math.toRadians(pitch)); val sp = math.sin(math.toRadians(pitch))
    val cr = math.cos(math.toRadians(roll));  val sr = math.sin(math.toRadians(roll))
    // R = Rz(yaw) · Ry(pitch) · Rx(roll)  (UE apply order Yaw→Pitch→Roll)
    val r00 = cy * cp; val r01 = cy * sp * sr - sy * cr; val r02 = cy * sp * cr + sy * sr
    val r10 = sy * cp; val r11 = sy * sp * sr + cy * cr; val r12 = sy * sp * cr - cy * sr
    val r20 = -sp;     val r21 = cp * sr;                val r22 = cp * cr
    val (tx, ty, tz) = (x * UeToMeters, y * UeToMeters, z * UeToMeters)
    // view = [Rᵀ | −Rᵀ t]
    Array(
      r00, r10, r20, -(r00 * tx + r10 * ty + r20 * tz),
      r01, r11, r21, -(r01 * tx + r11 * ty + r21 * tz),
      r02, r12, r22, -(r02 * tx + r12 * ty + r22 * tz),
      0.0, 0.0, 0.0, 1.0)
  }

  private val extrinsicUdf = udf(extrinsicMatrix _)

  /** E8 — one row per frame: `frame, m00..m33` (16 double columns, exact
    * CSV layout of camera_exporter.py:404-407). */
  def extrinsicRows(df: DataFrame, frame: String,
      x: String, y: String, z: String,
      roll: String, pitch: String, yaw: String): DataFrame =
    extrinsicRowsKeyed(df, Nil, frame, x, y, z, roll, pitch, yaw)

  /** [[extrinsicRows]] with pass-through key columns — for consumers that
    * need the matrix rows joined back to their sequence (the export CSV
    * itself is per-sequence, so [[extrinsicRows]] drops keys). */
  def extrinsicRowsKeyed(df: DataFrame, keyCols: Seq[String], frame: String,
      x: String, y: String, z: String,
      roll: String, pitch: String, yaw: String): DataFrame = {
    val m = extrinsicUdf(col(x), col(y), col(z), col(roll), col(pitch), col(yaw))
    val withM = df.withColumn("_m", m)
    val cells = for (r <- 0 until 4; c <- 0 until 4)
      yield element_at(col("_m"), r * 4 + c + 1).as(s"m$r$c")
    withM.select(keyCols.map(col) ++ (col(frame).as("frame") +: cells): _*)
  }

  /** E9 — transform CSV row: meters + degrees
    * (camera_exporter.py:411-412). */
  def transformRows(df: DataFrame, frame: String,
      x: String, y: String, z: String,
      roll: String, pitch: String, yaw: String): DataFrame =
    df.select(col(frame).as("frame"),
      (col(x) * UeToMeters).as("loc_x"),
      (col(y) * UeToMeters).as("loc_y"),
      (col(z) * UeToMeters).as("loc_z"),
      col(roll).as("rot_x"), col(pitch).as("rot_y"), col(yaw).as("rot_z"))

  /** E10 — intrinsics defaults (camera_exporter.py:163-171). */
  def intrinsicsRow(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((90.0, 1920.0 / 1080.0, 1920, 1080, 24.576, 13.824, 35.0))
      .toDF("fov", "aspect_ratio", "width", "height",
        "sensor_width", "sensor_height", "focal_length")
  }
}
