package graft.graph

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S14 — per-map connectivity analysis cache (reference:
  * navmesh_connectivity.py:209-231, invalidation :272-290).
  *
  * The reference runs the sample→kNN→islands analysis per map, writes the
  * result as a JSON cache document `{map_name, analysis_date,
  * sample_count, k_nearest, num_islands, island_ratios:[{size,ratio}],
  * ...}`, and on the next run re-uses the document unless its inputs
  * changed. Spark-first, the cache is a parquet table keyed by
  * `map_name`, and invalidation is a CONTENT FINGERPRINT of the sample
  * set plus the analysis parameters: the cached row is valid iff the
  * exact inputs that produced it are unchanged — stronger than the
  * reference's date/mtime check (robust to rewrites that keep mtime, to
  * clock skew, and to task retries) and computable in one map-side pass.
  *
  * Cost posture: a map is ≤ a few hundred samples, so a read-through is
  * dominated by Spark job launches, not by work. A hit is two jobs (the
  * fingerprint pass and the cache probe); a miss adds one kNN run, whose
  * edge list is collected once and summarized on the driver, and one
  * write. Per-map bound: [[Knn.bruteForce]] broadcasts the whole point
  * set, so a map must fit in a broadcast, and its edge list (k rows per
  * point) then fits on the driver. The cache table stays one row per
  * map — driver-size by construction.
  */
object ConnectivityCache {

  /** The cache document, in document order. The nullability is part of
    * the parquet schema the cache's files carry; a rewritten partition
    * must keep its siblings' schema. */
  private val DocSchema: StructType = StructType(Seq(
    StructField("map_name", StringType, nullable = false),
    StructField("analysis_date", StringType, nullable = false),
    StructField("sample_count", LongType, nullable = false),
    StructField("k_nearest", IntegerType, nullable = false),
    StructField("num_islands", LongType, nullable = false),
    StructField("island_ratios", ArrayType(StructType(Seq(
      StructField("size", LongType, nullable = false),
      StructField("ratio", DoubleType, nullable = true))), containsNull = false),
      nullable = false),
    StructField("selected_island_size", LongType, nullable = true),
    StructField("input_fingerprint", LongType, nullable = false)))

  /** Order-independent content fingerprint of the analysis inputs: SUM of
    * `xxhash64` over the id+coordinate rows, wrapping mod 2^64
    * (commutative AND multiplicity-sensitive — unlike XOR, duplicate rows
    * don't cancel, so {A,A,B} and {C,C,B} can't alias), mixed with the
    * row count and the parameters so a k or ratio change also
    * invalidates.
    */
  def inputFingerprint(points: DataFrame, idCol: String, vecCol: String,
      k: Int, minRatio: Double): Long =
    fingerprintAndCount(points, idCol, vecCol, k, minRatio)._1

  /** The fingerprint and the row count in one map-side pass: each
    * partition sums its row hashes as a wrapping long, the driver adds
    * the partition sums. Wrapping addition is exact mod 2^64, so the value
    * equals a decimal SUM wrapped to a long — the form earlier caches
    * were stamped with. */
  private def fingerprintAndCount(points: DataFrame, idCol: String,
      vecCol: String, k: Int, minRatio: Double): (Long, Long) = {
    val parts = points
      .select(xxhash64(col(idCol), col(vecCol).cast("string")))
      .as(Encoders.scalaLong)
      .mapPartitions { hashes =>
        var sum = 0L
        var n = 0L
        hashes.foreach { h => sum += h; n += 1 }
        Iterator.single((sum, n))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .collect()
    val dataHash = parts.foldLeft(0L)(_ + _._1)
    val n = parts.foldLeft(0L)(_ + _._2)
    val fp = dataHash ^ java.lang.Long.rotateLeft(n, 31) ^
      java.lang.Long.rotateLeft(k.toLong, 17) ^
      java.lang.Double.doubleToLongBits(minRatio)
    (fp, n)
  }

  /** The analysis document for one map: kNN edges over the sample
    * embedding, connected components, island ratios — one summary row.
    * `analysisDate` is caller-supplied (the reference stamps the run
    * date); keeping it a parameter keeps the document deterministic.
    * Runs the analysis eagerly and returns a one-row local DataFrame.
    */
  def analysisDoc(points: DataFrame, mapName: String, idCol: String,
      vecCol: String, dim: Int, k: Int, minRatio: Double,
      analysisDate: String, fingerprint: Long): DataFrame =
    local(points.sparkSession, analyse(points, mapName, idCol, vecCol, dim,
      k, minRatio, analysisDate, fingerprint, points.count()))

  /** The document row. The kNN edge list is collected once and labelled
    * by the driver-side union-find; over the nodes that have edges, each
    * island's ratio is size ÷ node count. Islands go largest first, ties
    * to the larger component id (component = min node id); those below
    * `minRatio` leave `island_ratios` but still count in `num_islands`.
    * With no edges the ratios are empty and the selected size is null. */
  private def analyse(points: DataFrame, mapName: String, idCol: String,
      vecCol: String, dim: Int, k: Int, minRatio: Double,
      analysisDate: String, fingerprint: Long, sampleCount: Long): Row = {
    val edges = Knn.bruteForce(points, idCol = idCol, vecCol = vecCol,
        k = k, dim = dim)
      .select(col("src_id").cast("long"), col("dst_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = ConnectedComponents.unionFind(edges)
    val islands = labels.groupMapReduce(_._2)(_ => 1L)(_ + _)
      .toSeq.map { case (component, size) => (size, component) }
      .sorted(Ordering[(Long, Long)].reverse)
    val total = labels.size.toDouble
    val ratios = islands.map { case (size, _) => (size, size.toDouble / total) }
      .filter(_._2 >= minRatio)
    Row(mapName, analysisDate, sampleCount, k, islands.size.toLong,
      ratios.map { case (size, ratio) => Row(size, ratio) },
      ratios.headOption.map(r => java.lang.Long.valueOf(r._1)).orNull,
      fingerprint)
  }

  private def local(spark: SparkSession, doc: Row): DataFrame =
    spark.createDataFrame(java.util.List.of(doc), DocSchema)

  /** Write (or replace) the per-map cache row. Partitioned by map_name so
    * a single map's refresh uses dynamic partition overwrite and never
    * touches sibling maps. */
  def write(doc: DataFrame, path: String): Unit =
    doc.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("map_name").parquet(path)

  /** The cached document for `mapName` if present AND its fingerprint
    * matches, as a one-row local DataFrame; None on cold cache or stale
    * inputs. The probe reads with [[DocSchema]] (no schema-inference job)
    * and collects the partition-pruned match in one job. Existence is
    * probed through the Hadoop FileSystem API (so HDFS/S3 cache roots
    * hit, not just local paths), and ANY unreadable state — empty
    * directory, `_SUCCESS`-only partial write, files without the
    * fingerprint column, corrupt footer — is a normal cold cache, not an
    * error (reference: navmesh_connectivity.py:272-290 treats load
    * failure as analyze). */
  def readValid(spark: SparkSession, path: String, mapName: String,
      fingerprint: Long): Option[DataFrame] = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hPath)) return None
    try {
      val cached = spark.read.schema(DocSchema).parquet(path)
        .filter(col("map_name") === mapName &&
          col("input_fingerprint") === fingerprint)
      cached.collect().headOption.map(r => spark.createDataFrame(
        java.util.List.of(r), cached.schema))
    } catch {
      case NonFatal(_) => None // unreadable cache == cold cache
    }
  }

  /** Read-through entry point: serve the cached analysis when the inputs
    * are unchanged, else recompute, refresh the cache, and return the
    * fresh document (reference's load-or-analyze flow,
    * navmesh_connectivity.py:272-290). Either way the result is a
    * one-row local DataFrame in the cache's column order (`map_name`
    * last, as a partitioned read returns it). */
  def readOrCompute(spark: SparkSession, path: String, points: DataFrame,
      mapName: String, idCol: String, vecCol: String, dim: Int, k: Int,
      minRatio: Double, analysisDate: String): DataFrame = {
    val (fp, n) = fingerprintAndCount(points, idCol, vecCol, k, minRatio)
    readValid(spark, path, mapName, fp).getOrElse {
      val doc = local(spark, analyse(points, mapName, idCol, vecCol, dim, k,
        minRatio, analysisDate, fp, n))
      write(doc, path)
      doc.select((DocSchema.fieldNames.filterNot(_ == "map_name") :+ "map_name")
        .map(col): _*)
    }
  }
}
