package graft.graph

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorKernels
import graft.llmops.{SegmentIO, VectorMath}
import graft.operators.Concurrent

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
  * clock skew, and to task retries) and computed from the same collect
  * the analysis reads.
  *
  * Cost posture: a map is ≤ a few hundred samples, so a read-through is
  * dominated by Spark job launches, not by work, and the map is analysed
  * on the driver from ONE collect of its points. A hit is two jobs (that
  * collect, which gives the fingerprint, and the cache probe, which does
  * not need it, so the two run at once and the fingerprint is matched on
  * the driver); a miss is three (the same two, then the write), and
  * [[analysisDoc]] alone is one. Per-map bound: a map's points are held
  * on the driver and scored in n² distance evaluations on one thread, so
  * a map must fit in driver memory. The cache table stays one row per
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
    * invalidates. Wrapping addition is exact mod 2^64, so the value
    * equals a decimal SUM wrapped to a long — the form earlier caches
    * were stamped with. Collects the points, as an analysis does.
    */
  def inputFingerprint(points: DataFrame, idCol: String, vecCol: String,
      k: Int, minRatio: Double): Long =
    fingerprint(sample(points, idCol, vecCol), k, minRatio)

  /** The map's points in one job: (id, vector as array<double>, row
    * hash) per row. */
  private def sample(points: DataFrame, idCol: String, vecCol: String): Array[Row] =
    points.select(col(idCol), VectorMath.precast(col(vecCol)),
      xxhash64(col(idCol), col(vecCol).cast("string"))).collect()

  private def fingerprint(sample: Array[Row], k: Int, minRatio: Double): Long =
    sample.foldLeft(0L)(_ + _.getLong(2)) ^
      java.lang.Long.rotateLeft(sample.length.toLong, 31) ^
      java.lang.Long.rotateLeft(k.toLong, 17) ^
      java.lang.Double.doubleToLongBits(minRatio)

  /** The analysis document for one map: kNN edges over the sample
    * embedding, connected components, island ratios — one summary row.
    * `analysisDate` is caller-supplied (the reference stamps the run
    * date); keeping it a parameter keeps the document deterministic.
    * Collects the points in one job, analyses them on the driver and
    * returns a one-row local DataFrame. The id column must be integral.
    * For `dim` in 1..[[VectorMath.unrollLimit]] every vector of an id'd
    * point must have `dim` elements, or the analysis fails naming the
    * map; other `dim` values pair any vectors of one length.
    */
  def analysisDoc(points: DataFrame, mapName: String, idCol: String,
      vecCol: String, dim: Int, k: Int, minRatio: Double,
      analysisDate: String, fingerprint: Long): DataFrame = {
    SegmentIO.requireIntegralIds(points, idCol, "ConnectivityCache.analysisDoc")
    local(points.sparkSession, analyse(sample(points, idCol, vecCol), mapName,
      dim, k, minRatio, analysisDate, fingerprint))
  }

  /** The document row. Each id's k nearest other ids ([[nearest]]) are
    * the edges, labelled by the driver-side union-find; over the nodes
    * that have edges, each island's ratio is size ÷ node count. Islands
    * go largest first, ties to the larger component id (component = min
    * node id); those below `minRatio` leave `island_ratios` but still
    * count in `num_islands`. With no edges the ratios are empty and the
    * selected size is null. A null-id point has no edges but counts in
    * `sample_count`. */
  private def analyse(sample: Array[Row], mapName: String, dim: Int, k: Int,
      minRatio: Double, analysisDate: String, fingerprint: Long): Row = {
    val points = sample.filterNot(_.isNullAt(0)).map { r =>
      (r.getAs[Number](0).longValue, if (r.isNullAt(1)) null: ArrayData
        else new GenericArrayData(r.getSeq[Any](1).toArray))
    }
    if (dim > 0 && dim <= VectorMath.unrollLimit) points.foreach { case (id, v) =>
      if (v != null && v.numElements() != dim) throw new IllegalArgumentException(
        s"connectivity analysis of map '$mapName': point $id has " +
          s"${v.numElements()} coordinates, expected dim = $dim")
    }
    val labels = ConnectedComponents.unionFind(nearest(points, k))
    val islands = labels.groupMapReduce(_._2)(_ => 1L)(_ + _)
      .toSeq.map { case (component, size) => (size, component) }
      .sorted(Ordering[(Long, Long)].reverse)
    val total = labels.size.toDouble
    val ratios = islands.map { case (size, _) => (size, size.toDouble / total) }
      .filter(_._2 >= minRatio)
    Row(mapName, analysisDate, sample.length.toLong, k, islands.size.toLong,
      ratios.map { case (size, ratio) => Row(size, ratio) },
      ratios.headOption.map(r => java.lang.Long.valueOf(r._1)).orNull,
      fingerprint)
  }

  /** Exact kNN edges (src, dst): for each id, the k nearest points with
    * another id, in [[Knn.bruteForce]]'s order — distance ascending as
    * Spark sorts it (null first, NaN last), then dst id ascending. The
    * distance is `sqrt` of the `graft_dist_sq` kernel body, null where
    * either vector is null or the pair is not [[VectorKernels.pairable]].
    * Rows sharing an id pool their candidates under that one source. */
  private def nearest(points: Array[(Long, ArrayData)], k: Int): Iterable[(Long, Long)] = {
    val order: Ordering[(java.lang.Double, Long)] = (a, b) => {
      val c =
        if (a._1 == null || b._1 == null) java.lang.Boolean.compare(b._1 == null, a._1 == null)
        else SQLOrderingUtil.compareDoubles(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
    points.groupBy(_._1).toSeq.flatMap { case (src, sources) =>
      sources.flatMap { case (_, a) =>
        points.collect { case (dst, b) if dst != src =>
          val dist: java.lang.Double =
            if (a == null || b == null || !VectorKernels.pairable(a, b)) null
            else math.sqrt(VectorKernels.distSq(a, b))
          (dist, dst)
        }
      }.sorted(order).take(k).map(c => (src, c._2))
    }
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
    * inputs. The probe is [[cachedRows]] and the match runs on the
    * driver. */
  def readValid(spark: SparkSession, path: String, mapName: String,
      fingerprint: Long): Option[DataFrame] =
    matching(spark, cachedRows(spark, path, mapName), fingerprint)

  /** Every cached row of `mapName`, partition-pruned, read with
    * [[DocSchema]] (no schema-inference job) and collected in one job;
    * each row carries the read's schema. Existence is probed through the
    * Hadoop FileSystem API (so HDFS/S3 cache roots hit, not just local
    * paths), and ANY unreadable state — no directory, an empty one, a
    * `_SUCCESS`-only partial write, corrupt footer — is a normal cold
    * cache with no rows, not an error (reference:
    * navmesh_connectivity.py:272-290 treats load failure as analyze). */
  private def cachedRows(spark: SparkSession, path: String, mapName: String): Array[Row] = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hPath)) return Array.empty
    try spark.read.schema(DocSchema).parquet(path)
      .filter(col("map_name") === mapName).collect()
    catch {
      case NonFatal(_) => Array.empty // unreadable cache == cold cache
    }
  }

  /** The first row stamped with `fingerprint`, as a one-row local
    * DataFrame in the read's schema; rows from files without the
    * fingerprint column read it as null and never match. */
  private def matching(spark: SparkSession, rows: Array[Row],
      fingerprint: Long): Option[DataFrame] =
    rows.find { r =>
      val i = r.fieldIndex("input_fingerprint")
      !r.isNullAt(i) && r.getLong(i) == fingerprint
    }.map(r => spark.createDataFrame(java.util.List.of(r), r.schema))

  /** Read-through entry point: serve the cached analysis when the inputs
    * are unchanged, else recompute, refresh the cache, and return the
    * fresh document (reference's load-or-analyze flow,
    * navmesh_connectivity.py:272-290). Either way the result is a
    * one-row local DataFrame in the cache's column order (`map_name`
    * last, as a partitioned read returns it): a hit in the read's schema,
    * nullable throughout, a miss in the schema it wrote. One collect of
    * the points gives the fingerprint and, on a miss, the analysis; it
    * runs beside the cache probe ([[Concurrent.runConcurrently]]), and a
    * failing collect throws its own exception after the probe ends. The
    * id column and `dim` are checked as in [[analysisDoc]]. */
  def readOrCompute(spark: SparkSession, path: String, points: DataFrame,
      mapName: String, idCol: String, vecCol: String, dim: Int, k: Int,
      minRatio: Double, analysisDate: String): DataFrame = {
    SegmentIO.requireIntegralIds(points, idCol, "ConnectivityCache.readOrCompute")
    val Seq(rows, cached) = Concurrent.runConcurrently(spark, Seq(
      () => sample(points, idCol, vecCol), () => cachedRows(spark, path, mapName)))
    val fp = fingerprint(rows, k, minRatio)
    matching(spark, cached, fp).getOrElse {
      val doc = local(spark, analyse(rows, mapName, dim, k, minRatio,
        analysisDate, fp))
      write(doc, path)
      doc.select((DocSchema.fieldNames.filterNot(_ == "map_name") :+ "map_name")
        .map(col): _*)
    }
  }
}
