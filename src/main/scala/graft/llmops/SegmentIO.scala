package graft.llmops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameReader, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The registry family's segment format, publication and open
  * ([[SparseSim.Bm25Index]], [[Similarity.IvfIndex]],
  * [[Pipelines.CurationRegistry]]): every stored segment is a multi-table
  * parquet dir (data tables, then a one-row stats table derived from the
  * written data — independent tables may write concurrently via
  * [[graft.operators.Concurrent.runConcurrently]], and the rename below
  * confines their partial writes), and a registry is the segment LIST. A
  * crash or retried ingest mid-write would otherwise leave new data
  * beside stale stats — a segment the watermark guards can still pass
  * and the open paths would serve with silently wrong statistics — so
  * publication is all-or-nothing at the dir level: the tables land in a
  * temp sibling and ONE rename publishes them. The rename is atomic on
  * local filesystems and HDFS; on object stores it degrades to copy,
  * where the temp dir still confines a partial write to a non-served
  * path.
  *
  * A segment list opens in a job count that does not grow with the list:
  * [[readStats]] reads every stats row in ONE multi-path scan, the guards
  * check those rows on the driver, and each data table is ONE multi-path
  * [[scan]]. The guards live here, one copy each: integral ids at build
  * and write ([[requireIntegralIds]]), disjoint id watermarks at open
  * ([[requireDisjointWatermarks]]), and a compaction target that is not
  * an input ([[requireNewDir]]).
  */
private[graft] object SegmentIO {

  /** Run `write` against a temp sibling of `dir`, then publish it as
    * `dir` via delete + rename. */
  def publish(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    val target = new Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir + "._tmp_write")
    fs.delete(tmp, true)
    write(tmp.toString)
    fs.delete(target, true)
    if (!fs.rename(tmp, target))
      sys.error(s"SegmentIO.publish: failed to publish $tmp -> $target")
  }

  /** Builder guard: ids must be integral, because the caller orders
    * them as longs. Segment builders normalize ids to long and the
    * watermarks order them so — over strings min/max compares text
    * ("10" < "5") and stores the wrong marks, and the open guard then
    * passes overlapping segments. */
  def requireIntegralIds(df: DataFrame, idCol: String, caller: String): Unit = {
    val idType = df.schema(idCol).dataType
    require(Seq[DataType](LongType, IntegerType, ShortType, ByteType)
        .contains(idType),
      s"$caller: id column '$idCol' must be integral (got $idType) - ids are ordered as longs")
  }

  /** Every segment's one-row `statsTable` in `dirs` order: ONE scan
    * under the declared `ddl` schema (no schema-inference job), collected
    * once; rows map back to their dir by `_metadata.file_path`. */
  def readStats(spark: SparkSession, dirs: Seq[String], statsTable: String,
      ddl: String, caller: String): Seq[Row] = {
    require(dirs.nonEmpty, s"$caller needs at least one segment dir")
    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(p: Path) = p.getFileSystem(conf).makeQualified(p)
    val bySegment = scan(spark.read.schema(ddl), dirs, statsTable)
      .select(col("*"), col("_metadata.file_path"))
      .collect()
      .map { r =>
        val file = new Path(new java.net.URI(r.getAs[String]("file_path")))
        qualified(file.getParent.getParent) -> r
      }.toMap
    dirs.map(d => bySegment.getOrElse(qualified(new Path(d)),
      sys.error(s"$caller: segment $d has no $statsTable row")))
  }

  /** One table of every segment as ONE multi-path parquet scan; a reader
    * with a declared schema skips the schema-inference job. */
  def scan(reader: DataFrameReader, dirs: Seq[String], table: String): DataFrame =
    reader.parquet(dirs.map(d => s"$d/$table"): _*)

  /** Open guard: REJECT segments whose [min_id, max_id] watermarks (in
    * each dir's [[readStats]] row) overlap — a retried ingest whose write
    * already succeeded would otherwise duplicate its rows SILENTLY.
    * Sufficient under monotonic ingest ids; interleaved-but-disjoint
    * schemes must open segments one by one. An empty segment has null
    * marks. */
  def requireDisjointWatermarks(dirs: Seq[String], stats: Seq[Row],
      caller: String): Unit = {
    val marks = dirs.zip(stats).collect {
      case (d, r) if !r.isNullAt(r.fieldIndex("min_id")) =>
        (d, r.getAs[Long]("min_id"), r.getAs[Long]("max_id"))
    }.sortBy(_._2)
    marks.sliding(2).foreach {
      case Seq((d1, _, hi1), (d2, lo2, _)) if lo2 <= hi1 =>
        sys.error(s"$caller: id watermarks overlap between $d1 " +
          s"(max_id $hi1) and $d2 (min_id $lo2) - same batch ingested " +
          "twice, or non-monotonic ingest ids")
      case _ => ()
    }
  }

  /** Compaction guard: `outDir` must not alias an input segment (by
    * [[canonicalPath]]: a trailing slash, './seg' or a symlink too) —
    * the lazy input scan would read the dir the write truncates. */
  def requireNewDir(dirs: Seq[String], outDir: String, caller: String): Unit =
    require(!dirs.map(canonicalPath).contains(canonicalPath(outDir)),
      s"$caller: outDir must be a NEW dir, not an input segment")

  /** Best-effort canonical form for self-overwrite guards: resolves
    * '.'/'..'/symlinks for local paths, falls back to the raw string for
    * URIs the local File API can't resolve (hdfs://, s3a:// — where
    * aliasing via symlinks doesn't exist anyway). */
  def canonicalPath(p: String): String =
    try new java.io.File(p).getCanonicalPath
    catch { case _: Exception => p }
}
