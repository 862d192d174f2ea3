package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.graph.{ConnectedComponents, ConnectivityCache, Knn}
import graft.model.Tables

class ConnectivityCacheSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def points = Tables.embeddings(spark, sf).filter(col("vec_id") < 30)

  /** The fingerprint as first shipped: a decimal(38,0) SUM of the row
    * hashes wrapped to a long, mixed with the count and the parameters.
    * Caches already on disk carry this value, so the production form
    * must reproduce it bit for bit. */
  private def legacyFingerprint(df: DataFrame, idCol: String, vecCol: String,
      k: Int, minRatio: Double): Long = {
    val row = df.agg(
      sum(xxhash64(col(idCol), col(vecCol).cast("string"))
        .cast("decimal(38,0)")).as("h"),
      count(lit(1)).as("n")).head()
    val dataHash =
      if (row.isNullAt(0)) 0L else row.getDecimal(0).toBigInteger.longValue()
    dataHash ^ java.lang.Long.rotateLeft(row.getLong(1), 31) ^
      java.lang.Long.rotateLeft(k.toLong, 17) ^
      java.lang.Double.doubleToLongBits(minRatio)
  }

  /** 3-D points laid out as separate clusters: cluster c holds `sizes(c)`
    * points one unit apart on a line at x = 100·c, ids 10·c + i. */
  private def clusters(sizes: Int*): DataFrame =
    sizes.zipWithIndex.flatMap { case (n, c) =>
      (0 until n).map(i => ((10 * c + i).toLong, Seq(100.0 * c + i, 0.0, 0.0)))
    }.toDF("id", "vec")

  private def files(dir: String, map: String): Set[String] = {
    val s = Files.list(Path.of(dir, s"map_name=$map"))
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def byName(r: Row): Map[String, Any] =
    r.schema.fieldNames.map(f => f -> r.getAs[Any](f)).toMap

  test("analysisDoc summarizes the island analysis in one row") {
    val fp = ConnectivityCache.inputFingerprint(points, "vec_id", "embedding", 3, 0.10)
    val doc = ConnectivityCache.analysisDoc(points, "m1", "vec_id", "embedding",
      dim = 64, k = 3, minRatio = 0.10, analysisDate = "2026-01-01",
      fingerprint = fp).head()
    assert(doc.getAs[String]("map_name") == "m1")
    assert(doc.getAs[Long]("sample_count") == 30L)
    assert(doc.getAs[Long]("num_islands") >= 1L)
    // ratios are sorted largest-first and sum to ≤ 1
    val ratios = doc.getSeq[org.apache.spark.sql.Row](doc.fieldIndex("island_ratios"))
      .map(_.getAs[Double]("ratio"))
    assert(ratios == ratios.sorted.reverse)
    assert(ratios.sum <= 1.0 + 1e-9)
  }

  test("readOrCompute: cold miss computes, identical inputs hit, changed inputs invalidate") {
    val dir = Files.createTempDirectory("conncache").toFile.getAbsolutePath
    // cold: computes and stamps the first date
    val d1 = ConnectivityCache.readOrCompute(spark, dir, points, "m1",
      "vec_id", "embedding", 64, 3, 0.10, analysisDate = "2026-01-01")
    assert(d1.head().getAs[String]("analysis_date") == "2026-01-01")
    // hit: same inputs, later date — served from cache, FIRST date proves
    // no recompute happened
    val d2 = ConnectivityCache.readOrCompute(spark, dir, points, "m1",
      "vec_id", "embedding", 64, 3, 0.10, analysisDate = "2026-02-02")
    assert(d2.head().getAs[String]("analysis_date") == "2026-01-01")
    // stale: different sample set under the same map — fingerprint
    // mismatch forces recompute and the new date lands in the cache
    val fewer = Tables.embeddings(spark, sf).filter(col("vec_id") < 20)
    val d3 = ConnectivityCache.readOrCompute(spark, dir, fewer, "m1",
      "vec_id", "embedding", 64, 3, 0.10, analysisDate = "2026-03-03")
    val r3 = d3.head()
    assert(r3.getAs[String]("analysis_date") == "2026-03-03")
    assert(r3.getAs[Long]("sample_count") == 20L)
    // parameter change alone also invalidates (k folded into fingerprint)
    val d4 = ConnectivityCache.readOrCompute(spark, dir, fewer, "m1",
      "vec_id", "embedding", 64, 4, 0.10, analysisDate = "2026-04-04")
    assert(d4.head().getAs[String]("analysis_date") == "2026-04-04")
  }

  test("readValid treats an existing-but-empty cache dir as a cold cache") {
    val dir = Files.createTempDirectory("conncache-empty").toFile.getAbsolutePath
    assert(ConnectivityCache.readValid(spark, dir, "m1", 42L).isEmpty)
    // readOrCompute over the pre-created empty dir computes instead of throwing
    val d = ConnectivityCache.readOrCompute(spark, dir, points, "m1",
      "vec_id", "embedding", 64, 3, 0.10, analysisDate = "2026-01-01")
    assert(d.head().getAs[String]("analysis_date") == "2026-01-01")
  }

  test("readValid treats a _SUCCESS-only partial write as a cold cache") {
    val root = Files.createTempDirectory("conncache-partial")
    Files.createFile(root.resolve("_SUCCESS"))
    val dir = root.toFile.getAbsolutePath
    assert(ConnectivityCache.readValid(spark, dir, "m1", 42L).isEmpty)
    val d = ConnectivityCache.readOrCompute(spark, dir, points, "m1",
      "vec_id", "embedding", 64, 3, 0.10, analysisDate = "2026-02-02")
    assert(d.head().getAs[String]("analysis_date") == "2026-02-02")
  }

  test("fingerprint is multiplicity-sensitive: {A,A,B} vs {C,C,B} differ") {
    // under a XOR fold the duplicated rows cancel and these two sample
    // sets alias (same count, same XOR); the sum fold must split them
    val base = Tables.embeddings(spark, sf)
    val a = base.filter(col("vec_id") === 0)
    val b = base.filter(col("vec_id") === 1)
    val c = base.filter(col("vec_id") === 2)
    val aab = a.union(a).union(b)
    val ccb = c.union(c).union(b)
    val fp1 = ConnectivityCache.inputFingerprint(aab, "vec_id", "embedding", 3, 0.10)
    val fp2 = ConnectivityCache.inputFingerprint(ccb, "vec_id", "embedding", 3, 0.10)
    assert(fp1 != fp2)
    // and row order does not matter
    val fp3 = ConnectivityCache.inputFingerprint(b.union(a).union(a), "vec_id", "embedding", 3, 0.10)
    assert(fp1 == fp3)
  }

  test("per-map rows coexist: refreshing one map leaves siblings untouched") {
    val dir = Files.createTempDirectory("conncache2").toFile.getAbsolutePath
    ConnectivityCache.readOrCompute(spark, dir, points, "mA",
      "vec_id", "embedding", 64, 3, 0.10, analysisDate = "2026-01-01")
    ConnectivityCache.readOrCompute(spark, dir, points, "mB",
      "vec_id", "embedding", 64, 3, 0.10, analysisDate = "2026-01-02")
    val all = spark.read.parquet(dir)
    assert(all.select("map_name").distinct().count() == 2)
    // refresh mB with changed inputs; mA's row must survive
    val fewer = Tables.embeddings(spark, sf).filter(col("vec_id") < 20)
    ConnectivityCache.readOrCompute(spark, dir, fewer, "mB",
      "vec_id", "embedding", 64, 3, 0.10, analysisDate = "2026-05-05")
    val after = spark.read.parquet(dir)
    assert(after.filter(col("map_name") === "mA").count() == 1)
    assert(after.filter(col("map_name") === "mB").head()
      .getAs[String]("analysis_date") == "2026-05-05")
  }

  test("fingerprint equals the decimal-sum formula when the hash sum wraps past 2^63") {
    // rows whose hash is above 2^62: any two of them overflow a long sum
    val big = Tables.embeddings(spark, sf)
      .filter(xxhash64(col("vec_id"), col("embedding").cast("string")) > lit(Long.MaxValue / 2))
      .limit(6)
    val exact = big.agg(sum(xxhash64(col("vec_id"), col("embedding").cast("string"))
      .cast("decimal(38,0)"))).head().getDecimal(0).toBigInteger
    assert(big.count() >= 2)
    assert(exact.compareTo(java.math.BigInteger.valueOf(Long.MaxValue)) > 0,
      s"fixture must wrap: $exact")
    assert(ConnectivityCache.inputFingerprint(big, "vec_id", "embedding", 3, 0.10) ==
      legacyFingerprint(big, "vec_id", "embedding", 3, 0.10))
  }

  test("fingerprint equals the decimal-sum formula on empty and multi-partition inputs") {
    val empty = points.filter(lit(false))
    assert(ConnectivityCache.inputFingerprint(empty, "vec_id", "embedding", 8, 0.05) ==
      legacyFingerprint(empty, "vec_id", "embedding", 8, 0.05))
    val spread = points.repartition(5)
    assert(spread.rdd.getNumPartitions == 5)
    assert(ConnectivityCache.inputFingerprint(spread, "vec_id", "embedding", 3, 0.10) ==
      legacyFingerprint(spread, "vec_id", "embedding", 3, 0.10))
    assert(ConnectivityCache.inputFingerprint(spread, "vec_id", "embedding", 3, 0.10) ==
      ConnectivityCache.inputFingerprint(points, "vec_id", "embedding", 3, 0.10))
  }

  test("analysisDoc on a single-point map: no islands, empty ratios, null selection") {
    val doc = ConnectivityCache.analysisDoc(clusters(1), "solo", "id", "vec",
      dim = 3, k = 2, minRatio = 0.2, analysisDate = "2026-01-01", fingerprint = 7L).head()
    assert(doc.getAs[String]("map_name") == "solo")
    assert(doc.getAs[Long]("sample_count") == 1L)
    assert(doc.getAs[Int]("k_nearest") == 2)
    assert(doc.getAs[Long]("num_islands") == 0L)
    assert(doc.getSeq[Row](doc.fieldIndex("island_ratios")).isEmpty)
    assert(doc.isNullAt(doc.fieldIndex("selected_island_size")))
    assert(doc.getAs[Long]("input_fingerprint") == 7L)
  }

  test("analysisDoc orders islands largest first, drops small ones, counts them all") {
    // islands of 5, 4, 4 and 3 points (k = 2 keeps each cluster connected
    // and apart): 3/16 < 0.2 is filtered out of the ratios but still
    // counted in num_islands; the two 4-point islands tie on size
    val doc = ConnectivityCache.analysisDoc(clusters(5, 4, 4, 3), "m", "id", "vec",
      dim = 3, k = 2, minRatio = 0.2, analysisDate = "2026-01-01", fingerprint = 0L).head()
    assert(doc.getAs[Long]("sample_count") == 16L)
    assert(doc.getAs[Long]("num_islands") == 4L)
    val ratios = doc.getSeq[Row](doc.fieldIndex("island_ratios"))
      .map(r => (r.getAs[Long]("size"), r.getAs[Double]("ratio")))
    assert(ratios == Seq((5L, 5.0 / 16), (4L, 4.0 / 16), (4L, 4.0 / 16)))
    assert(doc.getAs[Long]("selected_island_size") == 5L)
  }

  test("readValid is cold for a cache whose files lack input_fingerprint") {
    val dir = Files.createTempDirectory("conncache-noprint").toFile.getAbsolutePath
    val doc = ConnectivityCache.analysisDoc(points, "m1", "vec_id", "embedding",
      dim = 64, k = 3, minRatio = 0.10, analysisDate = "2026-01-01", fingerprint = 42L)
    ConnectivityCache.write(doc.drop("input_fingerprint"), dir)
    assert(ConnectivityCache.readValid(spark, dir, "m1", 42L).isEmpty)
    assert(ConnectivityCache.readValid(spark, dir, "m1", 0L).isEmpty)
  }

  test("readValid is cold for a partition holding a corrupt parquet file") {
    val dir = Files.createTempDirectory("conncache-corrupt").toFile.getAbsolutePath
    val fp = ConnectivityCache.inputFingerprint(points, "vec_id", "embedding", 3, 0.10)
    ConnectivityCache.readOrCompute(spark, dir, points, "m1",
      "vec_id", "embedding", 64, 3, 0.10, analysisDate = "2026-01-01")
    assert(ConnectivityCache.readValid(spark, dir, "m1", fp).nonEmpty)
    files(dir, "m1").filter(_.endsWith(".parquet")).foreach { f =>
      Files.write(Path.of(dir, "map_name=m1", f), "not a parquet file".getBytes("UTF-8"))
    }
    assert(ConnectivityCache.readValid(spark, dir, "m1", fp).isEmpty)
  }

  test("a hit serves the first-written row unchanged and rewrites no file") {
    val dir = Files.createTempDirectory("conncache-hit").toFile.getAbsolutePath
    val miss = ConnectivityCache.readOrCompute(spark, dir, points, "m1",
      "vec_id", "embedding", 64, 3, 0.10, analysisDate = "2026-01-01").head()
    // the row a miss returns is the row it wrote
    assert(byName(miss) == byName(spark.read.parquet(dir).head()))
    val before = files(dir, "m1")
    val fp = ConnectivityCache.inputFingerprint(points, "vec_id", "embedding", 3, 0.10)
    val hit = ConnectivityCache.readValid(spark, dir, "m1", fp).get.collect()
    assert(hit.length == 1)
    assert(byName(hit.head) == byName(miss))
    val again = ConnectivityCache.readOrCompute(spark, dir, points, "m1",
      "vec_id", "embedding", 64, 3, 0.10, analysisDate = "2026-02-02").head()
    assert(byName(again) == byName(miss))
    assert(files(dir, "m1") == before)
  }

  /** The analysis as a Spark plan, kept as the reference only: the
    * broadcast kNN, its edges cast to long, union-find, and the summary
    * row in document order. */
  private def sparkAnalysis(points: DataFrame, mapName: String, idCol: String,
      vecCol: String, dim: Int, k: Int, minRatio: Double, analysisDate: String,
      fingerprint: Long): Row = {
    val edges = Knn.bruteForce(points, idCol = idCol, vecCol = vecCol, k = k, dim = dim)
      .select(col("src_id").cast("long").as("src"), col("dst_id").cast("long").as("dst"))
    val labels = ConnectedComponents.localUnionFind(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val islands = labels.groupMapReduce(_._2)(_ => 1L)(_ + _)
      .toSeq.map { case (component, size) => (size, component) }
      .sorted(Ordering[(Long, Long)].reverse)
    val ratios = islands.map { case (size, _) => (size, size.toDouble / labels.length) }
      .filter(_._2 >= minRatio)
    Row(mapName, analysisDate, points.count(), k, islands.size.toLong,
      ratios.map { case (size, ratio) => Row(size, ratio) },
      ratios.headOption.map(r => java.lang.Long.valueOf(r._1)).orNull, fingerprint)
  }

  private val DocFields = Seq("map_name", "analysis_date", "sample_count", "k_nearest",
    "num_islands", "island_ratios", "selected_island_size", "input_fingerprint")

  /** Points from (id, vector) pairs; a null id or vector, or a null
    * element, stays null. */
  private def pointsOf(rows: (java.lang.Long, Seq[java.lang.Double])*): DataFrame =
    spark.createDataFrame(
      rows.map { case (id, v) => Row(id, v) }.asJava,
      StructType(Seq(StructField("id", LongType), StructField("vec", ArrayType(DoubleType)))))

  private def pt(id: java.lang.Long, xs: Any*): (java.lang.Long, Seq[java.lang.Double]) =
    (id, xs.map {
      case null => null
      case x: Double => java.lang.Double.valueOf(x)
      case x: Int => java.lang.Double.valueOf(x.toDouble)
    })

  /** (name, points, id column, vector column, dim, k, minRatio). */
  private def equivalenceTable: Seq[(String, DataFrame, String, String, Int, Int, Double)] = {
    // a 4x4 unit grid whose ids run against the layout: every point has
    // 2-4 neighbours at distance 1, so dst_id alone picks among them
    val grid = pointsOf((for (x <- 0 until 4; y <- 0 until 4)
      yield pt((x * 4 + y) * 7L % 16, x, y)): _*)
    // id 3 twice: at k = 1 its pooled nearest is 2, so {4, 5} stays an
    // island that a per-row kNN would join through the far copy
    val dupNull = pointsOf(pt(1L, 0, 0), pt(2L, 1, 0), pt(3L, 2, 0), pt(3L, 50, 0),
      pt(4L, 47, 0), pt(5L, 46, 0), pt(null, 0.5, 0), pt(null, 46.5, 0))
    val five = pointsOf((0 until 5).map(i => pt(i.toLong, i * i, 0)): _*)
    // NaN distances rank last: only point 3's own edges reach it
    val nan = pointsOf(pt(1L, 0, 0), pt(2L, 1, 0), pt(3L, Double.NaN, 0), pt(4L, 30, 0),
      pt(5L, 31, 0))
    val nanNull = pointsOf(pt(1L, 0, 0, 0), pt(2L, 1, 0, 0), pt(3L, Double.NaN, 0, 0),
      pt(4L, 2, null, 0), pt(5L, 3, 0, 0), pt(6L, 4, 0, 0), (java.lang.Long.valueOf(7L), null), pt(8L, 20, 0, 0))
    val rnd = new scala.util.Random(11)
    val spatial = pointsOf((0 until 40).map(i =>
      pt(i.toLong, rnd.nextDouble() * 100, rnd.nextDouble() * 100, rnd.nextDouble() * 10)): _*)
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 40)
    Seq(
      ("unit grid, k=1", grid, "id", "vec", 2, 1, 0.05),
      ("unit grid, k=2", grid, "id", "vec", 2, 2, 0.05),
      ("unit grid, k=2, native tier", grid, "id", "vec", 0, 2, 0.05),
      ("duplicate and null ids", dupNull, "id", "vec", 2, 1, 0.1),
      ("duplicate and null ids, k=2", dupNull, "id", "vec", 2, 2, 0.1),
      ("duplicate and null ids, native tier", dupNull, "id", "vec", 0, 1, 0.1),
      ("single point", clusters(1), "id", "vec", 3, 2, 0.2),
      ("k = n-1", five, "id", "vec", 2, 4, 0.1),
      ("k > n-1", five, "id", "vec", 2, 9, 0.1),
      ("two far clusters", clusters(6, 5), "id", "vec", 3, 2, 0.1),
      ("NaN coordinate", nan, "id", "vec", 2, 1, 0.1),
      ("NaN coordinate, native tier", nan, "id", "vec", 0, 1, 0.1),
      ("NaN coordinate, null element, null vector", nanNull, "id", "vec", 3, 2, 0.1),
      ("NaN coordinate, null element, null vector, native tier", nanNull, "id", "vec", 0, 1, 0.1),
      ("3-D double points", spatial, "id", "vec", 3, 3, 0.05),
      ("64-d float embeddings", emb, "vec_id", "embedding", 64, 3, 0.10))
  }

  test("analysisDoc and readOrCompute equal the Spark-plan analysis on every table row") {
    equivalenceTable.foreach { case (name, pts, idCol, vecCol, dim, k, minRatio) =>
      val fp = ConnectivityCache.inputFingerprint(pts, idCol, vecCol, k, minRatio)
      val ref = sparkAnalysis(pts, "m", idCol, vecCol, dim, k, minRatio, "2026-01-01", fp)
      val doc = ConnectivityCache.analysisDoc(pts, "m", idCol, vecCol, dim, k, minRatio,
        "2026-01-01", fp).collect()
      assert(doc.length == 1, name)
      assert(doc.head.schema.fieldNames.toSeq == DocFields, name)
      assert(Row.fromSeq(doc.head.toSeq) == ref, name)
      val dir = Files.createTempDirectory("conncache-eq").toFile.getAbsolutePath
      val refByName = DocFields.zip(ref.toSeq).toMap
      val miss = ConnectivityCache.readOrCompute(spark, dir, pts, "m", idCol, vecCol, dim, k,
        minRatio, "2026-01-01").collect()
      assert(miss.map(byName).toSeq == Seq(refByName), s"$name: miss")
      val hit = ConnectivityCache.readOrCompute(spark, dir, pts, "m", idCol, vecCol, dim, k,
        minRatio, "2026-02-02").collect()
      assert(hit.map(byName).toSeq == Seq(refByName), s"$name: hit")
    }
  }

  /** The Spark jobs `body` starts. */
  private def jobCount(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val tap = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain(sc)
    sc.addSparkListener(tap)
    try { body; ListenerDrain(sc) } finally sc.removeSparkListener(tap)
    jobs.get
  }

  test("a hit runs 2 jobs, a miss 3 and analysisDoc 1, at 30 and 200 points") {
    Seq(30, 200).foreach { n =>
      val pts = Tables.embeddings(spark, sf).filter(col("vec_id") < n)
      val dir = Files.createTempDirectory("conncache-jobs").toFile.getAbsolutePath
      // a stale row for the map, so the miss probes an existing cache
      ConnectivityCache.write(ConnectivityCache.analysisDoc(pts, "m1", "vec_id", "embedding",
        64, 3, 0.10, "2026-01-01", fingerprint = 42L), dir)
      def readThrough(date: String) = ConnectivityCache.readOrCompute(spark, dir, pts, "m1",
        "vec_id", "embedding", 64, 3, 0.10, date)
      assert(jobCount(readThrough("2026-02-02")) == 3, s"miss at $n points")
      assert(jobCount(readThrough("2026-03-03")) == 2, s"hit at $n points")
      assert(readThrough("2026-04-04").head().getAs[String]("analysis_date") == "2026-02-02")
      assert(jobCount(ConnectivityCache.analysisDoc(pts, "m1", "vec_id", "embedding",
        64, 3, 0.10, "2026-01-01", fingerprint = 0L)) == 1, s"analysisDoc at $n points")
    }
  }

  /** The document schema a read-through returns, `map_name` last. A miss
    * returns the document it wrote, whose nullability is the cache's
    * (`strict`); a hit returns the row as the partitioned parquet read gives
    * it, nullable throughout. */
  private def docSchema(strict: Boolean): StructType = {
    def field(name: String, t: DataType, nullable: Boolean = !strict) =
      StructField(name, t, nullable)
    StructType(Seq(
      field("analysis_date", StringType),
      field("sample_count", LongType),
      field("k_nearest", IntegerType),
      field("num_islands", LongType),
      field("island_ratios", ArrayType(StructType(Seq(
        field("size", LongType),
        field("ratio", DoubleType, nullable = true))), containsNull = !strict)),
      field("selected_island_size", LongType, nullable = true),
      field("input_fingerprint", LongType),
      field("map_name", StringType)))
  }

  test("a miss returns the cache's document schema and a hit the parquet read's") {
    Seq((clusters(5, 4, 4, 3), "id", "vec", 3, 2, 0.2),
        (points, "vec_id", "embedding", 64, 3, 0.10)).foreach {
      case (pts, idCol, vecCol, dim, k, minRatio) =>
        val dir = Files.createTempDirectory("conncache-schema").toFile.getAbsolutePath
        val miss = ConnectivityCache.readOrCompute(spark, dir, pts, "m", idCol, vecCol,
          dim, k, minRatio, "2026-01-01")
        assert(miss.schema == docSchema(strict = true), s"miss over $vecCol")
        val hit = ConnectivityCache.readOrCompute(spark, dir, pts, "m", idCol, vecCol,
          dim, k, minRatio, "2026-02-02")
        assert(hit.schema == docSchema(strict = false), s"hit over $vecCol")
        assert(byName(hit.head()) == byName(miss.head()), s"hit over $vecCol")
    }
  }

  test("a cache written by the first release of the driver-side analysis is served as hits") {
    // src/test/resources/connectivity_cache holds two maps written through
    // readOrCompute before its cache probe ran beside the points collect:
    // `clusters` (clusters(5, 4, 4, 3), k 2, ratio 0.2, 2026-01-01) and
    // `embeddings` (vec_id < 30 of sf0.001, k 3, ratio 0.1, 2026-01-02)
    val src = Path.of(getClass.getResource("/connectivity_cache").toURI)
    val dir = Files.createTempDirectory("conncache-fixture")
    Files.walk(src).iterator().asScala.foreach { f =>
      val to = dir.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(to) else Files.copy(f, to)
    }
    val root = dir.toFile.getAbsolutePath
    Seq(("clusters", clusters(5, 4, 4, 3), "id", "vec", 3, 2, 0.2, "2026-01-01"),
        ("embeddings", points, "vec_id", "embedding", 64, 3, 0.1, "2026-01-02")).foreach {
      case (map, pts, idCol, vecCol, dim, k, minRatio, written) =>
        val before = files(root, map)
        val hit = ConnectivityCache.readOrCompute(spark, root, pts, map, idCol, vecCol,
          dim, k, minRatio, "2026-09-09").collect()
        val fp = ConnectivityCache.inputFingerprint(pts, idCol, vecCol, k, minRatio)
        val expected = ConnectivityCache.analysisDoc(pts, map, idCol, vecCol, dim, k,
          minRatio, written, fp).head()
        assert(hit.map(byName).toSeq == Seq(byName(expected)), map)
        assert(files(root, map) == before, map)
    }
  }

  test("a failing points collect throws the task's own exception and writes nothing") {
    // 'x' cannot be cast to a double: the collect fails inside a task
    val bad = Seq((1L, Seq("1", "x", "2")), (2L, Seq("1", "2", "3"))).toDF("id", "vec")
      .repartition(2)
    val dir = Files.createTempDirectory("conncache-badvec").toFile.getAbsolutePath
    val e = intercept[NumberFormatException](ConnectivityCache.readOrCompute(spark, dir, bad,
      "bad", "id", "vec", 3, 1, 0.1, "2026-01-01"))
    assert(e.getClass.getName == "org.apache.spark.SparkNumberFormatException", e.toString)
    assert(!Files.exists(Path.of(dir, "map_name=bad")))
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
  }

  test("a vector whose length is not dim fails the analysis, naming the map") {
    val pts = pointsOf(pt(1L, 0, 0, 0), pt(2L, 1, 0), pt(3L, 2, 0, 0))
    val e = intercept[IllegalArgumentException](ConnectivityCache.analysisDoc(pts, "bad_map",
      "id", "vec", dim = 3, k = 2, minRatio = 0.1, analysisDate = "2026-01-01", fingerprint = 0L))
    assert(e.getMessage.contains("'bad_map'") && e.getMessage.contains("dim = 3"), e.getMessage)
    val dir = Files.createTempDirectory("conncache-dim").toFile.getAbsolutePath
    intercept[IllegalArgumentException](ConnectivityCache.readOrCompute(spark, dir, pts,
      "bad_map", "id", "vec", 3, 2, 0.1, "2026-01-01"))
    assert(!Files.exists(Path.of(dir, "map_name=bad_map")))
    // past the unrolled widths the distance has no dim: a mismatched pair
    // has a null distance, as graft_dist_sq gives it
    val doc = ConnectivityCache.analysisDoc(pts, "bad_map", "id", "vec", dim = 0, k = 1,
      minRatio = 0.1, analysisDate = "2026-01-01", fingerprint = 0L).head()
    assert(Row.fromSeq(doc.toSeq) ==
      sparkAnalysis(pts, "bad_map", "id", "vec", 0, 1, 0.1, "2026-01-01", 0L))
  }

  test("a non-integral id column is rejected before any job runs") {
    val pts = clusters(3).select(col("id").cast("string").as("id"), col("vec"))
    val dir = Files.createTempDirectory("conncache-ids").toFile.getAbsolutePath
    assert(jobCount {
      val e = intercept[IllegalArgumentException](ConnectivityCache.analysisDoc(pts, "m",
        "id", "vec", dim = 3, k = 2, minRatio = 0.1, analysisDate = "2026-01-01", fingerprint = 0L))
      assert(e.getMessage.contains("integral"), e.getMessage)
      intercept[IllegalArgumentException](ConnectivityCache.readOrCompute(spark, dir, pts,
        "m", "id", "vec", 3, 2, 0.1, "2026-01-01"))
    } == 0)
  }
}
