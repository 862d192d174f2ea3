package graft

import org.apache.spark.sql.functions._
import graft.catalog.CatalogOps
import graft.operators.Filters

class CatalogOpsSpec extends SparkSpec {
  import spark.implicits._

  test("upsertLatest keeps newest row but preserves created_at from oldest") {
    val existing = Seq(("s1", 1L, "old-meta", "2024-01-01"), ("s2", 1L, "keep", "2024-02-01"))
      .toDF("key", "v", "meta", "created")
    val updates = Seq(("s1", 2L, "new-meta", "2024-03-01"))
      .toDF("key", "v", "meta", "created")
    val out = CatalogOps.upsertLatest(existing, updates,
      keys = Seq("key"), version = "v", preserveFromExisting = Seq("created"))
      .orderBy("key").collect()
    assert(out.length == 2)
    val s1 = out(0)
    assert(s1.getAs[String]("meta") == "new-meta")     // updated column
    assert(s1.getAs[String]("created") == "2024-01-01") // preserved column
    assert(out(1).getAs[String]("meta") == "keep")
  }

  test("upsertLatest update wins over existing at equal version") {
    val existing = Seq(("s1", 5L, "e")).toDF("key", "v", "meta")
    val updates = Seq(("s1", 5L, "u")).toDF("key", "v", "meta")
    val out = CatalogOps.upsertLatest(existing, updates, Seq("key"), "v")
    assert(out.collect().head.getAs[String]("meta") == "u")
  }

  test("statusPreservingMerge keeps survivor state, defaults new") {
    val newItems = Seq("a", "b", "c").toDF("k")
    val oldState = Seq(("a", true), ("z", true)).toDF("k", "flag")
    val out = CatalogOps.statusPreservingMerge(newItems, oldState, Seq("k"),
      Map("flag" -> lit(false))).orderBy("k").collect()
    assert(out.map(r => (r.getString(0), r.getBoolean(1))).toSeq ==
      Seq(("a", true), ("b", false), ("c", false))) // z dropped, b/c defaulted
  }

  test("statistics computes conditional counts in one pass") {
    val df = Seq(("x", 1), ("x", 5), ("y", 10)).toDF("g", "v")
    val out = CatalogOps.statistics(df, Seq("g"),
      conds = Seq("big" -> (col("v") > 3)), sums = Seq("sv" -> col("v")))
      .orderBy("g").collect()
    assert(out(0).getAs[Long]("total") == 2 && out(0).getAs[Long]("big") == 1)
    assert(out(1).getAs[Long]("sv") == 10)
  }

  test("migrateSchema adds missing columns with defaults, drops extras, casts") {
    import org.apache.spark.sql.types._
    val old = Seq((1, "a", "junk")).toDF("id", "name", "legacy_col")
    val target = StructType(Seq(
      StructField("id", LongType),            // was int → cast
      StructField("name", StringType),
      StructField("navmesh_baked", BooleanType))) // new column
    val out = CatalogOps.migrateSchema(old, target,
      defaults = Map("navmesh_baked" -> lit(false)))
    assert(out.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      target.fields.map(f => (f.name, f.dataType)).toSeq)
    val r = out.collect().head
    assert(r.getLong(0) == 1L && r.getString(1) == "a" && !r.getBoolean(2))
  }

  test("glob translation anchors and escapes") {
    assert(Filters.globToRegex("*.txt") == "(?s).*\\.txt")
    assert(Filters.globToRegex("a?c") == "(?s)a.c")
    assert(Filters.globToRegex("x[1]") == "(?s)x\\[1\\]")
  }

  test("searchWithFallback prefers exact match") {
    val df = Seq("Alpha", "alphabet", "beta").toDF("name")
    val exact = Filters.searchWithFallback(df, "name", "ALPHA").collect()
    assert(exact.map(_.getString(0)).toSeq == Seq("Alpha"))
    val fuzzy = Filters.searchWithFallback(df, "name", "alph").collect()
    assert(fuzzy.map(_.getString(0)).toSet == Set("Alpha", "alphabet"))
  }

  test("quality rules count NULL predicate results as violations") {
    import graft.operators.Quality
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"), (3L, null))
      .toDF("id", "name")
    val out = Quality.check(df, Seq(
        Quality.Rule("id_positive", col("id") > 0),      // null id → violation
        Quality.Rule("name_not_null", col("name").isNotNull)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("id_positive") == 1)   // the null id row
    assert(out("name_not_null") == 1) // the null name row
  }

  test("quality rejects duplicate and reserved rule names") {
    import graft.operators.Quality
    val df = Seq((1L, "a")).toDF("id", "name")
    intercept[IllegalArgumentException] {
      Quality.check(df, Seq(
        Quality.Rule("r", col("id") > 0), Quality.Rule("r", col("name").isNotNull)))
    }
    intercept[IllegalArgumentException] {
      Quality.check(df, Seq(Quality.Rule("_total", col("id") > 0)))
    }
  }

  test("compactTo rewrites a small-files directory to the target file count") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact").toFile
    try {
      val in = new java.io.File(tmp, "in").getAbsolutePath
      val out = new java.io.File(tmp, "out").getAbsolutePath
      spark.range(1000).toDF("id").repartition(20).write.parquet(in)
      assert(new java.io.File(in).listFiles().count(_.getName.endsWith(".parquet")) == 20)
      graft.catalog.CatalogOps.compactTo(spark, in, out, targetRecordsPerFile = 500)
      assert(new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet")) == 2)
      assert(spark.read.parquet(out).count() == 1000)
      // compacted data is identical, not just same-sized
      assert(spark.read.parquet(out).exceptAll(spark.read.parquet(in)).isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("correlationPairs: ±1 on linear maps, NULL on constants, hand value, listwise n") {
    import graft.catalog.Profiler
    val df = Seq(
      (1.0, 3.0, 7.0, 1.0),
      (2.0, 5.0, 7.0, 2.0),
      (3.0, 7.0, 7.0, 4.0))
      .toDF("x", "y2x", "const", "z")
    val got = Profiler.correlationPairs(df, Seq("x", "y2x", "const", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got(("x", "y2x")) == Some(1.0))           // y = 2x + 1
    assert(got(("x", "const")).isEmpty)              // zero variance → NULL
    assert(got(("y2x", "const")).isEmpty)
    // x=[1,2,3], z=[1,2,4]: r = 9/√84 (reported at the documented
    // 12-decimal rounding)
    assert(math.abs(got(("x", "z")).get - 9.0 / math.sqrt(84.0)) < 1e-12,
      got(("x", "z")).toString)
    // a NULL anywhere drops the ROW for every pair (one n serves all)
    val withNull = Seq((Some(1.0), Some(1.0)), (Some(2.0), Some(3.0)),
      (Some(3.0), None)).toDF("a", "b")
    val n = Profiler.correlationPairs(withNull, Seq("a", "b"))
      .select("n").as[Long].head()
    assert(n == 2L)
    // anti-correlation is exactly -1
    val inv = Seq((1.0, 9.0), (2.0, 6.0), (3.0, 3.0)).toDF("a", "b")
    assert(Profiler.correlationPairs(inv, Seq("a", "b"))
      .select("corr").as[Double].head() == -1.0)
  }
}
