package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.catalog.{CatalogOps, Compaction, Profiler, Scd2}

/** Catalog/registry operator family (SURVEY.md §2: A1, S4, J3-J5, J7, P6/P7,
  * U1-U5, A14) demonstrated on the driver testdata star schema.
  *
  * Role mapping (FIXTURES.md §B): customer≈scenes, orders≈sequences,
  * lineitem≈fact, part/supplier≈dims.
  */
object CatalogQueries extends QueryFamily {
  import Det._

  def defs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // A1 — registry statistics: one-pass conditional counts + exact sums
    // (reference: scene_registry.py:566-605 get_statistics).
    ("q_registry_stats",
      (s: SparkSession, d: String) => {
        CatalogOps.statistics(
          Tables.orders(s, d),
          groupCols = Seq("o_orderpriority"),
          conds = Seq(
            "n_open"     -> (col("o_orderstatus") === "O"),
            "n_finished" -> (col("o_orderstatus") === "F")),
          sums = Seq("sum_price" -> col("o_totalprice").cast("decimal(18,2)")))
          .withColumn("sum_price", col("sum_price").cast("double"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
             |  CAST(COUNT(*) AS BIGINT) AS total,
             |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
             |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // S4 — upsert merge with column-level update semantics: latest row per
    // key wins, but created_at-style columns keep the oldest value
    // (reference: scene_registry.py:391-404 ON CONFLICT DO UPDATE).
    // Small-file compaction planning: deterministic size-desc contiguous
    // bin packing toward a target size, one window shuffle on the
    // directory key. "Files" are the orders table (dir = priority class,
    // size = floored total price) — shape-identical to an fsInventory
    // feed, and exactly replayable.
    ("q_compaction_plan",
      (s: SparkSession, d: String) => {
        val files = Tables.orders(s, d).select(
          col("o_orderpriority").as("dir"),
          col("o_orderkey").cast("string").as("file"),
          floor(col("o_totalprice")).cast("long").as("size"))
        Compaction.planBins(files, "dir", "file", "size", targetBytes = 1000000L)
          .orderBy("dir", "bin")
      },
      Some("""WITH f AS (
             |  SELECT o_orderpriority AS dir, CAST(o_orderkey AS VARCHAR) AS file,
             |    CAST(floor(o_totalprice) AS BIGINT) AS size
             |  FROM orders),
             |c AS (
             |  SELECT dir, file, size,
             |    SUM(size) OVER (PARTITION BY dir ORDER BY size DESC, file
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM f)
             |SELECT dir, CAST(floor((cum - size) / 1000000) AS BIGINT) AS bin,
             |  CAST(COUNT(*) AS BIGINT) AS n_files, CAST(SUM(size) AS BIGINT) AS bytes
             |FROM c GROUP BY 1, 2 ORDER BY dir, bin""".stripMargin)),

    // One-pass table profile (null/distinct/min/max per column, long
    // format) — the catalog's data-quality report. Multi-distinct runs
    // as one expand scan; min/max only for cross-engine-stable types.
    ("q_table_profile",
      (s: SparkSession, d: String) => {
        Profiler.profile(Tables.customer(s, d),
            Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
          .orderBy("column")
      },
      Some("""WITH t AS (SELECT * FROM customer)
             |SELECT 'c_custkey' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             |  CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
             |  CAST(MIN(c_custkey) AS VARCHAR) AS min_value,
             |  CAST(MAX(c_custkey) AS VARCHAR) AS max_value FROM t
             |UNION ALL
             |SELECT 'c_name', CAST(COUNT(*) AS BIGINT),
             |  CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |  CAST(COUNT(DISTINCT c_name) AS BIGINT),
             |  MIN(c_name), MAX(c_name) FROM t
             |UNION ALL
             |SELECT 'c_nationkey', CAST(COUNT(*) AS BIGINT),
             |  CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |  CAST(COUNT(DISTINCT c_nationkey) AS BIGINT),
             |  CAST(MIN(c_nationkey) AS VARCHAR), CAST(MAX(c_nationkey) AS VARCHAR) FROM t
             |UNION ALL
             |SELECT 'c_mktsegment', CAST(COUNT(*) AS BIGINT),
             |  CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |  CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT),
             |  MIN(c_mktsegment), MAX(c_mktsegment) FROM t
             |ORDER BY "column"""".stripMargin)),

    // Pairwise Pearson correlation over lineitem's numeric columns in ONE
    // scan — the redundancy report behind feature pruning (two
    // near-duplicate signals inflate whatever consumes both). Values cast
    // to DECIMAL(18,6) so every sum is exact decimal addition
    // (order-free); the final r is one fixed IEEE tree over those exact
    // sums — hash-identical cross-engine.
    ("q_corr_matrix",
      (s: SparkSession, d: String) => {
        Profiler.correlationPairs(Tables.lineitem(s, d),
            Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
          .orderBy("col_a", "col_b")
      },
      Some {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val nn = cols.map(c => s"$c IS NOT NULL").mkString(" AND ")
        val castSel = cols.map(c => s"CAST($c AS DECIMAL(18,6)) AS $c").mkString(", ")
        // products widen one operand to DECIMAL(19,6): same value, but it
        // moves DuckDB's physical multiply to int128 (a raw int64·int64
        // decimal product overflows at these magnitudes — the engine says
        // so explicitly); Spark's decimal multiply is wide by default
        def w(c: String) = s"CAST($c AS DECIMAL(19,6))"
        val sums = (cols.map(c => s"SUM($c) AS s_$c") ++
          cols.map(c => s"SUM(${w(c)} * $c) AS ss_$c") ++
          (for (i <- cols.indices; j <- i + 1 until cols.size)
            yield s"SUM(${w(cols(i))} * ${cols(j)}) AS sp_${cols(i)}_${cols(j)}"))
          .mkString(",\n    ")
        val pairRows = (for (i <- cols.indices; j <- i + 1 until cols.size) yield {
          val (a, b) = (cols(i), cols(j))
          s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
             |    CAST(s_$a AS DOUBLE) AS sa, CAST(s_$b AS DOUBLE) AS sb,
             |    CAST(ss_$a AS DOUBLE) AS ssa, CAST(ss_$b AS DOUBLE) AS ssb,
             |    CAST(sp_${a}_$b AS DOUBLE) AS sab FROM s""".stripMargin
        }).mkString("\n  UNION ALL\n  ")
        s"""WITH c AS (SELECT $castSel FROM lineitem WHERE $nn),
           |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |    $sums
           |  FROM c),
           |p AS (
           |  $pairRows)
           |SELECT col_a, col_b, n,
           |  CASE WHEN CAST(n AS DOUBLE) * ssa - sa * sa = 0
           |         OR CAST(n AS DOUBLE) * ssb - sb * sb = 0 THEN NULL
           |       ELSE round((CAST(n AS DOUBLE) * sab - sa * sb)
           |         / sqrt((CAST(n AS DOUBLE) * ssa - sa * sa)
           |              * (CAST(n AS DOUBLE) * ssb - sb * sb)), 12) END AS corr
           |FROM p ORDER BY col_a, col_b""".stripMargin
      }),

    // Profile drift between two corpus snapshots (here: documents before
    // vs after a length cut — the post-curation regression check): per
    // column, row/null/distinct deltas and whether the min/max moved.
    // Two one-pass profiles joined on the column name — the report a
    // catalog publishes next to every new corpus version.
    ("q_profile_drift",
      (s: SparkSession, d: String) => {
        val cols = Seq("doc_id", "lang", "source", "n_chars")
        val docs = Tables.documents(s, d)
        val v1 = Profiler.profile(docs, cols)
          .select(col("column"), col("n_rows").as("n_rows_v1"),
            col("n_nulls").as("nulls_v1"), col("n_distinct").as("dist_v1"),
            col("min_value").as("min_v1"), col("max_value").as("max_v1"))
        val v2 = Profiler.profile(docs.filter(col("n_chars") >= 100), cols)
          .select(col("column"), col("n_rows").as("n_rows_v2"),
            col("n_nulls").as("nulls_v2"), col("n_distinct").as("dist_v2"),
            col("min_value").as("min_v2"), col("max_value").as("max_v2"))
        v1.join(v2, "column")
          .select(col("column"), col("n_rows_v1"), col("n_rows_v2"),
            (col("nulls_v2") - col("nulls_v1")).as("nulls_delta"),
            (col("dist_v2") - col("dist_v1")).as("distinct_delta"),
            (!col("min_v1").eqNullSafe(col("min_v2"))).as("min_changed"),
            (!col("max_v1").eqNullSafe(col("max_v2"))).as("max_changed"))
          .orderBy("column")
      },
      Some {
        def profileSql(src: String, tag: String) = {
          def block(c: String, stringable: Boolean) = {
            val minMax = if (stringable)
              s"CAST(MIN($c) AS VARCHAR) AS min_value, CAST(MAX($c) AS VARCHAR) AS max_value"
            else "CAST(NULL AS VARCHAR) AS min_value, CAST(NULL AS VARCHAR) AS max_value"
            s"""SELECT '$c' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows_$tag,
               |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_$tag,
               |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS dist_$tag,
               |  $minMax FROM $src""".stripMargin
          }
          Seq(block("doc_id", true), block("lang", true),
            block("source", true), block("n_chars", true))
            .mkString("\nUNION ALL\n")
        }
        s"""WITH v1 AS (${profileSql("documents", "v1")}),
           |v2 AS (${profileSql("(SELECT * FROM documents WHERE n_chars >= 100)", "v2")})
           |SELECT v1."column", n_rows_v1, n_rows_v2,
           |  CAST(nulls_v2 - nulls_v1 AS BIGINT) AS nulls_delta,
           |  CAST(dist_v2 - dist_v1 AS BIGINT) AS distinct_delta,
           |  NOT (v1.min_value IS NOT DISTINCT FROM v2.min_value) AS min_changed,
           |  NOT (v1.max_value IS NOT DISTINCT FROM v2.max_value) AS max_changed
           |FROM v1 JOIN v2 ON v1."column" = v2."column"
           |ORDER BY v1."column"""".stripMargin
      }),

    // SCD type 2: the history-preserving dimension build next to the
    // SCD1 upsert below — per-user status runs from the event change log
    // (consecutive duplicates collapsed, half-open validity intervals,
    // open run flagged current). One hash shuffle on user_id; the three
    // window passes share its sort.
    ("q_scd2",
      (s: SparkSession, d: String) => {
        Scd2.buildDimension(
            Tables.events(s, d).select("user_id", "event_id", "ts", "event_type"),
            keyCols = Seq("user_id"), tsCol = "ts",
            attrCols = Seq("event_type"), tieBreak = Seq("event_id"))
          .select(col("user_id"), col("event_type").as("status"),
            col("valid_from"), col("valid_to"), col("version"), col("is_current"))
          .orderBy("user_id", "version")
      },
      Some("""WITH o AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
             |  FROM events),
             |c AS (
             |  SELECT user_id, ts, event_id, event_type FROM o
             |  WHERE prev IS NULL OR prev <> event_type)
             |SELECT user_id, event_type AS status, ts AS valid_from,
             |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS version,
             |  (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL) AS is_current
             |FROM c ORDER BY user_id, version""".stripMargin)),

    ("q_upsert_latest",
      (s: SparkSession, d: String) => {
        val orders = Tables.orders(s, d)
        val existing = orders.filter(col("o_orderkey") % 2 === 0)
        val updates = orders.filter(col("o_orderkey") % 2 === 1)
        CatalogOps.upsertLatest(existing, updates,
            keys = Seq("o_custkey"), version = "o_orderkey",
            preserveFromExisting = Seq("o_orderdate"))
          .select(
            col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("created_day"))
          .orderBy("o_custkey")
      },
      Some("""WITH ranked AS (
             |  SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice,
             |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn,
             |    first_value(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderkey ASC) AS created
             |  FROM orders)
             |SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice,
             |  strftime(created, '%Y-%m-%d') AS created_day
             |FROM ranked WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),

    // P7 — parents having a qualifying child (left-semi join)
    // (reference: scene_upload.py:94-117 scenes with ≥1 baked map).
    ("q_semi_join",
      (s: SparkSession, d: String) => {
        CatalogOps.havingChild(
          Tables.customer(s, d),
          Tables.orders(s, d).withColumnRenamed("o_custkey", "c_custkey"),
          key = Seq("c_custkey"),
          childPred = col("o_orderstatus") === "O")
          .select("c_custkey", "c_name", "c_mktsegment")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
             |ORDER BY c_custkey""".stripMargin)),

    // U5 — skip-existing difference (left-anti join)
    // (reference: scene_copy.py:407-422).
    ("q_anti_join",
      (s: SparkSession, d: String) => {
        CatalogOps.missingFrom(
          Tables.customer(s, d),
          Tables.orders(s, d).filter(col("o_orderstatus") === "P")
            .withColumnRenamed("o_custkey", "c_custkey"),
          key = Seq("c_custkey"))
          .select("c_custkey", "c_name", "c_mktsegment")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
             |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
             |ORDER BY c_custkey""".stripMargin)),

    // J5 — existence-flag sync (reference: scene_registry.py:466-545
    // bos_exists annotation from an object-store listing).
    ("q_existence_flag",
      (s: SparkSession, d: String) => {
        CatalogOps.annotateExistence(
          Tables.supplier(s, d),
          Tables.lineitem(s, d).withColumnRenamed("l_suppkey", "s_suppkey"),
          key = Seq("s_suppkey"), flagName = "has_shipments")
          .select("s_suppkey", "s_name", "has_shipments")
          .orderBy("s_suppkey")
      },
      Some("""SELECT s_suppkey, s_name,
             |  EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey) AS has_shipments
             |FROM supplier ORDER BY s_suppkey""".stripMargin)),

    // J4 — status-preserving merge: left join old state + defaults
    // (reference: copy_scene_assets.py:92-136).
    ("q_status_merge",
      (s: SparkSession, d: String) => {
        val oldState = Tables.orders(s, d)
          .groupBy(col("o_custkey").as("c_custkey"))
          .agg(count(lit(1)).as("n_orders"))
        CatalogOps.statusPreservingMerge(
          Tables.customer(s, d).select("c_custkey", "c_name"),
          oldState, key = Seq("c_custkey"),
          defaults = Map("n_orders" -> lit(0L)))
          .select("c_custkey", "c_name", "n_orders")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name,
             |  CAST(COALESCE((SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey), 0) AS BIGINT) AS n_orders
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // J3 — FK chain rollup: region←nation←customer←orders in one pass,
    // collapsing the reference's N+1 per-scene loops into shuffle joins
    // (reference: scene_scanner.py:554-557; batch_bake.py:81-83).
    ("q_fk_rollup",
      (s: SparkSession, d: String) => {
        val region = Tables.region(s, d)
        val nation = Tables.nation(s, d)
        val cust = Tables.customer(s, d)
        val orders = Tables.orders(s, d)
        orders
          .join(cust, orders("o_custkey") === cust("c_custkey"))
          .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
          .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(
            count(lit(1)).as("n_orders"),
            moneySum(col("o_totalprice")).as("revenue"))
          .orderBy("r_name")
      },
      Some(s"""SELECT r_name,
              |  CAST(COUNT(*) AS BIGINT) AS n_orders,
              |  ${moneySumSql("o_totalprice")} AS revenue
              |FROM orders
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // U1/A14 — distinct first path segment over a constructed path column
    // (reference: scene_scanner.py:593-614 BOS folder extraction).
    ("q_distinct_folders",
      (s: SparkSession, d: String) => {
        graft.sources.Sources.topLevelFolders(Tables.lineitem(s, d)
            .select(concat_ws("/", col("l_returnflag"), col("l_linestatus"),
              col("l_orderkey").cast("string")).as("key")), "key")
          .orderBy("folder")
      },
      Some("""SELECT DISTINCT folder FROM (
             |  SELECT string_split(concat(l_returnflag, '/', l_linestatus, '/', CAST(l_orderkey AS VARCHAR)), '/')[1] AS folder
             |  FROM lineitem)
             |WHERE folder <> '' ORDER BY folder""".stripMargin))
  )
}
