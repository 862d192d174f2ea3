package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Catalog maintenance operators — the relational core of the reference's
  * SQLite registry (SURVEY.md §2.1/2.3/2.7: S4, J1-J7, U1-U5, P6-P8, A1).
  *
  * All operators are expressed as declarative DataFrame transformations so
  * Catalyst handles pushdown/pruning/join selection. Catalog tables in the
  * reference are broadcast-sized (138 scenes / 380 maps), but these
  * implementations never assume that: keys shuffle-partition cleanly, and
  * small-side broadcasting is left to AQE unless the caller passes an
  * explicitly `broadcast()`-wrapped dim.
  */
object CatalogOps {

  /** S4 — upsert with ON CONFLICT DO UPDATE semantics
    * (reference: scene_registry.py:224-239, 391-404).
    *
    * `existing` ∪ `updates`, keep the newest row per `keys` ordered by
    * `version` descending (ties broken toward `updates`). Column-level
    * semantics: columns in `preserveFromExisting` (e.g. `created_at`) keep
    * the existing row's value when a row is updated — the reference's
    * UPDATE list excludes them.
    *
    * Scale: one hash-partition shuffle on `keys`; no collect. At 100 TB the
    * window degenerates gracefully because each key group is tiny (catalog
    * rows per key = 2 sources max).
    */
  def upsertLatest(
      existing: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      version: String,
      preserveFromExisting: Seq[String] = Nil): DataFrame = {
    val e = existing.withColumn("_src", lit(0))
    val u = updates.withColumn("_src", lit(1))
    val all = e.unionByName(u)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(version).desc, col("_src").desc)
    val picked = all
      .withColumn("_rn", row_number().over(w))
    if (preserveFromExisting.isEmpty) {
      picked.filter(col("_rn") === 1).drop("_rn", "_src")
    } else {
      // created_at-style columns: take the value from the OLDEST row per key
      val wAsc = Window.partitionBy(keys.map(col): _*)
        .orderBy(col(version).asc, col("_src").asc)
      val withFirst = preserveFromExisting.foldLeft(picked) { (df, c) =>
        df.withColumn(c, first(col(c)).over(wAsc))
      }
      withFirst.filter(col("_rn") === 1).drop("_rn", "_src")
    }
  }

  /** J4 — status-preserving merge (reference: copy_scene_assets.py:92-136).
    * New item list LEFT JOIN old state; survivors keep their state, new
    * items get defaults. `defaults` maps state-column → default expression.
    */
  def statusPreservingMerge(
      newItems: DataFrame,
      oldState: DataFrame,
      key: Seq[String],
      defaults: Map[String, Column]): DataFrame = {
    val old = oldState.select((key.map(col) ++ defaults.keys.map(c => col(c).as(s"_old_$c"))): _*)
    val joined = newItems.join(old, key, "left")
    defaults.foldLeft(joined) { case (df, (c, default)) =>
      df.withColumn(c, coalesce(col(s"_old_$c"), default))
    }.drop(defaults.keys.map(c => s"_old_$c").toSeq: _*)
  }

  /** P7 — scenes having ≥1 baked map: left-semi join
    * (reference: storage/scene_upload.py:94-117). */
  def havingChild(parents: DataFrame, children: DataFrame, key: Seq[String],
      childPred: Column): DataFrame =
    parents.join(children.filter(childPred), key, "left_semi")

  /** U5 / J1-anti — difference by key: rows of `source` with no match in
    * `target` (reference: scene_copy.py:407-422 skip-existing). */
  def missingFrom(source: DataFrame, target: DataFrame, key: Seq[String]): DataFrame =
    source.join(target, key, "left_anti")

  /** J5 — existence annotation: left join an existence table, flag
    * membership (reference: scene_registry.py:466-545 bos_exists sync). */
  def annotateExistence(
      registry: DataFrame,
      existing: DataFrame,
      key: Seq[String],
      flagName: String): DataFrame = {
    val probe = existing.select(key.map(col): _*).distinct()
      .withColumn("_hit", lit(1))
    registry.join(probe, key, "left")
      .withColumn(flagName, col("_hit").isNotNull)
      .drop("_hit")
  }

  /** S13 — schema migration on read: conform a snapshot to a target
    * schema the way the reference's ALTER TABLE migrations do
    * (reference: scene_registry.py:21-186 column rebuild;
    * batch_bake.py:160-169 add-missing-column). Missing columns are added
    * with the given defaults (null when absent), extra columns dropped,
    * mismatched types cast. Pure projection — no shuffle, no data pass
    * beyond the scan.
    */
  def migrateSchema(df: DataFrame,
      target: org.apache.spark.sql.types.StructType,
      defaults: Map[String, Column] = Map.empty): DataFrame = {
    val present = df.columns.toSet
    val cols = target.fields.map { f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else defaults.getOrElse(f.name, lit(null)).cast(f.dataType).as(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  /** A1 — registry statistics: COUNT(*) + conditional counts + sums in one
    * aggregation pass (reference: scene_registry.py:566-605). `conds` maps
    * output column → predicate; `sums` maps output column → numeric expr.
    * Map-side partial aggregation makes this a single reduce at any scale.
    */
  def statistics(
      df: DataFrame,
      groupCols: Seq[String],
      conds: Seq[(String, Column)],
      sums: Seq[(String, Column)]): DataFrame = {
    val aggs =
      (count(lit(1)).as("total") +:
        (conds.map { case (n, c) => sum(when(c, 1L).otherwise(0L)).as(n) } ++
         sums.map { case (n, e) => sum(e).as(n) })).toList
    if (groupCols.isEmpty) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Persist a catalog table bucketed + sorted by its join key. Tables
    * bucketed the same way co-locate: joins between them (and repeated
    * self-joins of the catalog against sync listings keyed the same way)
    * plan with NO exchange on either side — the pre-shuffled layout is
    * the 100 TB answer to the reference's N+1 per-scene lookups. Verified
    * by PlanAuditSpec's exchange-free join check. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)

  /** Small-files compaction: rewrite a directory into files of
    * ~`targetRecordsPerFile` rows. Streaming sinks and per-task writers
    * accrete thousands of KB-sized files; at scale the file COUNT (driver
    * listing, task scheduling, open() per file) costs more than the bytes.
    * Writes to `outPath` — swapping it over the source directory is an
    * orchestration step, not done here (never overwrite an input you are
    * still reading).
    */
  def compactTo(spark: SparkSession, inPath: String, outPath: String,
      targetRecordsPerFile: Long): Unit = {
    val df = spark.read.parquet(inPath)
    val n = df.count()
    val files = math.max(1, math.ceil(n.toDouble / targetRecordsPerFile).toInt)
    df.repartition(files).write.mode("overwrite").parquet(outPath)
  }
}
