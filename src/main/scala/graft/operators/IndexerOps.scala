package graft.operators

import graft.sources.Tables._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference engine's relational operator inventory (SURVEY.md §2) as
  * pure `DataFrame => DataFrame` transforms over the document envelope
  * `(idx, id, document, is_deleted, updated_at)`.
  *
  * Every transform is declarative: filters/projections reach the parquet
  * scan via Catalyst pushdown, aggregations get partial (map-side) combine,
  * and the tiny catalog-side joins are explicitly broadcast. Nothing
  * collects to the driver.
  */
object IndexerOps {

  // --- Scans / filters (S1, S2, P1-P7) -----------------------------------

  /** S1 — full-sync scan (reference flows/main_flow.py:335-348):
    * `SELECT idx,id,document,is_deleted WHERE idx IN (…) AND NOT is_deleted`.
    * The IN-list and boolean predicates push down to the parquet scan
    * (`PushedFilters` shows `In(event_type, …)`), so a full sync of one
    * index never reads the others' row groups when the table is
    * partitioned/sorted by `idx` — the property that matters at 100 TB.
    */
  def fullSyncScan(env: DataFrame, indexes: Seq[String]): DataFrame =
    env.where(col(Idx).isin(indexes: _*) && !col(IsDeleted))
      .select(Idx, Id, Document, IsDeleted)

  /** S2 — incremental CDC scan (reference flows/main_flow.py:317-333): adds
    * `updated_at >= watermark`, keeps tombstones flowing through (no
    * is_deleted filter). `watermark` is a timestamp literal string. */
  def incrementalScan(env: DataFrame, indexes: Seq[String], watermark: String): DataFrame =
    env.where(col(Idx).isin(indexes: _*) &&
        col(UpdatedAt) >= lit(watermark).cast("timestamp"))
      .select(Idx, Id, Document, IsDeleted, UpdatedAt)

  /** P2/P3/A4 — `SELECT DISTINCT idx WHERE idx IS NOT NULL`
    * (reference flows/main_flow.py:120-125). Map-side partial-distinct keeps
    * the shuffle tiny (one row per index per partition). */
  def indexList(env: DataFrame): DataFrame =
    env.where(col(Idx).isNotNull).select(Idx).distinct()

  /** P8 — JSONB path extraction `document->'…'->>'…'`
    * (reference flows/main_flow.py:69). `get_json_object` mirrors the `->>`
    * text-returning semantics and stays inside codegen. */
  def jsonPath(env: DataFrame, path: String, as: String): DataFrame =
    env.select(col(Id), get_json_object(col(Document), path).as(as))

  // --- Aggregations / ordering (A1-A3, O1-O4) ----------------------------

  /** A1∘O1 — per-index sizes, smallest first (reference
    * flows/main_flow.py:153-169): the planning query that drives
    * smallest-first scheduling. Hash aggregate with partial combine; the
    * global sort is over ≤ (#indexes) rows, so it is driver-cheap at any
    * scale. Tiebreak on idx for deterministic output. */
  def indexOrder(env: DataFrame): DataFrame =
    env.where(col(Idx).isNotNull)
      .groupBy(Idx).agg(count(Id).as("doc_count"))
      .orderBy(asc("doc_count"), asc(Idx))

  /** A2 — filtered live-document count for one index
    * (reference flows/main_flow.py:235-248). */
  def liveCount(env: DataFrame, index: String): DataFrame =
    env.where(col(Idx) === lit(index) && !col(IsDeleted))
      .agg(count(Id).as("doc_count"))

  /** A3 — incremental count with sentinel watermark
    * (reference flows/main_flow.py:575-591; sentinel '0001-01-01'). */
  def incrementalCount(env: DataFrame, index: String, watermark: Option[String]): DataFrame =
    env.where(col(Idx) === lit(index) &&
        col(UpdatedAt) >= lit(watermark.getOrElse("0001-01-01 00:00:00")).cast("timestamp"))
      .agg(count(Id).as("doc_count"))

  /** O4 — bottom-k tagging: the k largest indexes (reference
    * flows/main_flow.py:721 tags the last 2 of the ASC ordering as
    * parallel-capable). Top-k = sort + limit → `TakeOrderedAndProject`,
    * no global sort materialization. */
  def largestIndexes(env: DataFrame, k: Int): DataFrame =
    env.groupBy(Idx).agg(count(Id).as("doc_count"))
      .orderBy(desc("doc_count"), asc(Idx)).limit(k)

  // --- Joins (J1-J4) -----------------------------------------------------

  /** J1 — schema-name drift check (reference flows/main_flow.py:37-86):
    * compare one stored doc's nested field against one source doc's, per
    * index; emit indexes whose values differ. `stored`/`source` are both
    * envelope-shaped; "one doc" = the min-id doc per index (deterministic
    * stand-in for the reference's arbitrary `LIMIT 1`). Aggregating
    * `min_by` avoids a window+filter pass; the per-index result is tiny so
    * the equi-join broadcasts. */
  def schemaDrift(stored: DataFrame, source: DataFrame, jsonPath: String): DataFrame = {
    def firstDocField(df: DataFrame, as: String): DataFrame =
      df.groupBy(Idx)
        .agg(min_by(get_json_object(col(Document), jsonPath), col(Id)).as(as))
    val s = firstDocField(stored, "stored_name")
    val t = firstDocField(source, "source_name")
    // no broadcast hint: Spark cannot broadcast a full-outer build side
    // (the hint only logs a warning); both inputs are per-index aggregates
    // — tiny — so AQE picks the right physical join.
    s.join(t, Seq(Idx), "full_outer")
      .where(!(col("stored_name") <=> col("source_name")))
      .orderBy(Idx)
  }

  /** J2 — count reconciliation (reference flows/main_flow.py:216-257):
    * per-index stored count vs source live count, full-outer so missing
    * indexes on either side surface; keep mismatches. Two partial-combined
    * hash aggs + a broadcastable join of per-index rows. */
  def countReconciliation(stored: DataFrame, source: DataFrame): DataFrame = {
    val s = stored.groupBy(Idx).agg(count(Id).as("stored_count"))
    val t = source.where(!col(IsDeleted)).groupBy(Idx).agg(count(Id).as("source_count"))
    s.join(t, Seq(Idx), "full_outer")
      .where(!(col("stored_count") <=> col("source_count")))
      .orderBy(Idx)
  }

  /** J3 — orphan-index containment anti-join (reference
    * flows/main_flow.py:498-501): keep physical index names that contain no
    * live alias substring. Non-equi (`contains`) condition ⇒ plans as
    * BroadcastNestedLoopJoin; the alias side is a per-index catalog (tiny at
    * any data scale) so we force broadcast — O(|catalog| × |aliases|),
    * independent of row count. */
  def orphanIndexes(physical: DataFrame, aliases: DataFrame): DataFrame =
    physical.join(broadcast(aliases),
      col("idx_name").contains(col("alias")), "left_anti")

  /** J4 — duplicate-alias containment semi-join (reference
    * flows/main_flow.py:503-511): keep physical indexes whose name contains
    * an alias pointing at >1 physical index. */
  def duplicateAliasIndexes(physical: DataFrame, aliasCounts: DataFrame): DataFrame = {
    val dup = aliasCounts.where(col("n_indexes") > 1).select("alias")
    physical.join(broadcast(dup),
      col("idx_name").contains(col("alias")), "left_semi")
  }

  /** Alias → physical-index multiplicity (feeds J4; reference's Python dict
    * histogram at flows/main_flow.py:503-507 re-expressed as an agg). */
  def aliasHistogram(physical: DataFrame, aliases: DataFrame): DataFrame =
    physical.join(broadcast(aliases),
        col("idx_name").contains(col("alias")), "inner")
      .groupBy("alias").agg(count("idx_name").as("n_indexes"))

  // --- Action routing (P10 / §2.10) --------------------------------------

  /** P10 + §2.10 `generate_actions` (reference flows/main_flow.py:366-395):
    * route each envelope row to an index/delete action. Pure column
    * expressions (no UDF) — whole-stage codegen end to end. `withId=false`
    * models the reference's config-driven optional `_id`
    * (flows/main_flow.py:371,381). */
  def actionRouting(env: DataFrame, timestampSuffix: String, withId: Boolean = true): DataFrame =
    env.select(
      concat(col(Idx), lit("_"), lit(timestampSuffix)).as("target_index"),
      (if (withId) col(Id) else lit(null).cast("string")).as("doc_id"),
      when(col(IsDeleted), lit("delete")).otherwise(lit("index")).as("op_type"),
      when(col(IsDeleted), lit(null).cast("string")).otherwise(col(Document)).as("source"))

  /** T1/T3 — set-oriented CDC merge: collapse the batch to the latest
    * action per id (max updated_at), then tombstones delete and the rest
    * upsert over current state. Equivalent to replaying the reference's
    * per-row `_op_type index|delete` bulk stream (flows/main_flow.py:
    * 366-395,378-388) but as one anti-join + one union keyed on `id` —
    * a shuffle on `id` only, broadcastable when the batch is small. */
  def cdcMerge(current: DataFrame, batch: DataFrame): DataFrame =
    mergeLatest(current, latestPerId(batch))

  /** [[cdcMerge]] with the batch's id/tombstone tallies observed ON the
    * merge plan (A7 — reference records/errors counters,
    * flows/main_flow.py:354-355,423-426): metrics `batch_ids` and
    * `batch_deletes` materialize with whatever single action executes
    * the merge — zero extra Spark jobs. */
  def cdcMergeObserved(current: DataFrame, batch: DataFrame,
      obs: org.apache.spark.sql.Observation): DataFrame = {
    val latest = latestPerId(batch).observe(obs,
      count(lit(1)).as("batch_ids"),
      sum(when(col(IsDeleted), 1L).otherwise(0L)).as("batch_deletes"))
    mergeLatest(current, latest)
  }

  /** Collapse a CDC batch to the latest action per id, under the total
    * order `(updated_at, is_deleted, document, idx)`: ties resolve the
    * same way under any row order or partitioning. An update and a delete
    * sharing one commit timestamp (one Postgres transaction's `now()`)
    * leave the id deleted; two updates at one instant keep the greater
    * document. Rows with a NULL `updated_at` never win. */
  def latestPerId(batch: DataFrame): DataFrame =
    batch.groupBy(Id).agg(max(when(col(UpdatedAt).isNotNull,
        struct(col(UpdatedAt), col(IsDeleted), col(Document), col(Idx)))).as("s"))
      .select(col("s.idx"), col(Id), col("s.document"), col("s.is_deleted"))

  private def mergeLatest(current: DataFrame, latest: DataFrame): DataFrame =
    current.select(Idx, Id, Document, IsDeleted)
      .join(latest.select(Id), Seq(Id), "left_anti")
      .select(Idx, Id, Document, IsDeleted)
      .unionByName(latest.where(!col(IsDeleted)).select(Idx, Id, Document, IsDeleted))

  /** Empty envelope-shaped relation (the "no current state" input of a
    * first CDC merge) — single definition for every call site. */
  def emptyEnvelope(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.emptyDataFrame
      .withColumn(Idx, lit(null).cast("string"))
      .withColumn(Id, lit(null).cast("string"))
      .withColumn(Document, lit(null).cast("string"))
      .withColumn(IsDeleted, lit(false))

  // --- Generic catalog builders (feed J3/J4 from the envelope) -----------

  /** Physical "timestamped index" catalog derived from data: one name per
    * (idx, day) — the fixture analog of ES `indices.get("*")`
    * (reference flows/main_flow.py:267). */
  def physicalCatalog(env: DataFrame): DataFrame =
    env.select(concat(col(Idx), lit("_"),
      date_format(col(UpdatedAt), "yyyy-MM-dd")).as("idx_name")).distinct()

  /** Live alias catalog: distinct non-deleted index names
    * (reference `get_alias(name="*")`, flows/main_flow.py:496-497). */
  def aliasCatalog(env: DataFrame): DataFrame =
    env.where(!col(IsDeleted)).select(col(Idx).as("alias")).distinct()
}
