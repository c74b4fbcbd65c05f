package perfbench

import graft.operators.{HybridOps, TextOps, VectorOps}
import graft.serve.Retrieval
import graft.sync.IndexStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Correctness checks the benchmark runs on every run. Each returns the
  * problems it found (empty = correct). Expected states are computed
  * here from the generated source with plain Spark operators, never
  * through the library's own merge or reconcile code. */
object Checks {

  /** Per index: (live docs, order-independent content hash). */
  type Digest = Map[String, (Long, Long)]

  def digest(df: DataFrame): Digest =
    df.groupBy("idx")
      .agg(count(lit(1)).as("n"),
        // 40-bit row hashes: their sum cannot overflow below 2^23 rows
        sum(pmod(xxhash64(col("id"), col("document")), lit(1L << 40))).as("h"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** The store's live documents behind every alias in `indexes`. */
  def stored(store: IndexStore, indexes: Seq[String]): Option[DataFrame] =
    indexes.flatMap(store.read).map(_.select("idx", "id", "document")).reduceOption(_ union _)

  /** A CDC source's expected state: the latest version of every id,
    * minus ids whose latest version is a tombstone. */
  def expectedLatest(source: DataFrame): Digest = {
    val w = Window.partitionBy("id").orderBy(col("updated_at").desc)
    digest(source.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1 && !col("is_deleted")))
  }

  def compareDigests(what: String, want: Digest, got: Digest): Seq[String] =
    (want.keySet ++ got.keySet).toSeq.sorted.flatMap { idx =>
      (want.get(idx), got.get(idx)) match {
        case (w, g) if w == g => None
        case (w, g) => Some(s"$what: index $idx expected ${w.getOrElse("absent")} got ${g.getOrElse("absent")}")
      }
    }

  def storeMatches(store: IndexStore, indexes: Seq[String], want: Digest): Seq[String] =
    compareDigests("store state", want, stored(store, indexes).map(digest).getOrElse(Map.empty))

  /** `(id, document)` rows read back against the documents expected
    * live; `what` names the read in the problems found. */
  def rowsMatch(what: String, got: Seq[(String, String)], want: Map[String, String]): Seq[String] = {
    val g = got.toMap
    val missing = want.keySet -- g.keySet
    val extra = g.keySet -- want.keySet
    val stale = want.collect { case (id, d) if g.get(id).exists(_ != d) => id }
    Seq(
      if (got.size != g.size) Some(s"$what returned ${got.size - g.size} duplicate rows") else None,
      if (missing.nonEmpty) Some(s"$what missed ${missing.size} live ids, e.g. ${missing.head}") else None,
      if (extra.nonEmpty) Some(s"$what returned ${extra.size} ids not live, e.g. ${extra.head}") else None,
      if (stale.nonEmpty) Some(s"$what returned ${stale.size} stale documents, e.g. ${stale.head}") else None,
    ).flatten
  }

  /** Every query got exactly ranks 1..k. */
  def searchShape(rows: Seq[Row], queryIds: Seq[Long], k: Int): Seq[String] = {
    val byQuery = rows.groupBy(_.getAs[Number]("query_id").longValue)
    queryIds.flatMap { q =>
      val ranks = byQuery.getOrElse(q, Seq.empty).map(_.getAs[Number]("rn").intValue).sorted
      if (ranks == (1 to k)) None else Some(s"query $q returned ranks ${ranks.mkString(",")}")
    } ++ (byQuery.keySet -- queryIds).map(q => s"result for unknown query $q")
  }

  /** A snapshot search equals the hybrid fusion composed from in-memory
    * halves: BM25 over the docs and IVF-PQ refine over a freshly encoded
    * index under the snapshot's codebooks. */
  def serveMatchesComposed(served: Retrieval, docs: DataFrame, emb: DataFrame,
      queries: Seq[(Long, Seq[String])], k: Int): Seq[String] = {
    def rows(df: DataFrame) = df.orderBy("query_id", "rn").collect().map(_.toSeq).toSeq
    val ids = queries.map(_._1)
    val idx = VectorOps.ivfPqIndex(emb, served.cents, served.books, residual = true)
    val probed = VectorOps.probedCellsOf(emb, ids, served.cents, 2)
    val dense = VectorOps.ivfPqRefineTopK(idx.where(col("cell").isin(probed: _*)), emb, ids, k,
      VectorOps.RefineShortlist, 2, served.cents, served.books, residual = true)
      .withColumnRenamed("vec_id", "doc_id")
    val want = rows(HybridOps.fuse(TextOps.bm25TopK(docs, queries, k), dense, k, HybridOps.Rrf))
    val got = rows(served.search(queries, k, HybridOps.Rrf))
    if (want.isEmpty) Seq("composed reference is empty")
    else if (got != want) Seq(s"snapshot search differs from the composed halves: ${got.take(3)} vs ${want.take(3)}")
    else Seq.empty
  }
}
