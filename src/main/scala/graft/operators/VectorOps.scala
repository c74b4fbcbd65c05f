package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (builder brief "Similarity
  * search"; SURVEY.md §2.11): brute-force cosine top-k as the exact
  * baseline, and a random-hyperplane LSH bucketing as the
  * approximate-nearest-neighbor scale path.
  *
  * Numeric determinism contract (so results hash-match the DuckDB
  * oracle): float32 components are cast to float64 FIRST (exact), then
  * all reductions are sequential left folds — Spark `aggregate` and
  * DuckDB `list_reduce` both fold left-to-right, and IEEE-754 ops are
  * exactly specified, so the resulting doubles are bit-identical.
  * Cosines are rounded to 6 dp before ranking so the order itself is
  * reproducible.
  *
  * Scale notes: the query side of top-k is tiny (it broadcasts), the
  * corpus side is scanned once; ranking is a per-query window over
  * corpus partitions. The LSH variant buckets the corpus by a signature
  * computed per-row (map-only) and joins bucket-to-bucket — candidate
  * count drops from n to n/2^planes per query, the shape that survives a
  * 100 TB corpus.
  */
object VectorOps {

  val Dim = 64

  /** Cast float32 array → float64 (exact; every float is a double). */
  private[graft] def asDoubles(c: Column): Column = transform(c, _.cast("double"))

  /** Sequential left-fold dot product: the native codegen'd expression
    * ([[graft.functions.DotProduct]]) — same accumulation order as the
    * builtin `aggregate(zip_with(...))` chain and the DuckDB oracle, one
    * fused loop instead of three lambdas + an intermediate array. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotProduct(a, b)

  private def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineSimilarity(a, b)

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, ${Dim + 1}), i -> ($a)[i] * ($b)[i]), (x, y) -> x + y)"

  private def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  /** Rewrite every bare-identifier CTE head to `AS MATERIALIZED` — a
    * DuckDB (≥ 0.9) evaluation fence for oracle SQL. The training chains
    * ([[kmeansCtes]], [[pqKmeansCtes]]) are referenced from several
    * downstream CTEs, and DuckDB's default CTE inlining re-derives the
    * whole shared subtree per reference: x62's oracle took 270 s at
    * sf0.01 un-fenced vs 1.1 s materialized (measured, identical rows),
    * and the nine-variant x44 oracle was worse. Recursive heads
    * (`walk(n, r) AS (`) and column-aliased VALUES heads
    * (`q(query_id, token) AS (`) end in `)` so the bare-identifier
    * pattern skips them — required, since `MATERIALIZED` is invalid on a
    * recursive CTE — and a lookbehind skips named-window clauses
    * (`WINDOW w AS (PARTITION BY …)`, the one other bare-identifier
    * `AS (` in the dialect). Idempotent (the head of an already-fenced
    * CTE is followed by ` AS MATERIALIZED (`, which can't match).
    * Applied to the whole oracle map at [[graft.SparkEntry.oracleSql]];
    * identity verified per-query against the un-fenced plans (all 114,
    * equal including row order). */
  private[graft] def materializedCtes(sql: String): String =
    sql.replaceAll("""(?i)(?<!window )\b([A-Za-z_][A-Za-z0-9_]*) AS \(""",
      "$1 AS MATERIALIZED (")

  // --- brute-force cosine top-k (x10) -------------------------------------

  /** Exact cosine top-k: for each query vector (by id), the k nearest
    * corpus vectors (self excluded). The query set is broadcast — the
    * corpus is scanned exactly once regardless of |queries|; per-query
    * ranking is a window (partitioned by query) over the joined
    * similarities.
    *
    * This is the deliberate EXACT BASELINE, not the production retrieval
    * path: it scores every corpus vector against every query (one full
    * corpus scan × |queries| dot products), which at 100 TB is priced
    * per-query-batch and only worth paying to ground truth. Its consumer
    * is [[annRecall]] (x44), which cross-checks every ANN variant
    * ([[annTopK]], [[annTopKMultiProbe]], [[ivfTopK]],
    * [[annTopKQuantized]]) against this result end-to-end; production
    * retrieval at scale goes through those bucketed variants. */
  def cosineTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
    val q = e.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = e.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v")), 6).as("cosine"))
      .where(!isnan(col("cosine"))) // zero/corrupt vectors: NaN sorts FIRST desc
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  def cosineTopKSql(queryIds: Seq[Long], k: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), n AS (
       |  SELECT vec_id, v, ${normSql("v")} AS nrm FROM e
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id,
       |    round(${dotSql("q.v", "c.v")} / (q.nrm * c.nrm), 6) AS cosine
       |  FROM n q, n c
       |  WHERE q.vec_id IN (${queryIds.mkString(",")}) AND c.vec_id <> q.vec_id
       |)
       |SELECT query_id, vec_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
       |FROM scored
       |WHERE cosine IS NOT NULL AND NOT isnan(cosine)
       |QUALIFY rn <= $k""".stripMargin

  // --- multi-vector (per-chunk) dense retrieval (x83) ---------------------

  /** Deterministic per-chunk embedding view over the fixtures: chunk
    * `c` of doc `d` embeds as the doc vector for even `c` and its
    * reversal for odd `c` — the engine-level stand-in for a
    * chunk-embedding model (the multimodal derive-from-fixture
    * convention: the MECHANICS — one vector per chunk, composite
    * (doc, chunk) key, MaxSim fusion — are what the operator
    * exercises; a deployment swaps this derivation for real model
    * output). One map-only chunk pass equi-joined to the embedding
    * frame by id. */
  def chunkEmbeddings(docs: DataFrame, embeddings: DataFrame,
      window: Int = TextOps.ChunkWindow,
      overlap: Int = TextOps.ChunkOverlap): DataFrame =
    chunkEmbeddingsFrom(TextOps.chunkDocs(docs, window, overlap), embeddings)

  /** [[chunkEmbeddings]] over a PREBUILT chunk frame — shares one
    * [[TextOps.chunkDocs]] pass with the lexical chunk index instead of
    * re-chunking the corpus per consumer ([[HybridOps.chunkHybridTopK]]
    * chunks exactly once and feeds this plus
    * [[TextOps.chunkBm25StatsFrom]] from the same frame). This (and every chunk-dense builder downstream —
    * [[multiVectorTopK]], [[chunkIvfPqIndex]]) is ALSO the
    * external-model ingestion seam: a deployment that embeds chunks
    * with a real model hands any `(doc_id, chunk_id, embedding)` frame
    * in place of this derivation and nothing downstream changes. */
  def chunkEmbeddingsFrom(chunks: DataFrame, embeddings: DataFrame): DataFrame =
    chunks.select("doc_id", "chunk_id")
      .join(embeddings.select(col("vec_id").as("doc_id"), col("embedding")),
        "doc_id")
      .select(col("doc_id"), col("chunk_id"),
        when(col("chunk_id") % 2 === 1, reverse(col("embedding")))
          .otherwise(col("embedding")).as("embedding"))

  /** Multi-vector dense retrieval with MaxSim doc fusion — ColBERT-
    * style late interaction reduced to one vector per chunk: every
    * chunk vector scores against the query vector (brute cosine, the
    * x10 exact-baseline convention), each doc keeps its BEST chunk
    * (max cosine, chunk_id tiebreak — the passage attribution), docs
    * rank by that best-chunk cosine. The dense twin of
    * [[TextOps.bm25ChunkTopKFrom]]'s chunk-ranked doc-deduped serve:
    * a long doc whose one relevant passage the doc-level vector
    * averages away is found by its chunk vector.
    *
    * Scale shape: the query batch broadcasts (corpus scanned once per
    * batch regardless of |queries|); MaxSim is a window over the
    * scored (query, doc) chunk rows. Brute scan = the deliberate exact
    * baseline, priced per-query-batch like [[cosineTopK]]; at corpus
    * scale the chunk vectors feed the SAME bucketed/coded index family
    * (a chunk row is just a vector with a composite id). */
  def multiVectorTopK(chunkEmb: DataFrame, embeddings: DataFrame,
      queryIds: Seq[Long], k: Int): DataFrame = {
    val ce = chunkEmb.select(col("doc_id"), col("chunk_id"),
      asDoubles(col("embedding")).as("v"))
    val q = embeddings.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"),
        asDoubles(col("embedding")).as("qv"))
    val scored = ce.crossJoin(broadcast(q))
      .where(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"), col("chunk_id"),
        round(cosine(col("qv"), col("v")), 6).as("cosine"))
      .where(!isnan(col("cosine")))
    val wBest = Window.partitionBy("query_id", "doc_id")
      .orderBy(desc("cosine"), asc("chunk_id"))
    val best = scored.withColumn("rc", row_number().over(wBest))
      .where(col("rc") === 1).drop("rc")
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("doc_id"))
    best.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  /** [[multiVectorTopK]] oracle over [[chunkEmbeddings]]' derivation —
    * the chunk CTE joined to embeddings, parity-reversed, the exact
    * fold-dot cosine chain, the MaxSim window, the doc rank. */
  def multiVectorTopKSql(queryIds: Seq[Long], k: Int): String =
    s"""WITH mvck AS (
       |  SELECT doc_id, chunk_id
       |  FROM (${TextOps.chunkDocsSql()})
       |), mvn0 AS (
       |  SELECT doc_id, chunk_id,
       |    list_transform(CASE WHEN chunk_id % 2 = 1
       |      THEN list_reverse(embedding) ELSE embedding END,
       |      x -> CAST(x AS DOUBLE)) AS v
       |  FROM mvck JOIN embeddings ON embeddings.vec_id = mvck.doc_id
       |), mvn AS (
       |  SELECT doc_id, chunk_id, v, ${normSql("v")} AS nrm FROM mvn0
       |), mvq0 AS (
       |  SELECT vec_id AS query_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
       |  FROM embeddings WHERE vec_id IN (${queryIds.mkString(",")})
       |), mvq AS (
       |  SELECT query_id, qv, ${normSql("qv")} AS qnrm FROM mvq0
       |), mvscored AS (
       |  SELECT mvq.query_id, mvn.doc_id, mvn.chunk_id,
       |    round(${dotSql("mvq.qv", "mvn.v")} / (mvq.qnrm * mvn.nrm), 6)
       |      AS cosine
       |  FROM mvn, mvq
       |  WHERE mvn.doc_id <> mvq.query_id
       |), mvbest AS (
       |  SELECT query_id, doc_id, chunk_id, cosine FROM mvscored
       |  WHERE cosine IS NOT NULL AND NOT isnan(cosine)
       |  QUALIFY row_number() OVER (PARTITION BY query_id, doc_id
       |    ORDER BY cosine DESC, chunk_id) = 1
       |)
       |SELECT query_id, doc_id, chunk_id, cosine,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, doc_id) AS rn
       |FROM mvbest
       |QUALIFY rn <= $k""".stripMargin

  // --- chunk-vector residual IVFADC (x85) ----------------------------------

  /** Stride of the composite chunk key: a chunk vector's id is
    * `doc_id * ChunkStride + chunk_id`, so the chunk frame rides the
    * ENTIRE doc-level index family unchanged (one BIGINT id per vector)
    * and both engines decompose it back with exact integer `DIV`/`%`.
    * 2²⁰ chunks per doc is far beyond any real chunking (a 64-token
    * window over a 67M-token doc); the encode asserts the bound instead
    * of silently colliding. Doc ids stay exact up to 2⁴³ — a corpus
    * keyed beyond that re-keys docs before chunk indexing (documented,
    * like every id-space convention here). */
  val ChunkStride: Long = 1L << 20

  /** The composite id column, overflow-asserted: `assert_true` raises
    * on any (doc, chunk) pair outside the documented id space — a
    * negative chunk_id (reachable through the external-model ingestion
    * seam, which accepts any caller-supplied chunk frame) or one
    * at/past the stride would silently alias onto another doc's key
    * range, and a doc_id negative or past 2⁴³ would overflow the
    * multiply. Raise instead of aliasing (the fail-loudly convention;
    * the guard is a never-taken branch in codegen, not a scan). */
  private def compositeChunkId: Column =
    when(assert_true(
      col("chunk_id") >= 0 && col("chunk_id") < ChunkStride &&
        col("doc_id") >= 0 && col("doc_id") < (1L << 43)).isNull,
      col("doc_id") * ChunkStride + col("chunk_id"))

  /** Residual-IVFADC index frame over CHUNK vectors — the scale path
    * x83's brute MaxSim scan deliberately baselines: [[chunkEmbeddings]]'
    * `(doc_id, chunk_id, embedding)` rows re-keyed composite and run
    * through [[ivfPqIndex]] VERBATIM (a chunk row is just a vector with
    * a composite id), so the output `(vec_id, codes, cell)` writes
    * `partitionBy(cell)` and serves partition-pruned exactly like the
    * doc-level index. Books are the snapshot's own coarse + residual
    * codebooks — chunk vectors live in the doc-vector space, so the
    * doc-trained books encode them under the same fixed codebooks. */
  def chunkIvfPqIndex(chunkEmb: DataFrame, cents: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]]): DataFrame =
    ivfPqIndex(
      chunkEmb.select(compositeChunkId.as("vec_id"), col("embedding")),
      cents, books, residual = true)

  /** Chunk-dense top-k from a stored composite-key chunk index — the
    * production multi-vector serve: probe-pruned scan (the caller
    * filters the cell-partitioned artifact to the probed cells, the
    * x60 device) → residual ADC on the surviving CHUNK codes → MaxSim
    * (best ADC chunk per doc — the attribution) → docs ranked by that
    * best-chunk cosine. Same output shape as [[multiVectorTopK]]
    * (`query_id, doc_id, chunk_id, cosine, rn`), so the exact brute
    * scan and this indexed serve are recall-comparable row for row.
    *
    * Scale shape: NO corpus-frame join (the probes attach as literals);
    * candidate count ∝ nprobe/cells of the CHUNK corpus, bandwidth m
    * ids per chunk; the MaxSim window runs over probed survivors only,
    * never the corpus. Queries are DOC-level vectors (`embeddings`),
    * the [[multiVectorTopK]] convention. */
  /** The probe-pruned residual-ADC scoring shared by
    * [[chunkIvfPqTopKFromIndex]] and [[chunkIvfPqRefineTopK]]'s stage
    * 1: literal probe attach, composite-key decomposition, ADC
    * cosine — `(query_id, doc_id, chunk_id, cosine)`, self-matches and
    * NaNs screened. */
  private def chunkAdcScored(index: DataFrame, probe: ProbePlan,
      cents: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]]): DataFrame =
    index.select(col("vec_id"), col("codes"), col("cell"),
        probe.queriesOf(col("cell")).as("query_id"))
      .select(col("query_id"),
        expr(s"vec_id DIV $ChunkStride").as("doc_id"),
        pmod(col("vec_id"), lit(ChunkStride)).as("chunk_id"),
        round(cosine(probe.vectorOf(col("query_id")),
          pqDecode(col("codes"), col("cell"), cents, books)), 6).as("cosine"))
      .where(col("doc_id") =!= col("query_id") && !isnan(col("cosine")))

  /** Best chunk per (query, doc), then docs ranked by that best-chunk
    * cosine — the MaxSim + rank tail shared by every chunk-dense
    * serve. */
  private def maxSimRanked(scored: DataFrame, k: Int): DataFrame = {
    val wBest = Window.partitionBy("query_id", "doc_id")
      .orderBy(desc("cosine"), asc("chunk_id"))
    val best = scored.withColumn("rc", row_number().over(wBest))
      .where(col("rc") === 1).drop("rc")
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("doc_id"))
    best.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  def chunkIvfPqTopKFromIndex(index: DataFrame, embeddings: DataFrame,
      queryIds: Seq[Long], k: Int, nprobe: Int, cents: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]],
      probe: Option[ProbePlan] = None): DataFrame =
    maxSimRanked(chunkAdcScored(index,
      probe.getOrElse(probePlanOf(embeddings, queryIds, cents, nprobe)),
      cents, books), k)

  /** Two-stage CHUNK refine — [[ivfPqRefineTopK]]'s production shape
    * (Jégou PAMI'11 §V re-ranking) at chunk level: stage 1 pulls an
    * ADC shortlist of `r > k` CHUNKS per query from the probe-pruned
    * composite-key index (codes-only bandwidth), stage 2 re-scores
    * ONLY those r·|queries| chunk vectors exactly against the chunk
    * float column, and MaxSim + doc rank run over the exact scores.
    * Corrects quantization-induced rank inversions near the cut —
    * including WITHIN a doc (the ADC best chunk can be the wrong
    * passage; the exact rerank fixes the attribution too).
    *
    * `chunkEmb` is the full-precision `(doc_id, chunk_id, embedding)`
    * frame ([[chunkEmbeddings]]' derivation or the external-model
    * ingestion seam); the broadcast shortlist turns the rerank into
    * one scan of it joined map-side — bounded lookups at corpus
    * scale, never a per-chunk candidate scan. Recall ceiling is stage
    * 1's candidate set (measured beside the plain ADC serve in
    * [[annRecall]]). */
  def chunkIvfPqRefineTopK(index: DataFrame, chunkEmb: DataFrame,
      embeddings: DataFrame, queryIds: Seq[Long], k: Int, r: Int,
      nprobe: Int, cents: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]],
      probe: Option[ProbePlan] = None): DataFrame = {
    require(r >= k, s"shortlist r=$r must be >= k=$k")
    val p = probe.getOrElse(probePlanOf(embeddings, queryIds, cents, nprobe))
    val scored = chunkAdcScored(index, p, cents, books)
    val wS = Window.partitionBy("query_id")
      .orderBy(desc("cosine"), asc("doc_id"), asc("chunk_id"))
    val short = scored.withColumn("rs", row_number().over(wS))
      .where(col("rs") <= r).select("query_id", "doc_id", "chunk_id")
    val ce = chunkEmb.select(col("doc_id"), col("chunk_id"),
      asDoubles(col("embedding")).as("v"))
    val exact = ce.join(broadcast(short), Seq("doc_id", "chunk_id"))
      .select(col("query_id"), col("doc_id"), col("chunk_id"),
        round(cosine(p.vectorOf(col("query_id")), col("v")), 6).as("cosine"))
      .where(!isnan(col("cosine")))
    maxSimRanked(exact, k)
  }

  /** [[chunkIvfPqTopKFromIndex]] oracle, generalized over train/serve
    * corpora: coarse + residual books train on `trainEmbSql`'s corpus
    * ONLY; the chunk frame derives
    * from `serveDocsSql`'s docs × `serveEmbSql`'s vectors ([[
    * chunkEmbeddings]]' parity rule, composite key); chunk vectors are
    * assigned + residual-encoded under the FIXED books; probes draw the
    * DOC-level query vectors from the serve corpus; ADC → MaxSim → doc
    * rank. Defaults = the full fixture on both sides (the x85 chain). */
  /** [[chunkIvfPqRefineTopK]]'s two-stage oracle tail: the ADC
    * shortlist of `r` chunks per query re-scored EXACTLY against the
    * serve corpus's chunk vectors (`cke`) — appended after `cscored`
    * by [[chunkIvfPqMaxSimSql]] and [[chunkRecallPairSql]]. */
  private[operators] def chunkRefineCtesSql(queryIds: Seq[Long], r: Int): String =
    s""", crfs AS (
       |  SELECT query_id, doc_id, chunk_id FROM cscored
       |  WHERE cosine IS NOT NULL AND NOT isnan(cosine)
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, doc_id, chunk_id) <= $r
       |), crfq AS (
       |  SELECT vec_id AS query_id, v AS qv FROM ses
       |  WHERE vec_id IN (${queryIds.mkString(",")})
       |), crfx AS (
       |  SELECT s.query_id, s.doc_id, s.chunk_id,
       |    round(${dotSql("crfq.qv", "ck2.v")} /
       |      (${normSql("crfq.qv")} * ${normSql("ck2.v")}), 6) AS cosine
       |  FROM crfs s
       |  JOIN cke ck2 ON ck2.doc_id = s.doc_id
       |    AND ck2.chunk_id = s.chunk_id
       |  JOIN crfq ON crfq.query_id = s.query_id
       |)""".stripMargin

  def chunkIvfPqMaxSimSql(queryIds: Seq[Long], k: Int, nprobe: Int,
      trainEmbSql: String =
        "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v\nFROM embeddings",
      serveEmbSql: String =
        "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v\nFROM embeddings",
      serveDocsSql: Option[String] = None,
      allowedSql: Option[String] = None,
      refine: Option[Int] = None,
      chunkIdsSql: Option[String] = None,
      iters: Int = KMeansIters, m: Int = PqSubspaces,
      ksub: Int = PqSubCentroids, pqIters: Int = PqIters,
      cellsSql: String = NumCentroids.toString): String = {
    val (maxSimSrc, refineCtes) = refine match {
      case None => ("cscored", "")
      case Some(r) => ("crfx", chunkRefineCtesSql(queryIds, r))
    }
    materializedCtes(s"""WITH ${chunkAdcChainSql(queryIds, nprobe,
        trainEmbSql, serveEmbSql, serveDocsSql, allowedSql, iters, m,
        ksub, pqIters, chunkIdsSql, cellsSql)}$refineCtes, cbest AS (
       |  SELECT query_id, doc_id, chunk_id, cosine FROM $maxSimSrc
       |  WHERE cosine IS NOT NULL AND NOT isnan(cosine)
       |  QUALIFY row_number() OVER (PARTITION BY query_id, doc_id
       |    ORDER BY cosine DESC, chunk_id) = 1
       |)
       |SELECT query_id, doc_id, chunk_id, cosine,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, doc_id) AS rn
       |FROM cbest
       |QUALIFY rn <= $k""".stripMargin)
  }

  /** BOTH chunk variants (plain ADC and refine) ranked off ONE shared
    * train→encode→probe chain, tagged by method — [[annRecallSql]]'s
    * chunk block: embedding the two as independent subqueries would
    * make DuckDB materialize the identical training chain twice per
    * gate run. */
  private[graft] def chunkRecallPairSql(queryIds: Seq[Long], k: Int,
      nprobe: Int, r: Int): String =
    materializedCtes(s"""WITH ${chunkAdcChainSql(queryIds, nprobe,
        "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v\nFROM embeddings",
        "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v\nFROM embeddings",
        None, None, KMeansIters, PqSubspaces, PqSubCentroids,
        PqIters)}${chunkRefineCtesSql(queryIds, r)}, pbst AS (
       |  SELECT query_id, doc_id, chunk_id, cosine FROM cscored
       |  WHERE cosine IS NOT NULL AND NOT isnan(cosine)
       |  QUALIFY row_number() OVER (PARTITION BY query_id, doc_id
       |    ORDER BY cosine DESC, chunk_id) = 1
       |), rbst AS (
       |  SELECT query_id, doc_id, chunk_id, cosine FROM crfx
       |  WHERE cosine IS NOT NULL AND NOT isnan(cosine)
       |  QUALIFY row_number() OVER (PARTITION BY query_id, doc_id
       |    ORDER BY cosine DESC, chunk_id) = 1
       |)
       |SELECT '$ChunkRecallMethod' AS method, query_id, doc_id AS vec_id
       |FROM (SELECT query_id, doc_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rn
       |  FROM pbst)
       |WHERE rn <= $k
       |UNION ALL
       |SELECT '$ChunkRefineRecallMethod' AS method, query_id, doc_id AS vec_id
       |FROM (SELECT query_id, doc_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rn
       |  FROM rbst)
       |WHERE rn <= $k""".stripMargin)

  /** The shared train → residual-book → chunk-encode → probe → ADC CTE
    * chain, ending at `cscored` (no WITH prefix) — single-sourced for
    * [[chunkIvfPqMaxSimSql]] and [[chunkRecallPairSql]]. */
  private[operators] def chunkAdcChainSql(queryIds: Seq[Long], nprobe: Int,
      trainEmbSql: String =
        "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v\nFROM embeddings",
      serveEmbSql: String =
        "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v\nFROM embeddings",
      serveDocsSql: Option[String] = None,
      allowedSql: Option[String] = None,
      iters: Int = KMeansIters, m: Int = PqSubspaces,
      ksub: Int = PqSubCentroids, pqIters: Int = PqIters,
      // swaps the chunk-key source for a derived `(doc_id, chunk_id)`
      // SELECT (e.g. BPE-metered windows — [[graft.operators.TextOps
      // .bpeChunkIdsSql]]); absent = the whitespace-window default
      chunkIdsSql: Option[String] = None,
      // cell-count SQL expression — [[adaptiveCellsSql]] for snapshot
      // chains (the engine sized cells from the corpus count), a
      // literal for fixed-codebook artifact chains
      cellsSql: String = NumCentroids.toString): String = {
    // pre-filter semantics ([[HybridOps.searchFilteredSql]]'s): the
    // allowed doc-id list restricts candidates BEFORE the
    // MaxSim/rank (all of a filtered doc's chunks drop together); the
    // probed cells stay collection-global
    val restrict = allowedSql
      .map(a => s" AND x.doc_id IN ($a)").getOrElse("")
    val d = Dim / m
    val perSub = (0 until m).map { mi =>
      val a = mi * d + 1
      val b = (mi + 1) * d
      s"""cc_$mi AS (
         |  SELECT s.vec_id, p.cent_id AS code,
         |    row_number() OVER (PARTITION BY s.vec_id ORDER BY
         |      ${l2sqSql("s.sv", "p.cv", d)}, p.cent_id) AS rn
         |  FROM (SELECT vec_id, v[$a:$b] AS sv FROM cres) s
         |  CROSS JOIN (SELECT cent_id, cv FROM pcents WHERE sub = $mi) p
         |  QUALIFY rn = 1
         |)""".stripMargin
    }
    val ccodes = (0 until m)
      .map(mi => s"SELECT vec_id, CAST($mi AS INT) AS sub, code FROM cc_$mi")
      .mkString("ccodes AS (\n", "\n  UNION ALL\n", "\n)")
    s"""e AS (
       |$trainEmbSql
       |),
       |${kmeansCtes(cellsSql, iters)},
       |cents AS (SELECT cent_id, cv FROM cents$iters),
       |tassign AS (
       |  SELECT vec_id, v, cent_id AS cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      ${dotSql("v", "cv")} / (${normSql("v")} * ${normSql("cv")}) DESC,
       |      cent_id) AS rn
       |  FROM e CROSS JOIN cents
       |  QUALIFY rn = 1
       |), res AS (
       |  SELECT a.vec_id,
       |    list_transform(range(1, ${Dim + 1}), i -> a.v[i] - c.cv[i]) AS v
       |  FROM tassign a JOIN cents c ON c.cent_id = a.cell
       |),
       |${pqKmeansCtes(m, ksub, pqIters, src = "res")},
       |ses AS (
       |$serveEmbSql
       |), cke AS (
       |  SELECT ck.doc_id * $ChunkStride + ck.chunk_id AS vec_id,
       |    ck.doc_id, ck.chunk_id,
       |    CASE WHEN ck.chunk_id % 2 = 1 THEN list_reverse(se.v)
       |         ELSE se.v END AS v
       |  FROM (SELECT doc_id, chunk_id
       |        FROM (${chunkIdsSql.getOrElse(
                  graft.operators.TextOps.chunkDocsSql(
                    docsSql = serveDocsSql))})) ck
       |  JOIN ses se ON se.vec_id = ck.doc_id
       |), cassign AS (
       |  SELECT vec_id, doc_id, chunk_id, v, cent_id AS cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      ${dotSql("v", "cv")} / (${normSql("v")} * ${normSql("cv")}) DESC,
       |      cent_id) AS rn
       |  FROM cke CROSS JOIN cents
       |  QUALIFY rn = 1
       |), cres AS (
       |  SELECT a.vec_id,
       |    list_transform(range(1, ${Dim + 1}), i -> a.v[i] - c.cv[i]) AS v
       |  FROM cassign a JOIN cents c ON c.cent_id = a.cell
       |),
       |${perSub.mkString(",\n")},
       |$ccodes,
       |crecon AS (
       |  SELECT c.vec_id, flatten(list(p.cv ORDER BY c.sub)) AS rv
       |  FROM ccodes c JOIN pcents p ON p.sub = c.sub AND p.cent_id = c.code
       |  GROUP BY c.vec_id
       |), cxhat AS (
       |  SELECT r.vec_id, a.doc_id, a.chunk_id, a.cell,
       |    list_transform(range(1, ${Dim + 1}), i -> c.cv[i] + r.rv[i]) AS rv
       |  FROM crecon r
       |  JOIN cassign a ON a.vec_id = r.vec_id
       |  JOIN cents c ON c.cent_id = a.cell
       |), cprobes AS (
       |  SELECT q.vec_id AS query_id, q.v AS qv, cent_id AS cell,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${dotSql("q.v", "cv")} / (${normSql("q.v")} * ${normSql("cv")}) DESC,
       |      cent_id) AS rn
       |  FROM ses q CROSS JOIN cents
       |  WHERE q.vec_id IN (${queryIds.mkString(",")})
       |  QUALIFY rn <= $nprobe
       |), cscored AS (
       |  SELECT p.query_id, x.doc_id, x.chunk_id,
       |    round(${dotSql("p.qv", "x.rv")} /
       |      (${normSql("p.qv")} * ${normSql("x.rv")}), 6) AS cosine
       |  FROM cprobes p JOIN cxhat x ON x.cell = p.cell AND x.doc_id <> p.query_id$restrict
       |)""".stripMargin
  }

  // --- random-hyperplane LSH (x11/x12) ------------------------------------

  /** Default hyperplane count — sized for the sf fixtures (≤ ~10⁵
    * vectors). The plane count is THE scale knob of this index: expected
    * bucket population is n / 2^planes and candidate-pair work is
    * Σ bucket² ≈ n² / 2^planes, so it must grow with the corpus —
    * pick planes ≈ log2(n / targetBucketSize) (e.g. ≥ 20 planes for a
    * 10⁹-vector corpus at ~10³ vectors/bucket). 2^planes is also the
    * number of distinct join keys, i.e. the parallelism ceiling of the
    * bucket join. Every public entry point takes `numPlanes` so callers
    * tune it per corpus; 6 is only the fixture default. */
  val NumPlanes = 6

  /** Deterministic pseudo-random hyperplane components in [-1, 1),
    * generated by a fixed LCG-style formula — identical constants are
    * inlined into the oracle SQL. Plane j is the same for every
    * `numPlanes`, so growing the plane count only splits buckets (each
    * k-plane bucket is the union of two (k+1)-plane buckets). */
  def planesFor(numPlanes: Int): Seq[Seq[Double]] =
    (0 until numPlanes).map { j =>
      (0 until Dim).map { d =>
        val x = ((j * Dim + d) * 2654435761L + 12345L) % 2001L
        (x - 1000L) / 1000.0
      }
    }

  val planes: Seq[Seq[Double]] = planesFor(NumPlanes)

  private def planeLit(p: Seq[Double]): Column = array(p.map(lit): _*)
  private def planeSqlLit(p: Seq[Double]): String = s"[${p.mkString(", ")}]"

  /** LSH bucket id: bit j = (v · r_j ≥ 0). Per-row expression — bucketing
    * a 100 TB corpus is a map-only scan. */
  def bucketOf(v: Column, numPlanes: Int = NumPlanes): Column =
    planesFor(numPlanes).zipWithIndex.map { case (p, j) =>
      when(dot(v, planeLit(p)) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  def bucketSql(v: String, numPlanes: Int = NumPlanes): String =
    planesFor(numPlanes).zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN ${dotSql(v, planeSqlLit(p))} >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  /** ANN top-k: like [[cosineTopK]] but candidates are restricted to the
    * query's LSH bucket — the index-backed scale path (expected candidate
    * count n / 2^planes per query). Exactness traded for a bucket-local
    * scan; recall is the spec-tested property. */
  def annTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      numPlanes: Int = NumPlanes): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
      .withColumn("bucket", bucketOf(col("v"), numPlanes))
    val q = e.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("bucket").as("qbucket"))
    val scored = e.join(broadcast(q), col("bucket") === col("qbucket") &&
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("bucket"),
        round(cosine(col("qv"), col("v")), 6).as("cosine"))
      .where(!isnan(col("cosine")))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  def annTopKSql(queryIds: Seq[Long], k: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), n AS (
       |  SELECT vec_id, v, ${normSql("v")} AS nrm, ${bucketSql("v")} AS bucket FROM e
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id, c.bucket,
       |    round(${dotSql("q.v", "c.v")} / (q.nrm * c.nrm), 6) AS cosine
       |  FROM n q JOIN n c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id IN (${queryIds.mkString(",")})
       |)
       |SELECT query_id, vec_id, bucket, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
       |FROM scored
       |WHERE cosine IS NOT NULL AND NOT isnan(cosine)
       |QUALIFY rn <= $k""".stripMargin

  /** [[annTopK]] with candidates restricted to an `allowed` doc-id
    * frame — the cross-table sibling of [[annTopKFiltered]] (there the
    * filter is a predicate over the corpus's own metadata column; here
    * it is membership in a set computed elsewhere, e.g. a documents
    * predicate in the shared doc_id == vec_id space). Pre-filter: the
    * semi-join lands on the corpus side BEFORE the bucket join, so the
    * result is the true top-k among allowed vectors; buckets stay
    * global; queries are looked up unfiltered. The allowed frame
    * broadcasts (it is an id list, not corpus bytes). */
  def annTopKAllowed(embeddings: DataFrame, allowed: DataFrame,
      queryIds: Seq[Long], k: Int, numPlanes: Int = NumPlanes): DataFrame = {
    val e0 = embeddings.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
    val e = e0.join(broadcast(allowed.toDF("vec_id")), Seq("vec_id"), "left_semi")
      .withColumn("bucket", bucketOf(col("v"), numPlanes))
    val q = e0.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        bucketOf(col("v"), numPlanes).as("qbucket"))
    val scored = e.join(broadcast(q), col("bucket") === col("qbucket") &&
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v")), 6).as("cosine"))
      .where(!isnan(col("cosine")))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  /** [[annTopKAllowed]] oracle — `allowedSql` is a one-column id
    * subquery in the shared id space. */
  def annTopKAllowedSql(queryIds: Seq[Long], k: Int,
      allowedSql: String): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), n AS (
       |  SELECT vec_id, v, ${normSql("v")} AS nrm, ${bucketSql("v")} AS bucket FROM e
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id,
       |    round(${dotSql("q.v", "c.v")} / (q.nrm * c.nrm), 6) AS cosine
       |  FROM n q JOIN n c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id IN (${queryIds.mkString(",")})
       |    AND c.vec_id IN ($allowedSql)
       |)
       |SELECT query_id, vec_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
       |FROM scored
       |WHERE cosine IS NOT NULL AND NOT isnan(cosine)
       |QUALIFY rn <= $k""".stripMargin

  /** Filtered ANN top-k ("filtered vector search"): [[annTopK]] with a
    * metadata predicate applied to the CORPUS side BEFORE the bucket
    * join — pre-filter semantics, so the result is the true top-k among
    * matching vectors (a post-filter of an unfiltered top-k can return
    * fewer than k, or none, under selective predicates). Queries are
    * looked up in the UNFILTERED corpus: a query vector need not satisfy
    * its own predicate. The filter composes with pushdown — a predicate
    * on a scan column prunes parquet row groups before any distance math
    * runs. */
  def annTopKFiltered(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      pred: Column, numPlanes: Int = NumPlanes): DataFrame = {
    val e0 = embeddings.select(col("vec_id"),
      asDoubles(col("embedding")).as("v"), col("label"))
    val e = e0.where(pred)
      .withColumn("bucket", bucketOf(col("v"), numPlanes))
    val q = e0.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        bucketOf(col("v"), numPlanes).as("qbucket"))
    val scored = e.join(broadcast(q), col("bucket") === col("qbucket") &&
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        round(cosine(col("qv"), col("v")), 6).as("cosine"))
      .where(!isnan(col("cosine")))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  /** [[annTopKFiltered]] oracle under a SQL predicate over `label`.
    * `predSql` must reference the corpus metadata column as the BARE
    * word `label` (it is qualified to `c.label` via a word-boundary
    * rewrite — so `label2` or other identifiers merely containing the
    * substring survive; a string LITERAL containing the bare word
    * `label` would still be rewritten, so don't use one). */
  def annTopKFilteredSql(queryIds: Seq[Long], k: Int, predSql: String): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, label
       |  FROM embeddings
       |), n AS (
       |  SELECT vec_id, v, label, ${normSql("v")} AS nrm, ${bucketSql("v")} AS bucket FROM e
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id, c.label,
       |    round(${dotSql("q.v", "c.v")} / (q.nrm * c.nrm), 6) AS cosine
       |  FROM n q JOIN n c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id IN (${queryIds.mkString(",")}) AND (${predSql.replaceAll("\\blabel\\b", "c.label")})
       |)
       |SELECT query_id, vec_id, label, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
       |FROM scored
       |WHERE cosine IS NOT NULL AND NOT isnan(cosine)
       |QUALIFY rn <= $k""".stripMargin

  /** Multi-probe ANN top-k: like [[annTopK]] but each query also probes
    * every bucket at Hamming distance 1 from its own (flip one plane
    * bit) — the classic multi-probe LSH recall boost: ×(planes+1)
    * candidates instead of ×2^planes more tables. Candidate generation
    * stays a bucket equi-join: the query side explodes to its probe
    * set, the corpus is never rescanned. */
  def annTopKMultiProbe(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      numPlanes: Int = NumPlanes): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
      .withColumn("bucket", bucketOf(col("v"), numPlanes))
    val probeSet = array((lit(0L) +: (0 until numPlanes).map(j => lit(1L << j))): _*)
    val q = e.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        explode(transform(probeSet, m => col("bucket").bitwiseXOR(m))).as("qbucket"))
    val scored = e.join(broadcast(q), col("bucket") === col("qbucket") &&
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("bucket"),
        round(cosine(col("qv"), col("v")), 6).as("cosine"))
      .where(!isnan(col("cosine")))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  def annTopKMultiProbeSql(queryIds: Seq[Long], k: Int,
      numPlanes: Int = NumPlanes): String = {
    val masks = 0L +: (0 until numPlanes).map(j => 1L << j)
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), n AS (
       |  SELECT vec_id, v, ${normSql("v")} AS nrm, ${bucketSql("v", numPlanes)} AS bucket FROM e
       |), probes AS (
       |  SELECT vec_id AS query_id, v AS qv, nrm AS qnrm,
       |    unnest(list_transform([${masks.mkString(", ")}], m -> xor(bucket, m))) AS pbucket
       |  FROM n WHERE vec_id IN (${queryIds.mkString(",")})
       |), scored AS (
       |  SELECT p.query_id, c.vec_id, c.bucket,
       |    round(${dotSql("p.qv", "c.v")} / (p.qnrm * c.nrm), 6) AS cosine
       |  FROM probes p JOIN n c ON c.bucket = p.pbucket AND c.vec_id <> p.query_id
       |)
       |SELECT query_id, vec_id, bucket, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
       |FROM scored
       |WHERE cosine IS NOT NULL AND NOT isnan(cosine)
       |QUALIFY rn <= $k""".stripMargin
  }

  // --- IVF (inverted-file) ANN (x13) --------------------------------------

  /** Default coarse-codebook size, sized k ≈ √n for the 500–2,000
    * vector fixtures (√500 ≈ 22, √2000 ≈ 45) and RAISED from the
    * original 16 on the [[codebookCurve]] (x94) evidence: at the
    * shipped serve point (nprobe=2, r=40) doc-refine recall@5 measured
    * 0.448 → 0.628 → 0.840 for 16 → 32 → 64 cells on the 2,000-vector
    * fixture (sf0.1; 0.524 → 0.628 → 0.696 on the 500-vector sf0.001)
    * — the codebook axis moves the recall CEILING where nprobe/r only
    * trade along it, and the lift comes at a SMALLER scan fraction per
    * probe. 32 is the √n bracket midpoint across the fixtures (64
    * over-cells the 500-vector fixtures to ~8 members/cell while
    * √2000 ≈ 45 keeps rewarding more cells at sf0.1 — exactly the
    * k ≈ √n shape). A deployment re-sizes by its own x94 sweep:
    * cells ~ √n, probe fraction read off the curve. */
  val NumCentroids = 32

  /** Cell count derived from the corpus size — the k ≈ √n guidance the
    * x94 codebook curve MEASURED (recall@5 at the shipped serve point
    * ran 0.448 → 0.628 → 0.840 for 16 → 32 → 64 cells on the
    * 2,000-vector fixture) turned into the behavior a build gets by
    * default: [[graft.serve.Retrieval.build]] sizes its coarse
    * codebook with this instead of baking [[NumCentroids]], so
    * a 10⁹-vector corpus trains ~31,623 cells without the operator
    * knowing to override anything, and the trained count persists with
    * the codebook (cells = the stored centroid rows). Clamped to
    * [16, 65536]: below 16 cells probe pruning stops paying for its
    * bookkeeping; above 65,536 the probe ranking's driver fold and the
    * codebook-as-literal plan payload need the hierarchical-codebook
    * treatment this engine doesn't ship. Exactly mirrored by
    * [[adaptiveCellsSql]] (round = half-up on a positive double in
    * both engines; √n of an integer can never land exactly on .5).
    *
    * The CHUNK index shares the doc-level codebook deliberately, even
    * though its row count is ~windows-per-doc × n and k ≈ √n would
    * size it finer: one codebook means one probe ranking per query
    * (both families prune on the same cells), one artifact to
    * maintain/pin, and shared residual books. What finer cells would
    * buy the chunk family is MEASURED, not assumed — the x94 curve
    * sweeps both families across cell counts; read its `chunk_*` rows
    * before splitting the codebooks at a deployment's scale. */
  def adaptiveCells(n: Long): Int =
    math.max(16L, math.min(65536L, math.round(math.sqrt(n.toDouble)))).toInt

  /** [[adaptiveCells]] as a DuckDB scalar subquery over the train CTE,
    * so an oracle chain derives the SAME cell count from the same
    * corpus the engine counted. */
  def adaptiveCellsSql(src: String = "e"): String =
    s"(SELECT GREATEST(16, LEAST(65536, CAST(round(sqrt(count(*))) AS BIGINT))) FROM $src)"

  /** Fixed Lloyd iteration count for the trained codebook. Fixed — not
    * convergence-tested — so the oracle can unroll the same number of
    * rounds and the training cost is known up front: `KMeansIters`
    * rounds over one collected training set on the driver, or, above
    * the driver bound ([[DriverTrainPerCell]]), `KMeansIters` map-only
    * corpus scans, each reducing to ≤ cells×Dim aggregate rows. The
    * codebook is index metadata, trained once per corpus snapshot
    * and reused by every search. */
  val KMeansIters = 3

  /** Centroid means are taken over components quantized to a 2⁻²⁰ grid:
    * `floor(x·2²⁰ + 0.5)` per member component, summed as EXACT integers
    * (order-independent), divided back in double. Float sums would
    * differ in the last bits between Spark's partial-aggregate merge
    * order and a sequential scan — and those bits feed the next round's
    * assignments, so the trained codebook would not be reproducible
    * across engines or even across runs. Same half-up device as
    * [[quantizeInt8]]. Grid error is ~1e-6 per component — immaterial to
    * cell geometry. Exactness bound: |cell|·2²⁰·max|x| < 2⁵³ (bigint→
    * double casts are exact below that), i.e. ~10⁸ members per cell at
    * |x| ≤ 80; a 100 TB corpus raises `NumCentroids` long before that
    * binds (cells should scale ~√n anyway), or lowers the grid. */
  val KMeansGrid: Long = 1L << 20

  /** Literal centroid-array column [(cent_id, cv), …], id-ascending.
    * ~`cells×Dim` doubles of plan payload — codebook-as-literal means
    * assignment needs NO join, not even a broadcast. */
  private def centArrayLit(cents: Seq[Seq[Double]]): Column =
    array(cents.zipWithIndex.map { case (cv, i) =>
      struct(lit(i.toLong).as("cent_id"), array(cv.map(lit): _*).as("cv"))
    }: _*)

  /** Nearest-centroid argmax as a per-row left fold over the literal
    * codebook (shared by training rounds and final assignment) — the
    * corpus is never exploded, joined, or shuffled. Tiebreak: the fold
    * iterates cent_id-ascending and replaces only on a strictly greater
    * cosine — identical to a window ordered (cosine DESC, cent_id ASC).
    * NaN cosines (zero vectors) rank highest in both engines — Spark SQL
    * comparison semantics and DuckDB ordering both place NaN above every
    * other double. */
  private def cellOf(v: Column, cents: Seq[Seq[Double]]): Column =
    // the fused native kernel ([[graft.functions.CellArgmax]]): one
    // codegen'd loop over a double[][] reference object instead of
    // |cells| interpreted ArrayAggregate steps (CodegenFallback) each
    // allocating an accumulator struct — same arithmetic, same
    // left-to-right accumulation, same strict-> / NaN-greatest /
    // id-ascending tiebreak, so assignments are bit-identical to the
    // previous fold and to the oracle's window form (optimization
    // guide step 4: no non-codegen expressions in the encode scan)
    graft.functions.VectorFunctions.cellArgmax(v, cents)

  /** Deterministic Lloyd's k-means codebook. Init is seeded (the first
    * `k` vectors by id — the former stand-in codebook is exactly
    * iteration 0), then `iters` assignment+mean rounds. Empty cells
    * keep their previous centroid. Every arithmetic step (grid floor,
    * integer sum, double divide) is exactly mirrored in [[kmeansCtes]],
    * so the trained codebook is bit-identical to the oracle's.
    *
    * Up to `k × `[[DriverTrainPerCell]] vectors the rounds run on the
    * DRIVER over one bounded collect ([[trainSetOf]], 1–2 Spark jobs);
    * above it, as the distributed loop [[kmeansLoop]] (one job per
    * round). Both yield the same bits: the grid sums are exact
    * integers, so their order cannot matter. */
  def trainedCentroids(embeddings: DataFrame, k: Int = NumCentroids,
      iters: Int = KMeansIters): Seq[Seq[Double]] = {
    val e = vectorsOf(embeddings)
    trainSetOf(e, k.toLong * DriverTrainPerCell)
      .fold(kmeansLoop(e, k, iters))(centroidsOn(_, k, iters))
  }

  /** [[trainedCentroids]]' distributed loop over a `(vec_id, v)` frame:
    * the seed collect, then per round one map-only assignment scan whose
    * per-(cell, dim) grid-sums partial-aggregate map-side to ≤ k×Dim
    * rows — what reaches the driver is index METADATA (k×Dim longs),
    * never data. The large-corpus path, and the reference the
    * driver-training parity spec compares against. */
  private[graft] def kmeansLoop(e: DataFrame, k: Int,
      iters: Int): Seq[Seq[Double]] = {
    var cents: Seq[Seq[Double]] = e.where(col("vec_id") < k)
      .orderBy("vec_id").collect().toSeq
      .map(_.getSeq[Double](1).toSeq)
    // spread the per-iteration assignment scans (see [[pqCodesWide]]'s
    // narrow-scan note); the seed collect above stays on the raw scan
    val es = Par.spread(e, col("vec_id"))
    for (_ <- 1 to iters) {
      val stats = es
        .select(cellOf(col("v"), cents).as("cell"),
          posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg(sum(floor(col("x") * KMeansGrid + lit(0.5)).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val byCell = stats.groupBy(_.getLong(0))
      cents = cents.zipWithIndex.map { case (prev, ci) =>
        byCell.get(ci.toLong) match {
          case Some(rows) =>
            val n = rows.head.getLong(3).toDouble
            val byDim = rows.map(r => r.getInt(1) -> r.getLong(2)).toMap
            // same op order as the oracle: (sum → double) / n / grid
            (0 until Dim).map(d => byDim(d).toDouble / n / KMeansGrid.toDouble)
          case None => prev
        }
      }
    }
    cents
  }

  /** Training points per centroid up to which a codebook trains on the
    * driver from one collect — FAISS's training-sample rule (it trains
    * on at most 256 points per centroid). A derived bound, not an
    * option: `k` cells train on the driver up to `k × 256` vectors
    * (residual books share the coarse codebook's bound, raw PQ books use
    * their sub-centroid count). With [[adaptiveCells]] (k ≈ √n) that
    * covers every corpus of n ≤ 65,536, about 32 MB of doubles. */
  val DriverTrainPerCell = 256

  /** A training corpus held on the driver: `(vec_id, v)` with every `v`
    * Dim-wide, or null for a null embedding (skipped by every round, as
    * `posexplode(null)` skips it in the distributed loops). */
  private[graft] final case class TrainSet(ids: Array[Long],
      vs: Array[Array[Double]])

  /** `e(vec_id, v)` collected as a [[TrainSet]] when it has at most
    * `bound` rows, each null or Dim-wide without null elements — the
    * shape whose distributed training is order-independent; None
    * otherwise (train distributed). Without the row count `n` the
    * collect is a `limit(bound + 1)` probe, so the driver never holds
    * more than `bound + 1` rows; with it, one plain collect. */
  private[graft] def trainSetOf(e: DataFrame, bound: Long,
      n: Option[Long] = None): Option[TrainSet] =
    if (n.exists(_ > bound)) None
    else {
      val rows = n.fold(e.limit(math.min(bound + 1, Int.MaxValue).toInt))(_ => e).collect()
      val vs = rows.map(r => if (r.isNullAt(1)) null else r.getSeq[Any](1))
      if (rows.length > bound ||
          vs.exists(v => v != null && (v.size != Dim || v.contains(null)))) None
      else Some(TrainSet(rows.map(_.getLong(0)),
        vs.map(v => if (v == null) null else v.map(_.asInstanceOf[Double]).toArray)))
    }

  /** Kernel input placeholder: the driver rounds call the kernels'
    * `nullSafeEval` directly, so the child is never evaluated. */
  private val DriverVec =
    org.apache.spark.sql.catalyst.expressions.Literal.create(null,
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))

  private def arrayData(v: Array[Double]) =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v)

  /** `floor(x·2²⁰ + 0.5)` as Spark's `floor` computes it (double → long
    * by Java's conversion) — the per-component [[KMeansGrid]] value. */
  private def gridOf(x: Double): Long = math.floor(x * KMeansGrid + 0.5).toLong

  /** The seed centroids: the vectors with `vec_id < k`, by id. */
  private def seedOf(ts: TrainSet, k: Int): Array[Array[Double]] = {
    val seed = ts.ids.indices.filter(ts.ids(_) < k).sortBy(ts.ids(_)).map(ts.vs)
    require(!seed.contains(null),
      s"training seed vec_ids 0..${k - 1} include a null embedding")
    seed.toArray
  }

  /** One Lloyd round on the driver over `books` (m books of d-wide
    * centroids; the coarse codebook is m = 1, d = Dim): `assign` maps a
    * vector to its m codes, each code's subvector grid-sums into exact
    * `Long`s, and a centroid becomes `(sum → double) / n / grid` — the
    * distributed loops' arithmetic step for step. A book entry no
    * vector chose keeps its previous value; an out-of-range code (the
    * kernels' −1) counts nowhere, as no cell id matches it there. */
  private def lloydRound(books: Array[Array[Array[Double]]], d: Int,
      vs: Array[Array[Double]],
      assign: Array[Double] => Array[Long]): Array[Array[Array[Double]]] = {
    val sums = books.map(b => Array.ofDim[Long](b.length, d))
    val ns = books.map(b => new Array[Long](b.length))
    for (v <- vs if v != null) {
      val codes = assign(v)
      for (mi <- books.indices) {
        val c = codes(mi)
        if (c >= 0 && c < books(mi).length) {
          val ci = c.toInt
          ns(mi)(ci) += 1
          for (dd <- 0 until d) sums(mi)(ci)(dd) += gridOf(v(mi * d + dd))
        }
      }
    }
    books.indices.map { mi =>
      books(mi).indices.map { ci =>
        val n = ns(mi)(ci)
        if (n == 0) books(mi)(ci)
        else Array.tabulate(d)(dd =>
          sums(mi)(ci)(dd).toDouble / n.toDouble / KMeansGrid.toDouble)
      }.toArray
    }.toArray
  }

  /** [[trainedCentroids]] on the driver: the [[kmeansLoop]] rounds over a
    * [[TrainSet]], assigning through [[graft.functions.CellArgmax]]'s own
    * arithmetic — bit-identical to the loop. */
  private[graft] def centroidsOn(ts: TrainSet, k: Int,
      iters: Int): Seq[Seq[Double]] = {
    var cents = seedOf(ts, k)
    for (_ <- 1 to iters) {
      val cell = graft.functions.CellArgmax(DriverVec, cents.map(_.toSeq).toSeq)
      cents = lloydRound(Array(cents), Dim, ts.vs, v =>
        Array(cell.nullSafeEval(arrayData(v)).asInstanceOf[Long])).head
    }
    cents.map(_.toSeq).toSeq
  }

  /** [[pqTrainBooksOn]] on the driver, encoding through
    * [[graft.functions.PqEncode]]'s own arithmetic — bit-identical to
    * the loop over the same rows. */
  private[graft] def booksOn(ts: TrainSet, m: Int, ksub: Int,
      iters: Int): Seq[Seq[Seq[Double]]] = {
    require(Dim % m == 0, s"Dim=$Dim not divisible by $m subspaces")
    val d = Dim / m
    val seed = seedOf(ts, ksub)
    require(seed.length == ksub,
      s"PQ seed needs vec_ids 0..${ksub - 1} present; got ${seed.length}")
    var books = Array.tabulate(m)(mi => seed.map(_.slice(mi * d, (mi + 1) * d)))
    for (_ <- 1 to iters) {
      val enc = graft.functions.PqEncode(DriverVec,
        books.map(_.map(_.toSeq).toSeq).toSeq)
      books = lloydRound(books, d, ts.vs, v =>
        enc.nullSafeEval(arrayData(v)).asInstanceOf[
          org.apache.spark.sql.catalyst.util.ArrayData].toLongArray())
    }
    books.map(_.map(_.toSeq).toSeq).toSeq
  }

  /** Residuals `v − cents(cell)` per element, the cell by
    * [[graft.functions.CellArgmax]] — what [[residualsFrame]] computes
    * with `zip_with`, so the same doubles. */
  private[graft] def residualsOn(ts: TrainSet,
      cents: Seq[Seq[Double]]): TrainSet = {
    val cell = graft.functions.CellArgmax(DriverVec, cents)
    val cs = cents.map(_.toArray).toArray
    ts.copy(vs = ts.vs.map { v =>
      if (v == null) null
      else {
        val c = cs(cell.nullSafeEval(arrayData(v)).asInstanceOf[Long].toInt)
        Array.tabulate(v.length)(i => v(i) - c(i))
      }
    })
  }

  /** The float column as `(vec_id, v)` doubles. */
  private def vectorsOf(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), asDoubles(col("embedding")).as("v"))

  /** IVF cell assignment under a given codebook: a map-only scan (the
    * fold over the literal codebook), no window, no join, no shuffle. */
  def ivfCellsWith(embeddings: DataFrame, cents: Seq[Seq[Double]]): DataFrame =
    embeddings.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"), cellOf(col("v"), cents).as("cell"))

  /** [[ivfCellsWith]] under the trained codebook. NOTE: constructing
    * this frame RUNS the training ([[trainedCentroids]]: one bounded
    * collect up to the driver bound, else KMeansIters + 1 jobs) — the
    * same eager-build exception as x18/x26. */
  def ivfCells(embeddings: DataFrame): DataFrame =
    ivfCellsWith(embeddings, trainedCentroids(embeddings))

  /** IVF top-k: probe the `nprobe` nearest cells of each query and rank
    * only their members — candidate count ≈ nprobe/|cells| of the
    * corpus, the inverted-file scale path (vs. LSH's hash buckets).
    * `centroids` defaults to the trained codebook (see
    * [[trainedCentroids]]); pass one explicitly to reuse a snapshot's
    * codebook artifact instead of training it again per query. */
  def ivfTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int, nprobe: Int,
      centroids: Option[Seq[Seq[Double]]] = None): DataFrame = {
    val cents = centroids.getOrElse(trainedCentroids(embeddings))
    val e = embeddings.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
    val cells = ivfCellsWith(embeddings, cents)
    val probes = {
      val q = e.where(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          explode(centArrayLit(cents)).as("c"))
        .select(col("query_id"), col("qv"), col("c.cent_id").as("cell"),
          cosine(col("qv"), col("c.cv")).as("ccos"))
      val w = Window.partitionBy("query_id").orderBy(desc("ccos"), asc("cell"))
      q.withColumn("rn", row_number().over(w)).where(col("rn") <= nprobe)
        .select(col("query_id"), col("qv"), col("cell"))
    }
    val scored = cells.join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("cell"),
        round(cosine(col("qv"), col("v")), 6).as("cosine"))
      .where(!isnan(col("cosine")))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  /** Unrolled Lloyd's as CTEs `cents0` (seeded init) … `cents$iters`;
    * requires an `e(vec_id, v)` CTE in scope. Mirrors
    * [[trainedCentroids]] step for step — grid floor, exact BIGINT sum,
    * (sum → double)/n/grid — so both engines derive bit-identical
    * codebooks. `k` is a SQL expression: a literal for the
    * fixed-codebook chains, [[adaptiveCellsSql]] for the snapshot
    * chains whose engine side sizes cells from the corpus count. */
  private def kmeansCtes(k: String, iters: Int, src: String = "e"): String = {
    val init =
      s"""cents0 AS (
         |  SELECT vec_id AS cent_id, v AS cv FROM $src WHERE vec_id < $k
         |)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""asg$i AS (
         |  SELECT vec_id, v, cent_id AS cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY
         |      ${dotSql("v", "cv")} / (${normSql("v")} * ${normSql("cv")}) DESC,
         |      cent_id) AS rn
         |  FROM $src CROSS JOIN cents${i - 1}
         |  QUALIFY rn = 1
         |), st$i AS (
         |  SELECT cell, dim,
         |    CAST(SUM(CAST(floor(v[dim] * $KMeansGrid + 0.5) AS BIGINT)) AS DOUBLE)
         |      / COUNT(*) / $KMeansGrid AS m
         |  FROM asg$i CROSS JOIN generate_series(1, $Dim) t(dim)
         |  GROUP BY cell, dim
         |), cents$i AS (
         |  SELECT p.cent_id,
         |    CASE WHEN count(s.m) = 0 THEN any_value(p.cv)
         |         ELSE list(s.m ORDER BY s.dim) END AS cv
         |  FROM cents${i - 1} p LEFT JOIN st$i s ON s.cell = p.cent_id
         |  GROUP BY p.cent_id
         |)""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  /** IVF index-health report — the ANALYZE surface for the vector index
    * (the [[graft.sync.IndexStore.stats]] analog): per cell, member
    * count and mean cosine to the cell's own centroid (coherence). A
    * skewed count histogram says the codebook under-fits (hot cells →
    * probe cost); low coherence says vectors sit far from their
    * centroid (recall risk) — both are what an operator consults before
    * training again with more cells. One map-only assignment scan + one
    * hash aggregate; NaN members (zero vectors) are excluded from the
    * report like every scorer here. Mean is computed by EXACT decimal
    * summation of 6-dp-rounded cosines, so partial-agg order cannot
    * flip the hash compare (the x38 device). */
  def ivfCellStats(embeddings: DataFrame,
      centroids: Option[Seq[Seq[Double]]] = None): DataFrame = {
    val cents = centroids.getOrElse(trainedCentroids(embeddings))
    val cv = element_at(centArrayLit(cents), col("cell").cast("int") + 1)
      .getField("cv")
    ivfCellsWith(embeddings, cents)
      .select(col("cell"), round(cosine(col("v"), cv), 6).as("c"))
      .where(!isnan(col("c")))
      .select(col("cell"), col("c").cast("decimal(10,6)").as("c"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"),
        round(sum(col("c")).cast("double") / count(lit(1)), 6).as("mean_cos"))
  }

  /** [[ivfCellStats]] oracle (assignment chain + exact-decimal mean). */
  def ivfCellStatsSql(iters: Int = KMeansIters): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |),
       |${kmeansCtes(NumCentroids.toString, iters)},
       |cents AS (SELECT cent_id, cv FROM cents$iters),
       |assign AS (
       |  SELECT vec_id, v, cent_id AS cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      ${dotSql("v", "cv")} / (${normSql("v")} * ${normSql("cv")}) DESC,
       |      cent_id) AS rn
       |  FROM e CROSS JOIN cents
       |  QUALIFY rn = 1
       |), scored AS (
       |  SELECT a.cell,
       |    CAST(round(${dotSql("a.v", "c.cv")} /
       |      (${normSql("a.v")} * ${normSql("c.cv")}), 6) AS DECIMAL(10,6)) AS c
       |  FROM assign a JOIN cents c ON c.cent_id = a.cell
       |  WHERE NOT isnan(${dotSql("a.v", "c.cv")} /
       |    (${normSql("a.v")} * ${normSql("c.cv")}))
       |)
       |SELECT cell, count(*) AS n,
       |  round(CAST(sum(c) AS DOUBLE) / count(*), 6) AS mean_cos
       |FROM scored GROUP BY cell""".stripMargin

  def ivfTopKSql(queryIds: Seq[Long], k: Int, nprobe: Int,
      iters: Int = KMeansIters): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |),
       |${kmeansCtes(NumCentroids.toString, iters)},
       |cents AS (SELECT cent_id, cv FROM cents$iters),
       |assign AS (
       |  SELECT vec_id, v, cent_id AS cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      ${dotSql("v", "cv")} / (${normSql("v")} * ${normSql("cv")}) DESC,
       |      cent_id) AS rn
       |  FROM e CROSS JOIN cents
       |  QUALIFY rn = 1
       |), probes AS (
       |  SELECT q.vec_id AS query_id, q.v AS qv, cent_id AS cell,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${dotSql("q.v", "cv")} / (${normSql("q.v")} * ${normSql("cv")}) DESC,
       |      cent_id) AS rn
       |  FROM e q CROSS JOIN cents
       |  WHERE q.vec_id IN (${queryIds.mkString(",")})
       |  QUALIFY rn <= $nprobe
       |), scored AS (
       |  SELECT p.query_id, a.vec_id, a.cell,
       |    round(${dotSql("p.qv", "a.v")} / (${normSql("p.qv")} * ${normSql("a.v")}), 6) AS cosine
       |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
       |)
       |SELECT query_id, vec_id, cell, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
       |FROM scored
       |WHERE cosine IS NOT NULL AND NOT isnan(cosine)
       |QUALIFY rn <= $k""".stripMargin

  /** Symmetric int8 quantization of an embedding column — the standard
    * 4× storage/bandwidth cut for a corpus-scale vector store (ANN
    * candidate scans read int8; only the final rerank touches floats).
    * Per vector: `scale = max|v_i|`, `q_i = floor(v_i·127/scale + 0.5)`
    * (half-up in both engines — `round()` ties differ across engines,
    * `floor(x+0.5)` does not), plus the max reconstruction error
    * `max|v_i − q_i·scale/127|`, which is ≤ scale/254 by construction
    * (spec-pinned). Zero/empty vectors quantize to zeros with zero
    * error. Pure per-row expressions — map-only at any corpus size.
    * Outputs: (vec_id, scale, q, qmin, qmax, max_err); doubles rounded
    * to 6 dp for cross-engine hash stability. */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val degenerate = col("scale") === 0.0 || col("scale").isNull
    embeddings
      .select(col("vec_id"), asDoubles(col("embedding")).as("v"))
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
      .withColumn("q", when(degenerate, transform(col("v"), _ => lit(0L)))
        .otherwise(transform(col("v"),
          x => floor(x * lit(127.0) / col("scale") + lit(0.5)).cast("long"))))
      // max_err uses the UNROUNDED scale (as the oracle does); only the
      // reported columns round
      .withColumn("max_err", round(when(degenerate, lit(0.0))
        .otherwise(array_max(zip_with(col("v"), col("q"),
          (x, qi) => abs(x - qi * col("scale") / lit(127.0))))), 6))
      .select(col("vec_id"), round(col("scale"), 6).as("scale"), col("q"),
        array_min(col("q")).cast("int").as("qmin"),
        array_max(col("q")).cast("int").as("qmax"), col("max_err"))
  }

  def quantizeInt8Sql: String = {
    val v = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
    val scale = s"list_max(list_transform($v, x -> abs(x)))"
    s"""WITH e AS (
       |  SELECT vec_id, $v AS v, $scale AS scale FROM embeddings
       |), qz AS (
       |  SELECT vec_id, v, scale,
       |    CASE WHEN scale = 0.0 OR scale IS NULL
       |      THEN list_transform(v, x -> CAST(0 AS BIGINT))
       |      ELSE list_transform(v, x -> CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT))
       |    END AS q
       |  FROM e)
       |SELECT vec_id, round(scale, 6) AS scale, q,
       |  CAST(list_min(q) AS INTEGER) AS qmin,
       |  CAST(list_max(q) AS INTEGER) AS qmax,
       |  round(CASE WHEN scale = 0.0 OR scale IS NULL THEN 0.0
       |    ELSE list_max(list_transform(range(1, $Dim + 1),
       |      i -> abs(v[i] - q[i] * scale / 127.0)))
       |  END, 6) AS max_err
       |FROM qz""".stripMargin
  }

  /** [[quantizeInt8]] with the int8 vector flattened to a CSV string.
    * The registration-facing shape: the driver's oracle harness ranks
    * result rows with a pandas lexsort, which cannot hash raw array
    * cells — a scalar `q_csv` carries the identical information (every
    * component, in order) and sorts/hashes fine. [[annTopKQuantized]]
    * keeps consuming the array form. */
  def quantizeInt8Flat(embeddings: DataFrame): DataFrame =
    quantizeInt8(embeddings)
      .withColumn("q_csv", array_join(col("q").cast("array<string>"), ","))
      .drop("q")

  def quantizeInt8FlatSql: String =
    s"""SELECT vec_id, scale, qmin, qmax, max_err,
       |  array_to_string(q, ',') AS q_csv
       |FROM (
       |$quantizeInt8Sql
       |)""".stripMargin

  /** Quantized ANN with float rerank — [[quantizeInt8]] integrated into
    * the search path, the way production vector stores run it: bucket
    * candidates are scored on INT8 vectors (cosine over q is
    * scale-free: q ≈ v·127/scale, so the scales cancel; integer dot
    * products are EXACT in both engines — every value fits a double),
    * a pool of `k·poolFactor` survivors per query is then reranked by
    * exact float cosine, and only that pool ever touches the float
    * column. At corpus scale the candidate scan reads a 4×-smaller
    * column and the float reads are O(k·poolFactor·|queries|), not
    * O(candidates). Both rankings break ties on vec_id; both stages'
    * scores round to 6 dp before ordering (cross-engine stability). */
  def annTopKQuantized(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      poolFactor: Int = 3, numPlanes: Int = NumPlanes): DataFrame =
    annTopKQuantizedFrom(embeddings, quantizeInt8(embeddings),
      queryIds, k, poolFactor, numPlanes)

  /** [[annTopKQuantized]] from a precomputed [[quantizeInt8]] artifact —
    * the production shape (same convention as the dedup `...From`
    * family): the int8 corpus is quantized once per snapshot and every
    * search consumes it, instead of each query re-deriving it. */
  def annTopKQuantizedFrom(embeddings: DataFrame, quantized: DataFrame,
      queryIds: Seq[Long], k: Int,
      poolFactor: Int = 3, numPlanes: Int = NumPlanes): DataFrame = {
    val qz = quantized
      .select(col("vec_id"), transform(col("q"), _.cast("double")).as("qv"))
    val e = embeddings.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
      .join(qz, "vec_id")
      .withColumn("bucket", bucketOf(col("v"), numPlanes))
    val probe = e.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("pv"),
        col("qv").as("pqv"), col("bucket").as("qbucket"))
    val pooled = {
      val scored = e.join(broadcast(probe), col("bucket") === col("qbucket") &&
          col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), col("v"), col("pv"),
          round(cosine(col("pqv"), col("qv")), 6).as("qcos"))
        .where(!isnan(col("qcos")))
      val w = Window.partitionBy("query_id").orderBy(desc("qcos"), asc("vec_id"))
      scored.withColumn("qrn", row_number().over(w))
        .where(col("qrn") <= k * poolFactor)
    }
    val w2 = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    pooled.select(col("query_id"), col("vec_id"),
        round(cosine(col("pv"), col("v")), 6).as("cosine"))
      .where(!isnan(col("cosine")))
      .withColumn("rn", row_number().over(w2)).where(col("rn") <= k)
  }

  def annTopKQuantizedSql(queryIds: Seq[Long], k: Int,
      poolFactor: Int = 3): String =
    s"""WITH e0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), qz AS (
       |  SELECT vec_id, v,
       |    list_max(list_transform(v, x -> abs(x))) AS scale
       |  FROM e0
       |), n AS (
       |  SELECT vec_id, v,
       |    CASE WHEN scale = 0.0 OR scale IS NULL
       |      THEN list_transform(v, x -> CAST(0 AS BIGINT))
       |      ELSE list_transform(v, x -> CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT))
       |    END AS qv,
       |    ${normSql("v")} AS nrm, ${bucketSql("v")} AS bucket
       |  FROM qz
       |), pooled AS (
       |  SELECT p.vec_id AS query_id, c.vec_id, c.v AS cv, p.v AS pv,
       |    c.nrm AS cnrm, p.nrm AS pnrm,
       |    round(${dotSql("p.qv", "c.qv")} /
       |      (sqrt(${dotSql("p.qv", "p.qv")}) * sqrt(${dotSql("c.qv", "c.qv")})), 6) AS qcos,
       |    row_number() OVER (PARTITION BY p.vec_id ORDER BY
       |      round(${dotSql("p.qv", "c.qv")} /
       |        (sqrt(${dotSql("p.qv", "p.qv")}) * sqrt(${dotSql("c.qv", "c.qv")})), 6) DESC,
       |      c.vec_id) AS qrn
       |  FROM n p JOIN n c ON c.bucket = p.bucket AND c.vec_id <> p.vec_id
       |  WHERE p.vec_id IN (${queryIds.mkString(",")})
       |    AND NOT isnan(round(${dotSql("p.qv", "c.qv")} /
       |      (sqrt(${dotSql("p.qv", "p.qv")}) * sqrt(${dotSql("c.qv", "c.qv")})), 6))
       |  QUALIFY qrn <= ${k * poolFactor}
       |)
       |SELECT query_id, vec_id,
       |  round(${dotSql("pv", "cv")} / (pnrm * cnrm), 6) AS cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY
       |    round(${dotSql("pv", "cv")} / (pnrm * cnrm), 6) DESC, vec_id) AS rn
       |FROM pooled
       |WHERE NOT isnan(round(${dotSql("pv", "cv")} / (pnrm * cnrm), 6))
       |QUALIFY rn <= $k""".stripMargin

  // --- product quantization (x58/x59) -------------------------------------

  /** PQ layout (Jégou/Douze/Schmid, IEEE PAMI 2011): the vector is split
    * into `PqSubspaces` contiguous subvectors; each subspace gets its own
    * `PqSubCentroids`-entry codebook; a vector's code is one centroid id
    * per subspace. Storage per vector drops from Dim floats to
    * `PqSubspaces` small ints — 8 ids vs 64 floats here (32× at byte
    * width), the compression that makes a 100 TB corpus's candidate scan
    * read gigabytes instead of terabytes.
    *
    * 8 is MEASURED, not guessed — the x95 sweep ([[pqSubspacesCurve]],
    * m ∈ {4, 8, 16} at the fixed 32-cell codebook, 50-query sample,
    * sf0.01): ADC-only recall@5 at nprobe=2 runs 0.308 / 0.364 / 0.460
    * for m = 4/8/16 (distortion falls as the code budget grows), but
    * the SHIPPED two-stage point (nprobe=2, r=40 exact rerank) is
    * m-invariant at 0.640 — the refine shortlist absorbs ADC error
    * until wide probes feed it more candidates than r re-sorts (np=8
    * refined: 0.792 / 0.820 / 0.836). So m=16 doubles stored bytes for
    * nothing at the shipped point, and m=4 halves them but degrades
    * every ADC-only serve (`chunkDenseTopK`'s default, x60/x62). At
    * corpus scale pick subspaces·log2(subCentroids) to hit the storage
    * budget, re-run the x95 sweep at the deployment's own r, and train
    * on a sample.
    *
    * 16 sub-centroids is MEASURED too — the x97 sweep ([[pqKsubCurve]],
    * ksub ∈ {8, 16, 32} at fixed 32 cells / m=8, same sample): ADC-only
    * doc recall@5 at nprobe=2 runs 0.332 / 0.364 / 0.384 for ksub =
    * 8/16/32 (chunk 0.260 / 0.268 / 0.316) — resolution buys recall at
    * log2(ksub) BITS per code, the cheap axis — while the shipped
    * refined point is ksub-INVARIANT (doc 0.640, chunk 0.600 at both 16
    * and 32): the shortlist absorbs the quantization error here exactly
    * as it absorbs the m axis's. So ksub=32 adds a bit per code plus
    * double the codebook metadata for nothing at the shipped point, and
    * ksub=8 saves a bit but degrades every ADC-only serve. */
  val PqSubspaces = 8
  val PqSubCentroids = 16
  val PqIters = 2

  // squared-L2 is the subspace assignment metric (cosine is wrong
  // per-subspace: subvector norms carry signal); the argmin itself now
  // lives in the fused native kernel [[graft.functions.PqEncode]] —
  // same left-fold accumulation order as DuckDB's `list_reduce`, so
  // distances are bit-identical and ties resolve the same way in both
  // engines (strict <, sub-centroids visited id-ascending).
  private def l2sqSql(a: String, b: String, d: Int): String =
    s"list_reduce(list_transform(range(1, ${d + 1}), i -> (($a)[i] - ($b)[i]) * (($a)[i] - ($b)[i])), (x, y) -> x + y)"

  /** Deterministic per-subspace Lloyd's — [[trainedCentroids]]
    * generalized to PQ: every arithmetic step (grid floor, exact BIGINT
    * sum, (sum→double)/n/grid) mirrors [[pqKmeansCtes]] so the books are
    * bit-identical to the oracle's. Seeded init: subvectors of the first
    * `ksub` vectors by id. Up to `ksub × `[[DriverTrainPerCell]] vectors
    * the rounds run on the driver over one bounded collect
    * ([[booksOn]]); above it, as the distributed [[pqTrainBooksOn]].
    * Returns books(sub)(centId) = sub-centroid. */
  def pqTrainedCodebooks(embeddings: DataFrame, m: Int = PqSubspaces,
      ksub: Int = PqSubCentroids, iters: Int = PqIters): Seq[Seq[Seq[Double]]] = {
    val e = vectorsOf(embeddings)
    trainSetOf(e, ksub.toLong * DriverTrainPerCell)
      .fold(pqTrainBooksOn(e, m, ksub, iters))(booksOn(_, m, ksub, iters))
  }

  /** The distributed PQ training loop, over any `(vec_id, v)` frame —
    * shared by raw-vector books ([[pqTrainedCodebooks]]) and residual
    * books ([[pqResidualCodebooks]]) above the driver bound, and the
    * reference of the driver-training parity spec. ONE assignment scan
    * per iteration covers every subspace, and the grid-sums
    * partial-aggregate map-side to ≤ subCentroids×Dim rows of index
    * metadata. The arithmetic contract (grid floor, exact BIGINT sum,
    * (sum→double)/n/grid, seeded init) is identical either way, so both
    * stay bit-identical to [[pqKmeansCtes]] run over the matching source
    * CTE. */
  private[graft] def pqTrainBooksOn(e: DataFrame, m: Int, ksub: Int,
      iters: Int): Seq[Seq[Seq[Double]]] = {
    require(Dim % m == 0, s"Dim=$Dim not divisible by $m subspaces")
    val d = Dim / m
    val seed = e.where(col("vec_id") < ksub).orderBy("vec_id").collect()
      .map(_.getSeq[Double](1).toSeq).toSeq
    // the seed labels sub-centroids by ARRAY INDEX while the oracle
    // labels by raw vec_id — identical only when [0, ksub) is dense;
    // fail loudly instead of silently desynchronizing the engines
    require(seed.size == ksub,
      s"PQ seed needs vec_ids 0..${ksub - 1} present; got ${seed.size}")
    var books: Seq[Seq[Seq[Double]]] =
      (0 until m).map(mi => seed.map(sv => sv.slice(mi * d, (mi + 1) * d)))
    // assignment scan per iteration: ONE fused-kernel encode per row
    // ([[graft.functions.PqEncode]] — all m sub-assignments in one
    // codegen'd pass, replacing m interpreted folds) and ONE posexplode
    // of the vector (replacing the nested subspace-struct explode);
    // (sub, cell, dim) derive arithmetically from the flat dim index.
    // Grouped rows, integer grid sums and counts are identical, so the
    // books stay bit-identical to [[pqKmeansCtes]]. Spread: see
    // [[pqCodesWide]]'s narrow-scan note.
    val es = Par.spread(e, col("vec_id"))
    for (_ <- 1 to iters) {
      val stats = es.select(
          graft.functions.VectorFunctions.pqEncode(col("v"), books).as("codes"),
          posexplode(col("v")).as(Seq("dim0", "x")))
        .select(expr(s"CAST(dim0 DIV $d AS INT)").as("sub"),
          element_at(col("codes"), expr(s"CAST(dim0 DIV $d AS INT)") + 1)
            .as("cell"),
          pmod(col("dim0"), lit(d)).as("dim"), col("x"))
        .groupBy("sub", "cell", "dim")
        .agg(sum(floor(col("x") * KMeansGrid + lit(0.5)).cast("long")).as("g"),
          count(lit(1)).as("n"))
        .collect()
      val bySubCell = stats.groupBy(r => (r.getInt(0), r.getLong(1)))
      books = books.zipWithIndex.map { case (book, mi) =>
        book.zipWithIndex.map { case (prev, ci) =>
          bySubCell.get((mi, ci.toLong)) match {
            case Some(rows) =>
              val n = rows.head.getLong(4).toDouble
              val byDim = rows.map(r => r.getInt(2) -> r.getLong(3)).toMap
              (0 until d).map(dd => byDim(dd).toDouble / n / KMeansGrid.toDouble)
            case None => prev
          }
        }
      }
    }
    books
  }

  /** PQ encoding under given books — map-only (one fold per subspace
    * over the literal codebook; no join, no shuffle, no window), the
    * shape that encodes a 100 TB corpus in one pass. Wide form:
    * `(vec_id, v, codes)` with `codes(m)` the subspace-m centroid id. */
  def pqCodesWide(embeddings: DataFrame,
      books: Seq[Seq[Seq[Double]]]): DataFrame =
    // fused native encode kernel: all m codes in one codegen'd pass per
    // row ([[graft.functions.PqEncode]] — same arithmetic and strict-<
    // semantics as the per-subspace interpreted fold it replaced, so
    // codes are bit-identical; measured ~30× less CPU at sf0.1). Still
    // map-only — PlanSpec pins no join/shuffle/window at any size.
    embeddings.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"),
        graft.functions.VectorFunctions.pqEncode(col("v"), books).as("codes"))

  /** The registration-facing long form: one `(vec_id, sub, code)` row
    * per subspace. NOTE: constructing this under the default books RUNS
    * the training loop (the x13/x18/x26 eager-build exception); pass a
    * snapshot's codebook artifact to reuse instead of training again. */
  def pqCodes(embeddings: DataFrame,
      books: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    val bks = books.getOrElse(pqTrainedCodebooks(embeddings))
    pqCodesWide(embeddings, bks)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
  }

  /** Residual reconstruction x̂ = centroid(cell) + r̂(codes) — the
    * native [[graft.functions.PqDecode]] kernel over primitive
    * codebooks, bit-identical to `zip_with(centroid(cell),
    * reconOf(codes), _ + _)` without the literal payload. */
  private[graft] def pqDecode(codes: Column, cell: Column,
      cents: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]]): Column =
    graft.functions.VectorFunctions.pqDecode(codes, cell, cents, books)

  /** Reconstruction x̂ = concat of the chosen sub-centroids — a pure
    * expression over the codes column and the literal books. */
  private[graft] def reconOf(codes: Column, books: Seq[Seq[Seq[Double]]]): Column =
    flatten(array(books.zipWithIndex.map { case (book, mi) =>
      element_at(array(book.map(cv => array(cv.map(lit): _*)): _*),
        element_at(codes, mi + 1).cast("int") + 1)
    }: _*))

  /** PQ top-k by asymmetric distance (ADC): the query stays full
    * precision, corpus candidates are scored as cosine(q, x̂) against
    * their CODE-RECONSTRUCTED vectors — so the candidate scan reads
    * `subspaces` ids per vector instead of Dim floats (the 100 TB
    * bandwidth story; compose with [[ivfTopK]]'s probes to also prune
    * the candidate COUNT — this operator is the compression layer,
    * deliberately scored over the full corpus like the x10 baseline so
    * its recall is attributable to quantization alone). Queries
    * broadcast; reconstruction is literal-lookup map work; ranking
    * rounds to 6 dp before ordering, vec_id tiebreak. */
  def pqTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      books: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    val bks = books.getOrElse(pqTrainedCodebooks(embeddings))
    val q = embeddings
      .select(col("vec_id"), asDoubles(col("embedding")).as("v"))
      .where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    pqTopKFromCodes(pqCodesWide(embeddings, bks).select("vec_id", "codes"),
      q, k, bks)
  }

  /** ADC top-k from a prebuilt `(vec_id, codes)` frame — the serve path
    * when codes are a stored index artifact (a batch snapshot's encode
    * pass, or [[graft.streaming.StreamingVectorIndex]]'s growing
    * slices): the candidate scan reads codes only; queries arrive as a
    * `(query_id, qv)` frame and broadcast. */
  def pqTopKFromCodes(codes: DataFrame, queries: DataFrame, k: Int,
      books: Seq[Seq[Seq[Double]]]): DataFrame = {
    val recon = codes.select(col("vec_id"), reconOf(col("codes"), books).as("rv"))
    val scored = recon.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("rv")), 6).as("cosine"))
      .where(!isnan(col("cosine")))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  /** Unrolled per-subspace Lloyd's as CTEs; requires `$src(vec_id, v)`
    * in scope (`e` for raw-vector books, the residual CTE for
    * [[pqResidualCodebooks]]' oracle). Emits `pc_<sub>_<iter>` chains
    * plus `pcodes` (the long-form encoding) and `pcents` (every final
    * sub-centroid) — mirrored step for step with
    * [[pqTrainedCodebooks]]/[[pqCodesWide]]. */
  private def pqKmeansCtes(m: Int, ksub: Int, iters: Int,
      src: String = "e"): String = {
    val d = Dim / m
    val perSub = (0 until m).map { mi =>
      val a = mi * d + 1
      val b = (mi + 1) * d
      val sub =
        s"""se$mi AS (
           |  SELECT vec_id, v[$a:$b] AS sv FROM $src
           |), pc_${mi}_0 AS (
           |  SELECT vec_id AS cent_id, sv AS cv FROM se$mi WHERE vec_id < $ksub
           |)""".stripMargin
      val rounds = (1 to iters).map { i =>
        s"""pa_${mi}_$i AS (
           |  SELECT vec_id, sv, cent_id AS cell,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY
           |      ${l2sqSql("sv", "cv", d)}, cent_id) AS rn
           |  FROM se$mi CROSS JOIN pc_${mi}_${i - 1}
           |  QUALIFY rn = 1
           |), ps_${mi}_$i AS (
           |  SELECT cell, dim,
           |    CAST(SUM(CAST(floor(sv[dim] * $KMeansGrid + 0.5) AS BIGINT)) AS DOUBLE)
           |      / COUNT(*) / $KMeansGrid AS mval
           |  FROM pa_${mi}_$i CROSS JOIN generate_series(1, $d) t(dim)
           |  GROUP BY cell, dim
           |), pc_${mi}_$i AS (
           |  SELECT p.cent_id,
           |    CASE WHEN count(s.mval) = 0 THEN any_value(p.cv)
           |         ELSE list(s.mval ORDER BY s.dim) END AS cv
           |  FROM pc_${mi}_${i - 1} p LEFT JOIN ps_${mi}_$i s ON s.cell = p.cent_id
           |  GROUP BY p.cent_id
           |)""".stripMargin
      }
      // encoding assigns against the FINAL books (after the last mean
      // update) — one more argmin pass, exactly like [[pqCodesWide]];
      // reusing the last training assignment (pa_*_iters, computed
      // against the PREVIOUS books) would desynchronize the engines
      val enc =
        s"""pe_$mi AS (
           |  SELECT vec_id, cent_id AS code,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY
           |      ${l2sqSql("sv", "cv", d)}, cent_id) AS rn
           |  FROM se$mi CROSS JOIN pc_${mi}_$iters
           |  QUALIFY rn = 1
           |)""".stripMargin
      ((sub +: rounds) :+ enc).mkString(",\n")
    }
    val codes = (0 until m)
      .map(mi => s"SELECT vec_id, CAST($mi AS INT) AS sub, code FROM pe_$mi")
      .mkString("pcodes AS (\n", "\n  UNION ALL\n", "\n)")
    val cents = (0 until m)
      .map(mi => s"SELECT CAST($mi AS INT) AS sub, cent_id, cv FROM pc_${mi}_$iters")
      .mkString("pcents AS (\n", "\n  UNION ALL\n", "\n)")
    (perSub :+ codes :+ cents).mkString(",\n")
  }

  /** [[pqCodes]] oracle. */
  def pqCodesSql(m: Int = PqSubspaces, ksub: Int = PqSubCentroids,
      iters: Int = PqIters): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |),
       |${pqKmeansCtes(m, ksub, iters)}
       |SELECT vec_id, sub, code FROM pcodes""".stripMargin

  /** [[pqTopK]] oracle — reconstruction via ordered list-concat of the
    * chosen sub-centroids, then the exact cosine/round/rank chain. */
  def pqTopKSql(queryIds: Seq[Long], k: Int, m: Int = PqSubspaces,
      ksub: Int = PqSubCentroids, iters: Int = PqIters): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |),
       |${pqKmeansCtes(m, ksub, iters)},
       |recon AS (
       |  SELECT c.vec_id, flatten(list(p.cv ORDER BY c.sub)) AS rv
       |  FROM pcodes c JOIN pcents p ON p.sub = c.sub AND p.cent_id = c.code
       |  GROUP BY c.vec_id
       |), scored AS (
       |  SELECT q.vec_id AS query_id, r.vec_id,
       |    round(${dotSql("q.v", "r.rv")} /
       |      (${normSql("q.v")} * ${normSql("r.rv")}), 6) AS cosine
       |  FROM e q JOIN recon r ON r.vec_id <> q.vec_id
       |  WHERE q.vec_id IN (${queryIds.mkString(",")})
       |)
       |SELECT query_id, vec_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
       |FROM scored
       |WHERE cosine IS NOT NULL AND NOT isnan(cosine)
       |QUALIFY rn <= $k""".stripMargin

  /** IVF+PQ — the production vector-index stack assembled: IVF probes
    * prune the candidate COUNT (≈ nprobe/cells of the corpus per
    * query), PQ codes cut the candidate-scan BANDWIDTH (m ids per
    * vector instead of Dim floats), ADC scores the pruned candidates
    * against full-precision queries. Both index frames (cell
    * assignment, codes) are per-snapshot artifacts in production — a
    * query-time search reads codes + the probed cells' id lists, never
    * the float column. PQ here encodes the RAW vector (the IVFFlat-PQ
    * layout); the residual-encoding refinement (encode v − centroid)
    * needs per-cell books and is the documented next step, not a
    * different plan shape. Ranking: 6-dp round before order, vec_id
    * tiebreak — the family convention. */
  def ivfPqTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      nprobe: Int, centroids: Option[Seq[Seq[Double]]] = None,
      books: Option[Seq[Seq[Seq[Double]]]] = None,
      checkpointDir: Option[String] = None): DataFrame = {
    val cents = centroids.getOrElse(trainedCentroids(embeddings))
    val bks = books.getOrElse(pqTrainedCodebooks(embeddings))
    // the cell list is MATERIALIZED ([[graft.operators.Dedup.materialize]];
    // reliable when `checkpointDir` set) — in production the inverted
    // file is a stored index artifact, not per-query work, and here the
    // concrete frame also keeps the join key a plain attribute: left as
    // an alias of the assignment fold, Spark 4.1's
    // InferFiltersFromConstraints copies the fold across the cell
    // equi-join onto the probe side, where its corpus-vector reference
    // cannot bind (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND, deterministic).
    // constraint barrier on top of the materialization: a checkpointed
    // frame PRESERVES its origin plan's constraints, so the join key
    // still carries `cell = <assignment fold over the corpus vector>`;
    // InferFiltersFromConstraints then copies that fold across the cell
    // equi-join onto the probe side, where the corpus-vector reference
    // cannot bind (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND — deterministic,
    // Spark 4.1). Re-wrapping the checkpointed RDD in a fresh frame
    // keeps the data materialized exactly once and drops the ghost
    // constraint.
    def indexFrame(df: DataFrame): DataFrame = {
      val ck = Dedup.materialize(df, checkpointDir)
      ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
    }
    val cells = indexFrame(
      ivfCellsWith(embeddings, cents).select("vec_id", "cell"))
    val recon = indexFrame(pqCodesWide(embeddings, bks)
      .select(col("vec_id"), reconOf(col("codes"), bks).as("rv")))
    val probe = probePlanOf(embeddings, queryIds, cents, nprobe)
    // order is the scale contract: attach the probes to `cells` FIRST —
    // a map-only literal lookup that prunes the corpus to the
    // ~nprobe/cells surviving fraction — and only then join the
    // code-reconstruction frame. The reverse order (recon first)
    // shuffles BOTH corpus-sized index frames in full per query batch
    // before any probe filters, which Catalyst will not reorder without
    // CBO.
    val scored = cells
      .select(col("vec_id"), col("cell"),
        probe.queriesOf(col("cell")).as("query_id"))
      .join(recon, "vec_id")
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("cell"),
        round(cosine(probe.vectorOf(col("query_id")), col("rv")), 6)
          .as("cosine"))
      .where(!isnan(col("cosine")))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  /** Driver-side probe ranking — the production shape (an index node
    * ranks |queries|·|cells| centroid cosines, bounded metadata like the
    * codebook itself). The sequential-fold cosine is bit-identical to
    * the oracle's `list_reduce` chain; ties mirror the [[cellOf]]
    * convention (cosine DESC with NaN ranked first, then cell ASC).
    * Query ids are dedup'd: a duplicated id would emit duplicate probe
    * rows, score every candidate twice, and corrupt the ranking (the
    * oracle's IN-list dedups naturally). */
  private[graft] def probeRows(qvecs: Map[Long, Seq[Double]],
      queryIds: Seq[Long], cents: Seq[Seq[Double]],
      nprobe: Int): Seq[(Long, Seq[Double], Long)] =
    probeRowsRanked(qvecs, queryIds, cents, nprobe)
      .map { case (qid, qv, cell, _) => (qid, qv, cell) }

  /** [[probeRows]] keeping each probed cell's RANK (1 = best) — the
    * [[recallCurve]] harness scores once at the widest nprobe and
    * derives every narrower setting by `prn <= nprobe` filter, so the
    * sweep pays one ADC join instead of one per grid point. */
  private[graft] def probeRowsRanked(qvecs: Map[Long, Seq[Double]],
      queryIds: Seq[Long], cents: Seq[Seq[Double]],
      nprobe: Int): Seq[(Long, Seq[Double], Long, Int)] =
    queryIds.distinct.filter(qvecs.contains).flatMap { qid =>
      val qv = qvecs(qid)
      val ranked = cents.zipWithIndex.map { case (cv, ci) =>
        val dot = qv.zip(cv).map { case (x, y) => x * y }.sum
        val c = dot / (math.sqrt(qv.map(x => x * x).sum) *
          math.sqrt(cv.map(x => x * x).sum))
        (ci.toLong, c)
      }.sortWith { case ((cellA, cosA), (cellB, cosB)) =>
        // NaN first (both engines rank NaN above every double DESC),
        // then cosine DESC, then cell ASC
        if (cosA.isNaN != cosB.isNaN) cosA.isNaN
        else if (cosA != cosB) cosA > cosB
        else cellA < cellB
      }.take(nprobe)
      ranked.zipWithIndex.map { case ((cell, _), i) => (qid, qv, cell, i + 1) }
    }

  /** The persistable IVF+PQ index frame `(vec_id, codes, cell)` — ONE
    * artifact carrying both halves of the index (the inverted-file cell
    * list and the PQ codes), built in one map-only corpus pass (two
    * literal-codebook folds per row; no join, no shuffle). Write it
    * `partitionBy("cell")` per snapshot: a probed-cell serve read then
    * PARTITION-PRUNES to the nprobe/cells directories — scan cost ∝
    * nprobe/cells, the IVF promise made physical. `residual = true`
    * encodes v − centroid(cell) (pass [[pqResidualCodebooks]]' books);
    * false encodes the raw vector (the x60 IVFFlat-PQ layout). */
  def ivfPqIndex(embeddings: DataFrame, cents: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]], residual: Boolean = false): DataFrame = {
    // the corpus encode pass: assign + (residual-subtract +) PQ-encode,
    // all fused native kernels ([[cellOf]]/[[pqCodesWide]]'s notes),
    // map-only as before
    val withCell = embeddings
      .select(col("vec_id"), asDoubles(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"), cellOf(col("v"), cents).as("cell"))
    val enc = if (residual) {
      val cv = element_at(centArrayLit(cents), col("cell").cast("int") + 1)
        .getField("cv")
      withCell.select(col("vec_id"), col("cell"),
        zip_with(col("v"), cv, (x, y) => x - y).as("ev"))
    } else withCell.select(col("vec_id"), col("cell"), col("v").as("ev"))
    enc.select(col("vec_id"),
      graft.functions.VectorFunctions.pqEncode(col("ev"), books).as("codes"),
      col("cell"))
  }

  /** One driver-side probe computation serving every artifact-serve
    * need: `cells` is the distinct probed-cell list (the
    * partition-pruning filter for the index read), and the
    * `(query_id, qv, cell)` probe rows attach to the scoring plan as
    * LITERALS — [[queriesOf]] for the probe join, [[vectorOf]] for the
    * query vectors the ADC and the exact rerank score against. The
    * driver already holds both (|queries|·nprobe rows, |queries|·Dim
    * doubles), so a serve needs no broadcast relation and no Spark job
    * to attach them, and no second scan of the float column for the
    * query vectors. Filter and probes derive from the same rows, so
    * they can never disagree. */
  final case class ProbePlan(cells: Seq[Long],
      rows: Seq[(Long, Seq[Double], Long)]) {

    /** The queries probing `cell`, exploded — one output row per
      * (input row, probing query), none for an unprobed cell: the
      * probe equi-join as a literal map lookup. */
    def queriesOf(cell: Column): Column = {
      val byCell: Map[Long, Seq[Long]] =
        rows.groupBy(_._3).map { case (c, rs) => c -> rs.map(_._1) }
      explode(element_at(typedLit(byCell), cell))
    }

    /** The query vector of `queryId` (null for an id with no vector). */
    def vectorOf(queryId: Column): Column = {
      val qvecs: Map[Long, Seq[Double]] = rows.map(r => r._1 -> r._2).toMap
      element_at(typedLit(qvecs), queryId)
    }
  }

  /** Build the [[ProbePlan]]: ONE query-vector collect (bounded:
    * |queries| rows) and one driver ranking — THE single
    * implementation [[probedCellsOf]] and every serve delegate to. */
  def probePlanOf(embeddings: DataFrame, queryIds: Seq[Long],
      cents: Seq[Seq[Double]], nprobe: Int): ProbePlan = {
    val e = embeddings.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
    val qvecs = e.where(col("vec_id").isin(queryIds: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    val rows = probeRows(qvecs, queryIds, cents, nprobe)
    ProbePlan(rows.map(_._3).distinct, rows)
  }

  /** Serve top-k from a stored `(vec_id, codes, cell)` index frame —
    * the production query path: the caller reads the cell-partitioned
    * artifact with a `cell IN (probed)` filter (partition-pruned scan),
    * this attaches the probes as plan literals
    * ([[ProbePlan.queriesOf]]) and scores ADC on the survivors only. NO
    * join in the plan; reconstruction ([[pqDecode]] for residual codes)
    * is map work computed AFTER pruning, so decode cost is ∝ the probed
    * fraction too. Build the pruning filter first with [[probePlanOf]]
    * and hand the plan in via `probe` — otherwise the query-vector
    * collect and probe ranking run a second time here. */
  def ivfPqTopKFromIndex(index: DataFrame, embeddings: DataFrame,
      queryIds: Seq[Long], k: Int, nprobe: Int, cents: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]], residual: Boolean = false,
      probe: Option[ProbePlan] = None): DataFrame = {
    val p = probe.getOrElse(probePlanOf(embeddings, queryIds, cents, nprobe))
    val rv = if (residual) pqDecode(col("codes"), col("cell"), cents, books)
      else reconOf(col("codes"), books)
    val scored = index
      .select(col("vec_id"), col("codes"), col("cell"),
        p.queriesOf(col("cell")).as("query_id"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("cell"),
        round(cosine(p.vectorOf(col("query_id")), rv), 6).as("cosine"))
      .where(!isnan(col("cosine")))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  /** The distinct cells the probe ranking will touch — the pruning
    * filter for the cell-partitioned artifact read (bounded driver
    * metadata: ≤ |queries|·nprobe longs). */
  def probedCellsOf(embeddings: DataFrame, queryIds: Seq[Long],
      cents: Seq[Seq[Double]], nprobe: Int): Seq[Long] =
    probePlanOf(embeddings, queryIds, cents, nprobe).cells

  // --- residual PQ (IVFADC, x62) ------------------------------------------

  /** Per-subspace codebooks trained on RESIDUALS r = v − centroid(cell)
    * (Jégou/Douze/Schmid, PAMI'11 §IV: quantize the displacement from
    * the coarse centroid, not the raw vector — residual magnitudes are
    * a fraction of raw ones, so the same code budget spends on a much
    * smaller volume and ADC recall rises). One SHARED book set across
    * cells (the classic IVFADC layout; per-cell books multiply codebook
    * storage ×cells for marginal gain). Training arithmetic is
    * [[pqTrainedCodebooks]]' verbatim over the residuals — bit-identical
    * to [[pqKmeansCtes]] over the residual CTE. Up to `cells × `[[DriverTrainPerCell]]
    * vectors (the coarse codebook's bound) it trains on the driver from
    * one bounded collect, residuals included ([[residualsOn]]). */
  def pqResidualCodebooks(embeddings: DataFrame, cents: Seq[Seq[Double]],
      m: Int = PqSubspaces, ksub: Int = PqSubCentroids,
      iters: Int = PqIters): Seq[Seq[Seq[Double]]] =
    trainSetOf(vectorsOf(embeddings), cents.size.toLong * DriverTrainPerCell)
      .fold(pqTrainBooksOn(residualsFrame(embeddings, cents), m, ksub, iters))(
        ts => booksOn(residualsOn(ts, cents), m, ksub, iters))

  /** The residual frame `(vec_id, v − centroid(cell))` the distributed
    * residual training runs over (null for a null embedding). */
  private[graft] def residualsFrame(embeddings: DataFrame,
      cents: Seq[Seq[Double]]): DataFrame = {
    val cv = element_at(centArrayLit(cents), col("cell").cast("int") + 1)
      .getField("cv")
    vectorsOf(embeddings)
      .select(col("vec_id"), col("v"), cellOf(col("v"), cents).as("cell"))
      .select(col("vec_id"), zip_with(col("v"), cv, (x, y) => x - y).as("v"))
  }

  /** A snapshot's coarse codebook of `k` cells and its residual-PQ books
    * over a corpus of `n` vectors (the caller's count): ONE collect
    * trains both on the driver up to `k × `[[DriverTrainPerCell]]
    * vectors; above it, the distributed loops. Equal to
    * [[trainedCentroids]] then [[pqResidualCodebooks]], bit for bit. */
  def ivfPqCodebooks(embeddings: DataFrame, k: Int,
      n: Long): (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    val e = vectorsOf(embeddings)
    trainSetOf(e, k.toLong * DriverTrainPerCell, Some(n)) match {
      case Some(ts) =>
        val cents = centroidsOn(ts, k, KMeansIters)
        (cents, booksOn(residualsOn(ts, cents), PqSubspaces, PqSubCentroids, PqIters))
      case None =>
        val cents = kmeansLoop(e, k, KMeansIters)
        (cents, pqTrainBooksOn(residualsFrame(embeddings, cents),
          PqSubspaces, PqSubCentroids, PqIters))
    }
  }

  /** Residual-encoded IVF+PQ top-k (IVFADC): probes prune candidate
    * COUNT, residual codes cut candidate BANDWIDTH with less
    * reconstruction error than raw-vector codes (x̂ = centroid + r̂
    * starts from the right neighborhood). Same probe-pruned join order
    * as [[ivfPqTopK]]: probes attach to the index first, recon after. */
  def ivfPqResidualTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      nprobe: Int, centroids: Option[Seq[Seq[Double]]] = None,
      books: Option[Seq[Seq[Seq[Double]]]] = None,
      checkpointDir: Option[String] = None): DataFrame = {
    val cents = centroids.getOrElse(trainedCentroids(embeddings))
    val bks = books.getOrElse(pqResidualCodebooks(embeddings, cents))
    val index = {
      val ck = Dedup.materialize(
        ivfPqIndex(embeddings, cents, bks, residual = true), checkpointDir)
      ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
    }
    ivfPqTopKFromIndex(index, embeddings, queryIds, k, nprobe, cents, bks,
      residual = true)
  }

  /** [[ivfPqResidualTopK]] oracle — the x60 chain with the PQ training
    * CTEs re-rooted on the residual CTE and reconstruction completed by
    * adding the coarse centroid back. */
  def ivfPqResidualTopKSql(queryIds: Seq[Long], k: Int, nprobe: Int,
      iters: Int = KMeansIters, m: Int = PqSubspaces,
      ksub: Int = PqSubCentroids, pqIters: Int = PqIters,
      cellsSql: String = NumCentroids.toString): String =
    materializedCtes(s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |),
       |${kmeansCtes(cellsSql, iters)},
       |cents AS (SELECT cent_id, cv FROM cents$iters),
       |assign AS (
       |  SELECT vec_id, v, cent_id AS cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      ${dotSql("v", "cv")} / (${normSql("v")} * ${normSql("cv")}) DESC,
       |      cent_id) AS rn
       |  FROM e CROSS JOIN cents
       |  QUALIFY rn = 1
       |), probes AS (
       |  SELECT q.vec_id AS query_id, q.v AS qv, cent_id AS cell,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${dotSql("q.v", "cv")} / (${normSql("q.v")} * ${normSql("cv")}) DESC,
       |      cent_id) AS rn
       |  FROM e q CROSS JOIN cents
       |  WHERE q.vec_id IN (${queryIds.mkString(",")})
       |  QUALIFY rn <= $nprobe
       |), res AS (
       |  SELECT a.vec_id,
       |    list_transform(range(1, ${Dim + 1}), i -> a.v[i] - c.cv[i]) AS v
       |  FROM assign a JOIN cents c ON c.cent_id = a.cell
       |),
       |${pqKmeansCtes(m, ksub, pqIters, src = "res")},
       |recon0 AS (
       |  SELECT c.vec_id, flatten(list(p.cv ORDER BY c.sub)) AS rv
       |  FROM pcodes c JOIN pcents p ON p.sub = c.sub AND p.cent_id = c.code
       |  GROUP BY c.vec_id
       |), xhat AS (
       |  SELECT r.vec_id, a.cell,
       |    list_transform(range(1, ${Dim + 1}), i -> c.cv[i] + r.rv[i]) AS rv
       |  FROM recon0 r
       |  JOIN assign a ON a.vec_id = r.vec_id
       |  JOIN cents c ON c.cent_id = a.cell
       |), scored AS (
       |  SELECT p.query_id, x.vec_id, x.cell,
       |    round(${dotSql("p.qv", "x.rv")} /
       |      (${normSql("p.qv")} * ${normSql("x.rv")}), 6) AS cosine
       |  FROM probes p JOIN xhat x ON x.cell = p.cell AND x.vec_id <> p.query_id
       |)
       |SELECT query_id, vec_id, cell, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
       |FROM scored
       |WHERE cosine IS NOT NULL AND NOT isnan(cosine)
       |QUALIFY rn <= $k""".stripMargin)

  /** Two-stage refine (the production serve shape on top of IVFADC:
    * Jégou PAMI'11 §V's re-ranking): stage 1 retrieves an ADC shortlist
    * of `r > k` candidates from the compressed index (probe-pruned,
    * codes-only bandwidth), stage 2 re-scores ONLY those r·|queries|
    * survivors against their full-precision vectors and re-ranks to the
    * final k. The refine corrects quantization-induced rank inversions
    * near the cut at the cost of r·|q| float-vector reads — bounded
    * lookups, not a scan; in Spark the broadcast shortlist turns the
    * read into one corpus scan joined map-side, and at 100 TB the same
    * frame serves as the point-lookup key list. Recall ceiling is stage
    * 1's candidate set (refine reorders, never recovers a missed
    * neighbor) — measured through the recall spec next to the ADC
    * variants. */
  def ivfPqRefineTopK(index: DataFrame, embeddings: DataFrame,
      queryIds: Seq[Long], k: Int, r: Int, nprobe: Int,
      cents: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]],
      residual: Boolean = false,
      probe: Option[ProbePlan] = None): DataFrame = {
    require(r >= k, s"shortlist r=$r must be >= k=$k")
    val p = probe.getOrElse(probePlanOf(embeddings, queryIds, cents, nprobe))
    val short = ivfPqTopKFromIndex(index, embeddings, queryIds, r, nprobe,
      cents, books, residual, Some(p)).select("query_id", "vec_id")
    val e = embeddings.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
    val scored = e.join(broadcast(short), "vec_id")
      .select(col("query_id"), col("vec_id"),
        round(cosine(p.vectorOf(col("query_id")), col("v")), 6).as("cosine"))
      .where(!isnan(col("cosine")))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  /** [[ivfPqRefineTopK]] oracle (residual stage 1): the x62 chain as a
    * derived shortlist subquery (its own WITH scope — the x44 embedding
    * convention), exact re-scoring against the raw vectors, re-rank. */
  def ivfPqRefineTopKSql(queryIds: Seq[Long], k: Int, r: Int,
      nprobe: Int, cellsSql: String = NumCentroids.toString): String =
    materializedCtes(s"""WITH rshort AS (
       |  SELECT query_id, vec_id FROM (
       |${ivfPqResidualTopKSql(queryIds, r, nprobe, cellsSql = cellsSql)}
       |  )
       |), re AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), rq AS (
       |  SELECT vec_id AS query_id, v AS qv FROM re
       |  WHERE vec_id IN (${queryIds.mkString(",")})
       |), rscored AS (
       |  SELECT s.query_id, s.vec_id,
       |    round(${dotSql("q.qv", "e.v")} /
       |      (${normSql("q.qv")} * ${normSql("e.v")}), 6) AS cosine
       |  FROM rshort s
       |  JOIN re e ON e.vec_id = s.vec_id
       |  JOIN rq q ON q.query_id = s.query_id
       |)
       |SELECT query_id, vec_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
       |FROM rscored
       |WHERE cosine IS NOT NULL AND NOT isnan(cosine)
       |QUALIFY rn <= $k""".stripMargin)

  // --- binary (sign-bit) quantization + Hamming shortlist (x64) -----------

  /** Shortlist size of the two-stage binary/prefix serves — 4× the
    * final k at the fixture scale (the refine convention; a corpus
    * deployment tunes r against measured recall like nprobe). */
  val BinaryShortlist = 20

  /** DEFAULT refine shortlist of the IVFADC snapshot serves
    * ([[graft.serve.Retrieval!.denseTopK]]) — set
    * from the [[recallCurve]] measurement (x91, 50-query sample,
    * sf0.1, [[NumCentroids]]=32 cells), not guessed: r is the serve's
    * strong knob (doc refine recall@5 at nprobe=2 measured
    * 0.352 / 0.500 / 0.628 for r=10/20/40; chunk 0.304 / 0.428 /
    * 0.564) while widening probes buys ~0.02-0.06 per DOUBLING of
    * scan cost — (nprobe=2, r=40) BEATS (nprobe=8, r=20) (0.628 vs
    * 0.544) at a quarter of the probed bandwidth. Raising r costs only
    * r·|queries| bounded float lookups, so 40 is the right default;
    * deployments retune against their own curve. */
  val RefineShortlist = 40

  /** Sign-bit sketch: one bit per dimension (`v[i] > 0`), packed into a
    * single BIGINT — 64 dims fit EXACTLY in one long, so the index
    * column is 8 bytes/vector (32× under the float column, 8× under the
    * PQ codes). Bit i's weight is the Scala-folded `1L << i` (bit 63 is
    * Long.MinValue — two's complement makes the distinct-weight SUM the
    * exact bit pattern, and the oracle uses the same literal weights
    * because DuckDB's `<< 63` overflow-checks). */
  private def signBits(v: Column): Column =
    (0 until Dim).map(i =>
      when(element_at(v, i + 1) > lit(0.0), lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  private def signBitsSql(v: String): String =
    (0 until Dim).map { i =>
      val w = if (i == 63) "(-9223372036854775807 - 1)"
      else s"(CAST(1 AS BIGINT) << $i)"
      s"CASE WHEN ($v)[${i + 1}] > 0 THEN $w ELSE CAST(0 AS BIGINT) END"
    }.mkString("(", " + ", ")")

  /** Binary-quantization top-k (sign bits + Hamming + exact rerank) —
    * the third compression point on the engine's accuracy/bandwidth
    * curve, next to int8 (x19) and PQ (x59): stage 1 ranks the corpus
    * by `popcount(xor(sig, qsig))` — ONE xor+popcount per candidate
    * over an 8-byte column, the cheapest first pass a vector index can
    * run (random-hyperplane cosine-angle estimation with the identity
    * planes; Charikar STOC'02's SimHash bound applies) — stage 2
    * re-scores the r·|q| shortlist against full-precision vectors
    * exactly like [[ivfPqRefineTopK]]. Hamming ties (integer distances
    * collide constantly) break on vec_id in both engines; the final
    * ranking is the family's round-6/vec_id convention. */
  def binaryTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      r: Int = BinaryShortlist): DataFrame = {
    require(r >= k, s"shortlist r=$r must be >= k=$k")
    val e = embeddings.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
    // in production `sig` is the stored 8-byte index column; computing
    // it here is one map-only pass (plan-pinned: no shuffle)
    val sk = e.select(col("vec_id"), col("v"), signBits(col("v")).as("sig"))
    val q = sk.where(col("vec_id").isin(queryIds.distinct: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("sig").as("qsig"))
    val ham = sk.select("vec_id", "sig").crossJoin(broadcast(q.drop("qv")))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        bit_count(col("sig").bitwiseXOR(col("qsig"))).as("hamming"))
    val ws = Window.partitionBy("query_id").orderBy(asc("hamming"), asc("vec_id"))
    val short = ham.withColumn("srn", row_number().over(ws))
      .where(col("srn") <= r).select("query_id", "vec_id")
    val scored = e.join(broadcast(short), "vec_id")
      .join(broadcast(q.select("query_id", "qv")), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v")), 6).as("cosine"))
      .where(!isnan(col("cosine")))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  /** [[binaryTopK]] oracle — same literal bit weights, `bit_count(xor)`
    * shortlist, exact rerank. */
  def binaryTopKSql(queryIds: Seq[Long], k: Int,
      r: Int = BinaryShortlist): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), sk AS (
       |  SELECT vec_id, v, ${signBitsSql("v")} AS sig FROM e
       |), q AS (
       |  SELECT vec_id AS query_id, v AS qv, sig AS qsig FROM sk
       |  WHERE vec_id IN (${queryIds.mkString(",")})
       |), short AS (
       |  SELECT q.query_id, s.vec_id,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY bit_count(xor(s.sig, q.qsig)) ASC, s.vec_id) AS srn
       |  FROM sk s CROSS JOIN q
       |  WHERE s.vec_id <> q.query_id
       |  QUALIFY srn <= $r
       |), scored AS (
       |  SELECT s.query_id, s.vec_id,
       |    round(${dotSql("q.qv", "e.v")} /
       |      (${normSql("q.qv")} * ${normSql("e.v")}), 6) AS cosine
       |  FROM short s
       |  JOIN e ON e.vec_id = s.vec_id
       |  JOIN q ON q.query_id = s.query_id
       |)
       |SELECT query_id, vec_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
       |FROM scored
       |WHERE cosine IS NOT NULL AND NOT isnan(cosine)
       |QUALIFY rn <= $k""".stripMargin

  // --- prefix-dimension (Matryoshka) shortlist + rerank (x65) -------------

  /** Prefix dimensions of the truncated first pass — 16 of 64 (4×
    * dimension cut). Matryoshka-trained embeddings (Kusupati et al.,
    * NeurIPS'22) front-load information so a prefix-dim scan is a
    * usable coarse ranking; the knob trades first-pass bandwidth
    * against shortlist quality like nprobe/planes. */
  val PrefixDims = 16

  /** Prefix-dimension two-stage top-k: stage 1 ranks by cosine over
    * only the FIRST `dPrefix` components (the candidate scan reads a
    * quarter of the float column — with a column layout that stores the
    * prefix separately, a quarter of the bytes), stage 2 re-scores the
    * shortlist at full dimension. Same refine skeleton as
    * [[binaryTopK]]; the prefix cosine rounds to 6 dp before the
    * shortlist rank so both engines cut the same candidates. */
  def prefixTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      r: Int = BinaryShortlist, dPrefix: Int = PrefixDims): DataFrame = {
    require(r >= k, s"shortlist r=$r must be >= k=$k")
    val e = embeddings.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
    val sk = e.select(col("vec_id"), col("v"),
      slice(col("v"), 1, dPrefix).as("pv"))
    val q = sk.where(col("vec_id").isin(queryIds.distinct: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("pv").as("qpv"))
    val pre = sk.select("vec_id", "pv").crossJoin(broadcast(q.drop("qv")))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qpv"), col("pv")), 6).as("pcos"))
      .where(!isnan(col("pcos")))
    val ws = Window.partitionBy("query_id").orderBy(desc("pcos"), asc("vec_id"))
    val short = pre.withColumn("srn", row_number().over(ws))
      .where(col("srn") <= r).select("query_id", "vec_id")
    val scored = e.join(broadcast(short), "vec_id")
      .join(broadcast(q.select("query_id", "qv")), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v")), 6).as("cosine"))
      .where(!isnan(col("cosine")))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  /** [[prefixTopK]] oracle. */
  def prefixTopKSql(queryIds: Seq[Long], k: Int,
      r: Int = BinaryShortlist, dPrefix: Int = PrefixDims): String = {
    def pdotSql(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, ${dPrefix + 1}), i -> ($a)[i] * ($b)[i]), (x, y) -> x + y)"
    def pnormSql(a: String): String = s"sqrt(${pdotSql(a, a)})"
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), sk AS (
       |  SELECT vec_id, v, v[1:$dPrefix] AS pv FROM e
       |), q AS (
       |  SELECT vec_id AS query_id, v AS qv, pv AS qpv FROM sk
       |  WHERE vec_id IN (${queryIds.mkString(",")})
       |), pre AS (
       |  SELECT q.query_id, s.vec_id,
       |    round(${pdotSql("q.qpv", "s.pv")} /
       |      (${pnormSql("q.qpv")} * ${pnormSql("s.pv")}), 6) AS pcos
       |  FROM sk s CROSS JOIN q
       |  WHERE s.vec_id <> q.query_id
       |), short AS (
       |  SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY pcos DESC, vec_id) AS srn
       |  FROM pre
       |  WHERE pcos IS NOT NULL AND NOT isnan(pcos)
       |  QUALIFY srn <= $r
       |), scored AS (
       |  SELECT s.query_id, s.vec_id,
       |    round(${dotSql("q.qv", "e.v")} /
       |      (${normSql("q.qv")} * ${normSql("e.v")}), 6) AS cosine
       |  FROM short s
       |  JOIN e ON e.vec_id = s.vec_id
       |  JOIN q ON q.query_id = s.query_id
       |)
       |SELECT query_id, vec_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
       |FROM scored
       |WHERE cosine IS NOT NULL AND NOT isnan(cosine)
       |QUALIFY rn <= $k""".stripMargin
  }

  /** [[ivfPqTopK]] oracle — the x13 probe/assign chain composed with
    * the PQ reconstruction chain (disjoint CTE namespaces). */
  def ivfPqTopKSql(queryIds: Seq[Long], k: Int, nprobe: Int,
      iters: Int = KMeansIters, m: Int = PqSubspaces,
      ksub: Int = PqSubCentroids, pqIters: Int = PqIters): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |),
       |${kmeansCtes(NumCentroids.toString, iters)},
       |cents AS (SELECT cent_id, cv FROM cents$iters),
       |assign AS (
       |  SELECT vec_id, cent_id AS cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      ${dotSql("v", "cv")} / (${normSql("v")} * ${normSql("cv")}) DESC,
       |      cent_id) AS rn
       |  FROM e CROSS JOIN cents
       |  QUALIFY rn = 1
       |), probes AS (
       |  SELECT q.vec_id AS query_id, q.v AS qv, cent_id AS cell,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${dotSql("q.v", "cv")} / (${normSql("q.v")} * ${normSql("cv")}) DESC,
       |      cent_id) AS rn
       |  FROM e q CROSS JOIN cents
       |  WHERE q.vec_id IN (${queryIds.mkString(",")})
       |  QUALIFY rn <= $nprobe
       |),
       |${pqKmeansCtes(m, ksub, pqIters)},
       |recon AS (
       |  SELECT c.vec_id, flatten(list(p.cv ORDER BY c.sub)) AS rv
       |  FROM pcodes c JOIN pcents p ON p.sub = c.sub AND p.cent_id = c.code
       |  GROUP BY c.vec_id
       |), scored AS (
       |  SELECT p.query_id, a.vec_id, a.cell,
       |    round(${dotSql("p.qv", "r.rv")} /
       |      (${normSql("p.qv")} * ${normSql("r.rv")}), 6) AS cosine
       |  FROM probes p
       |  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
       |  JOIN recon r ON r.vec_id = a.vec_id
       |)
       |SELECT query_id, vec_id, cell, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
       |FROM scored
       |WHERE cosine IS NOT NULL AND NOT isnan(cosine)
       |QUALIFY rn <= $k""".stripMargin

  /** Embedding-cosine near-duplicate pairs: all pairs WITHIN an LSH
    * bucket whose cosine clears the threshold — the bucketed (non-n²)
    * form of embedding dedup. Returns (vec_a, vec_b, cosine), a < b. */
  def embeddingNearDups(embeddings: DataFrame, minCosine: Double,
      numPlanes: Int = NumPlanes): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
      .withColumn("bucket", bucketOf(col("v"), numPlanes))
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("bucket"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("bucket"))
    a.join(b, Seq("bucket")).where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(cosine(col("va"), col("vb")), 6).as("cosine"))
      .where(!isnan(col("cosine")) && col("cosine") >= minCosine)
  }

  def embeddingNearDupsSql(minCosine: Double): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), n AS (
       |  SELECT vec_id, v, ${normSql("v")} AS nrm, ${bucketSql("v")} AS bucket FROM e
       |)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  round(${dotSql("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cosine
       |FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE NOT isnan(round(${dotSql("a.v", "b.v")} / (a.nrm * b.nrm), 6))
       |  AND round(${dotSql("a.v", "b.v")} / (a.nrm * b.nrm), 6) >= $minCosine""".stripMargin

  // --- cross-corpus embedding pairs (x47) -----------------------------------

  /** Embedding near-dup pairs BETWEEN two corpora (A-side id first):
    * the embedding-space analog of [[Dedup.crossCorpusPairs]] — a new
    * batch screened against an existing snapshot's vectors via the
    * bucket equi-join only, never all-pairs and never within-side.
    * This is the scan [[semanticDedupIncremental]] feeds on: at 100 TB
    * the A side is the persisted embedding artifact of the accepted
    * corpus, and only the new batch is bucketed fresh. */
  def crossEmbeddingNearDups(a: DataFrame, b: DataFrame, minCosine: Double,
      numPlanes: Int = NumPlanes): DataFrame = {
    def side(df: DataFrame, idAs: String, vAs: String) =
      df.select(col("vec_id").as(idAs), asDoubles(col("embedding")).as(vAs))
        .withColumn("bucket", bucketOf(col(vAs), numPlanes))
    side(a, "vec_a", "va").join(side(b, "vec_b", "vb"), Seq("bucket"))
      .select(col("vec_a"), col("vec_b"),
        round(cosine(col("va"), col("vb")), 6).as("cosine"))
      .where(!isnan(col("cosine")) && col("cosine") >= minCosine)
  }

  /** [[crossEmbeddingNearDups]] oracle; `predA`/`predB` select the two
    * sides out of the `embeddings` fixture by `vec_id`. */
  def crossEmbeddingNearDupsSql(predA: String, predB: String,
      minCosine: Double): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), n AS (
       |  SELECT vec_id, v, ${normSql("v")} AS nrm, ${bucketSql("v")} AS bucket FROM e
       |), na AS (SELECT * FROM n WHERE $predA
       |), nb AS (SELECT * FROM n WHERE $predB)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  round(${dotSql("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cosine
       |FROM na a JOIN nb b ON a.bucket = b.bucket
       |WHERE NOT isnan(round(${dotSql("a.v", "b.v")} / (a.nrm * b.nrm), 6))
       |  AND round(${dotSql("a.v", "b.v")} / (a.nrm * b.nrm), 6) >= $minCosine""".stripMargin

  // --- semantic dedup (x43) -------------------------------------------------

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): collapse groups of embeddings that are pairwise
    * semantically near-identical, keeping one representative per group —
    * the embedding-space analog of [[Dedup.nearDupDedup]]'s lexical
    * dedup (catches paraphrases and re-encodings MinHash cannot see).
    * One row per embedding: `(vec_id, rep_id, kept)` where `rep_id` is
    * the minimum vec_id of the embedding's transitive near-dup cluster
    * (itself when it has no near-dups) and `kept` marks the
    * representative — the curated corpus is `WHERE kept`.
    *
    * Composes two already-scale-shaped pieces, adding no new joins of
    * its own: candidate pairs from [[embeddingNearDups]] (LSH-bucketed,
    * never all-pairs — the paper's k-means cells play the same role as
    * the hyperplane buckets here: bound the quadratic to within-cell),
    * transitive closure via [[Dedup.duplicateClusters]] (star
    * contraction — hub-safe, O(log² n) rounds). A dense semantic
    * cluster still costs pairs quadratic in ITS size inside one bucket;
    * that is the signal SemDeDup exists to find, and `numPlanes` is the
    * knob bounding expected bucket population (raise it with corpus
    * size — see [[NumPlanes]]). */
  /** Exact pre-collapse for [[semanticDedup]]: every NONZERO vector maps
    * to the minimum vec_id among bit-identical vectors (`rep0`), as a
    * min-aggregate keyed on the vector value joined back to the rows —
    * the same device [[Dedup.starContraction]] uses for hub nodes, for
    * the same reason. The collapse exists precisely because real corpora
    * carry one embedding m ≫ 1 times, and that duplicated vector is
    * exactly the value a `Window.partitionBy(v)` would hand to ONE task
    * to buffer whole (m × ~6 KB at 768 dims). The aggregate instead
    * combines map-side (each mapper emits one partial min per distinct
    * vector it saw) and the join-back streams — per-task memory is
    * per-ROW, not per-group. Returns the full mapping `(vec_id, v,
    * rep0)`. Zero-norm vectors are excluded: their cosine is NaN with
    * everything (including each other), so [[embeddingNearDups]] never
    * pairs them and they must stay singletons — collapsing them here
    * would merge vectors the declarative spec keeps apart. */
  private[graft] def exactCollapse(embeddings: DataFrame): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
      .where(dot(col("v"), col("v")) > lit(0.0))
    val reps = e.groupBy(col("v")).agg(min("vec_id").as("rep0"))
    e.join(reps, Seq("v")).select(col("vec_id"), col("v"), col("rep0"))
  }

  def semanticDedup(embeddings: DataFrame, minCosine: Double,
      numPlanes: Int = NumPlanes,
      checkpointDir: Option[String] = None): DataFrame = {
    // Exact duplicates collapse FIRST: a vector duplicated m times (the
    // worst bucket-clique shape at corpus scale — identical docs produce
    // identical embeddings) contributes ONE member to its LSH bucket,
    // not m, so the within-bucket quadratic only ever sees DISTINCT
    // vectors. Final labels are provably unchanged: identical nonzero
    // vectors have cosine exactly 1 ≥ any threshold, so the closure
    // would merge each exact group anyway, onto the same minimum id —
    // which is why the declarative oracle needs no collapse step.
    //
    // The mapping feeds BOTH the pair builder and the final labelling:
    // materialized once (same eager-build convention as the cluster
    // rounds — localCheckpoint by default, reliable when dir set) so the
    // corpus-wide collapse window is never shuffled twice.
    val mapping = // (vec_id, v, rep0), nonzero only
      Dedup.materialize(exactCollapse(embeddings), checkpointDir)
    val reps = mapping.where(col("vec_id") === col("rep0"))
      .select(col("vec_id"), col("v").as("embedding"))
    val pairs = embeddingNearDups(reps, minCosine, numPlanes)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"),
        col("cosine").as("jaccard"))
    val cc = Dedup.duplicateClusters(pairs, checkpointDir = checkpointDir)
      .select(col("doc_id").as("rep0"), col("cluster_id").as("rep_id"))
    val labelled = mapping.select(col("vec_id"), col("rep0"))
      .join(cc, Seq("rep0"), "left")
      .select(col("vec_id"), coalesce(col("rep_id"), col("rep0")).as("rep_id"))
    embeddings.select(col("vec_id"))
      .join(labelled, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("rep_id"), col("vec_id")).as("rep_id"))
      .withColumn("kept", col("rep_id") === col("vec_id"))
  }

  /** [[semanticDedup]] oracle: the near-dup pair SQL feeding the same
    * recursive reachability closure as [[Dedup.duplicateClustersSql]],
    * left-joined back to the full embedding set so singletons keep
    * themselves. */
  def semanticDedupSql(minCosine: Double): String =
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), n AS (
       |  SELECT vec_id, v, ${normSql("v")} AS nrm, ${bucketSql("v")} AS bucket FROM e
       |), prs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE NOT isnan(round(${dotSql("a.v", "b.v")} / (a.nrm * b.nrm), 6))
       |    AND round(${dotSql("a.v", "b.v")} / (a.nrm * b.nrm), 6) >= $minCosine
       |), ed AS (
       |  SELECT vec_a AS u, vec_b AS v FROM prs
       |  UNION SELECT vec_b AS u, vec_a AS v FROM prs
       |), walk(nn, r) AS (
       |  SELECT u, u FROM ed
       |  UNION
       |  SELECT w.nn, ed.v FROM walk w JOIN ed ON ed.u = w.r
       |), cc AS (
       |  SELECT nn AS vec_id, min(r) AS rep_id FROM walk GROUP BY nn
       |)
       |SELECT emb.vec_id, coalesce(cc.rep_id, emb.vec_id) AS rep_id,
       |  coalesce(cc.rep_id, emb.vec_id) = emb.vec_id AS kept
       |FROM embeddings emb LEFT JOIN cc USING (vec_id)""".stripMargin

  // --- incremental semantic dedup (x48) -------------------------------------

  /** Incremental SemDeDup: label a NEW batch of embeddings against an
    * already-labelled snapshot without re-pairing the old corpus with
    * itself. The old corpus's transitive structure rides in as star
    * edges from its labels ([[Dedup.duplicateClustersIncremental]]);
    * only new×new and new×old candidate pairs are computed fresh — the
    * new×old side against the persisted embedding artifact
    * ([[crossEmbeddingNearDups]]), so per-batch work scales with the
    * BATCH, not the corpus.
    *
    * Exactly equivalent to running [[semanticDedup]] over old ∪ new —
    * not a greedy approximation: the batch closure's edge set is
    * old×old ∪ old×new ∪ new×new, the first term's closure is already
    * encoded by the star edges, and the other two are supplied here, so
    * both paths compute the same connected components and the same
    * min-id representatives. A new vector BRIDGING two old clusters
    * merges them, exactly as the batch run would (spec-pinned; also
    * pinned end-to-end by registering this path against the batch
    * oracle). */
  def semanticDedupIncremental(prevLabels: DataFrame, oldEmbeddings: DataFrame,
      newEmbeddings: DataFrame, minCosine: Double,
      numPlanes: Int = NumPlanes,
      checkpointDir: Option[String] = None): DataFrame = {
    // Exact duplicates in the NEW batch collapse first, exactly as the
    // batch path does: a crawl slice carrying m copies of one embedding
    // would otherwise hand the within-bucket quadratic m²/2 pairs and
    // the closure m²/2 edges. Labels are unchanged by the collapse
    // (identical nonzero vectors: cosine exactly 1, same minimum id),
    // so batch equivalence is preserved.
    val mapping = // (vec_id, v, rep0), nonzero new vectors only
      Dedup.materialize(exactCollapse(newEmbeddings), checkpointDir)
    val reps = mapping.where(col("vec_id") === col("rep0"))
      .select(col("vec_id"), col("v").as("embedding"))
    val newNew = embeddingNearDups(reps, minCosine, numPlanes)
    val newOld = crossEmbeddingNearDups(reps, oldEmbeddings,
      minCosine, numPlanes)
    val pairs = newNew.unionByName(newOld)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"),
        col("cosine").as("jaccard"))
    val merged = Dedup.duplicateClustersIncremental(
      prevLabels.select(col("vec_id").as("doc_id"), col("rep_id").as("cluster_id")),
      pairs, checkpointDir)
      .select(col("doc_id").as("vec_id"), col("cluster_id").as("rep_id"))
    // old side: merged re-attaches every previously-labelled vector
    val oldLabels = prevLabels.select(col("vec_id"))
      .join(merged, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("rep_id"), col("vec_id")).as("rep_id"))
    // new side: members inherit their exact-rep's cluster; an unpaired
    // rep group keeps its own minimum; zero-norm vectors (no mapping
    // row) stay singletons
    val newLabels = newEmbeddings.select(col("vec_id"))
      .join(mapping.select(col("vec_id"), col("rep0")), Seq("vec_id"), "left")
      .join(merged.select(col("vec_id").as("rep0"), col("rep_id")),
        Seq("rep0"), "left")
      .select(col("vec_id"),
        coalesce(col("rep_id"), col("rep0"), col("vec_id")).as("rep_id"))
    oldLabels.unionByName(newLabels)
      .withColumn("kept", col("rep_id") === col("vec_id"))
  }

  // --- ANN recall harness (x44) -------------------------------------------

  /** Names of the DOC-level approximate variants [[annRecall]]
    * evaluates (each scored against the exact brute-force
    * [[cosineTopK]] baseline), in report order. Shared with the oracle
    * generator so the two can never list different methods. */
  val RecallMethods: Seq[String] =
    Seq("binary", "ivf", "ivfpq", "ivfpq_res", "lsh", "multiprobe", "pq",
      "prefix", "quantized")

  /** The CHUNK-level variants' method tags: [[chunkIvfPqTopKFromIndex]]
    * (plain ADC) and [[chunkIvfPqRefineTopK]] (exact-reranked
    * shortlist), each scored against their OWN exact baseline —
    * [[multiVectorTopK]]'s brute MaxSim (x83), not [[cosineTopK]]: the
    * chunk index answers the multi-vector task, so its recall is
    * meaningful only against the exact answer to that task. */
  val ChunkRecallMethod: String = "chunk_ivfpq"
  val ChunkRefineRecallMethod: String = "chunk_ivfpq_refine"
  private val ChunkRecallMethods = Seq(ChunkRecallMethod,
    ChunkRefineRecallMethod)

  /** ANN index-quality harness: recall@k of every approximate variant
    * against the exact brute-force top-k, per query — THE acceptance
    * metric a vector index ships with (what "nprobe=2 gives 0.95
    * recall@5" claims mean). One row per (method, query): the exact
    * neighbor count, how many the variant recovered, and the ratio.
    * Consulted next to [[ivfCellStats]] before tuning planes/nprobe.
    * This is the per-variant MECHANICS check over a small fixed query
    * set; the statistically-wide measurement that sets the serve
    * defaults is [[recallCurve]] (x91 — 50-query sample, full
    * nprobe × refine grid).
    *
    * Scale shape: this is an EVALUATION harness, run over a sampled
    * query set (|queries| ≪ corpus), not a per-corpus-row op. The
    * exact side scans the corpus once against the broadcast query
    * sample ([[cosineTopK]]); each approximate side is the
    * already-audited bucket/probe join. Everything after the variants
    * is arithmetic over ≤ |methods|·|queries|·k rows — driver-scale
    * metadata, shuffled nowhere meaningful. */
  def annRecall(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      centroids: Option[Seq[Seq[Double]]] = None,
      books: Option[Seq[Seq[Seq[Double]]]] = None,
      resBooks: Option[Seq[Seq[Seq[Double]]]] = None,
      docs: Option[DataFrame] = None,
      chunkIndex: Option[DataFrame] = None): DataFrame = {
    def side(method: String, df: DataFrame): DataFrame =
      df.select(lit(method).as("method"), col("query_id"), col("vec_id"))
    val exact = cosineTopK(embeddings, queryIds, k).select("query_id", "vec_id")
    val docApprox =
      side("ivf", ivfTopK(embeddings, queryIds, k, nprobe = 2, centroids))
        .unionByName(side("ivfpq",
          ivfPqTopK(embeddings, queryIds, k, nprobe = 2, centroids, books)))
        .unionByName(side("ivfpq_res",
          ivfPqResidualTopK(embeddings, queryIds, k, nprobe = 2, centroids,
            resBooks)))
        .unionByName(side("lsh", annTopK(embeddings, queryIds, k)))
        .unionByName(side("multiprobe", annTopKMultiProbe(embeddings, queryIds, k)))
        .unionByName(side("pq", pqTopK(embeddings, queryIds, k, books)))
        .unionByName(side("quantized", annTopKQuantized(embeddings, queryIds, k)))
        .unionByName(side("binary", binaryTopK(embeddings, queryIds, k)))
        .unionByName(side("prefix", prefixTopK(embeddings, queryIds, k)))
    // each doc-level variant scores against the exact cosine baseline;
    // the chunk variant (when `docs` supplies the chunkable corpus)
    // scores against ITS exact task answer — x83's brute MaxSim — so
    // the one number that justifies serving from the chunk index is a
    // like-for-like recall, not a cross-task coincidence
    val exactTagged = exact
      .select(explode(array(RecallMethods.map(lit): _*)).as("method"),
        col("query_id"), col("vec_id"))
    val (approx, exactAll) = docs match {
      case None => (docApprox, exactTagged)
      case Some(d) =>
        val cs = centroids.getOrElse(trainedCentroids(embeddings))
        val rb = resBooks.getOrElse(pqResidualCodebooks(embeddings, cs))
        val cEmb = chunkEmbeddings(d, embeddings)
        val idx = chunkIndex.getOrElse(chunkIvfPqIndex(cEmb, cs, rb))
        val probe = probePlanOf(embeddings, queryIds, cs, nprobe = 2)
        val pruned = idx.where(col("cell").isin(probe.cells: _*))
        val chunkApprox = chunkIvfPqTopKFromIndex(pruned, embeddings,
          queryIds, k, nprobe = 2, cs, rb, probe = Some(probe))
          .select(lit(ChunkRecallMethod).as("method"), col("query_id"),
            col("doc_id").as("vec_id"))
        val chunkRefine = chunkIvfPqRefineTopK(pruned, cEmb, embeddings,
          queryIds, k, r = BinaryShortlist, nprobe = 2, cs, rb,
          probe = Some(probe))
          .select(lit(ChunkRefineRecallMethod).as("method"),
            col("query_id"), col("doc_id").as("vec_id"))
        val chunkExact = multiVectorTopK(cEmb, embeddings, queryIds, k)
          .select(explode(array(ChunkRecallMethods.map(lit): _*))
            .as("method"), col("query_id"), col("doc_id").as("vec_id"))
        (docApprox.unionByName(chunkApprox).unionByName(chunkRefine),
          exactTagged.unionByName(chunkExact))
    }
    val hits = approx
      .join(exactAll.withColumn("hit", lit(1L)),
        Seq("method", "query_id", "vec_id"), "left")
      .groupBy("method", "query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
    // grid guarantees a row even for a variant that returned nothing
    val grid = exactAll.groupBy("method", "query_id")
      .agg(count(lit(1)).as("exact_n"))
    grid.join(hits, Seq("method", "query_id"), "left")
      .select(col("method"), col("query_id"), col("exact_n"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)) / col("exact_n"), 6).as("recall"))
  }

  /** [[annRecall]] oracle: each variant's own oracle SQL embedded as a
    * CTE-bearing subquery, unioned under its method tag, then the same
    * grid/hits arithmetic. The chunk variant carries its own exact
    * baseline (the brute-MaxSim chain) into the tagged-exact union,
    * mirroring [[annRecall]]'s per-method baselines. */
  def annRecallSql(queryIds: Seq[Long], k: Int): String = {
    val variantSql = Map(
      "ivf" -> ivfTopKSql(queryIds, k, nprobe = 2),
      "ivfpq" -> ivfPqTopKSql(queryIds, k, nprobe = 2),
      "ivfpq_res" -> ivfPqResidualTopKSql(queryIds, k, nprobe = 2),
      "lsh" -> annTopKSql(queryIds, k),
      "multiprobe" -> annTopKMultiProbeSql(queryIds, k),
      "pq" -> pqTopKSql(queryIds, k),
      "quantized" -> annTopKQuantizedSql(queryIds, k),
      "binary" -> binaryTopKSql(queryIds, k),
      "prefix" -> prefixTopKSql(queryIds, k))
    val unions = (RecallMethods.map { m =>
      s"  SELECT '$m' AS method, query_id, vec_id FROM (\n${variantSql(m)}\n  )"
    } :+
      // BOTH chunk variants off one shared chain (the training CTEs
      // are the expensive part; two independent subqueries would
      // materialize them twice)
      s"""  SELECT method, query_id, vec_id FROM (
         |${chunkRecallPairSql(queryIds, k, nprobe = 2, r = BinaryShortlist)}
         |  )""".stripMargin)
      .mkString("\n  UNION ALL\n")
    materializedCtes(s"""WITH exact AS (
       |  SELECT query_id, vec_id FROM (
       |${cosineTopKSql(queryIds, k)}
       |  )
       |), cexact AS (
       |  SELECT query_id, doc_id AS vec_id FROM (
       |${multiVectorTopKSql(queryIds, k)}
       |  )
       |), approx AS (
       |$unions
       |), extag AS (
       |  SELECT m.method, e.query_id, e.vec_id
       |  FROM (SELECT unnest([${RecallMethods.map("'" + _ + "'").mkString(", ")}]) AS method) m
       |  CROSS JOIN exact e
       |  UNION ALL
       |  SELECT m2.method, c.query_id, c.vec_id
       |  FROM (SELECT unnest([${ChunkRecallMethods.map("'" + _ + "'").mkString(", ")}]) AS method) m2
       |  CROSS JOIN cexact c
       |), ex_n AS (
       |  SELECT method, query_id, count(*) AS exact_n
       |  FROM extag GROUP BY method, query_id
       |), hits AS (
       |  SELECT a.method, a.query_id, count(e.vec_id) AS hits
       |  FROM approx a LEFT JOIN extag e
       |    ON e.method = a.method AND e.query_id = a.query_id
       |      AND e.vec_id = a.vec_id
       |  GROUP BY a.method, a.query_id
       |), rpt AS (
       |  SELECT g.method, g.query_id, g.exact_n,
       |    CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       |    round(coalesce(h.hits, 0) / g.exact_n, 6) AS recall
       |  FROM ex_n g LEFT JOIN hits h
       |    ON h.method = g.method AND h.query_id = g.query_id
       |)
       |SELECT method, query_id, exact_n, hits, recall FROM rpt""".stripMargin)
  }

  // --- serve-knob tuning curve (x91) ---------------------------------------

  /** The nprobe sweep [[recallCurve]] measures — every serve entry's
    * probe-width knob ([[graft.serve.Retrieval!.denseTopK]]), from the
    * cheapest setting to a quarter of the
    * [[NumCentroids]] cells (scan fraction 1/32 … 1/4). */
  val CurveNprobes: Seq[Int] = Seq(1, 2, 4, 8)

  /** The refine-shortlist sweep — the serves' second knob
    * ([[BinaryShortlist]]'s 20 sits mid-grid on purpose). */
  val CurveRefines: Seq[Int] = Seq(10, 20, 40)

  /** The codebook-size sweep [[codebookCurve]] measures (x94) — the
    * INDEX knob, distinct from the two serve knobs: coarse cell count
    * brackets the k ≈ √n scale guidance for the fixtures (√500 ≈ 22,
    * √2000 ≈ 45), so the curve shows whether finer cells buy recall at
    * a held scan fraction the way [[NumCentroids]]' scaladoc promises.
    * Compare at FIXED nprobe/cells ratio across rows, not fixed nprobe
    * — nprobe=2 of 16 cells scans 4× the corpus share of nprobe=2 of
    * 64. */
  val CurveCells: Seq[Int] = Seq(16, 32, 64)

  /** The four serve shapes the curve prices, with their family tag
    * (which exact baseline scores them) — single-sourced so the engine
    * grid, the oracle grid, and the output rows can never disagree. */
  private def curveGrid(nprobes: Seq[Int], refines: Seq[Int])
      : Seq[(String, String, Int, Int)] =
    nprobes.map(np => ("doc_adc", "doc", np, 0)) ++
      (for (np <- nprobes; r <- refines) yield ("doc_refine", "doc", np, r)) ++
      nprobes.map(np => ("chunk_adc", "chunk", np, 0)) ++
      (for (np <- nprobes; r <- refines) yield ("chunk_refine", "chunk", np, r))

  /** The two curve families and the frames each one needs — [[
    * recallCurveFrom]]'s `families` values. */
  val CurveFamilies: Seq[String] = Seq("doc", "chunk")

  /** Serve-knob TUNING CURVE — recall@k of every (nprobe × refine)
    * grid point of the four production serve shapes (doc-level ADC,
    * doc-level two-stage refine, chunk-level ADC MaxSim, chunk-level
    * refine), each family scored against ITS exact baseline
    * ([[cosineTopK]]; [[multiVectorTopK]]'s brute MaxSim), aggregated
    * over a WIDE deterministic query sample. [[annRecall]] (x44)
    * cross-checks every variant's mechanics per query at the shipped
    * setting; this is the complementary measurement — the sample is
    * big enough that the recall digits mean something, and the grid is
    * what a deployment consults to SET nprobe/r instead of guessing
    * (the numbers behind [[graft.serve.Retrieval]]'s defaults).
    *
    * One ADC scoring pass serves the whole grid: probes rank once at
    * `max(nprobes)` keeping each cell's probe RANK, the scored frames
    * carry `(prn, adc, exact)` per candidate, and every grid point is
    * pure window arithmetic over the two materialized frames —
    * `prn <= nprobe` reproduces the narrower probe sets exactly, and
    * the exact cosine attaches once per candidate instead of once per
    * grid point. Combo selection mirrors the serve paths' exact
    * ordering rules ([[ivfPqRefineTopK]], [[chunkIvfPqRefineTopK]]),
    * so a grid point's recall IS the recall of the corresponding serve
    * call.
    *
    * Scale shape: an evaluation harness (|queries| ≪ corpus), run per
    * snapshot next to [[ivfCellStats]]: the exact baselines are the
    * priced brute scans, the ADC side is ONE probe join at the widest
    * setting, and everything after is windows over ≤ |queries| ·
    * (probed candidates) rows. */
  def recallCurve(embeddings: DataFrame, docs: DataFrame,
      queryIds: Seq[Long], k: Int,
      nprobes: Seq[Int] = CurveNprobes, refines: Seq[Int] = CurveRefines,
      centroids: Option[Seq[Seq[Double]]] = None,
      resBooks: Option[Seq[Seq[Seq[Double]]]] = None,
      docIndex: Option[DataFrame] = None,
      chunkIndex: Option[DataFrame] = None,
      checkpointDir: Option[String] = None,
      chunkEmb: Option[DataFrame] = None,
      docExact: Option[DataFrame] = None,
      chunkExact: Option[DataFrame] = None): DataFrame = {
    val cents = centroids.getOrElse(trainedCentroids(embeddings))
    val books = resBooks.getOrElse(pqResidualCodebooks(embeddings, cents))
    // `chunkEmb`/`docExact`/`chunkExact` are the per-fixture ARTIFACT
    // seams: the derivation and the brute baselines are
    // codebook-independent, so a repeated tuning run (the bench, a
    // retune cadence) reads them from stored frames instead of paying
    // the derivation + two brute scans per invocation
    val cEmb = chunkEmb.getOrElse(Dedup.materialize(
      chunkEmbeddingsFrom(TextOps.chunkDocs(docs), embeddings),
      checkpointDir))
    recallCurveFrom(embeddings, cEmb,
      docIndex.getOrElse(ivfPqIndex(embeddings, cents, books,
        residual = true)),
      chunkIndex.getOrElse(chunkIvfPqIndex(cEmb, cents, books)),
      cents, books, queryIds, k, nprobes, refines, checkpointDir,
      docExact = docExact, chunkExact = chunkExact)
  }

  /** [[recallCurve]] over PREBUILT frames: `chunkEmb` is the
    * full-precision chunk frame (for an external embedding model, the
    * real vectors the derivation cannot reproduce), `docIndex`/
    * `chunkIndex` the cell-partitioned code frames, `cents`/`books`
    * the codebooks they were encoded under. */
  def recallCurveFrom(embeddings: DataFrame, chunkEmb: => DataFrame,
      docIndex: => DataFrame, chunkIndex: => DataFrame,
      cents: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]],
      queryIds: Seq[Long], k: Int,
      nprobes: Seq[Int] = CurveNprobes, refines: Seq[Int] = CurveRefines,
      checkpointDir: Option[String] = None,
      docExact: Option[DataFrame] = None,
      chunkExact: Option[DataFrame] = None,
      families: Seq[String] = CurveFamilies): DataFrame = {
    require(refines.forall(_ >= k), s"every refine r must be >= k=$k")
    // `families` restricts the meter to the requested side(s): a BPE
    // maintenance pass that only needs the chunk family must not pay
    // the brute doc baseline it just computed in the whitespace pass
    // (each family's frames are BY-NAME parameters, never even read
    // when its family is absent — a pre-chunk-layout snapshot can
    // meter its doc serve). The grid, both exact baselines, and the
    // scored frames all derive from the same filtered family list, so
    // a skipped family contributes zero jobs and zero rows.
    require(families.nonEmpty && families.forall(CurveFamilies.contains),
      s"families must be a non-empty subset of $CurveFamilies: $families")
    val maxNp = nprobes.max

    // ONE ranked probe set at the widest setting (rank = prn); probes
    // and query vectors attach as plan literals (the [[ProbePlan]]
    // device): per cell, the (query_id, prn) pairs probing it
    val e = embeddings.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
    val qvecs = e.where(col("vec_id").isin(queryIds.distinct: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    val pRows = probeRowsRanked(qvecs, queryIds, cents, maxNp)
    val probedCells = pRows.map(_._3).distinct
    val ranked: Map[Long, Seq[(Long, Int)]] = pRows.groupBy(_._3)
      .map { case (c, rs) => c -> rs.map(r => (r._1, r._4)) }
    def probed(index: DataFrame): DataFrame =
      index.where(col("cell").isin(probedCells: _*))
        .select(col("*"), explode(element_at(typedLit(ranked), col("cell"))).as("p"))
        .select(col("*"), col("p._1").as("query_id"), col("p._2").as("prn"))
    val qv = element_at(typedLit(qvecs), col("query_id"))
    val rv = pqDecode(col("codes"), col("cell"), cents, books)

    val wantDoc = families.contains("doc")
    val wantChunk = families.contains("chunk")

    // the two families' candidate frames are independent eager
    // materializations (one localCheckpoint job each) — build them
    // CONCURRENTLY (guide §2.6 via [[Dedup]]/[[Par.concurrently]]) so
    // the chunk side's jobs back-fill the doc side's task tail instead
    // of waiting out a driver round-trip
    // doc family: ADC + attached exact cosine per probed candidate
    def buildDoc(): DataFrame = {
      val dAdc = probed(docIndex)
        .where(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), col("prn"),
          round(cosine(qv, rv), 6).as("adc"))
        .where(!isnan(col("adc")))
      Dedup.materialize(
        dAdc.join(e, "vec_id")
          .select(col("query_id"), col("vec_id"), col("prn"), col("adc"),
            round(cosine(qv, col("v")), 6).as("exact")),
        checkpointDir)
    }
    // chunk family: the composite-key index's ADC + exact per candidate
    def buildChunk(): (DataFrame, DataFrame) = {
      val cEmb = chunkEmb
      val cAdc = probed(chunkIndex)
        .select(col("query_id"),
          expr(s"vec_id DIV $ChunkStride").as("doc_id"),
          pmod(col("vec_id"), lit(ChunkStride)).as("chunk_id"), col("prn"),
          round(cosine(qv, rv), 6).as("adc"))
        .where(col("doc_id") =!= col("query_id") && !isnan(col("adc")))
      val ce = cEmb.select(col("doc_id"), col("chunk_id"),
        asDoubles(col("embedding")).as("v"))
      val cBoth = Dedup.materialize(
        cAdc.join(ce, Seq("doc_id", "chunk_id"))
          .select(col("query_id"), col("doc_id"), col("chunk_id"),
            col("prn"), col("adc"),
            round(cosine(qv, col("v")), 6).as("exact")),
        checkpointDir)
      val cEx = chunkExact.getOrElse(
        multiVectorTopK(cEmb, embeddings, queryIds, k)
          .select("query_id", "doc_id"))
      (cBoth, cEx)
    }
    val built = Par.concurrently(Seq[() => Any](
      () => if (wantDoc) Some(buildDoc()) else None,
      () => if (wantChunk) Some(buildChunk()) else None))
    val dBoth = built(0).asInstanceOf[Option[DataFrame]]
    val chunkSide = built(1).asInstanceOf[Option[(DataFrame, DataFrame)]]
    // the exact baselines are codebook-INDEPENDENT — a multi-codebook
    // sweep ([[codebookCurve]]) computes each once and passes it in
    val dEx = if (!wantDoc) None else Some(docExact.getOrElse(
      cosineTopK(embeddings, queryIds, k).select("query_id", "vec_id")))
    val cBoth = chunkSide.map(_._1)
    val cEx = chunkSide.map(_._2)

    // grid points: window arithmetic over the two frames, each
    // mirroring its serve path's exact ordering rules. ONE branch per
    // METHOD, not per grid point (optimization guide §2.4/§7.2): each
    // candidate row explodes into the grid memberships it survives
    // (`prn <= np`; `rs <= r`) and a single window ranks per
    // (query_id, np[, r]) partition — identical subsets, identical
    // (orderBy, row_number) tie-breaking, so rows are provably the
    // per-point windows' — where the per-point form planned
    // |nprobes|·(1+|refines|) window branches PER FAMILY over the same
    // checkpointed frame (32 window exchanges at the default grid, and
    // it compounds ×|sweep| in x94/x95/x97 — before/after numbers in
    // OPTIMIZATION_r20.md). Candidate rows multiply into ≈2× (nested np
    // subsets) + a k·|refines|-bounded shortlist — grid-membership
    // metadata per §2.3's "shuffle keys, not payloads", far cheaper
    // than the removed per-branch passes.
    val npCol = explode(array(nprobes.map(lit): _*)).as("np")
    val rCol = explode(array(refines.map(lit): _*)).as("r")
    def docAdcAll: DataFrame = {
      val w = Window.partitionBy("query_id", "np")
        .orderBy(desc("adc"), asc("vec_id"))
      dBoth.get.select(col("*"), npCol).where(col("prn") <= col("np"))
        .withColumn("rn", row_number().over(w)).where(col("rn") <= k)
        .select(lit("doc_adc").as("method"), lit("doc").as("fam"),
          col("np").as("nprobe"), lit(0).as("r"),
          col("query_id"), col("vec_id").as("id"))
    }
    def docRefineAll: DataFrame = {
      val wS = Window.partitionBy("query_id", "np")
        .orderBy(desc("adc"), asc("vec_id"))
      val wK = Window.partitionBy("query_id", "np", "r")
        .orderBy(desc("exact"), asc("vec_id"))
      dBoth.get.select(col("*"), npCol).where(col("prn") <= col("np"))
        .withColumn("rs", row_number().over(wS))
        .where(col("rs") <= refines.max)
        .select(col("*"), rCol).where(col("rs") <= col("r"))
        .where(!isnan(col("exact")))
        .withColumn("rn", row_number().over(wK)).where(col("rn") <= k)
        .select(lit("doc_refine").as("method"), lit("doc").as("fam"),
          col("np").as("nprobe"), col("r"),
          col("query_id"), col("vec_id").as("id"))
    }
    def chunkAdcAll: DataFrame = {
      val wB = Window.partitionBy("query_id", "np", "doc_id")
        .orderBy(desc("adc"), asc("chunk_id"))
      val wK = Window.partitionBy("query_id", "np")
        .orderBy(desc("adc"), asc("doc_id"))
      cBoth.get.select(col("*"), npCol).where(col("prn") <= col("np"))
        .withColumn("rc", row_number().over(wB)).where(col("rc") === 1)
        .withColumn("rn", row_number().over(wK)).where(col("rn") <= k)
        .select(lit("chunk_adc").as("method"), lit("chunk").as("fam"),
          col("np").as("nprobe"), lit(0).as("r"),
          col("query_id"), col("doc_id").as("id"))
    }
    def chunkRefineAll: DataFrame = {
      val wS = Window.partitionBy("query_id", "np")
        .orderBy(desc("adc"), asc("doc_id"), asc("chunk_id"))
      val wB = Window.partitionBy("query_id", "np", "r", "doc_id")
        .orderBy(desc("exact"), asc("chunk_id"))
      val wK = Window.partitionBy("query_id", "np", "r")
        .orderBy(desc("exact"), asc("doc_id"))
      cBoth.get.select(col("*"), npCol).where(col("prn") <= col("np"))
        .withColumn("rs", row_number().over(wS))
        .where(col("rs") <= refines.max)
        .select(col("*"), rCol).where(col("rs") <= col("r"))
        .where(!isnan(col("exact")))
        .withColumn("rc", row_number().over(wB)).where(col("rc") === 1)
        .withColumn("rn", row_number().over(wK)).where(col("rn") <= k)
        .select(lit("chunk_refine").as("method"), lit("chunk").as("fam"),
          col("np").as("nprobe"), col("r"),
          col("query_id"), col("doc_id").as("id"))
    }
    val combos = curveGrid(nprobes, refines)
      .filter { case (_, fam, _, _) => families.contains(fam) }
    val approx = (
      (if (wantDoc) Seq(docAdcAll, docRefineAll) else Nil) ++
        (if (wantChunk) Seq(chunkAdcAll, chunkRefineAll) else Nil))
      .reduce(_ unionByName _)

    // score: hits against each family's exact set, aggregated over the
    // sample; the literal grid guarantees a row per grid point even if
    // a setting returned nothing
    val exTag = (dEx.map(_.select(lit("doc").as("fam"), col("query_id"),
        col("vec_id").as("id"))).toSeq ++
      cEx.map(_.select(lit("chunk").as("fam"), col("query_id"),
        col("doc_id").as("id"))).toSeq)
      .reduce(_ unionByName _)
    val hits = approx
      .join(exTag.withColumn("hit", lit(1L)), Seq("fam", "query_id", "id"),
        "left")
      .groupBy("method", "fam", "nprobe", "r")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
    val exN = exTag.groupBy("fam").agg(count(lit(1)).as("exact_n"))
    val spark = embeddings.sparkSession
    import spark.implicits._
    val grid = spark.createDataset(
        spark.sparkContext.parallelize(combos, 1))
      .toDF("method", "fam", "nprobe", "r")
    grid.join(exN, "fam")
      .join(hits, Seq("method", "fam", "nprobe", "r"), "left")
      .select(col("method"), col("nprobe"), col("r"), col("exact_n"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)) / col("exact_n"), 6).as("recall"))
  }

  /** Codebook-size TUNING CURVE (x94) — [[recallCurveFrom]] swept over
    * coarse centroid counts: for each cell count a fresh codebook +
    * residual books train and both indexes re-encode (that is what the
    * knob COSTS — a codebook migration, a full
    * [[graft.serve.Retrieval.build]]), then the same (nprobe × refine)
    * grid scores against
    * the SHARED exact baselines (computed once — they are codebook-
    * independent). Output adds a leading `cells` column to the
    * [[recallCurve]] row shape.
    *
    * This is the measurement behind [[NumCentroids]]' k ≈ √n scale
    * guidance: nprobe/cells is the scan fraction, so reading the curve
    * at a HELD fraction (e.g. 2/16 vs 8/64) shows what finer cells buy
    * at equal probed bandwidth, while a held nprobe column shows the
    * recall cost of keeping probe width while shrinking the fraction.
    *
    * Scale shape: |cells| independent train+encode chains over the
    * corpus (each the priced [[ivfPqIndex]] build) + ONE pair of brute
    * baselines + per-grid-point window arithmetic — an offline harness
    * run when choosing a codebook, never in a serve path. */
  def codebookCurve(embeddings: DataFrame, docs: DataFrame,
      queryIds: Seq[Long], k: Int,
      cells: Seq[Int] = CurveCells,
      nprobes: Seq[Int] = CurveNprobes, refines: Seq[Int] = CurveRefines,
      checkpointDir: Option[String] = None,
      trainedFor: Option[Int => (Seq[Seq[Double]], Seq[Seq[Seq[Double]]])] =
        None,
      indexesFor: Option[Int => (DataFrame, DataFrame)] = None,
      chunkEmb: Option[DataFrame] = None,
      docExact: Option[DataFrame] = None,
      chunkExact: Option[DataFrame] = None)
      : DataFrame = {
    require(cells.nonEmpty && cells.distinct == cells,
      s"cells must be non-empty and distinct: $cells")
    val cEmb = chunkEmb.getOrElse(Dedup.materialize(
      chunkEmbeddingsFrom(TextOps.chunkDocs(docs), embeddings),
      checkpointDir))
    val dEx = docExact.getOrElse(Dedup.materialize(
      cosineTopK(embeddings, queryIds, k).select("query_id", "vec_id"),
      checkpointDir))
    val cEx = chunkExact.getOrElse(Dedup.materialize(
      multiVectorTopK(cEmb, embeddings, queryIds, k)
        .select("query_id", "doc_id"),
      checkpointDir))
    val train = trainedFor.getOrElse { kc: Int =>
      val cs = trainedCentroids(embeddings, kc)
      (cs, pqResidualCodebooks(embeddings, cs))
    }
    // knob points are independent (own artifacts, own checkpoints) —
    // construct them CONCURRENTLY (guide §2.6): each point's eager
    // candidate materializations overlap instead of serializing on the
    // driver, and the union below reads the checkpointed frames
    Par.concurrently(cells.map { kc => () =>
      val (cents, books) = train(kc)
      // `indexesFor` is the per-(fixture, cells) ARTIFACT seam (the
      // x60 convention): a cached caller serves the sweep's codes from
      // stored cell-partitioned frames instead of re-encoding per run
      val (docIdx, chunkIdx) = indexesFor.map(_(kc)).getOrElse(
        (ivfPqIndex(embeddings, cents, books, residual = true),
          chunkIvfPqIndex(cEmb, cents, books)))
      recallCurveFrom(embeddings, cEmb, docIdx, chunkIdx,
        cents, books, queryIds, k, nprobes, refines, checkpointDir,
        docExact = Some(dEx), chunkExact = Some(cEx))
        .select(lit(kc).as("cells"), col("*"))
    }).reduce(_ unionByName _)
  }

  /** [[codebookCurve]] oracle: one full [[recallCurveSql]] train →
    * encode → score chain PER cell count, each in its own
    * (MATERIALIZED) WITH scope, UNION ALL'd under its `cells` literal.
    * Nothing is shared across counts on purpose — a different coarse
    * codebook changes residuals, books, codes and probes alike, so the
    * chains are genuinely independent; the shared-baseline saving the
    * engine side makes is skipped here for scope hygiene (the brute
    * baselines are the cheap part of the chain at fixture scale). */
  def codebookCurveSql(queryIds: Seq[Long], k: Int,
      cells: Seq[Int] = CurveCells,
      nprobes: Seq[Int] = CurveNprobes, refines: Seq[Int] = CurveRefines,
      iters: Int = KMeansIters, m: Int = PqSubspaces,
      ksub: Int = PqSubCentroids, pqIters: Int = PqIters): String =
    cells.map { kc =>
      s"""SELECT $kc AS cells, q.* FROM (
         |${recallCurveSql(queryIds, k, nprobes, refines, iters, m, ksub,
              pqIters, kc)}
         |) q""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** The PQ-SUBSPACE sweep [[pqSubspacesCurve]] measures (x95) — the
    * CODE-BUDGET knob, the third index axis after the two serve knobs
    * (x91) and the coarse cell count (x94): `m` sub-codes per vector IS
    * the stored bytes per vector, and it bounds ADC reconstruction
    * error exactly the way the cell count bounds probe recall. The
    * sweep brackets the shipped [[PqSubspaces]] = 8 by halving and
    * doubling (Dim = 64 divides all three). */
  val CurveSubspaces: Seq[Int] = Seq(4, 8, 16)

  /** PQ-subspace TUNING CURVE (x95) — [[recallCurveFrom]] swept over
    * the subspace count at a FIXED coarse codebook: the cells (and the
    * probe geometry with them) hold still while the residual books
    * train afresh per `m` and both indexes re-encode — that re-encode is
    * what the knob COSTS, a code migration at held cell layout (cheaper
    * than x94's full re-training: the coarse codebook survives). The same
    * (nprobe × refine) grid scores against the SHARED exact baselines
    * (codebook- and code-independent, computed once). Output adds a
    * leading `m` column to the [[recallCurve]] row shape.
    *
    * Reading the curve: rows at equal (nprobe, r) isolate what doubling
    * the per-vector code budget buys in recall; the ADC rows show the
    * raw distortion effect, the refine rows whether the shortlist
    * already absorbs it at the shipped serve point.
    *
    * Scale shape: |ms| independent book-train + encode chains + ONE
    * pair of brute baselines + window arithmetic per grid point — the
    * x94 harness pattern on the second axis, an offline evaluation run
    * at retune cadence, never in a serve path. */
  def pqSubspacesCurve(embeddings: DataFrame, docs: DataFrame,
      queryIds: Seq[Long], k: Int,
      ms: Seq[Int] = CurveSubspaces,
      nprobes: Seq[Int] = CurveNprobes, refines: Seq[Int] = CurveRefines,
      checkpointDir: Option[String] = None,
      centroids: Option[Seq[Seq[Double]]] = None,
      trainedFor: Option[Int => Seq[Seq[Seq[Double]]]] = None,
      indexesFor: Option[Int => (DataFrame, DataFrame)] = None,
      chunkEmb: Option[DataFrame] = None,
      docExact: Option[DataFrame] = None,
      chunkExact: Option[DataFrame] = None)
      : DataFrame = {
    require(ms.nonEmpty && ms.distinct == ms,
      s"ms must be non-empty and distinct: $ms")
    require(ms.forall(m => Dim % m == 0),
      s"every m must divide Dim=$Dim: $ms")
    val cents = centroids.getOrElse(trainedCentroids(embeddings))
    val cEmb = chunkEmb.getOrElse(Dedup.materialize(
      chunkEmbeddingsFrom(TextOps.chunkDocs(docs), embeddings),
      checkpointDir))
    val dEx = docExact.getOrElse(Dedup.materialize(
      cosineTopK(embeddings, queryIds, k).select("query_id", "vec_id"),
      checkpointDir))
    val cEx = chunkExact.getOrElse(Dedup.materialize(
      multiVectorTopK(cEmb, embeddings, queryIds, k)
        .select("query_id", "doc_id"),
      checkpointDir))
    val train = trainedFor.getOrElse { m: Int =>
      pqResidualCodebooks(embeddings, cents, m)
    }
    // independent knob points construct concurrently (guide §2.6 —
    // the codebookCurve rationale)
    Par.concurrently(ms.map { m => () =>
      val books = train(m)
      // `indexesFor` is the per-(fixture, m) ARTIFACT seam (the x94
      // convention): a cached caller serves the sweep's codes from
      // stored cell-partitioned frames instead of re-encoding per run
      val (docIdx, chunkIdx) = indexesFor.map(_(m)).getOrElse(
        (ivfPqIndex(embeddings, cents, books, residual = true),
          chunkIvfPqIndex(cEmb, cents, books)))
      recallCurveFrom(embeddings, cEmb, docIdx, chunkIdx,
        cents, books, queryIds, k, nprobes, refines, checkpointDir,
        docExact = Some(dEx), chunkExact = Some(cEx))
        .select(lit(m).as("m"), col("*"))
    }).reduce(_ unionByName _)
  }

  /** [[pqSubspacesCurve]] oracle — the [[codebookCurveSql]] pattern on
    * the m axis: one full [[recallCurveSql]] chain per subspace count
    * (the coarse k-means re-derives identically in each scope — scope
    * hygiene over sharing, the codebook-sweep convention), UNION ALL'd
    * under its `m` literal. */
  def pqSubspacesCurveSql(queryIds: Seq[Long], k: Int,
      ms: Seq[Int] = CurveSubspaces,
      nprobes: Seq[Int] = CurveNprobes, refines: Seq[Int] = CurveRefines,
      iters: Int = KMeansIters, ksub: Int = PqSubCentroids,
      pqIters: Int = PqIters, cells: Int = NumCentroids): String =
    ms.map { m =>
      s"""SELECT $m AS m, q.* FROM (
         |${recallCurveSql(queryIds, k, nprobes, refines, iters, m, ksub,
              pqIters, cells)}
         |) q""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** The SUB-CENTROID sweep [[pqKsubCurve]] measures (x97) — the
    * CODE-RESOLUTION knob, the last index axis (x91 = serve knobs,
    * x94 = cell count, x95 = bytes per vector, x97 = values per byte):
    * `ksub` entries per sub-codebook set how finely each stored
    * sub-code resolves its subvector, at a storage cost of
    * log2(ksub) BITS per code (vs x95's whole extra CODES) and a
    * codebook-metadata cost of ksub rows per subspace. The sweep
    * brackets the shipped [[PqSubCentroids]] = 16 by halving and
    * doubling. */
  val CurveSubCentroids: Seq[Int] = Seq(8, 16, 32)

  /** PQ sub-centroid TUNING CURVE (x97) — [[recallCurveFrom]] swept
    * over the per-subspace codebook size at FIXED coarse codebook and
    * FIXED subspace count: the cells and the code COUNT hold still
    * while each `ksub` trains fresh residual books and re-encodes both
    * indexes — the same migration x95 prices (held cell layout, the
    * coarse codebook survives), but the byte cost moves by BITS per
    * code (log2(ksub)) instead of whole codes, the cheaper axis to buy
    * resolution on when the storage budget is tight. The same
    * (nprobe × refine) grid scores against the SHARED exact baselines
    * (code-independent, computed once). Output adds a leading `ksub`
    * column to the [[recallCurve]] row shape.
    *
    * Reading the curve: rows at equal (nprobe, r) isolate what doubling
    * per-code resolution buys in ADC recall; dividing each row's recall
    * lift by its stored bits (m·log2(ksub) — 24/32/40 here vs the x95
    * sweep's 16/32/64) says which axis buys recall cheaper per byte at
    * the deployment's storage budget.
    *
    * Scale shape: |ksubs| independent book-train + encode chains + ONE
    * pair of brute baselines + window arithmetic per grid point — the
    * x94/x95 harness pattern on the third axis, an offline evaluation
    * run at retune cadence, never in a serve path. */
  def pqKsubCurve(embeddings: DataFrame, docs: DataFrame,
      queryIds: Seq[Long], k: Int,
      ksubs: Seq[Int] = CurveSubCentroids,
      nprobes: Seq[Int] = CurveNprobes, refines: Seq[Int] = CurveRefines,
      checkpointDir: Option[String] = None,
      centroids: Option[Seq[Seq[Double]]] = None,
      trainedFor: Option[Int => Seq[Seq[Seq[Double]]]] = None,
      indexesFor: Option[Int => (DataFrame, DataFrame)] = None,
      chunkEmb: Option[DataFrame] = None,
      docExact: Option[DataFrame] = None,
      chunkExact: Option[DataFrame] = None)
      : DataFrame = {
    require(ksubs.nonEmpty && ksubs.distinct == ksubs,
      s"ksubs must be non-empty and distinct: $ksubs")
    require(ksubs.forall(_ >= 2), s"every ksub must be >= 2: $ksubs")
    val cents = centroids.getOrElse(trainedCentroids(embeddings))
    val cEmb = chunkEmb.getOrElse(Dedup.materialize(
      chunkEmbeddingsFrom(TextOps.chunkDocs(docs), embeddings),
      checkpointDir))
    val dEx = docExact.getOrElse(Dedup.materialize(
      cosineTopK(embeddings, queryIds, k).select("query_id", "vec_id"),
      checkpointDir))
    val cEx = chunkExact.getOrElse(Dedup.materialize(
      multiVectorTopK(cEmb, embeddings, queryIds, k)
        .select("query_id", "doc_id"),
      checkpointDir))
    val train = trainedFor.getOrElse { ks: Int =>
      pqResidualCodebooks(embeddings, cents, ksub = ks)
    }
    // independent knob points construct concurrently (guide §2.6 —
    // the codebookCurve rationale)
    Par.concurrently(ksubs.map { ks => () =>
      val books = train(ks)
      // `indexesFor` is the per-(fixture, ksub) ARTIFACT seam (the
      // x94/x95 convention): a cached caller serves the sweep's codes
      // from stored cell-partitioned frames instead of re-encoding
      val (docIdx, chunkIdx) = indexesFor.map(_(ks)).getOrElse(
        (ivfPqIndex(embeddings, cents, books, residual = true),
          chunkIvfPqIndex(cEmb, cents, books)))
      recallCurveFrom(embeddings, cEmb, docIdx, chunkIdx,
        cents, books, queryIds, k, nprobes, refines, checkpointDir,
        docExact = Some(dEx), chunkExact = Some(cEx))
        .select(lit(ks).as("ksub"), col("*"))
    }).reduce(_ unionByName _)
  }

  /** [[pqKsubCurve]] oracle — the [[pqSubspacesCurveSql]] pattern on
    * the ksub axis: one full [[recallCurveSql]] chain per sub-centroid
    * count (the coarse k-means re-derives identically in each scope —
    * scope hygiene over sharing, the codebook-sweep convention),
    * UNION ALL'd under its `ksub` literal. */
  def pqKsubCurveSql(queryIds: Seq[Long], k: Int,
      ksubs: Seq[Int] = CurveSubCentroids,
      nprobes: Seq[Int] = CurveNprobes, refines: Seq[Int] = CurveRefines,
      iters: Int = KMeansIters, m: Int = PqSubspaces,
      pqIters: Int = PqIters, cells: Int = NumCentroids): String =
    ksubs.map { ks =>
      s"""SELECT $ks AS ksub, q.* FROM (
         |${recallCurveSql(queryIds, k, nprobes, refines, iters, m, ks,
              pqIters, cells)}
         |) q""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** [[recallCurve]] oracle: ONE shared train → encode → ranked-probe
    * chain (coarse k-means, residual books, doc codes, chunk codes —
    * the expensive CTEs run once for the whole grid), scored frames
    * carrying `(prn, adc, exact)`, the two exact baselines, and every
    * grid point as window arithmetic UNION'd under its tag — the same
    * one-pass-many-filters shape as the engine side. */
  def recallCurveSql(queryIds: Seq[Long], k: Int,
      nprobes: Seq[Int] = CurveNprobes, refines: Seq[Int] = CurveRefines,
      iters: Int = KMeansIters, m: Int = PqSubspaces,
      ksub: Int = PqSubCentroids, pqIters: Int = PqIters,
      cells: Int = NumCentroids): String = {
    val maxNp = nprobes.max
    val d = Dim / m
    val perSub = (0 until m).map { mi =>
      val a = mi * d + 1
      val b = (mi + 1) * d
      s"""cc_$mi AS (
         |  SELECT s.vec_id, p.cent_id AS code,
         |    row_number() OVER (PARTITION BY s.vec_id ORDER BY
         |      ${l2sqSql("s.sv", "p.cv", d)}, p.cent_id) AS rn
         |  FROM (SELECT vec_id, v[$a:$b] AS sv FROM cres) s
         |  CROSS JOIN (SELECT cent_id, cv FROM pcents WHERE sub = $mi) p
         |  QUALIFY rn = 1
         |)""".stripMargin
    }
    val ccodes = (0 until m)
      .map(mi => s"SELECT vec_id, CAST($mi AS INT) AS sub, code FROM cc_$mi")
      .mkString("ccodes AS (\n", "\n  UNION ALL\n", "\n)")
    val comboSelects = curveGrid(nprobes, refines).map {
      case ("doc_adc", fam, np, _) =>
        s"""  SELECT 'doc_adc' AS method, '$fam' AS fam, $np AS nprobe,
           |    0 AS r, query_id, vec_id AS id
           |  FROM (
           |    SELECT query_id, vec_id, row_number() OVER (
           |      PARTITION BY query_id ORDER BY adc DESC, vec_id) AS rn
           |    FROM dboth WHERE prn <= $np
           |  ) WHERE rn <= $k""".stripMargin
      case ("doc_refine", fam, np, r) =>
        s"""  SELECT 'doc_refine' AS method, '$fam' AS fam, $np AS nprobe,
           |    $r AS r, query_id, vec_id AS id
           |  FROM (
           |    SELECT query_id, vec_id, row_number() OVER (
           |      PARTITION BY query_id ORDER BY exact DESC, vec_id) AS rn
           |    FROM (
           |      SELECT query_id, vec_id, exact, row_number() OVER (
           |        PARTITION BY query_id ORDER BY adc DESC, vec_id) AS rs
           |      FROM dboth WHERE prn <= $np
           |    ) WHERE rs <= $r AND NOT isnan(exact)
           |  ) WHERE rn <= $k""".stripMargin
      case ("chunk_adc", fam, np, _) =>
        s"""  SELECT 'chunk_adc' AS method, '$fam' AS fam, $np AS nprobe,
           |    0 AS r, query_id, doc_id AS id
           |  FROM (
           |    SELECT query_id, doc_id, row_number() OVER (
           |      PARTITION BY query_id ORDER BY adc DESC, doc_id) AS rn
           |    FROM (
           |      SELECT query_id, doc_id, adc, row_number() OVER (
           |        PARTITION BY query_id, doc_id
           |        ORDER BY adc DESC, chunk_id) AS rc
           |      FROM cboth WHERE prn <= $np
           |    ) WHERE rc = 1
           |  ) WHERE rn <= $k""".stripMargin
      case (_, fam, np, r) =>
        s"""  SELECT 'chunk_refine' AS method, '$fam' AS fam, $np AS nprobe,
           |    $r AS r, query_id, doc_id AS id
           |  FROM (
           |    SELECT query_id, doc_id, row_number() OVER (
           |      PARTITION BY query_id ORDER BY exact DESC, doc_id) AS rn
           |    FROM (
           |      SELECT query_id, doc_id, exact, row_number() OVER (
           |        PARTITION BY query_id, doc_id
           |        ORDER BY exact DESC, chunk_id) AS rc
           |      FROM (
           |        SELECT query_id, doc_id, chunk_id, exact, row_number() OVER (
           |          PARTITION BY query_id
           |          ORDER BY adc DESC, doc_id, chunk_id) AS rs
           |        FROM cboth WHERE prn <= $np
           |      ) WHERE rs <= $r AND NOT isnan(exact)
           |    ) WHERE rc = 1
           |  ) WHERE rn <= $k""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val gridValues = curveGrid(nprobes, refines)
      .map { case (mth, fam, np, r) => s"('$mth', '$fam', $np, $r)" }
      .mkString(", ")
    materializedCtes(s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |),
       |${kmeansCtes(cells.toString, iters)},
       |cents AS (SELECT cent_id, cv FROM cents$iters),
       |tassign AS (
       |  SELECT vec_id, v, cent_id AS cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      ${dotSql("v", "cv")} / (${normSql("v")} * ${normSql("cv")}) DESC,
       |      cent_id) AS rn
       |  FROM e CROSS JOIN cents
       |  QUALIFY rn = 1
       |), res AS (
       |  SELECT a.vec_id,
       |    list_transform(range(1, ${Dim + 1}), i -> a.v[i] - c.cv[i]) AS v
       |  FROM tassign a JOIN cents c ON c.cent_id = a.cell
       |),
       |${pqKmeansCtes(m, ksub, pqIters, src = "res")},
       |drec AS (
       |  SELECT c.vec_id, flatten(list(p.cv ORDER BY c.sub)) AS rv
       |  FROM pcodes c JOIN pcents p ON p.sub = c.sub AND p.cent_id = c.code
       |  GROUP BY c.vec_id
       |), dxhat AS (
       |  SELECT r.vec_id, a.cell,
       |    list_transform(range(1, ${Dim + 1}), i -> c.cv[i] + r.rv[i]) AS rv
       |  FROM drec r
       |  JOIN tassign a ON a.vec_id = r.vec_id
       |  JOIN cents c ON c.cent_id = a.cell
       |), qv AS (
       |  SELECT vec_id AS query_id, v AS qv FROM e
       |  WHERE vec_id IN (${queryIds.mkString(",")})
       |), qprobes AS (
       |  SELECT q.query_id, q.qv, cent_id AS cell,
       |    row_number() OVER (PARTITION BY q.query_id ORDER BY
       |      ${dotSql("q.qv", "cv")} / (${normSql("q.qv")} * ${normSql("cv")}) DESC,
       |      cent_id) AS prn
       |  FROM qv q CROSS JOIN cents
       |  QUALIFY prn <= $maxNp
       |), dscored AS (
       |  SELECT p.query_id, x.vec_id, p.prn,
       |    round(${dotSql("p.qv", "x.rv")} /
       |      (${normSql("p.qv")} * ${normSql("x.rv")}), 6) AS adc
       |  FROM qprobes p JOIN dxhat x
       |    ON x.cell = p.cell AND x.vec_id <> p.query_id
       |), dboth AS (
       |  SELECT s.query_id, s.vec_id, s.prn, s.adc,
       |    round(${dotSql("q.qv", "e2.v")} /
       |      (${normSql("q.qv")} * ${normSql("e2.v")}), 6) AS exact
       |  FROM dscored s
       |  JOIN e e2 ON e2.vec_id = s.vec_id
       |  JOIN qv q ON q.query_id = s.query_id
       |  WHERE s.adc IS NOT NULL AND NOT isnan(s.adc)
       |), dex0 AS (
       |  SELECT q.query_id, c.vec_id,
       |    round(${dotSql("q.qv", "c.v")} /
       |      (${normSql("q.qv")} * ${normSql("c.v")}), 6) AS cosine
       |  FROM qv q JOIN e c ON c.vec_id <> q.query_id
       |), dex AS (
       |  SELECT query_id, vec_id FROM dex0
       |  WHERE cosine IS NOT NULL AND NOT isnan(cosine)
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, vec_id) <= $k
       |), cke AS (
       |  SELECT ck.doc_id * $ChunkStride + ck.chunk_id AS vec_id,
       |    ck.doc_id, ck.chunk_id,
       |    CASE WHEN ck.chunk_id % 2 = 1 THEN list_reverse(se.v)
       |         ELSE se.v END AS v
       |  FROM (SELECT doc_id, chunk_id
       |        FROM (${graft.operators.TextOps.chunkDocsSql()})) ck
       |  JOIN e se ON se.vec_id = ck.doc_id
       |), cassign AS (
       |  SELECT vec_id, doc_id, chunk_id, v, cent_id AS cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      ${dotSql("v", "cv")} / (${normSql("v")} * ${normSql("cv")}) DESC,
       |      cent_id) AS rn
       |  FROM cke CROSS JOIN cents
       |  QUALIFY rn = 1
       |), cres AS (
       |  SELECT a.vec_id,
       |    list_transform(range(1, ${Dim + 1}), i -> a.v[i] - c.cv[i]) AS v
       |  FROM cassign a JOIN cents c ON c.cent_id = a.cell
       |),
       |${perSub.mkString(",\n")},
       |$ccodes,
       |crecon AS (
       |  SELECT c.vec_id, flatten(list(p.cv ORDER BY c.sub)) AS rv
       |  FROM ccodes c JOIN pcents p ON p.sub = c.sub AND p.cent_id = c.code
       |  GROUP BY c.vec_id
       |), cxhat AS (
       |  SELECT r.vec_id, a.doc_id, a.chunk_id, a.cell,
       |    list_transform(range(1, ${Dim + 1}), i -> c.cv[i] + r.rv[i]) AS rv
       |  FROM crecon r
       |  JOIN cassign a ON a.vec_id = r.vec_id
       |  JOIN cents c ON c.cent_id = a.cell
       |), cscored AS (
       |  SELECT p.query_id, x.doc_id, x.chunk_id, p.prn,
       |    round(${dotSql("p.qv", "x.rv")} /
       |      (${normSql("p.qv")} * ${normSql("x.rv")}), 6) AS adc
       |  FROM qprobes p JOIN cxhat x
       |    ON x.cell = p.cell AND x.doc_id <> p.query_id
       |), cboth AS (
       |  SELECT s.query_id, s.doc_id, s.chunk_id, s.prn, s.adc,
       |    round(${dotSql("q.qv", "ck2.v")} /
       |      (${normSql("q.qv")} * ${normSql("ck2.v")}), 6) AS exact
       |  FROM cscored s
       |  JOIN cke ck2 ON ck2.doc_id = s.doc_id AND ck2.chunk_id = s.chunk_id
       |  JOIN qv q ON q.query_id = s.query_id
       |  WHERE s.adc IS NOT NULL AND NOT isnan(s.adc)
       |), cbs AS (
       |  SELECT q.query_id, c.doc_id, c.chunk_id,
       |    round(${dotSql("q.qv", "c.v")} /
       |      (${normSql("q.qv")} * ${normSql("c.v")}), 6) AS cosine
       |  FROM cke c CROSS JOIN qv q
       |  WHERE c.doc_id <> q.query_id
       |), cbbest AS (
       |  SELECT query_id, doc_id, cosine FROM cbs
       |  WHERE cosine IS NOT NULL AND NOT isnan(cosine)
       |  QUALIFY row_number() OVER (PARTITION BY query_id, doc_id
       |    ORDER BY cosine DESC, chunk_id) = 1
       |), cex AS (
       |  SELECT query_id, doc_id FROM cbbest
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, doc_id) <= $k
       |), approx AS (
       |$comboSelects
       |), extag AS (
       |  SELECT 'doc' AS fam, query_id, vec_id AS id FROM dex
       |  UNION ALL
       |  SELECT 'chunk' AS fam, query_id, doc_id AS id FROM cex
       |), exn AS (
       |  SELECT fam, count(*) AS exact_n FROM extag GROUP BY fam
       |), ahits AS (
       |  SELECT a.method, a.fam, a.nprobe, a.r, count(e.id) AS hits
       |  FROM approx a LEFT JOIN extag e
       |    ON e.fam = a.fam AND e.query_id = a.query_id AND e.id = a.id
       |  GROUP BY a.method, a.fam, a.nprobe, a.r
       |), grid AS (
       |  SELECT * FROM (VALUES $gridValues) g(method, fam, nprobe, r)
       |), rpt AS (
       |  SELECT g.method, g.nprobe, g.r, x.exact_n,
       |    CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       |    round(coalesce(h.hits, 0) / x.exact_n, 6) AS recall
       |  FROM grid g
       |  JOIN exn x ON x.fam = g.fam
       |  LEFT JOIN ahits h ON h.method = g.method AND h.nprobe = g.nprobe
       |    AND h.r = g.r
       |)
       |SELECT method, nprobe, r, exact_n, hits, recall FROM rpt""".stripMargin)
  }
}
