package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval: reciprocal-rank fusion (RRF) of the engine's two
  * ranked-search halves — lexical [[TextOps.bm25TopK]] and dense
  * [[VectorOps.annTopK]] — into one ranked list per query, the way
  * production retrieval actually serves (Cormack/Clarke/Büttcher,
  * SIGIR'09: RRF outperforms either list alone and needs no score
  * calibration across scoring scales).
  *
  * The reference feeds documents INTO a search service and leaves
  * ranking to it (reference: flows/main_flow.py:528-563 bulk-indexes
  * and never reads back); serving the fused lookup itself is the part a
  * Spark-native engine must add for parity with what users ultimately
  * query.
  *
  * Determinism is free here because the fusion is INTEGER arithmetic:
  * `RRF(d) = Σ_lists 1/(K + rank_d)` is evaluated as
  * `Σ D/(K + rank_d)` with `D = lcm(K+1 … K+k)` — every divisor is
  * exact, so no floating-point sum order can move a rank. Ties break on
  * doc_id. A document absent from one list contributes 0 from that
  * list (the standard RRF convention).
  *
  * Scale shape: both inputs are already top-k frames — ≤ k·|queries|
  * rows each — so the fusion itself (one full-outer join on
  * (query_id, doc_id) + one window over ≤ 2k rows per query) is noise
  * next to the retrievals that produce them; the heavy lifting keeps
  * the bm25/ANN scale shapes documented on their own operators. The two
  * halves share one id space: `embeddings.vec_id` keys the same corpus
  * rows as `documents.doc_id` (the usual hybrid layout — a doc's
  * embedding is stored under its doc id).
  */
object HybridOps {

  /** The RRF smoothing constant — 60, the value of the original paper
    * and of every mainstream implementation. Interpolated into both the
    * Spark plan and the oracle SQL (the x51 single-constant rule). */
  val RrfK = 60

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** `lcm(K+1 … K+k)` — the common denominator that turns the RRF sum
    * into exact integer arithmetic. For K=60, k=5: lcm(61…65), well
    * inside Long. */
  def rrfDenom(k: Int, kRrf: Int = RrfK): Long =
    (1 to k).map(r => (kRrf + r).toLong).reduce((a, b) => a / gcd(a, b) * b)

  /** Fuse two ranked lists `(query_id, doc_id, rn)` by RRF; emit the
    * per-query top-k of the fused ranking as
    * `(query_id, doc_id, rrf, rn)` with `rrf` the exact integer
    * `Σ D/(K+rank)`. Public seam so callers can fuse any two ranked
    * frames (e.g. a filtered ANN variant against BM25). */
  def rrfFuse(lex: DataFrame, dense: DataFrame, k: Int): DataFrame = {
    val d = rrfDenom(k)
    val l = lex.select(col("query_id"), col("doc_id"), col("rn").as("lex_rn"))
    val r = dense.select(col("query_id"), col("doc_id"), col("rn").as("dense_rn"))
    val fused = l.join(r, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(lit(d) / (lit(RrfK) + col("lex_rn")), lit(0L)).cast("long") +
          coalesce(lit(d) / (lit(RrfK) + col("dense_rn")), lit(0L)).cast("long"))
          .as("rrf"))
    val w = Window.partitionBy("query_id").orderBy(desc("rrf"), asc("doc_id"))
    fused.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  /** [[rrfFuse]] carrying `chunk_id` attribution THROUGH the fusion
    * join — one full-outer join total, no second pass over either
    * subtree (a separate attribution join-back would recompute the
    * chunk scoring once more per serve). The lexical half's best chunk
    * wins (the passage that matched a query term is the one a RAG
    * caller wants to show); a dense-only doc carries the DENSE half's
    * best chunk when that half ranks chunks too (the indexed MaxSim
    * serve), and the −1 sentinel only when it is doc-level (no chunk
    * evidence exists anywhere in the plan). */
  /** The dense half's chunk attribution as a `d_chunk` column — the
    * ONE adapter both chunked fusions share: a chunk-ranked dense
    * frame (the indexed MaxSim serve) contributes its best chunk, a
    * doc-level one contributes NULL so the lexical chunk / −1 coalesce
    * chain decides. */
  private def withDenseChunk(dense: DataFrame): DataFrame =
    if (dense.columns.contains("chunk_id"))
      dense.withColumnRenamed("chunk_id", "d_chunk")
    else dense.withColumn("d_chunk", lit(null).cast("long"))

  def rrfFuseChunked(lex: DataFrame, dense: DataFrame, k: Int): DataFrame = {
    val d = rrfDenom(k)
    val l = lex.select(col("query_id"), col("doc_id"), col("chunk_id"),
      col("rn").as("lex_rn"))
    val r = withDenseChunk(dense).select(col("query_id"), col("doc_id"),
      col("d_chunk"), col("rn").as("dense_rn"))
    val fused = l.join(r, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("chunk_id"), col("d_chunk"), lit(-1L)).as("chunk_id"),
        (coalesce(lit(d) / (lit(RrfK) + col("lex_rn")), lit(0L)).cast("long") +
          coalesce(lit(d) / (lit(RrfK) + col("dense_rn")), lit(0L)).cast("long"))
          .as("rrf"))
    val w = Window.partitionBy("query_id").orderBy(desc("rrf"), asc("doc_id"))
    fused.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  /** Fusion policy of the unified [[search]] surface. `Rrf` is the
    * calibration-free default; `Weighted` keeps score margins;
    * `LexicalOnly`/`DenseOnly` serve one half through the same entry
    * (the ablation/debug path every retrieval stack exposes). */
  sealed trait Fusion
  case object Rrf extends Fusion
  final case class Weighted(w: Double = WeightedLexW) extends Fusion
  case object LexicalOnly extends Fusion
  case object DenseOnly extends Fusion

  /** THE serve entry: one call composes the lexical half (BM25 over the
    * tf/dl index frames), the dense half (LSH-bucketed ANN), and the
    * fusion policy. Each half retrieves its own top-k before fusion —
    * the standard two-stage serve. `hybridTopK`/`hybridTopKWeighted`
    * are this under a fixed policy; x57/x61 register through here.
    *
    * For artifact-fed serving (a snapshot's stored index, or the
    * streaming lexical/vector artifacts) use [[searchFrom]] with the
    * resolved frames — the scoring/fusion code is identical, so batch
    * and streaming serves stay equivalence-comparable. */
  def search(docs: DataFrame, embeddings: DataFrame,
      queries: Seq[(Long, Seq[String])], k: Int, policy: Fusion = Rrf,
      numPlanes: Int = VectorOps.NumPlanes,
      checkpointDir: Option[String] = None): DataFrame = {
    val (tf, dl) = TextOps.bm25Stats(docs, checkpointDir)
    searchFrom(tf, dl, embeddings, queries, k, policy, numPlanes)
  }

  /** [[search]] from prebuilt lexical index frames — the serve path
    * when the index is maintained incrementally
    * ([[graft.streaming.StreamingLexical]]'s artifact plus an appended
    * embedding frame): hybrid search over a streaming corpus without
    * re-tokenizing anything, through the exact batch scoring/fusion
    * code. The dense half defaults to LSH over `embeddings`; to serve
    * it from a PQ-code artifact instead, retrieve the halves with
    * [[VectorOps.pqTopKFromCodes]]/[[TextOps.bm25TopKFrom]] and fuse
    * with [[fuse]] — same policies, same arithmetic. */
  def searchFrom(tf: DataFrame, dl: DataFrame, embeddings: DataFrame,
      queries: Seq[(Long, Seq[String])], k: Int, policy: Fusion = Rrf,
      numPlanes: Int = VectorOps.NumPlanes): DataFrame = {
    def lex = TextOps.bm25TopKFrom(tf, dl, queries, k)
    def dense = VectorOps.annTopK(embeddings, queries.map(_._1), k, numPlanes)
      .withColumnRenamed("vec_id", "doc_id")
    policy match {
      case LexicalOnly => lex
      case DenseOnly => dense
      case _ => fuse(lex, dense, k, policy)
    }
  }

  /** Fuse two prebuilt ranked halves — `lex(query_id, doc_id, score,
    * rn)`, `dense(query_id, doc_id, cosine, rn)` — under a policy. The
    * seam [[searchFrom]] and the streaming-artifact serves share. */
  def fuse(lex: DataFrame, dense: DataFrame, k: Int, policy: Fusion): DataFrame =
    policy match {
      case Weighted(w) => weightedFuse(
        lex.select("query_id", "doc_id", "score"),
        dense.select("query_id", "doc_id", "cosine"), k, w)
      case _ => rrfFuse(lex, dense, k)
    }

  /** Metadata-filtered hybrid search — the production feature on top of
    * [[searchFrom]]: candidates restricted to the `allowed` doc-id
    * frame on BOTH halves BEFORE each half's top-k rank (pre-filter — a
    * post-filter of unfiltered top-k under-fills under selective
    * predicates), while corpus statistics stay GLOBAL (df/N/avgdl and
    * the LSH buckets are collection properties; the Lucene filter-query
    * semantics — a filter narrows candidates, it does not re-weight the
    * collection). The allowed frame is an id list — it broadcasts into
    * both halves; everything else keeps the unfiltered serve's shapes. */
  def searchFiltered(tf: DataFrame, dl: DataFrame, embeddings: DataFrame,
      allowed: DataFrame, queries: Seq[(Long, Seq[String])], k: Int,
      policy: Fusion = Rrf, numPlanes: Int = VectorOps.NumPlanes): DataFrame = {
    def lex = TextOps.bm25TopKFrom(tf, dl, queries, k, Some(allowed))
    def dense = VectorOps.annTopKAllowed(embeddings, allowed,
        queries.map(_._1), k, numPlanes)
      .withColumnRenamed("vec_id", "doc_id")
    policy match {
      case LexicalOnly => lex
      case DenseOnly => dense
      case p => fuse(lex, dense, k, p)
    }
  }

  /** [[searchFiltered]] oracle under the RRF policy — both halves'
    * filtered oracle CTEs (candidate `IN` restriction before each rank,
    * global stats), fused with the exact integer arithmetic.
    * `allowedSql` is a one-column doc_id subquery. */
  def searchFilteredSql(queries: Seq[(Long, Seq[String])], k: Int,
      allowedSql: String): String = {
    val d = rrfDenom(k)
    s"""WITH lex AS (
       |  SELECT query_id, doc_id, rn
       |  FROM (${TextOps.bm25TopKSql(queries, k, Some(allowedSql))})
       |), dense AS (
       |  SELECT query_id, vec_id AS doc_id, rn
       |  FROM (${VectorOps.annTopKAllowedSql(queries.map(_._1), k, allowedSql)})
       |), fused AS (
       |  SELECT coalesce(l.query_id, r.query_id) AS query_id,
       |    coalesce(l.doc_id, r.doc_id) AS doc_id,
       |    coalesce($d // ($RrfK + l.rn), 0) +
       |      coalesce($d // ($RrfK + r.rn), 0) AS rrf
       |  FROM lex l FULL OUTER JOIN dense r
       |    ON l.query_id = r.query_id AND l.doc_id = r.doc_id
       |)
       |SELECT query_id, doc_id, rrf,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf DESC, doc_id) AS rn
       |FROM fused
       |QUALIFY rn <= $k""".stripMargin
  }

  /** The doc-level RRF fusion block of [[snapshotSearchSql]]:
    * full-outer join of the two ranked halves, exact integer RRF,
    * rank + QUALIFY. */
  private def docFusedSql(lexSql: String, denseSql: String, k: Int): String = {
    val d = rrfDenom(k)
    VectorOps.materializedCtes(s"""WITH lex AS (
       |  SELECT query_id, doc_id, rn FROM ($lexSql)
       |), dense AS (
       |  SELECT query_id, vec_id AS doc_id, rn
       |  FROM ($denseSql)
       |), fused AS (
       |  SELECT coalesce(l.query_id, r.query_id) AS query_id,
       |    coalesce(l.doc_id, r.doc_id) AS doc_id,
       |    coalesce($d // ($RrfK + l.rn), 0) +
       |      coalesce($d // ($RrfK + r.rn), 0) AS rrf
       |  FROM lex l FULL OUTER JOIN dense r
       |    ON l.query_id = r.query_id AND l.doc_id = r.doc_id
       |)
       |SELECT query_id, doc_id, rrf,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf DESC, doc_id) AS rn
       |FROM fused
       |QUALIFY rn <= $k""".stripMargin)
  }

  /** The chunk-attributed twin of [[docFusedSql]], used by
    * [[chunkHybridTopKSql]]: both halves rank chunks and dedup to
    * docs, so attribution rides the fusion join from EITHER side —
    * the lexical best chunk wins, the dense best chunk covers
    * dense-only docs, −1 only if neither half carried one (mirroring
    * [[rrfFuseChunked]]). `cdenseSql` yields
    * `(query_id, doc_id, chunk_id, rn)`. */
  private def chunkFusedSql(clexSql: String, cdenseSql: String,
      k: Int): String = {
    val d = rrfDenom(k)
    VectorOps.materializedCtes(s"""WITH clex AS (
       |  SELECT query_id, doc_id, chunk_id, rn
       |  FROM ($clexSql)
       |), cdense AS (
       |  SELECT query_id, doc_id, chunk_id, rn
       |  FROM ($cdenseSql)
       |), cfused AS (
       |  SELECT coalesce(l.query_id, r.query_id) AS query_id,
       |    coalesce(l.doc_id, r.doc_id) AS doc_id,
       |    coalesce(l.chunk_id, r.chunk_id, -1) AS chunk_id,
       |    coalesce($d // ($RrfK + l.rn), 0) +
       |      coalesce($d // ($RrfK + r.rn), 0) AS rrf
       |  FROM clex l FULL OUTER JOIN cdense r
       |    ON l.query_id = r.query_id AND l.doc_id = r.doc_id
       |)
       |SELECT query_id, doc_id, chunk_id, rrf,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf DESC, doc_id) AS rn
       |FROM cfused
       |QUALIFY rn <= $k""".stripMargin)
  }

  /** Oracle for the [[graft.serve.Retrieval]] snapshot handle's
    * default serve: BM25 lexical half fused by RRF with the
    * residual-IVFADC-plus-refine dense half (the handle's
    * [[graft.serve.Retrieval.denseTopK]] IS [[VectorOps
    * .ivfPqRefineTopK]], so its oracle chain composes verbatim). */
  def snapshotSearchSql(queries: Seq[(Long, Seq[String])], k: Int,
      r: Int, nprobe: Int,
      cellsSql: String = VectorOps.NumCentroids.toString): String =
    docFusedSql(TextOps.bm25TopKSql(queries, k),
      VectorOps.ivfPqRefineTopKSql(queries.map(_._1), k, r, nprobe,
        cellsSql = cellsSql), k)

  /** Oracle for the BPE-METERED chunk hybrid (x90): both halves rank
    * model-context-true windows — the lexical half over BPE-SYMBOL
    * chunk stats with the queries encoded to symbols IN SQL through
    * the same learned rules ([[TextOps.bpeChunkLexCtesSql]]), the
    * dense half the residual-IVFADC chunk chain keyed by the SAME
    * window CTE (`bcc` — the chunk-once convention in SQL), fused
    * under the standard chunk-attributed RRF tail.
    *
    * ONE WITH scope on purpose: the two-subquery [[chunkFusedSql]]
    * shape re-materializes each half's training chains per reference
    * (measured 30 s vs 8 s for this query's oracle at sf0.01) —
    * sharing the BPE encode, the window slices, and the k-means/PQ
    * chains across the halves is what makes the oracle affordable. */
  def bpeChunkHybridSql(queries: Seq[(Long, Seq[String])], k: Int,
      nprobe: Int, refine: Option[Int] = None,
      allowedSql: Option[String] = None,
      cellsSql: String = VectorOps.NumCentroids.toString): String = {
    val d = rrfDenom(k)
    // refine composes in the SAME scope: the shortlist/rerank CTEs
    // ([[VectorOps.chunkRefineCtesSql]], leading-comma convention)
    // reference cscored/cke/ses, all defined by the shared chain;
    // `allowedSql` restricts BOTH halves before their ranks (the
    // [[searchFilteredSql]] pre-filter semantics at the BPE meter)
    val (denseSrc, refineCtes) = refine match {
      case None => ("cscored", "")
      case Some(r) => ("crfx", VectorOps.chunkRefineCtesSql(
        queries.map(_._1), r))
    }
    VectorOps.materializedCtes(
      s"""WITH ${TextOps.bpeChunkLexCtesSql(queries, k,
             allowedSql = allowedSql)},
         |${VectorOps.chunkAdcChainSql(queries.map(_._1), nprobe,
             allowedSql = allowedSql,
             chunkIdsSql = Some("SELECT doc_id, chunk_id FROM bcc"),
             cellsSql = cellsSql)
           }$refineCtes, dbest AS (
         |  SELECT query_id, doc_id, chunk_id, cosine FROM $denseSrc
         |  WHERE cosine IS NOT NULL AND NOT isnan(cosine)
         |  QUALIFY row_number() OVER (PARTITION BY query_id, doc_id
         |    ORDER BY cosine DESC, chunk_id) = 1
         |), cdense AS (
         |  SELECT query_id, doc_id, chunk_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, doc_id) AS rn
         |  FROM dbest
         |  QUALIFY rn <= $k
         |), cfused AS (
         |  SELECT coalesce(l.query_id, r.query_id) AS query_id,
         |    coalesce(l.doc_id, r.doc_id) AS doc_id,
         |    coalesce(l.chunk_id, r.chunk_id, -1) AS chunk_id,
         |    coalesce($d // ($RrfK + l.rn), 0) +
         |      coalesce($d // ($RrfK + r.rn), 0) AS rrf
         |  FROM clex l FULL OUTER JOIN cdense r
         |    ON l.query_id = r.query_id AND l.doc_id = r.doc_id
         |)
         |SELECT query_id, doc_id, chunk_id, rrf,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf DESC, doc_id) AS rn
         |FROM cfused
         |QUALIFY rn <= $k""".stripMargin)
  }

  /** Chunk-level HYBRID retrieval — the full production RAG shape
    * composed from the two audited chunk-ranked, doc-deduped halves:
    * [[TextOps.bm25ChunkTopKFrom]] (chunks as the BM25 unit, best
    * chunk per doc) RRF-fused with the INDEXED chunk-dense serve
    * ([[VectorOps.chunkIvfPqTopKFromIndex]] — probe-pruned ADC +
    * MaxSim over the composite-key chunk index, x85's chain), both
    * halves fed from ONE [[TextOps.chunkDocs]] pass, attribution
    * riding the fusion join ([[rrfFuseChunked]] — the lexical best
    * chunk, the dense best chunk where only that half surfaced the
    * doc). The brute [[VectorOps.multiVectorTopK]] scan is x83's
    * labeled exact baseline, deliberately NOT in this serve path.
    *
    * `cents`/`books` pin the coarse + residual codebooks (the
    * fixed-codebook production convention); left None they train on
    * `embeddings` — deterministically, matching the oracle's training
    * CTEs. `chunkIndex` substitutes a prebuilt `(vec_id, codes, cell)`
    * composite-key artifact (the cell-partitioned registry/snapshot
    * frame) for the inline encode, making the dense half's scan
    * partition-prunable on disk. */
  def chunkHybridTopK(docs: DataFrame, embeddings: DataFrame,
      queries: Seq[(Long, Seq[String])], k: Int,
      cents: Option[Seq[Seq[Double]]] = None,
      books: Option[Seq[Seq[Seq[Double]]]] = None,
      nprobe: Int = 2,
      chunkIndex: Option[DataFrame] = None,
      checkpointDir: Option[String] = None): DataFrame = {
    // chunk ONCE: the same chunk frame feeds the lexical index and
    // (when no prebuilt index is handed in) the chunk-vector encode —
    // materialized because both subtrees consume it
    val chunks = graft.operators.Dedup.materialize(
      TextOps.chunkDocs(docs), checkpointDir)
    val (ctf, cdl) = TextOps.chunkBm25StatsFrom(chunks, checkpointDir)
    val cs = cents.getOrElse(VectorOps.trainedCentroids(embeddings))
    val bks = books.getOrElse(VectorOps.pqResidualCodebooks(embeddings, cs))
    val index = chunkIndex.getOrElse(VectorOps.chunkIvfPqIndex(
      VectorOps.chunkEmbeddingsFrom(chunks, embeddings), cs, bks))
    chunkHybridTopKFrom(ctf, cdl, index, embeddings, queries, k, cs, bks,
      nprobe)
  }

  /** Artifact-fed chunk-level hybrid — [[chunkHybridTopK]]'s serve
    * composition over PREBUILT frames: a stored/streamed chunk-lexical
    * index (`ctf`/`cdl` — [[graft.streaming.StreamingLexical]]'s
    * resolved artifact or frames written by [[TextOps.chunkBm25Stats]])
    * and a composite-key chunk-code frame
    * ([[graft.streaming.StreamingVectorIndex]]'s resolved `civf` or a
    * cell-partitioned [[VectorOps.chunkIvfPqIndex]] write). The
    * [[searchFrom]] convention at chunk level: scoring and fusion are
    * the one batch code path, so batch and streamed chunk-hybrid
    * serves stay equivalence-comparable row for row. */
  def chunkHybridTopKFrom(ctf: DataFrame, cdl: DataFrame,
      chunkIndex: DataFrame, embeddings: DataFrame,
      queries: Seq[(Long, Seq[String])], k: Int,
      cents: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]],
      nprobe: Int = 2, policy: Fusion = Rrf): DataFrame = {
    def lex = TextOps.bm25ChunkTopKFrom(ctf, cdl, queries, k)
    def dense = {
      val probe = VectorOps.probePlanOf(embeddings, queries.map(_._1),
        cents, nprobe)
      VectorOps.chunkIvfPqTopKFromIndex(
        chunkIndex.where(col("cell").isin(probe.cells: _*)), embeddings,
        queries.map(_._1), k, nprobe, cents, books,
        probe = Some(probe))
    }
    policy match {
      case LexicalOnly => lex
      case DenseOnly => dense
      case Rrf => rrfFuseChunked(lex, dense, k)
      case Weighted(w) => weightedFuseChunked(lex, dense, k, w)
    }
  }

  /** [[chunkHybridTopK]] oracle — the chunk-lexical chain and the
    * chunk-IVFADC chain (training CTEs included, matching the
    * train-on-`embeddings` default) under the shared chunk-attributed
    * fusion block. */
  def chunkHybridTopKSql(queries: Seq[(Long, Seq[String])],
      k: Int, nprobe: Int = 2): String =
    chunkFusedSql(TextOps.bm25ChunkTopKSql(queries, k),
      VectorOps.chunkIvfPqMaxSimSql(queries.map(_._1), k, nprobe), k)

  /** Tokenize raw query strings with the ENGINE'S tokenizer rule —
    * [[TextOps.tokens]] is `split(lower(text), " ")`, and this is that
    * rule applied driver-side to the bounded query batch (split
    * limit -1 keeps empty tokens exactly like Spark's `split`, so a
    * query tokenizes identically to a document containing the same
    * text). Callers hand in what users type; indexing and querying can
    * never disagree on token boundaries. */
  def tokenizeQueries(queries: Seq[(Long, String)]): Seq[(Long, Seq[String])] =
    queries.map { case (id, text) =>
      // Locale.ROOT, not the JVM default: Spark's lower() lowercases
      // ASCII locale-independently, and under a Turkish-locale JVM the
      // default toLowerCase maps 'I' to dotless 'ı' — the one way
      // driver-side query tokens could diverge from indexed tokens
      id -> text.toLowerCase(java.util.Locale.ROOT).split(" ", -1).toSeq
    }

  /** End-to-end RRF hybrid — [[search]] under the `Rrf` policy (kept as
    * the named two-arg form the specs and streaming serves call). */
  def hybridTopK(docs: DataFrame, embeddings: DataFrame,
      queries: Seq[(Long, Seq[String])], k: Int,
      numPlanes: Int = VectorOps.NumPlanes,
      checkpointDir: Option[String] = None): DataFrame =
    search(docs, embeddings, queries, k, Rrf, numPlanes, checkpointDir)

  /** [[hybridTopK]] from prebuilt lexical index frames — see
    * [[searchFrom]]. */
  def hybridTopKFrom(tf: DataFrame, dl: DataFrame, embeddings: DataFrame,
      queries: Seq[(Long, Seq[String])], k: Int,
      numPlanes: Int = VectorOps.NumPlanes): DataFrame =
    searchFrom(tf, dl, embeddings, queries, k, Rrf, numPlanes)

  /** Lexical weight of the weighted-score fusion — 0.5 (equal halves;
    * exactly representable in binary, so the multiply is exact).
    * Interpolated into both engines (the x51 single-constant rule). */
  val WeightedLexW = 0.5

  /** Weighted-score fusion (CombSUM with per-query min–max
    * normalization) — the OTHER production fusion policy next to RRF:
    * rank-agnostic, so a runaway-best dense hit keeps its margin where
    * RRF would flatten it to 1/(K+1). Each half's scores are
    * normalized to [0,1] WITHIN its query's top-k list
    * (`(s−min)/(max−min)`; a degenerate one-score list normalizes to 1
    * — the only doc is that list's best), a doc absent from one list
    * contributes 0 from it (the CombSUM convention over the union),
    * and the fused score `w·lex + (1−w)·dense` rounds to 6 dp BEFORE
    * ranking (the cosine convention), doc_id tiebreak. Same tiny
    * full-outer-join shape as [[rrfFuse]]. */
  /** Per-query min-max normalization of a ranked half — `carry` names
    * extra columns to thread through (the chunk attribution). */
  private def normed(df: DataFrame, scoreCol: String, as: String,
      carry: Seq[String] = Nil): DataFrame = {
    val win = Window.partitionBy("query_id")
    df.select((Seq(col("query_id"), col("doc_id")) ++ carry.map(col)) :+
      when(max(col(scoreCol)).over(win) === min(col(scoreCol)).over(win),
        lit(1.0))
        .otherwise((col(scoreCol) - min(col(scoreCol)).over(win)) /
          (max(col(scoreCol)).over(win) - min(col(scoreCol)).over(win)))
        .as(as): _*)
  }

  def weightedFuse(lex: DataFrame, dense: DataFrame, k: Int,
      w: Double = WeightedLexW): DataFrame = {
    val l = normed(lex, "score", "nlex")
    val r = normed(dense, "cosine", "ndense")
    val fused = l.join(r, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        round(coalesce(col("nlex"), lit(0.0)) * lit(w) +
          coalesce(col("ndense"), lit(0.0)) * lit(1.0 - w), 6).as("wscore"))
    val win = Window.partitionBy("query_id").orderBy(desc("wscore"), asc("doc_id"))
    fused.withColumn("rn", row_number().over(win)).where(col("rn") <= k)
  }

  /** [[weightedFuse]] carrying chunk attribution through the fusion
    * join — the [[rrfFuseChunked]] treatment (lexical best chunk wins,
    * dense best chunk where only the indexed dense half surfaced the
    * doc, −1 only under a doc-level dense half) for the Weighted
    * policy, so NO chunk-serve policy pays a second pass over either
    * subtree. */
  def weightedFuseChunked(lex: DataFrame, dense: DataFrame, k: Int,
      w: Double = WeightedLexW): DataFrame = {
    val l = normed(lex, "score", "nlex", Seq("chunk_id"))
    val r = normed(withDenseChunk(dense), "cosine", "ndense", Seq("d_chunk"))
    val fused = l.join(r, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("chunk_id"), col("d_chunk"), lit(-1L)).as("chunk_id"),
        round(coalesce(col("nlex"), lit(0.0)) * lit(w) +
          coalesce(col("ndense"), lit(0.0)) * lit(1.0 - w), 6).as("wscore"))
    val win = Window.partitionBy("query_id").orderBy(desc("wscore"), asc("doc_id"))
    fused.withColumn("rn", row_number().over(win)).where(col("rn") <= k)
  }

  /** End-to-end weighted hybrid — [[search]] under the `Weighted`
    * policy. */
  def hybridTopKWeighted(docs: DataFrame, embeddings: DataFrame,
      queries: Seq[(Long, Seq[String])], k: Int,
      numPlanes: Int = VectorOps.NumPlanes,
      checkpointDir: Option[String] = None): DataFrame =
    search(docs, embeddings, queries, k, Weighted(), numPlanes, checkpointDir)

  /** [[hybridTopKWeighted]] oracle — same normalization, weights, and
    * round-before-rank, composed over both halves' oracle CTEs. */
  def hybridTopKWeightedSql(queries: Seq[(Long, Seq[String])], k: Int,
      w: Double = WeightedLexW): String =
    s"""WITH lexraw AS (
       |  SELECT query_id, doc_id, score
       |  FROM (${TextOps.bm25TopKSql(queries, k)})
       |), denseraw AS (
       |  SELECT query_id, vec_id AS doc_id, cosine
       |  FROM (${VectorOps.annTopKSql(queries.map(_._1), k)})
       |), lex AS (
       |  SELECT query_id, doc_id,
       |    CASE WHEN max(score) OVER (PARTITION BY query_id) =
       |              min(score) OVER (PARTITION BY query_id) THEN 1.0
       |         ELSE (score - min(score) OVER (PARTITION BY query_id)) /
       |              (max(score) OVER (PARTITION BY query_id) -
       |               min(score) OVER (PARTITION BY query_id)) END AS nlex
       |  FROM lexraw
       |), dense AS (
       |  SELECT query_id, doc_id,
       |    CASE WHEN max(cosine) OVER (PARTITION BY query_id) =
       |              min(cosine) OVER (PARTITION BY query_id) THEN 1.0
       |         ELSE (cosine - min(cosine) OVER (PARTITION BY query_id)) /
       |              (max(cosine) OVER (PARTITION BY query_id) -
       |               min(cosine) OVER (PARTITION BY query_id)) END AS ndense
       |  FROM denseraw
       |), fused AS (
       |  SELECT coalesce(l.query_id, r.query_id) AS query_id,
       |    coalesce(l.doc_id, r.doc_id) AS doc_id,
       |    round(coalesce(l.nlex, 0.0) * $w +
       |      coalesce(r.ndense, 0.0) * ${1.0 - w}, 6) AS wscore
       |  FROM lex l FULL OUTER JOIN dense r
       |    ON l.query_id = r.query_id AND l.doc_id = r.doc_id
       |)
       |SELECT query_id, doc_id, wscore,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY wscore DESC, doc_id) AS rn
       |FROM fused
       |QUALIFY rn <= $k""".stripMargin

  /** [[hybridTopK]] oracle — composes the two halves' own oracle CTEs
    * (verbatim, as derived subqueries) and fuses with the same integer
    * arithmetic (`//` is DuckDB's integer division). */
  def hybridTopKSql(queries: Seq[(Long, Seq[String])], k: Int): String = {
    val d = rrfDenom(k)
    s"""WITH lex AS (
       |  SELECT query_id, doc_id, rn FROM (${TextOps.bm25TopKSql(queries, k)})
       |), dense AS (
       |  SELECT query_id, vec_id AS doc_id, rn
       |  FROM (${VectorOps.annTopKSql(queries.map(_._1), k)})
       |), fused AS (
       |  SELECT coalesce(l.query_id, r.query_id) AS query_id,
       |    coalesce(l.doc_id, r.doc_id) AS doc_id,
       |    coalesce($d // ($RrfK + l.rn), 0) +
       |      coalesce($d // ($RrfK + r.rn), 0) AS rrf
       |  FROM lex l FULL OUTER JOIN dense r
       |    ON l.query_id = r.query_id AND l.doc_id = r.doc_id
       |)
       |SELECT query_id, doc_id, rrf,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf DESC, doc_id) AS rn
       |FROM fused
       |QUALIFY rn <= $k""".stripMargin
  }
}
