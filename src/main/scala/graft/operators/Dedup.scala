package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline (builder brief
  * "Deduplication"; SURVEY.md §2.11): exact content-hash dedup,
  * MinHash-LSH banded near-duplicate detection with exact n-gram Jaccard
  * confirmation, transitive duplicate clustering (star-contraction
  * connected components, incremental maintenance), benchmark
  * decontamination, and the ExactSubstr family (verbatim shared-extent
  * detection, per-doc duplicated-coverage drop lists, span scrubbing,
  * cross-corpus screening) — each consumable from persisted
  * signature/shingle/anchor artifacts.
  *
  * The 100 TB shape, end to end:
  *  - signatures are PER-ROW array expressions (map-only, no shuffle);
  *  - candidate generation is a band-bucket equi-join — pairs are only
  *    formed WITHIN a bucket (never all-pairs: O(Σ bucket²), which LSH
  *    keeps near-linear), and the join shuffles on (band, bucket-key)
  *    so it scales out horizontally;
  *  - exact Jaccard runs only on the candidate set (|candidates| ≪ n²).
  *
  * Constants are shared with the generated DuckDB oracle SQL so the two
  * sides cannot drift (same scheme as [[TextOps]]).
  */
object Dedup {
  import TextOps.{hash32, hash32Sql, normText, normTextSql, shingles, shinglesSql}

  // --- exact dedup (x1) --------------------------------------------------

  /** Exact dedup on the md5 of whitespace/case-normalized text: keep the
    * lowest doc_id per content key. One hash-aggregate (min_by) — a
    * single shuffle on the content key, with map-side partial combine.
    * This is the canonical "exact dedup at scale" plan: no window, no
    * join, no second pass. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.select(md5(normText(col("text"))).as("content_key"),
        struct(col("doc_id"), col("lang"), col("source"), col("n_chars")).as("row"))
      .groupBy("content_key")
      .agg(min_by(col("row"), col("row.doc_id")).as("row"))
      .select(col("row.doc_id"), col("content_key"),
        col("row.lang"), col("row.source"), col("row.n_chars"))

  val exactDedupSql: String =
    s"""SELECT doc_id, md5(${normTextSql("text")}) AS content_key, lang, source, n_chars
       |FROM documents
       |QUALIFY row_number() OVER (PARTITION BY content_key ORDER BY doc_id) = 1""".stripMargin

  // --- MinHash-LSH (x2) --------------------------------------------------

  /** Mersenne prime 2^31−1: keeps a·h+b within signed-64 range while the
    * universal-hash family stays well distributed. */
  val P = 2147483647L
  val NumHashes = 16
  val Bands = 4
  val RowsPerBand: Int = NumHashes / Bands

  /** Deterministic universal-hash parameters (a_i, b_i) — Knuth
    * multiplicative constants, same values embedded in the oracle SQL. */
  val perms: Seq[(Long, Long)] = (1 to NumHashes).map { i =>
    ((i * 2654435761L) % (P - 1) + 1, (i * 40503L + 17) % P)
  }

  /** Shingle frame `(doc_id, sh)` — the shared upstream of signatures
    * (banding) and exact-Jaccard confirmation. At corpus scale this is
    * the second persistable artifact next to the signature frame: the
    * pairs/dedup/curation operators take both as inputs (the `...From`
    * variants), so one materialization feeds every downstream query
    * instead of each query re-shingling the corpus.
    *
    * Shingling + per-shingle md5 is CPU-bound, so its parallelism must
    * not be dictated by input file layout: a compact input (one parquet
    * row group) would serialize the whole MinHash chain on one task
    * (measured: 10× on the signature query). When the scan carries fewer
    * partitions than the session's parallelism, round-robin repartition
    * the narrow doc rows first — kilobytes of shuffle for full fan-out;
    * with a well-split corpus (≥ parallelism splits) it's a no-op. */
  def shingleFrame(docs: DataFrame): DataFrame = {
    val target = docs.sparkSession.sparkContext.defaultParallelism
    // `.rdd` plans the query once on the driver to learn the scan's
    // split count — worth it for a batch corpus (it decides whether the
    // whole CPU-bound chain runs on one task), impossible for a stream
    // (no partitioning before execution; micro-batches fan out on their
    // own file splits)
    val base =
      if (!docs.isStreaming && docs.rdd.getNumPartitions < target)
        docs.repartition(target)
      else docs
    base.select(col("doc_id"), shingles(col("text")).as("sh"))
  }

  /** MinHash signatures s0..s15 from a shingle frame: sig_i = min over
    * shingles of (a_i·(h mod P)+b_i) mod P, computed by the fused native
    * kernel [[graft.functions.MinHashSignaturesExpr]] — one tight loop
    * per document, md5 evaluated once per shingle, all 16 minima carried
    * together. Signature computation is therefore a pure map-only
    * projection: no explode (52× row inflation), no aggregation shuffle,
    * nothing interpreted. (The previous explode→16-min-aggs form was the
    * right shape for builtins, but higher-order lambdas and Generate run
    * as CodegenFallback — measured 2.1 s vs 0.15 s at sf0.1.) */
  def minHashSignaturesFrom(withSh: DataFrame): DataFrame = {
    val sig = graft.functions.MinHash.signatures(
      col("sh"), perms.map(_._1), perms.map(_._2), P)
    withSh.select(col("doc_id"), sig.as("sigv"))
      .select(col("doc_id") +:
        (0 until NumHashes).map(i => col("sigv")(i).as(s"s$i")): _*)
  }

  /** doc_id + s0..s15 signature frame (a portable dedup artifact: two
    * corpora's signatures can be banded/joined without re-reading
    * either corpus's text). */
  def minHashSignatures(docs: DataFrame): DataFrame =
    minHashSignaturesFrom(shingleFrame(docs))

  /** Oracle for the signature frame (same CTE chain as the pairs). */
  val minHashSignaturesSql: String = {
    val cols = (0 until NumHashes).map(i => s"s$i").mkString(", ")
    s"""$nearDupCtes
       |SELECT doc_id, $cols FROM sigs""".stripMargin
  }

  /** Band buckets with more members than this are dropped BEFORE the
    * candidate self-join — the [[MaxAnchorOcc]] frequency band applied to
    * MinHash banding. Without it, m near-identical docs (a template plus
    * a unique footer — routine in web crawls) share band keys and
    * generate m²/2 candidate pairs: the quadratic cliff a 100× scale-up
    * falls off. With the cap, candidates are bounded at Σ occ² ≤
    * maxBucket·|band rows|. The trade is recall on boilerplate
    * super-clusters (a >maxBucket bucket IS near-certain boilerplate —
    * the same argument as the anchor cap); exact-duplicate collapse of
    * such cliques belongs to [[exactDedup]], which is cap-free. Buckets
    * with a single member are dropped too (they cannot pair), so the
    * join's input is only the genuinely pairable sliver. Mirrored in the
    * oracle chain ([[nearDupCtes]]/[[crossCorpusPairsSql]]). */
  val MaxBandBucket = 32

  /** Banded LSH candidate pairs with exact shingle-Jaccard confirmation:
    * docs sharing ANY band's full signature slice become a candidate;
    * candidates then get exact |A∩B|/|A∪B| over their shingle sets.
    * Returns (doc_a, doc_b, jaccard), doc_a < doc_b.
    *
    * minJaccard filters the CONFIRMED similarity (the LSH banding is the
    * recall knob: 4 bands × 4 rows ⇒ ~50% capture at J≈0.55, ~100% at
    * J≥0.85). */
  def nearDupPairs(docs: DataFrame, minJaccard: Double = 0.0): DataFrame = {
    val withSh = shingleFrame(docs)
    nearDupPairsFrom(minHashSignaturesFrom(withSh), withSh, minJaccard)
  }

  /** [[nearDupPairs]] from precomputed artifacts: `sigs` is a signature
    * frame ([[minHashSignatures]]' output — typically persisted/cached
    * once and shared by every dedup query over the corpus) and `withSh`
    * the matching shingle frame for the exact-Jaccard confirm. This is
    * the 100 TB entry point: banding + candidate join + confirm never
    * re-derive the signature subtree, so the expensive md5-per-shingle
    * pass runs once per corpus, not once per query. */
  /** Signature frame → exploded (doc_id, band, bkey) band-bucket rows.
    * Docs with a null signature (no shingles: null/empty/whitespace text)
    * are dropped BEFORE banding — `concat_ws` skips NULLs, so they would
    * otherwise all share one empty-string band key and form O(m²)
    * candidate rows that only die at the Jaccard confirm (0/0 → NULL). A
    * raw crawl is full of such docs; the kernel nulls all 16 sigs
    * together, so `s0 IS NULL` identifies them. Oracle side mirrors this
    * in [[bandSelectsSql]]. */
  private def bandFrame(sigs: DataFrame): DataFrame = {
    val bandKeys = (0 until Bands).map { j =>
      concat_ws("-", (0 until RowsPerBand).map(r => col(s"s${j * RowsPerBand + r}")): _*)
    }
    sigs.where(col("s0").isNotNull)
      .select(col("doc_id"), posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")))
  }

  /** (band, bkey) buckets with occupancy in [2, maxBucket] over `all` —
    * one hash-aggregate with map-side partial combine (what shuffles is
    * ≈ one row per distinct bucket, not per occurrence), exactly the
    * [[anchorSurvivors]] shape. Counted over the FULL band population a
    * candidate join will draw from (for the cross-corpus path that is
    * A ∪ B, so boilerplate is capped wherever it lives). */
  private def bucketSurvivors(all: DataFrame, maxBucket: Int): DataFrame =
    all.groupBy("band", "bkey").agg(count(lit(1)).as("occ"))
      .where(col("occ").between(2, maxBucket))
      .select("band", "bkey")

  /** Within-corpus candidate pairs from a signature frame, with the
    * bucket-occupancy cap applied (package-visible so the clique-blowup
    * spec can count candidates directly).
    *
    * The band frame is MATERIALIZED (the [[materialize]] convention)
    * before fanning out to its two consumers — the occupancy aggregate
    * and the kept-join. Left lazy, Catalyst plans the band subtree (and
    * under it the whole signature derivation, when `sigs` is itself
    * unmaterialized) once per consumer: broadcast planning at fixture
    * scale duplicates it outright, and even the shuffled shape only
    * dedupes the exchange, not the scan below it. Measured under
    * driver conditions (full 95-query registry, name-sorted, min-of-2,
    * sf0.1 × local[32], two runs per variant): x2 0.76/0.97 s
    * materialized vs 1.37/1.05 s lazy, x3 1.04/1.01 vs 2.00/1.45 —
    * the r6 driver's x2 = 1.40 s was this recompute, not noise. */
  private[graft] def bandCandidates(sigs: DataFrame,
      maxBucket: Int = MaxBandBucket,
      checkpointDir: Option[String] = None): DataFrame = {
    val bands = materialize(bandFrame(sigs), checkpointDir)
    val kept = bands.join(bucketSurvivors(bands, maxBucket), Seq("band", "bkey"))
    kept.as("a").join(kept.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Candidate pairs → exact shingle-Jaccard confirmation (shared tail
    * of the within- and cross-corpus pair operators). */
  private def confirmJaccard(cand: DataFrame, shA: DataFrame, shB: DataFrame,
      minJaccard: Double): DataFrame = {
    val a = shA.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = shB.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    cand.join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (inter.cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - inter)).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  def nearDupPairsFrom(sigs: DataFrame, withSh: DataFrame,
      minJaccard: Double = 0.0,
      checkpointDir: Option[String] = None): DataFrame =
    // no join hints in the candidate join, deliberately (measured): at
    // fixture scale the planner broadcasts the band/shingle sides and at
    // corpus scale size-based planning flips to shuffled joins; either
    // way the band frame itself is materialized inside bandCandidates,
    // so neither shape re-derives the signature subtree. Hard-pinning
    // either join shape lost ~70% wall at sf0.1.
    confirmJaccard(bandCandidates(sigs, MaxBandBucket, checkpointDir),
      withSh, withSh, minJaccard)

  /** Cross-corpus near-duplicate pairs: corpus B documents that
    * near-duplicate a corpus A document — the "dedup the new crawl
    * against the existing corpus" step of incremental curation. Same
    * banded shape as [[nearDupPairsFrom]] but ACROSS two signature
    * frames (typically: A's persisted from a previous snapshot, B's
    * freshly computed): candidates come only from A-band ⋈ B-band
    * bucket matches — never A×B — and each is confirmed by exact
    * Jaccard over the two shingle frames. The portable-artifact payoff:
    * corpus A's text is never re-read, only its signature/shingle
    * artifacts are joined. Returns (doc_a ∈ A, doc_b ∈ B, jaccard).
    *
    * Both band frames are materialized ([[bandCandidates]]' device, same
    * measured recompute): each is consumed twice — by the A ∪ B
    * occupancy union and by its own side of the candidate join. */
  def crossCorpusPairs(sigsA: DataFrame, shA: DataFrame,
      sigsB: DataFrame, shB: DataFrame, minJaccard: Double,
      checkpointDir: Option[String] = None): DataFrame = {
    val ba = materialize(bandFrame(sigsA), checkpointDir)
    val bb = materialize(bandFrame(sigsB), checkpointDir)
    // occupancy counted over A ∪ B — a bucket that is rare in the new
    // crawl but boilerplate across the existing corpus is still capped
    val surv = bucketSurvivors(ba.union(bb), MaxBandBucket)
    val cand = ba.join(surv, Seq("band", "bkey")).as("a")
      .join(bb.join(surv, Seq("band", "bkey")).as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    confirmJaccard(cand, shA, shB, minJaccard)
  }

  /** WITH-chain prefix: shingles → shingle hashes → signatures,
    * generated from the same constants as the Spark side. */
  private def sigCtesSql: String = {
    val hs = s"list_transform(sh, s -> ${hash32Sql("s")} % $P)"
    val sigSelects = perms.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hs, h -> (h * $a + $b) % $P)) AS s$i"
    }.mkString(",\n    ")
    s"""WITH shs AS (
       |  SELECT doc_id, ${shinglesSql("text")} AS sh FROM documents
       |), hsh AS (
       |  SELECT doc_id, sh, $hs AS hs FROM shs
       |), sigs AS (
       |  SELECT doc_id, sh,
       |    $sigSelects
       |  FROM hsh
       |)""".stripMargin
  }

  /** Band-exploded rows of `sigs` under an optional corpus predicate.
    * `s0 IS NOT NULL` mirrors [[bandFrame]]'s null-signature filter. */
  private def bandSelectsSql(pred: String = "TRUE"): String =
    (0 until Bands).map { j =>
      val key = (0 until RowsPerBand).map(r => s"s${j * RowsPerBand + r}").mkString(", ")
      s"SELECT doc_id, $j AS band, concat_ws('-', $key) AS bkey FROM sigs WHERE ($pred) AND s0 IS NOT NULL"
    }.mkString("\n    UNION ALL ")

  /** Exact-Jaccard confirmation over the `cand` CTE. (A `def`, not a
    * `val`: `minHashSignaturesSql` is a val that builds the chain at
    * object init, before later vals would be assigned.) */
  private def pairsCteSql: String =
    s"""pairs AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
       |      (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
       |  FROM cand JOIN shs x ON x.doc_id = doc_a JOIN shs y ON y.doc_id = doc_b
       |)""".stripMargin

  /** WITH-chain through the banded candidates only (no confirm tail):
    * signatures → bands → bucket cap → `cand` — the shared prefix of
    * the Jaccard confirm ([[nearDupCtes]]) and the edit-distance
    * confirm ([[editDupPairsSql]]). */
  private def candCtesSql: String =
    s"""$sigCtesSql, bands AS (
       |    ${bandSelectsSql()}
       |), bsurv AS (
       |  SELECT band, bkey FROM (
       |    SELECT band, bkey, count(*) AS occ FROM bands GROUP BY band, bkey)
       |  WHERE occ BETWEEN 2 AND $MaxBandBucket
       |), kept AS (
       |  SELECT k.doc_id, k.band, k.bkey FROM bands k JOIN bsurv USING (band, bkey)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM kept a JOIN kept b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |)""".stripMargin

  /** Shared CTE chain for the DuckDB oracle (signatures → bands →
    * bucket cap → pairs → jaccard), generated from the same constants as
    * the Spark side ([[MaxBandBucket]] mirrors [[bucketSurvivors]]). */
  private def nearDupCtes: String =
    s"""$candCtesSql, $pairsCteSql""".stripMargin

  /** [[crossCorpusPairs]] oracle: the same chain with the band sides
    * split by corpus predicates over doc_id; the bucket cap counts
    * occupancy over A ∪ B, exactly like the engine side. */
  def crossCorpusPairsSql(predA: String, predB: String, minJaccard: Double): String =
    s"""$sigCtesSql, bands_a AS (
       |    ${bandSelectsSql(predA)}
       |), bands_b AS (
       |    ${bandSelectsSql(predB)}
       |), bsurv AS (
       |  SELECT band, bkey FROM (
       |    SELECT band, bkey, count(*) AS occ FROM (
       |      SELECT * FROM bands_a UNION ALL SELECT * FROM bands_b)
       |    GROUP BY band, bkey)
       |  WHERE occ BETWEEN 2 AND $MaxBandBucket
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM (SELECT k.* FROM bands_a k JOIN bsurv USING (band, bkey)) a
       |  JOIN (SELECT k.* FROM bands_b k JOIN bsurv USING (band, bkey)) b
       |    ON a.band = b.band AND a.bkey = b.bkey
       |), $pairsCteSql
       |SELECT doc_a, doc_b, jaccard FROM pairs
       |WHERE jaccard >= $minJaccard""".stripMargin

  def nearDupPairsSql(minJaccard: Double): String =
    s"""$nearDupCtes
       |SELECT doc_a, doc_b, jaccard FROM pairs
       |WHERE jaccard >= $minJaccard""".stripMargin

  /** Edit-distance-verified near-duplicate pairs — the OTHER classic
    * confirm on LSH candidates (shingle Jaccard measures set overlap
    * and is order-blind; normalized Levenshtein measures the actual
    * rewrite distance, so a doc whose paragraphs were REORDERED scores
    * high Jaccard but low edit similarity, and a doc with a small
    * in-place patch scores high on both — curation pipelines use the
    * two signals together). Candidates come from the SAME capped banded
    * join as [[nearDupPairs]] (never all-pairs; the O(len²) DP runs
    * only on the bounded candidate set — the scale contract), then each
    * pair is scored `1 − lev(a,b) / max(len(a), len(b))`, rounded to
    * 6 dp before the threshold.
    *
    * Cross-engine note: Spark's `levenshtein` counts CODEPOINTS while
    * DuckDB's counts BYTES — identical on ASCII corpora (the fixtures
    * are ASCII; verified `length = octet_length` corpus-wide). The
    * operator's own semantics are Spark's codepoint distance. */
  def editDupPairs(docs: DataFrame, minSim: Double,
      checkpointDir: Option[String] = None): DataFrame = {
    val withSh = shingleFrame(docs)
    val cand = bandCandidates(minHashSignaturesFrom(withSh),
      MaxBandBucket, checkpointDir)
    val a = docs.select(col("doc_id").as("doc_a"), col("text").as("ta"))
    val b = docs.select(col("doc_id").as("doc_b"), col("text").as("tb"))
    cand.join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(lit(1.0) - levenshtein(col("ta"), col("tb")).cast("double") /
          greatest(length(col("ta")), length(col("tb"))), 6).as("edit_sim"))
      .where(col("edit_sim") >= minSim)
  }

  /** [[editDupPairs]] oracle: the shared candidate chain with the
    * Levenshtein confirm in place of the Jaccard one. */
  def editDupPairsSql(minSim: Double): String =
    s"""$candCtesSql, epairs AS (
       |  SELECT doc_a, doc_b,
       |    round(1.0 - CAST(levenshtein(x.text, y.text) AS DOUBLE) /
       |      greatest(length(x.text), length(y.text)), 6) AS edit_sim
       |  FROM cand JOIN documents x ON x.doc_id = doc_a
       |    JOIN documents y ON y.doc_id = doc_b
       |)
       |SELECT doc_a, doc_b, edit_sim FROM epairs
       |WHERE edit_sim >= $minSim""".stripMargin

  /** Benchmark decontamination check (the n-gram-overlap eval-set test
    * every serious training corpus runs; cf. the 13-gram overlap
    * methodology in the GPT-3 paper, Brown et al.'20): for each candidate
    * document, the fraction of its shingles present in the benchmark
    * set's shingle vocabulary, and a contamination flag above
    * `maxOverlap`.
    *
    * Shape: the benchmark vocabulary (eval sets are small by nature)
    * collapses to ONE broadcast row; candidates are scanned once,
    * map-only — no shuffle, no join of the corpus. For a vocabulary too
    * large to hash per-row, the explode → broadcast-join → count form
    * trades this for one shuffle; at eval-set sizes this form wins. */
  def contamination(candidates: DataFrame, benchmark: DataFrame,
      maxOverlap: Double): DataFrame = {
    val vocab = shingleFrame(benchmark)
      .agg(array_distinct(flatten(collect_list(col("sh")))).as("bsh"))
    val nOverlap = size(array_intersect(col("sh"), col("bsh")))
    shingleFrame(candidates).crossJoin(broadcast(vocab))
      .select(col("doc_id"), size(col("sh")).as("n_shingles"),
        nOverlap.as("n_overlap"),
        (nOverlap.cast("double") / size(col("sh"))).as("overlap_frac"))
      .withColumn("contaminated", col("overlap_frac") > maxOverlap)
  }

  /** [[contamination]]'s large-benchmark shape. The broadcast form
    * flattens the WHOLE benchmark vocabulary into one array in one
    * aggregation-buffer row (`collect_list` + `flatten`) — the right
    * trade for eval sets (thousands of docs, the normal case: the vocab
    * rides a single broadcast and candidates stay map-only), but a
    * single-task memory cliff when the "benchmark" is itself a corpus
    * (decontaminating against an entire held-out test SPLIT). This twin
    * keeps the vocabulary as ROWS: distinct benchmark shingles,
    * candidate shingles exploded + deduped per doc, one semi-join on
    * the shingle key (shuffle or broadcast — size-based planning
    * decides), zero-overlap docs restored by a left join against the
    * per-doc shingle counts. Row-identical to [[contamination]]
    * (spec-pinned, and x54 registers it against x23's oracle verbatim
    * — the hash gate proves the two shapes indistinguishable). */
  def contaminationJoin(candidates: DataFrame, benchmark: DataFrame,
      maxOverlap: Double): DataFrame = {
    val cand = shingleFrame(candidates)
    val vocab = shingleFrame(benchmark)
      .select(explode(col("sh")).as("s")).distinct()
    val matched = cand
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .dropDuplicates("doc_id", "s")
      .join(vocab, Seq("s"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).cast("int").as("n_overlap"))
    cand.select(col("doc_id"), size(col("sh")).as("n_shingles"))
      .join(matched, Seq("doc_id"), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0)))
      .withColumn("overlap_frac",
        col("n_overlap").cast("double") / col("n_shingles"))
      .withColumn("contaminated", col("overlap_frac") > maxOverlap)
  }

  /** [[contamination]] oracle over `documents` split by doc_id predicates. */
  def contaminationSql(benchPred: String, candPred: String, maxOverlap: Double): String =
    s"""WITH shs AS (
       |  SELECT doc_id, ${shinglesSql("text")} AS sh FROM documents
       |), bench AS (
       |  SELECT list_distinct(flatten(list(sh))) AS bsh FROM shs WHERE $benchPred
       |), scored AS (
       |  SELECT doc_id, len(sh) AS n_shingles,
       |    len(list_intersect(sh, bench.bsh)) AS n_overlap
       |  FROM shs CROSS JOIN bench WHERE $candPred
       |)
       |SELECT doc_id, n_shingles, n_overlap,
       |  CAST(n_overlap AS DOUBLE) / n_shingles AS overlap_frac,
       |  (CAST(n_overlap AS DOUBLE) / n_shingles) > $maxOverlap AS contaminated
       |FROM scored""".stripMargin

  // --- near-dup dedup (x3) -----------------------------------------------

  /** Near-duplicate dedup: drop the higher doc_id of every confirmed
    * near-dup pair (union-by-min collapse of the similarity graph's
    * pairwise edges). Anti-join against the (small) drop list — at scale
    * the drop set broadcasts. */
  def nearDupDedup(docs: DataFrame, minJaccard: Double): DataFrame = {
    val withSh = shingleFrame(docs)
    nearDupDedupFrom(docs, minHashSignaturesFrom(withSh), withSh, minJaccard)
  }

  /** [[nearDupDedup]] from precomputed signature/shingle artifacts. */
  def nearDupDedupFrom(docs: DataFrame, sigs: DataFrame, withSh: DataFrame,
      minJaccard: Double): DataFrame = {
    val drops = nearDupPairsFrom(sigs, withSh, minJaccard)
      .select(col("doc_b").as("doc_id")).distinct()
    docs.join(drops, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
  }

  def nearDupDedupSql(minJaccard: Double): String =
    s"""$nearDupCtes
       |SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT doc_b FROM pairs WHERE jaccard >= $minJaccard)""".stripMargin

  // --- duplicate clusters (x26): connected components ---------------------

  /** The eager-build family's lineage-truncation point. Default (None):
    * `localCheckpoint` — executor-local blocks, fastest, NOT
    * fault-tolerant on a real cluster (a lost executor loses the blocks
    * and the job fails back to square one). With `Some(dir)`: a RELIABLE
    * checkpoint — the RDD is persisted under `dir` (put it on the
    * cluster's shared store: HDFS/S3), so round state survives executor
    * loss; the price is one write+read of the frame per round. Results
    * are identical either way (CheckpointSpec pins it). */
  private[graft] def materialize(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case None => df.localCheckpoint(true)
      case Some(dir) =>
        df.sparkSession.sparkContext.setCheckpointDir(dir)
        df.checkpoint(true)
    }

  /** One large-star / small-star half-round (Kiveris et al.) over an
    * edge frame (u, v) — package-visible so StarSpec can pin its plan
    * shape (no CollectSet aggregate). */
  private[graft] def starContraction(e: DataFrame, large: Boolean): DataFrame = {
    // symmetrize via a 2-struct explode, not a self-union with swapped
    // columns (one pass; and a Union whose right side re-aliases the
    // left's own attributes trips Catalyst's constraint rewriting)
    val sym = e.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
    val mins = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    val g = sym.join(mins, "u") // (u, v, m): per-row memory, any hub degree
    val emitted =
      if (large) g.where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      else
        // small-star emits (u, m) for every row plus (v, m) where
        // v < u — as ONE conditional explode, not a two-branch union:
        // a union re-plans (and re-executes) the whole sym⋈mins join
        // once per branch (optimization guide §2.4 — the same
        // two-branch defect the rebuild diff had); rows are the same
        // multiset, and the trailing distinct is unchanged
        g.select(explode(when(col("v") < col("u"),
            array(struct(col("v").as("u"), col("m").as("v")),
              struct(col("u").as("u"), col("m").as("v"))))
          .otherwise(array(struct(col("u").as("u"), col("m").as("v")))))
          .as("p"))
          .select(col("p.u").as("u"), col("p.v").as("v"))
    emitted.where(col("u") =!= col("v")).distinct()
  }

  /** Transitive duplicate clusters over a confirmed near-dup pair graph:
    * `(doc_id, cluster_id)` for every doc appearing in a pair, where
    * `cluster_id` is the minimum doc_id of its connected component.
    * [[nearDupDedup]]'s pairwise drop list under-collapses chains — for
    * edges (2,9),(3,9) it keeps both 2 and 3 although they are
    * transitive duplicates via 9; the cluster view is what corpus
    * curation actually wants: ONE representative per duplicate group,
    * however the group is wired (crawl mirrors form long chains).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14), the
    * published MapReduce-scale CC construction: each half-round is one
    * hash-aggregate over the symmetrized edge set (emit edges from every
    * node's neighborhood toward its local minimum), and the edge set
    * provably contracts to per-component stars rooted at the minimum in
    * O(log² n) rounds — independent of graph DIAMETER, which is what
    * kills naive label propagation on chain-shaped dup graphs at corpus
    * scale. The driver holds only a round counter; the [[materialize]]
    * point truncates lineage each round so plan size stays constant
    * (executor-local blocks by default; pass `checkpointDir` for the
    * fault-tolerant path on a real cluster). */
  def duplicateClusters(pairs: DataFrame, maxRounds: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    // Each star half-round: min-per-node aggregate, then JOIN the min
    // back to the symmetrized edges — never groupBy+collect_set+explode,
    // which materializes a node's whole neighborhood in ONE aggregation
    // buffer: a boilerplate hub (one doc near-duplicated 10⁶ times at
    // 100 TB) would put a 10⁶-element set into a single task — the
    // classic skewed-collect_set OOM. The join-back form is two shuffles
    // instead of one, both cheap in the way that matters (plan verified
    // with broadcast disabled): the min side map-combines, so its
    // exchange carries one (u, partial-min) row per node per mapper —
    // never raw edges — and the final aggregate's output partitioning
    // already satisfies the join, which re-shuffles nothing on that
    // side; the raw edge side shuffles once. Per-task memory is
    // per-ROW, hub-degree-independent. (ScaleShapeSpec pins the plan:
    // no CollectSet node, and a 10⁵-degree star contracts in one
    // round.)
    // package-visible as [[starContraction]] for the plan-pin spec
    // seed in the star-canonical orientation (node → SMALLER partner):
    // star rounds emit (child, smaller-parent) edges, so a (small, large)
    // seed burns an extra contraction round just reorienting (measured
    // 2.3× on the loop at sf0.1)
    val seed = materialize(pairs
      .select(greatest(col("doc_a"), col("doc_b")).cast("long").as("u"),
        least(col("doc_a"), col("doc_b")).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct(), checkpointDir)
    var edges = seed
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      // LAZY local checkpoint (guide §1.2 — one driver round-trip per
      // round, not two): the convergence aggregate below is the FIRST
      // action over the checkpoint-marked frame, so the SAME job
      // computes the round's edge set, persists its partitions
      // (localCheckpoint materializes as a computation side effect and
      // truncates lineage when the job completes; the full aggregate
      // leaves no partition uncomputed), and tests the fixpoint. The
      // eager two-job shape survives only on the RELIABLE path, where
      // a lazy checkpoint would recompute the whole frame again at
      // write time. Values are identical either way — checkpointing
      // only stages execution (CheckpointSpec pins it).
      val contracted =
        starContraction(starContraction(edges, large = true), large = false)
      val next = checkpointDir match {
        case None => contracted.localCheckpoint(false)
        case Some(_) => materialize(contracted, checkpointDir)
      }
      // STRUCTURAL fixpoint test, not edge-set equality (optimization
      // guide §1.2/§2.4 — and still exact, not a checksum: a false
      // "converged" would silently mislabel clusters). Every edge this
      // loop ever holds is downward-oriented (u > v: the seed is
      // greatest→least, and both star halves emit (x, m) with
      // m = a local minimum < x, [[starContraction]]), so an edge set
      // is a union of min-rooted stars ⟺ each u appears EXACTLY once
      // and never also as a root v — and min-rooted star sets are
      // precisely the alternation's fixpoints (contracting a star
      // reproduces it; anything else keeps moving). The old criterion
      // (next == edges via full-outer join) detected the fixpoint one
      // round LATE — it needed a whole extra double-contraction to
      // produce the identical set it could compare — and paid a
      // two-sided shuffle join per round; this is one map-combined
      // aggregate over `next` alone (node → (times-a-child,
      // times-a-root), any violation ⇒ not yet stars), converging one
      // full round earlier with the same labels (the exit frame is the
      // same fixpoint set; DedupSpec pins ≡ on chains, cliques, hubs,
      // and the incremental path).
      converged = next.select(explode(array(
          struct(col("u").as("n"), lit(1).as("cu"), lit(0).as("cv")),
          struct(col("v").as("n"), lit(0).as("cu"), lit(1).as("cv")))).as("p"))
        .groupBy(col("p.n")).agg(sum("p.cu").as("cu"), sum("p.cv").as("cv"))
        .where(col("cu") > 1 || (col("cu") > 0 && col("cv") > 0))
        .isEmpty
      edges = next
      rounds += 1
    }
    require(converged, s"connected components did not converge in $maxRounds rounds")
    // fixpoint: per-component stars (node → component min); roots carry
    // no outgoing edge and label themselves. Nodes come from the
    // CHECKPOINTED seed, not `pairs` — deriving them from `pairs` would
    // re-run its whole upstream chain (the MinHash pipeline, for x26)
    // twice more just to list vertices
    val nodes = seed.select(col("u").as("doc_id"))
      .union(seed.select(col("v").as("doc_id"))).distinct()
    nodes.join(edges.select(col("u").as("doc_id"), col("v").as("cluster_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Incremental cluster maintenance: fold NEWLY confirmed pairs (e.g.
    * a crawl increment's near-dups from [[crossCorpusPairs]] /
    * [[StreamingDedup]]-style screening) into an EXISTING cluster
    * labeling without reprocessing old pairs. The previous labeling is
    * itself a star graph (node → cluster min), so contraction restarts
    * from stars ∪ new edges — already almost converged; rounds scale
    * with how much the new edges re-wire, not with corpus history.
    * Merging two old clusters through a new pair relabels both to the
    * joint minimum, exactly as a full recompute would (spec-pinned:
    * ≡ [[duplicateClusters]] over the union of all pair sets). */
  def duplicateClustersIncremental(prevLabels: DataFrame,
      newPairs: DataFrame, checkpointDir: Option[String] = None): DataFrame = {
    val starEdges = prevLabels.where(col("doc_id") =!= col("cluster_id"))
      .select(col("cluster_id").as("doc_a"), col("doc_id").as("doc_b"),
        lit(1.0).as("jaccard"))
    // singleton clusters (root-only) carry no edge; re-attach their
    // nodes afterwards so previously-labeled docs never vanish
    val out = duplicateClusters(
      starEdges.unionByName(newPairs.select(
        col("doc_a"), col("doc_b"), col("jaccard"))),
      checkpointDir = checkpointDir)
    prevLabels.select(col("doc_id"))
      .join(out, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
      .unionByName(out)
  }

  /** Quality-aware cluster representative selection: for each duplicate
    * cluster (from [[duplicateClusters]]), the member the curation
    * pipeline should KEEP — highest quality (`uniq_ratio` from
    * [[TextOps.qualityScore]]), `doc_id` as the deterministic tiebreak —
    * plus the member count. Min-doc-id representatives (what
    * [[nearDupDedup]]'s keep-first policy and the cluster label itself
    * encode) are arbitrary; real dedup pipelines keep the BEST copy of
    * boilerplate-heavy near-dup groups (the canonical page, not the
    * mirror with ads).
    *
    * Scale shape: one equi-join (clusters ⋈ quality on doc_id) and one
    * hash-aggregate — the argmax is `max(struct(quality, -doc_id))`, so
    * it map-side combines and a 10⁶-member boilerplate cluster costs
    * one struct per mapper, never a buffered member list (the
    * [[starContraction]] contract, applied to policy selection). */
  def clusterRepresentatives(clusters: DataFrame,
      quality: DataFrame): DataFrame =
    clusters.join(quality.select(col("doc_id"), col("uniq_ratio")), Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(
        max(struct(col("uniq_ratio").as("q"),
          (-col("doc_id")).as("nid"))).as("_best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), (-col("_best.nid")).as("rep_doc"),
        col("_best.q").as("rep_quality"), col("n_members"))

  /** [[clusterRepresentatives]] oracle over the x26 clustering: the
    * recursive-CTE closure as a subquery, quality joined in, argmax as
    * a per-cluster rank-1 window (declarative spec only — the engine
    * side is the map-side-combined struct-max aggregate above). */
  def clusterRepresentativesSql(minJaccard: Double): String =
    s"""WITH clus AS (
       |${duplicateClustersSql(minJaccard)}
       |), q AS (
       |${TextOps.qualityScoreSql}
       |), j AS (
       |  SELECT clus.cluster_id, clus.doc_id, q.uniq_ratio
       |  FROM clus JOIN q USING (doc_id)
       |)
       |SELECT cluster_id, rep_doc, rep_quality, n_members FROM (
       |  SELECT cluster_id, doc_id AS rep_doc, uniq_ratio AS rep_quality,
       |    count(*) OVER (PARTITION BY cluster_id) AS n_members,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY uniq_ratio DESC, doc_id) AS rn
       |  FROM j) WHERE rn = 1""".stripMargin

  /** [[duplicateClusters]] oracle: reachability closure as a recursive
    * CTE over the symmetrized confirmed-pair edges, min per node. (The
    * oracle may be super-linear — DuckDB enumerates all (node, reachable)
    * pairs — which is exactly why the engine side uses star contraction
    * instead.) */
  def duplicateClustersSql(minJaccard: Double): String =
    s"""${nearDupCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")}, e AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs WHERE jaccard >= $minJaccard
       |), ed AS (
       |  SELECT u, v FROM e UNION SELECT v, u FROM e
       |), walk(n, r) AS (
       |  SELECT u, u FROM ed
       |  UNION
       |  SELECT w.n, ed.v FROM walk w JOIN ed ON ed.u = w.r
       |)
       |SELECT n AS doc_id, min(r) AS cluster_id FROM walk GROUP BY n""".stripMargin

  // --- PageRank over the pair graph (x68) ---------------------------------

  /** PageRank damping factor — 0.85, Brin/Page's constant
    * (interpolated into both engines, the x51 single-constant rule). */
  val RankDamping = 0.85

  /** Fixed PageRank iteration count — fixed, not convergence-tested,
    * so the oracle unrolls the same rounds (the k-means convention). */
  val RankIters = 3

  /** PageRank over the UNDIRECTED confirmed-pair graph — graph
    * centrality as a CANONICALNESS signal: in a near-dup graph the
    * most-connected copy of a boilerplate family is the one most other
    * copies resemble, a structural complement to
    * [[clusterRepresentatives]]' content-quality argmax (rank comes
    * from the graph, quality from the text; a curation policy can
    * consult both). Isolated docs (in no pair) are out of scope —
    * rank is a property OF the duplicate graph.
    *
    * `r_{i+1}(v) = (1−d)/N + d · Σ_{u~v} r_i(u)/deg(u)`, `iters`
    * fixed rounds from the uniform 1/N start. Undirected: each pair
    * contributes both directions, so there are no dangling nodes and
    * mass is conserved up to the damping term.
    *
    * Determinism: the neighbor-sum is the one partial-agg-order-
    * sensitive spot, handled by the x38/x56 decimal-grid device —
    * each contribution `r/deg` rounds to the 10⁻⁹ grid and sums as
    * exact DECIMAL(18,9); everything after is scalar double arithmetic
    * in a fixed operation order mirrored by the oracle. Final rank
    * rounds to 6 dp (the cosine convention).
    *
    * Scale shape: per round, one equi-join of the edge frame with the
    * current (bounded: one row per graph node) rank frame, one
    * map-side-combined hash agg, one join back to degrees — the
    * standard distributed PageRank step. Rounds are materialized
    * ([[materialize]]) so lineage stays flat; N and nothing else
    * reaches the driver. */
  def pairGraphRank(pairs: DataFrame, iters: Int = RankIters,
      damping: Double = RankDamping,
      checkpointDir: Option[String] = None): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = materialize(
      edges.groupBy("src").agg(count(lit(1)).as("deg")), checkpointDir)
    val nn = deg.agg(count(lit(1)).as("n"))
    var ranks = deg.crossJoin(broadcast(nn))
      .select(col("src").as("doc_id"), col("deg"),
        (lit(1.0) / col("n")).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(ranks.withColumnRenamed("doc_id", "src"), "src")
        .select(col("dst").as("doc_id"),
          round(col("rank") / col("deg"), 9).cast("decimal(18,9)").as("c"))
      val sums = contrib.groupBy("doc_id").agg(sum(col("c")).as("cs"))
      ranks = materialize(
        deg.join(sums, col("src") === sums("doc_id"))
          .crossJoin(broadcast(nn))
          .select(col("src").as("doc_id"), col("deg"),
            (lit(1.0 - damping) / col("n") +
              lit(damping) * col("cs").cast("double")).as("rank")),
        checkpointDir)
    }
    ranks.select(col("doc_id"), round(col("rank"), 6).as("rank"))
  }

  /** [[pairGraphRank]] oracle — the pair CTEs + `iters` unrolled
    * rounds, every rounding/cast/operation-order spot mirrored. Float
    * literals are wrapped `CAST(... AS DOUBLE)`: DuckDB types bare
    * decimal literals as DECIMAL and decimal division would diverge
    * from Spark's double arithmetic. */
  def pairGraphRankSql(minJaccard: Double, iters: Int = RankIters,
      damping: Double = RankDamping): String = {
    val rounds = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS doc_id,
         |    CAST(round(r.rank / r.deg, 9) AS DECIMAL(18,9)) AS c
         |  FROM edges e JOIN r${i - 1} r ON r.doc_id = e.src
         |), s$i AS (
         |  SELECT doc_id, sum(c) AS cs FROM c$i GROUP BY doc_id
         |), r$i AS (
         |  SELECT d.src AS doc_id, d.deg,
         |    CAST(${1.0 - damping} AS DOUBLE) / n +
         |      CAST($damping AS DOUBLE) * CAST(s.cs AS DOUBLE) AS rank
         |  FROM deg d JOIN s$i s ON s.doc_id = d.src, nn
         |)""".stripMargin
    }.mkString(",\n")
    s"""$nearDupCtes, p AS (
       |  SELECT doc_a, doc_b FROM pairs WHERE jaccard >= $minJaccard
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM p
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM p
       |), deg AS (
       |  SELECT src, count(*) AS deg FROM edges GROUP BY src
       |), nn AS (
       |  SELECT count(*) AS n FROM deg
       |), r0 AS (
       |  SELECT src AS doc_id, deg, CAST(1 AS DOUBLE) / n AS rank
       |  FROM deg, nn
       |),
       |$rounds
       |SELECT doc_id, round(rank, 6) AS rank FROM r$iters""".stripMargin
  }

  /** Quality-teleport PageRank (TrustRank, Gyöngyi/Garcia-Molina/
    * Pedersen VLDB'04, with the quality score as the trust seed):
    * [[pairGraphRank]] with the uniform 1/N teleport replaced by a
    * per-node prior `t(v) = q(v)/Σq` — so rank PROPAGATES the content-
    * quality signal through the duplicate graph instead of treating
    * every node as equally trustworthy a priori. A low-quality mirror
    * adjacent to high-quality canonicals inherits standing it would
    * not get from its own text; an isolated clique of junk gets none —
    * exactly the curation question x53's per-cluster argmax cannot
    * answer across cluster boundaries.
    *
    * `r_{i+1}(v) = (1−d)·t(v) + d·Σ_{u~v} r_i(u)/deg(u)`, `r_0 = t`.
    * [[pairGraphRank]] is the `t = 1/N` special case; the same
    * determinism devices apply, plus one more global scalar: `Σq` is
    * an exact DECIMAL sum of 9-dp-rounded qualities (a double sum's
    * partial-agg order would leak into every teleport weight).
    * `quality` must carry `(doc_id, uniq_ratio)` ([[TextOps
    * .qualityScore]]'s signal column, the x53 convention). */
  def qualityRank(pairs: DataFrame, quality: DataFrame,
      iters: Int = RankIters, damping: Double = RankDamping,
      checkpointDir: Option[String] = None): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val qg = quality.select(col("doc_id"),
      round(col("uniq_ratio"), 9).cast("decimal(18,9)").as("qg"))
    val base0 = deg.join(qg, deg("src") === qg("doc_id"))
      .select(col("src").as("doc_id"), col("deg"), col("qg"))
    val qtot = base0.agg(sum(col("qg")).as("qq"))
    val base = materialize(
      base0.crossJoin(broadcast(qtot))
        .select(col("doc_id"), col("deg"),
          (col("qg").cast("double") / col("qq").cast("double")).as("t")),
      checkpointDir)
    var ranks = base.withColumn("rank", col("t"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(ranks.select(col("doc_id").as("src"), col("deg"), col("rank")),
          "src")
        .select(col("dst").as("doc_id"),
          round(col("rank") / col("deg"), 9).cast("decimal(18,9)").as("c"))
      val sums = contrib.groupBy("doc_id").agg(sum(col("c")).as("cs"))
      ranks = materialize(
        base.join(sums, "doc_id")
          .select(col("doc_id"), col("deg"), col("t"),
            (lit(1.0 - damping) * col("t") +
              lit(damping) * col("cs").cast("double")).as("rank")),
        checkpointDir)
    }
    ranks.select(col("doc_id"), round(col("rank"), 6).as("rank"))
  }

  /** [[qualityRank]] oracle — the x68 chain with the quality-seeded
    * teleport CTEs ([[TextOps.qualityScoreSql]] embedded; `Σq` as the
    * same exact decimal sum). */
  def qualityRankSql(minJaccard: Double, iters: Int = RankIters,
      damping: Double = RankDamping): String = {
    val rounds = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS doc_id,
         |    CAST(round(r.rank / r.deg, 9) AS DECIMAL(18,9)) AS c
         |  FROM edges e JOIN r${i - 1} r ON r.doc_id = e.src
         |), s$i AS (
         |  SELECT doc_id, sum(c) AS cs FROM c$i GROUP BY doc_id
         |), r$i AS (
         |  SELECT b.doc_id, b.deg, b.t,
         |    CAST(${1.0 - damping} AS DOUBLE) * b.t +
         |      CAST($damping AS DOUBLE) * CAST(s.cs AS DOUBLE) AS rank
         |  FROM base b JOIN s$i s ON s.doc_id = b.doc_id
         |)""".stripMargin
    }.mkString(",\n")
    s"""$nearDupCtes, p AS (
       |  SELECT doc_a, doc_b FROM pairs WHERE jaccard >= $minJaccard
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM p
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM p
       |), deg AS (
       |  SELECT src, count(*) AS deg FROM edges GROUP BY src
       |), qual AS (
       |  SELECT doc_id, uniq_ratio FROM (${TextOps.qualityScoreSql})
       |), qn AS (
       |  SELECT d.src AS doc_id, d.deg,
       |    CAST(round(q.uniq_ratio, 9) AS DECIMAL(18,9)) AS qg
       |  FROM deg d JOIN qual q ON q.doc_id = d.src
       |), qt AS (
       |  SELECT sum(qg) AS qq FROM qn
       |), base AS (
       |  SELECT doc_id, deg,
       |    CAST(qg AS DOUBLE) / CAST(qq AS DOUBLE) AS t
       |  FROM qn, qt
       |), r0 AS (
       |  SELECT doc_id, deg, t, t AS rank FROM base
       |),
       |$rounds
       |SELECT doc_id, round(rank, 6) AS rank FROM r$iters""".stripMargin
  }

  // --- exact substring dedup (x36) ----------------------------------------

  /** Anchor window length: two docs sharing ANY verbatim run of at least
    * this many normalized characters share an anchor. */
  val AnchorLen = 30
  /** Anchors occurring more than this many times across the corpus are
    * dropped as boilerplate stop-anchors (caps the per-anchor candidate
    * blowup — the LSH-bucket-cap analog for substring dedup). */
  val MaxAnchorOcc = 16
  /** Minimum reported extent length (Lee et al. use 50 BPE tokens; this
    * is the character-level analog sized to the fixture vocabulary). */
  val MinExtent = 60

  /** Exact substring duplication across documents (Lee et al., ACL'22,
    * "Deduplicating Training Data Makes Language Models Better"):
    * MinHash-LSH catches near-duplicate DOCUMENTS; this catches long
    * verbatim SUBSTRINGS shared across otherwise-different docs
    * (boilerplate, licenses, quoted passages) — the published tool
    * builds a suffix array over the corpus, which is inherently
    * single-machine. The Spark-shaped equivalent:
    *
    *  1. '''anchors''' — every `anchorLen`-char window of the normalized
    *     text, stride 1: a map-only explode, linear in corpus chars;
    *  2. '''frequency band''' — one hash-aggregate counts occurrences
    *     per anchor (map-side partial combine: what shuffles is ≈ one
    *     row per distinct anchor, not per occurrence) and keeps only
    *     anchors seen 2..`maxOcc` times: singletons — the overwhelming
    *     bulk of a real corpus — can never pair and exit HERE, before
    *     any join, and the >`maxOcc` boilerplate stop-anchors cap the
    *     candidate blowup at Σ occ² ≤ maxOcc·|anchors|. (A window
    *     count computes the same thing in one shuffle but pays
    *     WindowExec's per-group machinery on millions of single-row
    *     groups — measured 3.8 s vs 0.4 s on 1.3M anchors at sf0.1.)
    *     Anchors are keyed by a 60-bit hash (first 15 md5 hex digits,
    *     the [[TextOps.hash32]] device widened): shuffles carry 8
    *     bytes instead of anchorLen chars;
    *  3. '''candidates''' — the surviving anchor occurrences (a
    *     near-dup-bounded sliver of the corpus) self-equi-join on the
    *     anchor hash; the self-join's two sides are the same subtree,
    *     so the exchange is planned once and reused. A hash collision
    *     (~2⁻⁶⁰ per anchor pair) surfaces as a length-1 diagonal run,
    *     which the extent merge below filters at `minLen` — the run
    *     STRUCTURE is the verification;
    *  4. '''extent merge''' — matches on one (doc_a, doc_b) DIAGONAL
    *     (pos_a − pos_b) with consecutive pos_a form one maximal shared
    *     extent of length run + anchorLen − 1: a gaps-and-islands window
    *     per pair-diagonal, parallel across pairs.
    *
    * Every substring of length ≥ anchorLen shared verbatim by two docs
    * (whose anchors survive the cap) is recovered in FULL — the diagonal
    * merge glues overlapping anchor matches back into the maximal run —
    * and `minLen` then filters what is long enough to report.
    *
    * Output: (doc_a, doc_b, a_start, b_start, match_len), positions
    * 1-based in the normalized text, doc_a < doc_b. */
  /** The anchor frame `(doc_id, pos, h)` — THE persistable artifact of
    * the substring-dedup family (the [[shingleFrame]] analog): ~20
    * bytes/anchor, consumed by the frequency band, the within-corpus
    * candidate join, and the cross-corpus variant. MATERIALIZED at
    * construction (localCheckpoint — the x26 eager-build exception):
    * every consumer reads it at least twice, and without the checkpoint
    * each branch re-runs the scan→kernel chain (measured 12.9 s vs 3 s
    * at sf0.1). On a cluster pass `checkpointDir` to route through a
    * reliable checkpoint instead ([[materialize]]). */
  def anchorFrame(docs: DataFrame, anchorLen: Int = AnchorLen,
      checkpointDir: Option[String] = None): DataFrame =
    // [[Par.spread]]: a single-file corpus fixture is ONE scan split,
    // which ran the whole digest kernel — and every consumer's read of
    // the checkpointed frame up to its first exchange — on one task
    // (measured ~1 s serialized at sf0.1 while 31 cores idled); at
    // corpus scale the scan is already wide and this is an identity
    materialize(Par.spread(
      docs.select(col("doc_id"), normText(col("text")).as("t"))
        .where(length(col("t")) >= anchorLen), col("doc_id"))
      .select(col("doc_id"),
        // fused kernel: one digest loop per row over one byte buffer —
        // the per-anchor builtin chain (substr copy + hex string +
        // BigInteger conv) costs ~1.4 µs × |corpus chars|
        posexplode(graft.functions.TextKernels.anchorHashes(col("t"), anchorLen))
          .as(Seq("i", "h")))
      .select(col("doc_id"), (col("i") + 1).as("pos"), col("h")), checkpointDir)

  /** Anchors whose total occurrence count is in [2, maxOcc] — the
    * frequency band shared by the within- and cross-corpus paths. */
  private def anchorSurvivors(anch: DataFrame, maxOcc: Int): DataFrame =
    anch.groupBy("h").agg(count(lit(1)).as("occ"))
      .where(col("occ").between(2, maxOcc))
      .select("h")

  /** Diagonal gaps-and-islands merge: matched anchor positions →
    * maximal shared extents (shared tail of x36/x39). */
  private def mergeExtents(cand: DataFrame, anchorLen: Int, minLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val runW = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    cand.withColumn("diag", col("pa") - col("pb"))
      .withColumn("grp", col("pa") - row_number().over(runW))
      .groupBy("doc_a", "doc_b", "diag", "grp")
      .agg(min("pa").as("a_start"), min("pb").as("b_start"),
        (count(lit(1)) + (anchorLen - 1)).as("match_len"))
      .where(col("match_len") >= minLen)
      .select("doc_a", "doc_b", "a_start", "b_start", "match_len")
  }

  def substringDups(docs: DataFrame, anchorLen: Int = AnchorLen,
      maxOcc: Int = MaxAnchorOcc, minLen: Int = MinExtent): DataFrame =
    substringDupsFromAnchors(anchorFrame(docs, anchorLen), anchorLen, maxOcc, minLen)

  /** [[substringDups]] from a precomputed [[anchorFrame]] artifact. */
  def substringDupsFromAnchors(anch: DataFrame, anchorLen: Int = AnchorLen,
      maxOcc: Int = MaxAnchorOcc, minLen: Int = MinExtent): DataFrame = {
    val kept = anch.join(anchorSurvivors(anch, maxOcc), "h")
    val cand = kept.select(col("doc_id").as("doc_a"), col("pos").as("pa"), col("h"))
      .join(kept.select(col("doc_id").as("doc_b"), col("pos").as("pb"), col("h")), "h")
      .where(col("doc_a") < col("doc_b"))
    mergeExtents(cand, anchorLen, minLen)
  }

  /** Cross-corpus exact substring duplication: verbatim extents shared
    * between a corpus-A document and a corpus-B document — the
    * "screen the new crawl's text against the existing snapshot"
    * companion of [[crossCorpusPairs]], at substring rather than
    * document granularity. Takes the two [[anchorFrame]] artifacts
    * (A's persisted from a previous snapshot, B's freshly computed —
    * corpus A's text is never re-read); the frequency band counts
    * occurrences over A ∪ B, so boilerplate is capped wherever it
    * lives; candidates come only from A-anchor ⋈ B-anchor hash
    * matches, never A×B. Returns (doc_a ∈ A, doc_b ∈ B, a_start,
    * b_start, match_len) — within-A and within-B duplication is
    * deliberately NOT reported (that is each corpus's own x36). */
  def crossSubstringDups(anchA: DataFrame, anchB: DataFrame,
      anchorLen: Int = AnchorLen, maxOcc: Int = MaxAnchorOcc,
      minLen: Int = MinExtent): DataFrame = {
    val survivors =
      anchorSurvivors(anchA.select("h").unionAll(anchB.select("h")), maxOcc)
    val cand = anchA.join(survivors, "h")
      .select(col("doc_id").as("doc_a"), col("pos").as("pa"), col("h"))
      .join(anchB.select(col("doc_id").as("doc_b"), col("pos").as("pb"), col("h")), "h")
    mergeExtents(cand, anchorLen, minLen)
  }

  /** [[substringDups]] oracle, generated from the same constants. */
  def substringDupsSql(anchorLen: Int = AnchorLen, maxOcc: Int = MaxAnchorOcc,
      minLen: Int = MinExtent): String =
    s"""WITH norm AS (
       |  SELECT doc_id, ${normTextSql("text")} AS t FROM documents
       |), anch AS (
       |  SELECT doc_id, i AS pos,
       |    ('0x' || substr(md5(substr(t, i, $anchorLen)), 1, 15))::BIGINT AS h
       |  FROM norm, unnest(range(1, greatest(len(t) - ${anchorLen - 1}, 0) + 1)) AS u(i)
       |  WHERE len(t) >= $anchorLen
       |), capped AS (
       |  SELECT * FROM (
       |    SELECT doc_id, pos, h, count(*) OVER (PARTITION BY h) AS occ FROM anch)
       |  WHERE occ <= $maxOcc
       |), m AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.pos AS pa, y.pos AS pb
       |  FROM capped x JOIN capped y ON x.h = y.h AND x.doc_id < y.doc_id
       |), runs AS (
       |  SELECT doc_a, doc_b, pa - pb AS diag, pa, pb,
       |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
       |  FROM m
       |)
       |SELECT doc_a, doc_b, min(pa) AS a_start, min(pb) AS b_start,
       |  count(*) + ${anchorLen - 1} AS match_len
       |FROM runs GROUP BY doc_a, doc_b, diag, grp
       |HAVING match_len >= $minLen""".stripMargin

  /** Drop threshold for [[substringDupStats]]: a doc more than half
    * covered by verbatim text already present in earlier docs is
    * removed. */
  val DupDropFrac = 0.5

  /** Doc-level view of [[substringDups]] — the removal policy of Lee et
    * al.'s ExactSubstr dedup, Spark-shaped: for each document, how much
    * of it is verbatim text already present in an EARLIER (lower-id)
    * document, and whether that crosses the drop threshold. "How much"
    * is the UNION of the doc's matched extents (a doc sharing one
    * passage with 50 earlier docs is 1× covered, not 50×): per doc, a
    * classic interval-union sweep — sort extents by start, a running
    * max-end window marks island starts, islands aggregate to merged
    * intervals — one window + one aggregate over the (tiny) extent set,
    * parallel across docs.
    *
    * Output: (doc_id, n_chars_norm, dup_chars, dup_frac, dropped) for
    * every doc with at least one matched extent; the drop list is
    * `WHERE dropped`. Keep-first orientation: coverage counts only
    * extents where the doc is the HIGHER id of the pair, so the
    * earliest copy of any passage is never charged for it. */
  def substringDupStats(docs: DataFrame, anchorLen: Int = AnchorLen,
      maxOcc: Int = MaxAnchorOcc, minLen: Int = MinExtent,
      dropFrac: Double = DupDropFrac): DataFrame =
    substringDupStatsFrom(docs, substringDups(docs, anchorLen, maxOcc, minLen),
      dropFrac)

  /** [[substringDupStats]] from a precomputed extent frame ([[substringDups]]'
    * output — the `...From` artifact convention: extents are computed
    * once per corpus snapshot and every downstream policy consumes
    * them, so the anchor build never re-runs per report). */
  def substringDupStatsFrom(docs: DataFrame, ext: DataFrame,
      dropFrac: Double = DupDropFrac): DataFrame = {
    val covered = mergedIslands(ext)
      .groupBy("doc_id")
      .agg(sum(col("e") - col("s") + 1).as("dup_chars"))
    docs.select(col("doc_id"), length(normText(col("text"))).as("n_chars_norm"))
      .join(covered, "doc_id")
      .withColumn("dup_frac",
        round(col("dup_chars").cast("double") / col("n_chars_norm"), 6))
      .withColumn("dropped", col("dup_frac") >= dropFrac)
  }

  /** Per-doc UNION of matched extents as disjoint `(doc_id, s, e)`
    * intervals (keep-first orientation: a doc's coverage counts only
    * extents where it is the pair's HIGHER id) — the interval-union
    * sweep shared by the coverage report and the span scrubber. */
  private def mergedIslands(ext: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val iv = ext
      .select(col("doc_b").as("doc_id"), col("b_start").cast("int").as("s"),
        (col("b_start") + col("match_len") - 1).cast("int").as("e"))
    val sweep = Window.partitionBy("doc_id").orderBy("s", "e")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = Window.partitionBy("doc_id").orderBy("s", "e")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    iv.withColumn("newi",
        when(col("s") > coalesce(max(col("e")).over(sweep), lit(Int.MinValue)), 1)
          .otherwise(0))
      .withColumn("isl", sum(col("newi")).over(cum))
      .groupBy("doc_id", "isl")
      .agg(min("s").as("s"), max("e").as("e"))
      .select("doc_id", "s", "e")
  }

  /** The cut step of ExactSubstr dedup (Lee et al. delete the duplicated
    * spans, not the documents): every doc's normalized text with its
    * duplicated extents REMOVED — keep-first orientation, so the
    * earliest copy of a passage survives verbatim and later copies lose
    * exactly the shared spans. Returns every document:
    * (doc_id, clean_text, n_removed); untouched docs pass through with
    * n_removed = 0. The cut itself is a per-row left fold over the
    * doc's (few, disjoint, sorted) islands — concatenate the gaps — so
    * beyond [[mergedIslands]]' window the operator adds one small
    * aggregate and a map stage, no extra pass over the corpus. */
  def substringScrubFrom(docs: DataFrame, ext: DataFrame): DataFrame = {
    val accType = "struct<p:int,o:string>"
    val packed = mergedIslands(ext)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("iv"))
    val t = col("t")
    val cut = aggregate(
      col("iv"),
      struct(lit(1).as("p"), lit("").as("o")).cast(accType),
      (acc, isl) => struct(
        (isl.getField("e") + 1).as("p"),
        concat(acc.getField("o"),
          t.substr(acc.getField("p"), isl.getField("s") - acc.getField("p"))).as("o"))
        .cast(accType),
      acc => concat(acc.getField("o"),
        t.substr(acc.getField("p"), length(t) - acc.getField("p") + 1)))
    docs.select(col("doc_id"), normText(col("text")).as("t"))
      .join(packed, Seq("doc_id"), "left")
      .select(col("doc_id"), t,
        when(col("iv").isNull, t).otherwise(cut).as("clean_text"))
      .select(col("doc_id"), col("clean_text"),
        (length(t) - length(col("clean_text"))).cast("long").as("n_removed"))
  }

  /** [[substringScrubFrom]] over freshly computed extents. */
  def substringScrub(docs: DataFrame, anchorLen: Int = AnchorLen,
      maxOcc: Int = MaxAnchorOcc, minLen: Int = MinExtent): DataFrame =
    substringScrubFrom(docs, substringDups(docs, anchorLen, maxOcc, minLen))

  /** [[crossSubstringDups]] oracle: the same chain with the candidate
    * sides split by corpus predicates over doc_id (the frequency band
    * stays over ALL anchors = A ∪ B, exactly like the engine side). */
  def crossSubstringDupsSql(predA: String, predB: String,
      anchorLen: Int = AnchorLen, maxOcc: Int = MaxAnchorOcc,
      minLen: Int = MinExtent): String =
    s"""WITH norm AS (
       |  SELECT doc_id, ${normTextSql("text")} AS t FROM documents
       |), anch AS (
       |  SELECT doc_id, i AS pos,
       |    ('0x' || substr(md5(substr(t, i, $anchorLen)), 1, 15))::BIGINT AS h
       |  FROM norm, unnest(range(1, greatest(len(t) - ${anchorLen - 1}, 0) + 1)) AS u(i)
       |  WHERE len(t) >= $anchorLen
       |), surv AS (
       |  SELECT h FROM (SELECT h, count(*) AS occ FROM anch GROUP BY h)
       |  WHERE occ BETWEEN 2 AND $maxOcc
       |), ca AS (
       |  SELECT doc_id, pos, h FROM anch JOIN surv USING (h) WHERE $predA
       |), cb AS (
       |  SELECT doc_id, pos, h FROM anch JOIN surv USING (h) WHERE $predB
       |), m AS (
       |  SELECT ca.doc_id AS doc_a, cb.doc_id AS doc_b, ca.pos AS pa, cb.pos AS pb
       |  FROM ca JOIN cb USING (h)
       |), runs AS (
       |  SELECT doc_a, doc_b, pa - pb AS diag, pa, pb,
       |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
       |  FROM m
       |)
       |SELECT doc_a, doc_b, min(pa) AS a_start, min(pb) AS b_start,
       |  count(*) + ${anchorLen - 1} AS match_len
       |FROM runs GROUP BY doc_a, doc_b, diag, grp
       |HAVING match_len >= $minLen""".stripMargin

  /** [[substringDupStats]] oracle, generated from the same constants. */
  def substringDupStatsSql(anchorLen: Int = AnchorLen, maxOcc: Int = MaxAnchorOcc,
      minLen: Int = MinExtent, dropFrac: Double = DupDropFrac): String = {
    val ext = substringDupsSql(anchorLen, maxOcc, minLen)
    s"""WITH ext AS (
       |$ext
       |), iv AS (
       |  SELECT doc_b AS doc_id, b_start AS s, b_start + match_len - 1 AS e FROM ext
       |), isl AS (
       |  SELECT doc_id, s, e,
       |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), ${Long.MinValue})
       |      THEN 1 ELSE 0 END AS newi
       |  FROM iv
       |), grp AS (
       |  SELECT doc_id, s, e, sum(newi) OVER (PARTITION BY doc_id ORDER BY s, e
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
       |  FROM isl
       |), merged AS (
       |  SELECT doc_id, isl, min(s) AS s, max(e) AS e FROM grp GROUP BY doc_id, isl
       |), cov AS (
       |  SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS dup_chars
       |  FROM merged GROUP BY doc_id
       |)
       |SELECT cov.doc_id AS doc_id, len(${normTextSql("d.text")}) AS n_chars_norm,
       |  cov.dup_chars,
       |  round(CAST(cov.dup_chars AS DOUBLE) / len(${normTextSql("d.text")}), 6) AS dup_frac,
       |  round(CAST(cov.dup_chars AS DOUBLE) / len(${normTextSql("d.text")}), 6) >= $dropFrac AS dropped
       |FROM documents d JOIN cov ON cov.doc_id = d.doc_id""".stripMargin
  }

  /** [[substringScrubFrom]] oracle: the stats chain's merged islands,
    * then per doc the concatenation of the UNCOVERED gaps (string_agg
    * ordered by gap start — the same cut the Spark fold performs). */
  def substringScrubSql(anchorLen: Int = AnchorLen, maxOcc: Int = MaxAnchorOcc,
      minLen: Int = MinExtent): String = {
    val ext = substringDupsSql(anchorLen, maxOcc, minLen)
    s"""WITH ext AS (
       |$ext
       |), iv AS (
       |  SELECT doc_b AS doc_id, b_start AS s, b_start + match_len - 1 AS e FROM ext
       |), isl AS (
       |  SELECT doc_id, s, e,
       |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), ${Int.MinValue})
       |      THEN 1 ELSE 0 END AS newi
       |  FROM iv
       |), grp AS (
       |  SELECT doc_id, s, e, sum(newi) OVER (PARTITION BY doc_id ORDER BY s, e
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
       |  FROM isl
       |), merged AS (
       |  SELECT doc_id, isl, min(s) AS s, max(e) AS e FROM grp GROUP BY doc_id, isl
       |), norm AS (
       |  SELECT doc_id, ${normTextSql("text")} AS t FROM documents
       |), gaps AS (
       |  SELECT doc_id,
       |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s) + 1, 1) AS gs,
       |    s - 1 AS ge
       |  FROM merged
       |  UNION ALL
       |  SELECT m.doc_id, max(m.e) + 1 AS gs, len(n.t) AS ge
       |  FROM merged m JOIN norm n ON n.doc_id = m.doc_id
       |  GROUP BY m.doc_id, len(n.t)
       |), cleaned AS (
       |  SELECT g.doc_id,
       |    coalesce(string_agg(substr(n.t, g.gs, g.ge - g.gs + 1), ''
       |      ORDER BY g.gs), '') AS clean_text
       |  FROM gaps g JOIN norm n ON n.doc_id = g.doc_id
       |  GROUP BY g.doc_id
       |)
       |SELECT n.doc_id AS doc_id, coalesce(c.clean_text, n.t) AS clean_text,
       |  CAST(len(n.t) - len(coalesce(c.clean_text, n.t)) AS BIGINT) AS n_removed
       |FROM norm n LEFT JOIN cleaned c ON c.doc_id = n.doc_id""".stripMargin
  }

  /** Per-source curation report: for each document source, how many
    * docs the near-dup policy and the substring-coverage policy would
    * each remove — the per-provenance dashboard a corpus owner reads
    * before shipping (a source whose drop rate spikes is a scraper gone
    * wrong or a mirror re-crawled). Takes the two drop lists as frames
    * (typically derived from the persisted pair/extent artifacts — see
    * the x42 registration), so the report itself is two broadcast-size
    * joins + one aggregate, no corpus re-hash. */
  def sourceDropReport(docs: DataFrame, nearDupDrops: DataFrame,
      substringDrops: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"))
      .join(nearDupDrops.select(col("doc_id")).distinct()
        .withColumn("nd", lit(1)), Seq("doc_id"), "left")
      .join(substringDrops.select(col("doc_id")).distinct()
        .withColumn("sd", lit(1)), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("docs"),
        sum(when(col("nd") === 1, 1L).otherwise(0L)).as("neardup_dropped"),
        sum(when(col("sd") === 1, 1L).otherwise(0L)).as("substring_dropped"))

  /** [[sourceDropReport]] oracle with the drop lists derived in SQL
    * (near-dup pairs at `minJaccard`, substring coverage at the default
    * thresholds), generated from the same constants. */
  def sourceDropReportSql(minJaccard: Double): String =
    s"""WITH nd AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM (
       |${nearDupPairsSql(minJaccard)}
       |  )
       |), sub AS (
       |  SELECT doc_id FROM (
       |${substringDupStatsSql()}
       |  ) WHERE dropped
       |)
       |SELECT d.source AS source, count(*) AS docs,
       |  CAST(sum(CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS neardup_dropped,
       |  CAST(sum(CASE WHEN sub.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS substring_dropped
       |FROM documents d
       |LEFT JOIN nd ON nd.doc_id = d.doc_id
       |LEFT JOIN sub ON sub.doc_id = d.doc_id
       |GROUP BY d.source""".stripMargin

  // --- full curation pipeline (x16) ---------------------------------------

  /** The end-to-end corpus-curation pipeline as ONE composed plan —
    * what these operators exist for: MinHash-LSH near-dup collapse
    * (which subsumes exact dedup: identical texts have Jaccard 1.0) →
    * quality filter → per-language survivor stats. Each stage consumes
    * the previous one's survivors; Catalyst plans the whole chain
    * together (shared scans, pushed filters). */
  def curationPipeline(docs: DataFrame, minJaccard: Double): DataFrame = {
    val withSh = shingleFrame(docs)
    curationPipelineFrom(docs, minHashSignaturesFrom(withSh), withSh, minJaccard)
  }

  /** [[curationPipeline]] from precomputed signature/shingle artifacts —
    * the production shape: signatures/shingles are computed once per
    * corpus snapshot (see x17) and every curation run consumes them,
    * instead of each run re-hashing every shingle of every document. */
  def curationPipelineFrom(docs: DataFrame, sigs: DataFrame, withSh: DataFrame,
      minJaccard: Double): DataFrame = {
    val afterNear = nearDupDedupFrom(docs, sigs, withSh, minJaccard)
      .join(docs.select("doc_id", "text"), "doc_id")
    val quality = TextOps.qualityFilter(afterNear).select("doc_id", "keep")
    afterNear
      .join(quality, Seq("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("after_dedup"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("after_quality"))
  }

  /** The full corpus-build report as ONE composed plan — what shipping a
    * training snapshot actually runs: near-dup collapse → quality filter
    * → deterministic subsample → per-language survivor counts and token
    * budget. Catalyst plans the chain together (shared scans, pushed
    * filters); every stage's policy is a pure column predicate so the
    * report adds no pass over the corpus beyond the dedup chain's own. */
  def corpusBuild(docs: DataFrame, minJaccard: Double,
      sampleFraction: Double): DataFrame = {
    val afterNear = nearDupDedup(docs, minJaccard)
      .join(docs.select("doc_id", "text"), "doc_id")
    val quality = TextOps.qualityFilter(afterNear)
      .select(col("doc_id"), col("keep"), col("n_words"))
    val sampled = col("keep") &&
      Sampling.hashSamplePredicate("doc_id", sampleFraction)
    afterNear.join(quality, Seq("doc_id"))
      .withColumn("sampled", sampled)
      .groupBy("lang")
      .agg(count(lit(1)).as("after_dedup"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("after_quality"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("after_sample"),
        sum(when(col("sampled"), col("n_words").cast("long")).otherwise(0L))
          .as("sampled_tokens"))
  }

  def corpusBuildSql(minJaccard: Double, sampleFraction: Double): String = {
    val t = TextOps.tokensSql("d.text")
    s"""$nearDupCtes, survivors AS (
       |  SELECT d.doc_id, d.lang, d.text FROM documents d
       |  WHERE d.doc_id NOT IN (SELECT doc_b FROM pairs WHERE jaccard >= $minJaccard)
       |), q AS (
       |  SELECT d.doc_id, d.lang, len($t) AS n_words,
       |    ${TextOps.qualityKeepSql("d.text")} AS keep
       |  FROM survivors d
       |), s AS (
       |  SELECT *, keep AND (${Sampling.hashSampleWhereSql("doc_id", sampleFraction)}) AS sampled
       |  FROM q
       |)
       |SELECT lang, count(*) AS after_dedup,
       |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS after_quality,
       |  CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS after_sample,
       |  CAST(sum(CASE WHEN sampled THEN n_words ELSE 0 END) AS BIGINT) AS sampled_tokens
       |FROM s GROUP BY lang""".stripMargin
  }

  def curationPipelineSql(minJaccard: Double): String = {
    // quality-filter keep-predicate shared with x15/x25 via qualityKeepSql
    s"""$nearDupCtes, survivors AS (
       |  SELECT d.doc_id, d.lang, d.text FROM documents d
       |  WHERE d.doc_id NOT IN (SELECT doc_b FROM pairs WHERE jaccard >= $minJaccard)
       |), q AS (
       |  SELECT d.doc_id, d.lang,
       |    ${TextOps.qualityKeepSql("d.text")} AS keep
       |  FROM survivors d
       |)
       |SELECT lang, count(*) AS after_dedup,
       |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS after_quality
       |FROM q GROUP BY lang""".stripMargin
  }

  // --- winnowing fingerprints (x49) ----------------------------------------

  /** Winnowing k-gram length (Schleimer, Wilkerson & Aiken, SIGMOD'03 —
    * the MOSS algorithm). With window [[WinnowW]], any verbatim run of
    * at least WinnowK + WinnowW − 1 normalized characters shared by two
    * docs is GUARANTEED to share a selected fingerprint — a tunable
    * recall floor the MinHash path doesn't offer (Jaccard is global,
    * blind to one long shared passage in otherwise-different docs) at a
    * fraction of [[substringDups]]' cost (w× fewer join keys than
    * stride-1 anchors, no extent merge). */
  val WinnowK = 12
  /** Winnowing window: each run of WinnowW consecutive k-gram hashes
    * contributes its minimum to the fingerprint set. */
  val WinnowW = 8
  /** Fingerprint-frequency band cap (the [[MaxAnchorOcc]] analog). */
  val MaxFpOcc = 16

  /** Per-document winnowed fingerprint set, exploded to `(doc_id, fp)`
    * rows. Selection is a pure per-row expression chain — the stride-1
    * k-gram hashes come from the fused [[graft.functions.TextKernels
    * .anchorHashes]] kernel, each length-w window takes its min, and
    * duplicates collapse — so fingerprinting a 100 TB corpus is a
    * map-only scan, exactly like the anchor build. Docs shorter than k
    * normalized chars produce no fingerprints (both engines). */
  def winnowFingerprints(docs: DataFrame, k: Int = WinnowK,
      w: Int = WinnowW): DataFrame =
    // narrow-scan spread before the per-char digest kernel — the
    // [[shingleFrame]] device ([[Par.spread]]): a single-file corpus
    // fixture is one split, which ran the whole hash+winnow chain on
    // one task; identity on a wide corpus scan
    Par.spread(docs.select(col("doc_id"), normText(col("text")).as("t"))
      .where(length(col("t")) >= k), col("doc_id"))
      .select(col("doc_id"),
        graft.functions.TextKernels.anchorHashes(col("t"), k).as("hs"))
      // fused O(n) deque kernel; ≡ the builtin
      // array_distinct(transform(sequence(...), i -> array_min(slice(hs, i, w))))
      // chain, which is O(n·w) and copies a w-array per window (spec-pinned)
      .select(col("doc_id"), explode(
        graft.functions.TextKernels.winnow(col("hs"), w)).as("fp"))

  /** Winnowing-based candidate pairs: docs sharing at least `minShared`
    * surviving fingerprints, with the shared count (MOSS's similarity
    * signal). The [2, maxOcc] frequency band drops singleton AND
    * boilerplate fingerprints BEFORE the self-join — candidates bounded
    * by Σocc², the same cap discipline as the anchor and LSH-bucket
    * paths. `minShared` defaults to 1 because the k+w−1 guarantee only
    * promises ONE shared fingerprint for a boundary-length run — a
    * higher floor is a precision knob that explicitly trades that
    * guarantee away. The fingerprint frame feeds three consumers
    * (occurrence band + both join sides), so it is materialized once
    * (the anchorFrame convention; reliable when `checkpointDir` set). */
  def winnowPairs(docs: DataFrame, k: Int = WinnowK, w: Int = WinnowW,
      maxOcc: Int = MaxFpOcc, minShared: Int = 1,
      checkpointDir: Option[String] = None): DataFrame = {
    val fps = materialize(winnowFingerprints(docs, k, w), checkpointDir)
    val survivors = fps.groupBy("fp").agg(count(lit(1)).as("occ"))
      .where(col("occ").between(2, maxOcc))
      .select("fp")
    val capped = fps.join(survivors, "fp")
    capped.select(col("fp"), col("doc_id").as("doc_a"))
      .join(capped.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared")) // fps are per-doc distinct already
      .where(col("shared") >= minShared)
  }

  def winnowPairsSql(k: Int = WinnowK, w: Int = WinnowW,
      maxOcc: Int = MaxFpOcc, minShared: Int = 1): String =
    s"""WITH norm AS (
       |  SELECT doc_id, ${normTextSql("text")} AS t FROM documents
       |), hs AS (
       |  SELECT doc_id, list_transform(range(1, greatest(len(t) - ${k - 1}, 0) + 1),
       |    i -> ('0x' || substr(md5(substr(t, i, $k)), 1, 15))::BIGINT) AS hs
       |  FROM norm WHERE len(t) >= $k
       |), fp AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, greatest(len(hs) - ${w - 1}, 1) + 1),
       |      i -> list_min(list_slice(hs, i, i + ${w - 1}))))) AS fp
       |  FROM hs
       |), surv AS (
       |  SELECT fp FROM (SELECT fp, count(*) AS occ FROM fp GROUP BY fp)
       |  WHERE occ BETWEEN 2 AND $maxOcc
       |), capped AS (
       |  SELECT f.doc_id, f.fp FROM fp f JOIN surv USING (fp)
       |)
       |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS shared
       |FROM capped x JOIN capped y ON x.fp = y.fp AND x.doc_id < y.doc_id
       |GROUP BY doc_a, doc_b
       |HAVING shared >= $minShared""".stripMargin

  // --- Bloom ingest screen (x98) ------------------------------------------

  /** Bloom geometry for the fixture-scale gate query: 2^16 bits / 5
    * hashes holds the false-positive rate near (1−e^(−5n/65536))^5 —
    * ≈0.2% at the sf0.1 corpus (~6k keys), ≈0 at sf0.001. At corpus
    * scale size bits from the key count instead ([[adaptiveBloomBits]]
    * — ~10 bits/key keeps FP ≈1% at any n). */
  val BloomMBits: Int = 1 << 16
  /** 5 hashes, deliberately below the FP-optimal k = ln2·(bits/key) ≈ 7
    * at the sized-for 10 bits/key (FP ≈ 0.94% at k=5 vs ≈ 0.78% at
    * k=7): every hash is one exploded lookup row per screened
    * document, so k=5 buys back 2/7 of the screen's row explosion for
    * under a fifth of a percent of FP — the screen's cost scales with
    * k, its benefit barely does past 5. */
  val BloomHashes: Int = 5

  /** Broadcast cap for the suspects-confirm joins inside
    * [[screenJoinConfirmed]]: hint broadcast only while the COUNTED
    * suspect set stays at or below this many keys (2^20 md5 keys ≈
    * 50 MB serialized — comfortably inside an executor, never a driver
    * hazard). The suspect set scales with the increment's TRUE
    * duplicate count, so a trickle ingest sits far below the cap while
    * a bulk re-crawl (suspects ≈ 0.5–0.9 × |increment|) sails past it
    * — there the planner/AQE decides from real sizes, exactly as
    * [[bloomScreen]]'s 2^23-bit frame cap already does on the screen
    * join. The corpus is never the broadcast side either way. */
  val ConfirmBroadcastMaxSuspects: Long = 1L << 20

  /** THE content key of the exact-dedup/bloom family — md5 of the
    * normalized text — in exactly one place: the screens' verdicts,
    * the counting frame's positions, and the confirm joins must all
    * key identically or they silently desync (a counting frame built
    * under a different normalization would false-negative every
    * screen). */
  private def contentKeyColumn: Column =
    md5(normText(col("text"))).as("content_key")
  private def contentKeyOf(df: DataFrame): DataFrame =
    df.select(contentKeyColumn)

  /** Bits for a ~1% false-positive Bloom filter over `n` keys: the
    * next power of two ≥ 10·n (10 bits/key with [[BloomHashes]] = 5
    * hashes gives FP ≈ 0.9%), floored at 2^10. Powers of two keep the
    * position modulo cheap and the geometry stable under small count
    * drift — the [[graft.operators.VectorOps.adaptiveCells]] shape on
    * the dedup axis. */
  def adaptiveBloomBits(n: Long): Int = {
    val want = math.max(1L << 10, 10L * math.max(n, 1L))
    // one flat frame holds ~10^8 keys at 10 bits/key; beyond that,
    // shard the filter by a key prefix (each shard its own frame,
    // screened by an equi-join on the shard id) — same answer, no
    // single bit array to outgrow ([[adaptiveBloomGeometry]] derives
    // both knobs at once)
    require(want <= (1L << 30), s"bloom over $n keys needs sharding")
    (java.lang.Long.highestOneBit(want - 1) << 1).toInt
  }

  /** The full geometry for `n` keys: the shard count that keeps each
    * shard's array within [[adaptiveBloomBits]]' range (1 until ~10^8
    * keys — where sharded ≡ flat row-for-row, spec-pinned), then the
    * per-shard bits for the per-shard share. Callers that size from a
    * count instead of picking constants never hit the flat form's
    * refusal. */
  def adaptiveBloomGeometry(n: Long): (Int, Int) = {
    val want = math.max(1L << 10, 10L * math.max(n, 1L))
    var shards = (1L + (want - 1) / (1L << 30)).toInt
    // the ceiling share can land ≤10 bits past the flat range at the
    // boundary — bump until every shard's want fits (≤2 iterations)
    while (10L * ((n + shards - 1) / shards) > (1L << 30)) shards += 1
    (shards, adaptiveBloomBits((n + shards - 1) / shards))
  }

  /** Position of hash `i` of a content key in an `mbits`-bit Bloom
    * filter: the first 8 md5 hex digits of "i:key" as a BIGINT, modulo
    * mbits — the repo's cross-engine hash recipe, so the oracle's
    * DuckDB filter is bit-identical. Non-negative by construction (the
    * 32-bit value needs no pmod). */
  private def bloomPos(key: Column, i: Int, mbits: Int): Column =
    // concat, NOT concat_ws: a NULL key must hash to NULL positions
    // (matching the oracle's '||', which null-propagates) — concat_ws
    // silently DROPS the null and would hash every null-text doc to
    // the phantom positions of "0:".."k-1:"
    conv(substring(md5(concat(lit(s"$i:"), key)), 1, 8), 16, 10)
      .cast("long") % mbits

  private def bloomPosSql(key: String, i: String, mbits: Int): String =
    s"('0x' || substr(md5(CAST($i AS VARCHAR) || ':' || $key), 1, 8))::BIGINT % $mbits"

  /** The Bloom BIT ARRAY over a `content_key` frame, as ≤ mbits/32
    * `(word, bits)` rows — 32-bit words in a BIGINT so the per-bit
    * shift never touches the sign bit in either engine. One map-side
    * partial-combining hash aggregate over the corpus (explode is
    * khash rows per key, map-local); the result is index METADATA,
    * fixed-size regardless of corpus rows — persist it per snapshot
    * (the codebook convention) and every later ingest screens against
    * it without ever scanning or joining the corpus again. THE
    * membership sketch for "have I seen this content before" at
    * 100 TB: an anti-join against 10^11 stored keys shuffles the
    * increment against the full key set; this frame is 10·n BITS
    * (~2 GB per 10^9 keys as parquet rows), equi-joined or broadcast.
    * Deterministic (md5 positions, no RNG), so two builds of the same
    * corpus are row-identical and the oracle can replay it in SQL.
    * Bits are one-way — corpus DELETES need a rebuild; a
    * delete-heavy corpus uses [[countingBloomBits]] instead, which
    * trades ~128× the metadata for O(delta) decrements. */
  def bloomBits(keys: DataFrame, mbits: Int = BloomMBits,
      khash: Int = BloomHashes): DataFrame = {
    require(mbits >= 32 && (mbits & (mbits - 1)) == 0,
      s"mbits must be a power of two >= 32: $mbits")
    require(khash >= 1 && khash <= 16, s"khash out of range: $khash")
    keys.select(explode(array((0 until khash).map(i =>
        bloomPos(col("content_key"), i, mbits)): _*)).as("pos"))
      .select(expr("pos DIV 32").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("mask"))
      .groupBy("word").agg(expr("bit_or(mask)").as("bits"))
  }

  /** Screen an increment's `(doc_id, content_key)` rows against a
    * stored Bloom frame: `maybe_seen` = every one of the key's khash
    * bits is set. No false negatives by construction (an inserted
    * key's bits are all set); false positives are the sized-for rate
    * and DETERMINISTIC (same positions both engines — the gate
    * hash-checks them, not just the guarantee). Plan: khash lookup
    * rows per increment doc, equi-joined to the ≤ mbits/32-row bloom
    * frame (broadcast-hinted while provably small; planner-decided
    * past that), then a partial-combining bool_and — the increment
    * never joins the corpus. */
  def bloomScreen(increment: DataFrame, bloom: DataFrame,
      mbits: Int = BloomMBits, khash: Int = BloomHashes): DataFrame =
    increment.select(col("doc_id"), col("content_key"),
        explode(array((0 until khash).map(i =>
          bloomPos(col("content_key"), i, mbits)): _*)).as("pos"))
      .select(col("doc_id"), col("content_key"),
        expr("pos DIV 32").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("mask"))
      // broadcast only while the frame is provably small (≤2^23 bits =
      // ≤256k word rows, ~4 MB): mbits legally reaches 2^30 (~33M word
      // rows) where a FORCED broadcast is the wrong plan — past the
      // cap the planner decides, the sharded-form rule applied to the
      // flat path too
      .join(if (mbits <= (1 << 23)) broadcast(bloom) else bloom,
        Seq("word"), "left")
      .groupBy("doc_id", "content_key")
      .agg(expr("bool_and(coalesce(bits, CAST(0 AS BIGINT)) & mask <> 0)")
        .as("maybe_seen"))

  /** The INGEST SCREEN (x98): which increment documents' content was
    * definitely never in the corpus — [[exactDedup]]'s question asked
    * the way a 100 TB ingest must ask it, against the corpus's Bloom
    * frame instead of the corpus. Output per increment doc:
    * `maybe_seen` (the Bloom verdict), `exact_seen` (the ground truth,
    * computed here so the gate checks BOTH the no-false-negative
    * guarantee and the exact false-positive set — deterministic
    * positions make even the FPs reproducible), and `false_pos`
    * (= maybe_seen ∧ ¬exact_seen, the sized-for rate made visible).
    * In production the exact twin is the SPOT-CHECK run at audit
    * cadence; the screen itself never touches the corpus. */
  def ingestScreen(corpus: DataFrame, increment: DataFrame,
      mbits: Int = BloomMBits, khash: Int = BloomHashes,
      checkpointDir: Option[String] = None): DataFrame =
    screenJoinConfirmed(corpus, increment,
      checkpointDir = checkpointDir)((ik, ck) =>
      bloomScreen(ik, bloomBits(ck, mbits, khash), mbits, khash))
      .select(auditColumns: _*)

  /** The corpus's Bloom frame as a REUSABLE materialized artifact —
    * the `...From` convention ([[nearDupPairsFrom]]) applied to the
    * ingest screen: a steady trickle-ingest loop screening every batch
    * builds this ONCE per corpus generation and hands it to
    * [[ingestScreenFrom]] per batch, so the corpus bit-array aggregate
    * — the screen's only corpus-scale job — runs once across any
    * number of screens (spec-pinned by an accumulator on the corpus
    * scan). Keys with [[ingestScreen]]'s content key, so the two are
    * verdict-identical at equal geometry. */
  def bloomFrameOf(corpus: DataFrame, mbits: Int = BloomMBits,
      khash: Int = BloomHashes,
      checkpointDir: Option[String] = None): DataFrame =
    materialize(bloomBits(contentKeyOf(corpus), mbits, khash),
      checkpointDir)

  /** [[ingestScreen]] against a PREBUILT corpus Bloom frame
    * ([[bloomFrameOf]]) — identical output contract and confirm plan;
    * the only difference is which side pays the corpus aggregate: here
    * the caller paid it once up front, so each screen's jobs are the
    * delta-scale screen + suspect count + one map pass over the corpus
    * KEYS for the confirm (thin column, no aggregate). The frame's
    * geometry must be the one passed here — same-corpus, same-recipe,
    * the [[countingBloomBits]] pin discipline. */
  def ingestScreenFrom(corpus: DataFrame, bloom: DataFrame,
      increment: DataFrame, mbits: Int = BloomMBits,
      khash: Int = BloomHashes,
      checkpointDir: Option[String] = None): DataFrame =
    screenJoinConfirmed(corpus, increment,
      checkpointDir = checkpointDir)((ik, _) =>
      bloomScreen(ik, bloom, mbits, khash))
      .select(auditColumns: _*)

  /** The ONE keying + screen + suspects-confirm skeleton behind
    * [[ingestScreen]], [[ingestScreenSharded]], and
    * [[bloomAcceleratedDedup]] — the three differ only in which screen
    * runs and which columns project out, so the null-key handling and
    * the confirm shape live in exactly one place.
    *
    * EAGER at construction, deliberately: the screen output
    * materializes ([[materialize]]) and the suspect count runs as jobs
    * when the frame is BUILT, not at its first action — the price of
    * running the corpus bit-array aggregate exactly once and of
    * knowing the suspect count before choosing the confirm plan. These
    * are terminal audit operators (their output is the verdict set,
    * not a relation to compose over), so no caller filter needs to
    * push below the checkpointed seam. The eagerness costs a FIXED
    * ~0.3 s per call at sf0.1 (one materialize job + one suspect-count
    * aggregate — the whole x98 steady-state delta from r17's 0.24 s to
    * r18's 0.50 s), and the variable part is delta-proportional, never
    * corpus-proportional — a repeated trickle-ingest loop amortizes
    * the CORPUS aggregate away entirely via [[ingestScreenFrom]].
    *
    * `checkpointDir` opts the two materialized seams into RELIABLE
    * checkpoints (the eager-build family's fault-tolerance escape
    * hatch, [[materialize]]): default localCheckpoint state is
    * executor-local, so on a real cluster an executor loss kills the
    * frame unrecoverably — a long-lived audit frame passes a
    * checkpoint dir exactly as the star-contraction family does. */
  private[graft] def screenJoinConfirmed(corpus: DataFrame,
      increment: DataFrame,
      broadcastCap: Long = ConfirmBroadcastMaxSuspects,
      checkpointDir: Option[String] = None)(
      screen: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val ck = contentKeyOf(corpus)
    val ik = increment.select(col("doc_id"),
      contentKeyColumn)
    // `screened` feeds BOTH the confirm filter and the final audit
    // join, and its lineage carries the corpus bit-array aggregate —
    // the call's dominant cost; materialize so it runs exactly
    // once (localCheckpoint, not cache(): cache() matches
    // canonicalized plans and can alias across rebuilt inputs)
    val screened = materialize(screen(ik, ck), checkpointDir)
    // hint broadcast only while the suspect set is COUNTED small (one
    // bounded aggregate over the checkpointed screen output): a bulk
    // re-crawl's suspects are increment-scale, where a forced
    // broadcast OOMs the driver — past the cap the planner/AQE decides
    // from real sizes, and the corpus stays the streamed side. The
    // distinct materializes too (it feeds both the count and the
    // confirm join — one shuffle, not two).
    val suspects = materialize(screened.where(col("maybe_seen"))
      .select("content_key").distinct(), checkpointDir)
    val hint: DataFrame => DataFrame =
      if (suspects.count() <= broadcastCap) broadcast else identity
    screened.join(hint(confirmedOf(suspects, ck, hint)),
      Seq("content_key"), "left")
  }

  private def auditColumns: Seq[Column] = Seq(
    col("doc_id"), col("maybe_seen"),
    coalesce(col("exact_seen"), lit(false)).as("exact_seen"),
    (col("maybe_seen") &&
      !coalesce(col("exact_seen"), lit(false))).as("false_pos"))

  /** Confirm the screen's SUSPECTS against the corpus keys — the
    * exactness step shaped for scale: `exact_seen` is knowably false
    * for every definitely-new row (no false negatives), so only the
    * maybe_seen keys — |true dups| + the sized-for FP sliver of the
    * increment — need checking against ONE map pass over the corpus
    * key column. `hint` broadcasts the suspect side only while
    * [[screenJoinConfirmed]] counted it under the cap; the corpus
    * never shuffles on a broadcast plan and is NEVER the broadcast
    * side itself (a corpus-sized broadcast is exactly the thing a
    * 10^8-key audit cannot do). */
  private def confirmedOf(suspects: DataFrame, ck: DataFrame,
      hint: DataFrame => DataFrame): DataFrame =
    ck.join(hint(suspects), Seq("content_key"), "left_semi")
      .distinct().withColumn("exact_seen", lit(true))

  /** Observability for a Bloom frame: set-bit count, fill ratio, the
    * standard cardinality estimate n̂ = −(m/k)·ln(1 − fill) (the
    * maximum-likelihood inversion of the expected fill curve — exact
    * in expectation for ideal hashes, so the spec pins a tolerance,
    * not equality), and the implied false-positive rate fill^k (what
    * the filter delivers NOW, as opposed to what it was sized for). */
  final case class BloomStats(mbits: Int, khash: Int, setBits: Long,
      fillRatio: Double, estimatedKeys: Long, impliedFpRate: Double)

  /** Compute [[BloomStats]] from a stored `(word, bits)` frame — one
    * bounded aggregate (≤ shards·mbits/32 rows; `bit_count` per word,
    * summed). A filter past HALF full is past re-indexing time: FP =
    * fill^k compounds fast beyond it (0.5^5 ≈ 3%, 0.7^5 ≈ 17%), and
    * bits cannot be un-set, so the fix is a fresh, larger (or sharded)
    * artifact.
    *
    * `shards` scales the denominator for a [[shardedBloomBits]] frame
    * (total capacity is shards·mbits); a frame that carries a `shard`
    * column is CHECKED against the declared count — summing a 4-shard
    * frame against one shard's capacity would overstate fill ~4× and
    * fire the half-full rule spuriously. */
  def bloomStats(bloom: DataFrame, mbits: Int = BloomMBits,
      khash: Int = BloomHashes, shards: Int = 1): BloomStats = {
    require(shards >= 1, s"shards must be >= 1: $shards")
    if (bloom.columns.contains("shard")) {
      val hi = bloom.agg(max("shard")).collect()(0)
      // getAs[Number]: a partitionBy("shard") round trip infers the
      // column as INT where the builder writes LONG — both are legal
      // stored frames and must not ClassCastException the stats call
      require(hi.isNullAt(0) ||
          hi.getAs[Number](0).longValue() < shards,
        s"frame holds shard ids up to ${hi.get(0)} but stats were asked " +
          s"for $shards shard(s) — fill would overstate and the " +
          "half-full rule would fire spuriously")
    } else require(shards == 1,
      s"shards=$shards declared but the frame has no shard column")
    val set = bloom.agg(sum(expr("bit_count(bits)"))).collect()(0) match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    val capacity = shards.toLong * mbits
    val fill = set.toDouble / capacity
    val est =
      if (set == 0L) 0L
      else if (fill >= 1.0) Long.MaxValue
      else math.round(-(capacity.toDouble / khash) * math.log1p(-fill))
    BloomStats(mbits, khash, set, fill, est, math.pow(fill, khash))
  }

  /** Shard of a content key for the SHARDED filter — a hash from a
    * distinct namespace ("s:key") so shard routing is independent of
    * every bit position. */
  private def bloomShard(key: Column, shards: Int): Column =
    conv(substring(md5(concat(lit("s:"), key)), 1, 8), 16, 10)
      .cast("long") % shards

  private[graft] def bloomShardSql(key: String, shards: Int): String =
    s"('0x' || substr(md5('s:' || $key), 1, 8))::BIGINT % $shards"

  /** The SHARDED Bloom frame `(shard, word, bits)` — the scale path
    * [[adaptiveBloomBits]]'s refusal points at: one flat bit array
    * tops out near 10^8 keys, so a 10^11-key corpus routes each key to
    * `hash(key) mod shards` and sizes EACH shard's array for n/shards
    * keys. Same one map-side aggregate; total size is still ~10·n bits,
    * but no single array to outgrow, shards rebuild independently
    * (re-screen ONE shard's keys, not the corpus), and the screen join
    * key gains the shard id — an equi-join the planner broadcasts when
    * the frame fits and shuffles when it doesn't, which is the point. */
  def shardedBloomBits(keys: DataFrame, shards: Int,
      mbits: Int = BloomMBits, khash: Int = BloomHashes): DataFrame = {
    require(shards >= 1, s"shards must be >= 1: $shards")
    require(mbits >= 32 && (mbits & (mbits - 1)) == 0,
      s"mbits must be a power of two >= 32: $mbits")
    require(khash >= 1 && khash <= 16, s"khash out of range: $khash")
    keys.select(bloomShard(col("content_key"), shards).as("shard"),
        explode(array((0 until khash).map(i =>
          bloomPos(col("content_key"), i, mbits)): _*)).as("pos"))
      .select(col("shard"), expr("pos DIV 32").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("mask"))
      .groupBy("shard", "word").agg(expr("bit_or(mask)").as("bits"))
  }

  /** [[bloomScreen]] against a sharded frame: the same khash lookup
    * rows per doc, routed to the key's shard and equi-joined on
    * `(shard, word)`. No broadcast hint on purpose — the sharded form
    * exists for frames past broadcast size; the planner still
    * broadcasts small ones on its own. */
  def shardedBloomScreen(increment: DataFrame, bloom: DataFrame,
      shards: Int, mbits: Int = BloomMBits,
      khash: Int = BloomHashes): DataFrame =
    increment.select(col("doc_id"), col("content_key"),
        bloomShard(col("content_key"), shards).as("shard"),
        explode(array((0 until khash).map(i =>
          bloomPos(col("content_key"), i, mbits)): _*)).as("pos"))
      .select(col("doc_id"), col("content_key"), col("shard"),
        expr("pos DIV 32").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("mask"))
      .join(bloom, Seq("shard", "word"), "left")
      .groupBy("doc_id", "content_key")
      .agg(expr("bool_and(coalesce(bits, CAST(0 AS BIGINT)) & mask <> 0)")
        .as("maybe_seen"))

  /** [[bloomFrameOf]]'s sharded twin — the reusable corpus artifact
    * for [[ingestScreenShardedFrom]]. */
  def shardedBloomFrameOf(corpus: DataFrame, shards: Int,
      mbits: Int = BloomMBits, khash: Int = BloomHashes,
      checkpointDir: Option[String] = None): DataFrame =
    materialize(shardedBloomBits(contentKeyOf(corpus), shards, mbits,
      khash), checkpointDir)

  /** [[ingestScreenFrom]]'s sharded twin — screen any number of
    * increments against one prebuilt [[shardedBloomFrameOf]] artifact;
    * the corpus aggregate never re-runs per screen. */
  def ingestScreenShardedFrom(corpus: DataFrame, bloom: DataFrame,
      increment: DataFrame, shards: Int, mbits: Int = BloomMBits,
      khash: Int = BloomHashes,
      checkpointDir: Option[String] = None): DataFrame =
    screenJoinConfirmed(corpus, increment,
      checkpointDir = checkpointDir)((ik, _) =>
      shardedBloomScreen(ik, bloom, shards, mbits, khash))
      .select(auditColumns: _*)

  /** [[ingestScreen]]'s sharded twin (x100) — same output contract
    * (maybe_seen / exact_seen / false_pos), the filter sharded. */
  def ingestScreenSharded(corpus: DataFrame, increment: DataFrame,
      shards: Int, mbits: Int = BloomMBits,
      khash: Int = BloomHashes,
      checkpointDir: Option[String] = None): DataFrame =
    screenJoinConfirmed(corpus, increment,
      checkpointDir = checkpointDir)((ik, ck) =>
      shardedBloomScreen(ik, shardedBloomBits(ck, shards, mbits, khash),
        shards, mbits, khash))
      .select(auditColumns: _*)

  // --- Counting Bloom: the DELETE-capable filter (x103) --------------------

  /** The COUNTING Bloom frame over a `content_key` column: one
    * `(pos, cnt)` row per OCCUPIED position — cnt is how many inserted
    * keys hash there, so removing a key is a per-position DECREMENT
    * ([[countingBloomRemove]]) and membership is "every position's
    * count is still positive". The structure for the one thing the bit
    * filter cannot do: the bit frame's scaladoc says deletes are
    * structurally impossible (clearing bits erases other keys'
    * evidence) and the snapshot filter regenerates per rebuild —
    * correct, but a full corpus aggregate per publish. A delete-HEAVY
    * corpus (rolling-window retention, right-to-be-forgotten queues)
    * instead pays O(|delta|·khash) decrements per change against this
    * frame. The trade is size: ≤ mbits `(pos, cnt)` rows (~10·n rows,
    * two BIGINTs each) versus the bit frame's mbits BITS — ~128× the
    * metadata, still orders of magnitude under the corpus keys it
    * replaces. Same md5 position recipe, so counts — and therefore
    * even the false-positive set — replay exactly in the oracle.
    * Counts are exact BIGINTs, never saturating 4-bit counters: the
    * classic packed layout silently loses decrement ability at
    * saturation, the failure mode an exact column makes impossible.
    * Duplicate corpus keys count per OCCURRENCE — removing one copy
    * leaves the other covered, the multiset semantics a per-doc delete
    * feed needs.
    *
    * The frame carries its geometry AS COLUMN METADATA on `cnt`
    * (StreamingBloom's pinned-geometry guard, in-frame form — survives
    * select/materialize and a parquet round trip): a remove or screen
    * called at a DIFFERENT geometry relocates every key's positions
    * and usually — but only usually — trips the negative refusal; when
    * every colliding decrement lands on an occupied position it passes
    * silently and voids the no-false-negative guarantee, so
    * [[countingBloomRemove]]/[[countingBloomScreen]] validate the pin
    * and refuse the mismatch up front. One flat frame holds ~10^8 keys
    * (mbits ≤ 2^30 at 10 bits/key); past that, the sharded twins
    * ([[shardedCountingBloomBits]] — `(shard, pos)` keying exactly as
    * [[shardedBloomBits]]) scale out with no single geometry to
    * outgrow, sized by [[adaptiveCountingGeometry]]. */
  def countingBloomBits(keys: DataFrame, mbits: Int = BloomMBits,
      khash: Int = BloomHashes): DataFrame = {
    require(mbits >= 32 && (mbits & (mbits - 1)) == 0,
      s"mbits must be a power of two >= 32: $mbits")
    require(khash >= 1 && khash <= 16, s"khash out of range: $khash")
    keys.select(explode(array((0 until khash).map(i =>
        bloomPos(col("content_key"), i, mbits)): _*)).as("pos"))
      // a null key (null text) hashes to null positions, which carry
      // no evidence: no screen lookup can equi-join them. Dropping
      // them (rather than keeping a pos=null row, the bit frame's
      // choice) keeps build and remove symmetric — full_outer on pos
      // never matches null to null, so a null-key doc in both the
      // corpus and the delete feed would otherwise leave a phantom
      // negative row and trip the corruption refusal spuriously. A
      // null-key increment doc screens maybe_seen = false in BOTH
      // engines (coalesce(cnt,0) > 0 over null joins).
      .where(col("pos").isNotNull)
      .groupBy("pos").agg(count(lit(1)).as("cnt"))
      .select(col("pos"),
        col("cnt").as("cnt", countingGeomMetadata(1, mbits, khash)))
  }

  // --- counting-frame geometry pin ----------------------------------------

  private val GeomShardsKey = "graft.counting.shards"
  private val GeomMbitsKey = "graft.counting.mbits"
  private val GeomKhashKey = "graft.counting.khash"

  private def countingGeomMetadata(shards: Int, mbits: Int,
      khash: Int): org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(GeomShardsKey, shards.toLong)
      .putLong(GeomMbitsKey, mbits.toLong)
      .putLong(GeomKhashKey, khash.toLong)
      .build()

  /** Validate a counting frame's pinned geometry against the caller's
    * knobs — refuse a mismatch LOUDLY instead of letting colliding
    * decrements pass the negative check silently. A frame whose `cnt`
    * column carries no pin (built by something other than the builders
    * here) is accepted as-is: the caller owns the geometry contract
    * then, exactly the pre-pin behavior. */
  private def requireCountingGeometry(counts: DataFrame, shards: Int,
      mbits: Int, khash: Int, op: String): Unit =
    counts.schema.fields.find(_.name == "cnt").map(_.metadata)
      .filter(_.contains(GeomMbitsKey)).foreach { m =>
        val fs =
          if (m.contains(GeomShardsKey)) m.getLong(GeomShardsKey) else 1L
        require(fs == shards && m.getLong(GeomMbitsKey) == mbits &&
            m.getLong(GeomKhashKey) == khash,
          s"$op called at geometry (shards=$shards, mbits=$mbits, " +
            s"khash=$khash) but the counting frame is pinned to " +
            s"(shards=$fs, mbits=${m.getLong(GeomMbitsKey)}, " +
            s"khash=${m.getLong(GeomKhashKey)}) — a mismatched " +
            "geometry relocates every key's positions; colliding " +
            "decrements can stay non-negative and silently void the " +
            "no-false-negative guarantee, so the frame refuses")
      }

  /** Remove `deletedKeys` (one row per removed DOC, keyed like the
    * build) from a counting frame: decrement their positions, drop
    * rows at zero. FAILS LOUDLY if any position would go negative —
    * a key removed that was never inserted, or removed twice — one
    * bounded aggregate over the merged frame (≤ mbits rows). The
    * refusal is BEST-EFFORT, not a guarantee: an alien key whose
    * khash positions ALL collide with occupied ones (probability ≈
    * fill^khash per alien key — the FP rate's order) decrements
    * without going negative and silently voids the no-false-negative
    * guarantee for the colliding keys. The real integrity contract is
    * the CALLER's: feed only keys previously inserted, exactly once
    * per removal — [[ingestScreenCounting]] enforces it structurally
    * by semi-joining the delete feed against the corpus ids. */
  def countingBloomRemove(counts: DataFrame, deletedKeys: DataFrame,
      mbits: Int = BloomMBits, khash: Int = BloomHashes,
      checkpointDir: Option[String] = None): DataFrame = {
    requireCountingGeometry(counts, 1, mbits, khash, "countingBloomRemove")
    val dec = countingBloomBits(deletedKeys, mbits, khash)
      .withColumnRenamed("cnt", "dec")
    val merged = materialize(
      counts.join(dec, Seq("pos"), "full_outer")
        .select(col("pos"),
          (coalesce(col("cnt"), lit(0L)) - coalesce(col("dec"), lit(0L)))
            .as("cnt", countingGeomMetadata(1, mbits, khash))),
      checkpointDir)
    val negative = merged.where(col("cnt") < 0).count()
    require(negative == 0L,
      s"$negative position(s) would go negative — a removed key was " +
        "never inserted (or was removed twice); the filter would " +
        "silently lose its no-false-negative guarantee, so it refuses")
    merged.where(col("cnt") > 0)
  }

  /** INSERT `addedKeys` into a counting frame — the other half of the
    * O(delta) maintenance loop ([[countingBloomRemove]]'s inverse): a
    * per-position increment over the merged frame, no refusal needed
    * (adding evidence can never void the guarantee). With add and
    * remove, a delete-heavy deployment's filter follows its corpus
    * through any churn without EVER re-aggregating it. Same geometry
    * pin discipline; lazy (no refusal
    * aggregate to run), so callers chain it freely. */
  def countingBloomAdd(counts: DataFrame, addedKeys: DataFrame,
      mbits: Int = BloomMBits, khash: Int = BloomHashes): DataFrame = {
    requireCountingGeometry(counts, 1, mbits, khash, "countingBloomAdd")
    val inc = countingBloomBits(addedKeys, mbits, khash)
      .withColumnRenamed("cnt", "inc")
    counts.join(inc, Seq("pos"), "full_outer")
      .select(col("pos"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("inc"), lit(0L)))
          .as("cnt", countingGeomMetadata(1, mbits, khash)))
      .where(col("cnt") > 0)
  }

  /** [[bloomScreen]] against a counting frame: khash lookup rows per
    * doc, equi-joined on the position (hinted broadcast while the
    * frame is provably small — ≤ 2^20 occupied rows ≈ the bit cap's
    * data volume; planner-decided past that), `maybe_seen` = every
    * position still has a positive count. No false negatives for any
    * key still in the corpus, by the decrement discipline
    * [[countingBloomRemove]] enforces. */
  def countingBloomScreen(increment: DataFrame, counts: DataFrame,
      mbits: Int = BloomMBits, khash: Int = BloomHashes): DataFrame = {
    requireCountingGeometry(counts, 1, mbits, khash, "countingBloomScreen")
    increment.select(col("doc_id"), col("content_key"),
        explode(array((0 until khash).map(i =>
          bloomPos(col("content_key"), i, mbits)): _*)).as("pos"))
      // the counting frame is a ROW PER POSITION (16 bytes each), not
      // per 32-bit word — the bit screen's 2^23-bit cap here would be
      // 128× its broadcast volume, so the hint stops at 2^20 positions
      // (~16 MB); past that the planner decides
      .join(if (mbits <= (1 << 20)) broadcast(counts) else counts,
        Seq("pos"), "left")
      .groupBy("doc_id", "content_key")
      .agg(expr("bool_and(coalesce(cnt, CAST(0 AS BIGINT)) > 0)")
        .as("maybe_seen"))
  }

  /** The DELETE-CORRECT ingest screen (x103): [[ingestScreen]]'s
    * question against a corpus that has since DROPPED documents,
    * answered without rebuilding anything — build the counting frame
    * over the original corpus, decrement the deleted docs' keys,
    * screen the increment, and audit against the SURVIVING corpus
    * (the exact twin, so the gate hash-checks that deleted content
    * screens as never-seen — the very bits a one-way filter would have
    * frozen — alongside the usual no-false-negative and exact-FP-set
    * checks). */
  def ingestScreenCounting(corpus: DataFrame, deleted: DataFrame,
      increment: DataFrame, mbits: Int = BloomMBits,
      khash: Int = BloomHashes,
      checkpointDir: Option[String] = None): DataFrame = {
    // decrement only the deleted docs PROVABLY IN the corpus (id-level
    // semi-join): a delete-feed row whose doc_id was never indexed but
    // whose text duplicates a surviving doc would otherwise decrement
    // a live key to zero WITHOUT any position going negative — a
    // silent false negative the refusal cannot catch. Constraining the
    // feed to the corpus makes the decrements exactly the complement
    // of the surviving anti-join below, so counts and audit can never
    // disagree.
    val inCorpus = corpus.join(deleted.select("doc_id"),
      Seq("doc_id"), "left_semi")
    val counts = countingBloomRemove(
      countingBloomBits(contentKeyOf(corpus), mbits, khash),
      contentKeyOf(inCorpus), mbits, khash, checkpointDir)
    // the audit joins against the SURVIVING keys: corpus minus the
    // deleted DOCS (id-level, so a shared text deleted once but still
    // held by another doc stays "seen" — matching the multiset counts)
    val surviving = corpus.join(deleted.select("doc_id"),
      Seq("doc_id"), "left_anti")
    screenJoinConfirmed(surviving, increment,
      checkpointDir = checkpointDir)((ik, _) =>
      countingBloomScreen(ik, counts, mbits, khash))
      .select(auditColumns: _*)
  }

  // --- sharded counting Bloom: the scale path past 2^30 positions ----------

  /** The geometry for a counting filter over `n` keys: identical
    * derivation to [[adaptiveBloomGeometry]] (10 bits-worth of
    * POSITIONS per key, per-shard space a power of two ≤ 2^30, shard
    * count grown until every shard's share fits) — positions are
    * `(shard, pos)` ROWS here, not array bits, so nothing physical
    * forces the 2^30 per-shard cap, but sharing the bit family's
    * recipe keeps the two filters swappable artifact-for-artifact and
    * their shard routing identical. One flat shard until ~10^8 keys
    * (where sharded ≡ flat row-for-row, spec-pinned), then shards grow
    * with the corpus — the counting family's answer to
    * [[adaptiveBloomBits]]'s "needs sharding" refusal. */
  def adaptiveCountingGeometry(n: Long): (Int, Int) =
    adaptiveBloomGeometry(n)

  /** [[countingBloomBits]]'s sharded twin — `(shard, pos, cnt)`, each
    * key routed to `hash(key) mod shards` ([[shardedBloomBits]]'s
    * routing hash, distinct namespace from every position hash) and
    * counted within its shard's OWN mbits-position space. Total
    * capacity is shards·mbits positions with no single frame to
    * outgrow; shards rebuild independently (re-count ONE shard's keys,
    * not the corpus); the screen join gains the shard id — an
    * equi-join the planner broadcasts when the frame fits and shuffles
    * when it doesn't. Same one map-side-combining aggregate, same
    * exact-BIGINT multiset counts, same geometry pin (now including
    * the shard count). */
  def shardedCountingBloomBits(keys: DataFrame, shards: Int,
      mbits: Int = BloomMBits, khash: Int = BloomHashes): DataFrame = {
    require(shards >= 1, s"shards must be >= 1: $shards")
    require(mbits >= 32 && (mbits & (mbits - 1)) == 0,
      s"mbits must be a power of two >= 32: $mbits")
    require(khash >= 1 && khash <= 16, s"khash out of range: $khash")
    keys.select(bloomShard(col("content_key"), shards).as("shard"),
        explode(array((0 until khash).map(i =>
          bloomPos(col("content_key"), i, mbits)): _*)).as("pos"))
      // null keys: position-less on every side, the flat form's rule
      .where(col("pos").isNotNull)
      .groupBy("shard", "pos").agg(count(lit(1)).as("cnt"))
      .select(col("shard"), col("pos"),
        col("cnt").as("cnt", countingGeomMetadata(shards, mbits, khash)))
  }

  /** [[countingBloomRemove]]'s sharded twin: per-`(shard, pos)`
    * decrements, the same loud negative-count refusal, the same
    * geometry pin validation — a frame built at one (shards, mbits,
    * khash) refuses removal at any other. */
  def shardedCountingBloomRemove(counts: DataFrame,
      deletedKeys: DataFrame, shards: Int, mbits: Int = BloomMBits,
      khash: Int = BloomHashes,
      checkpointDir: Option[String] = None): DataFrame = {
    requireCountingGeometry(counts, shards, mbits, khash,
      "shardedCountingBloomRemove")
    val dec = shardedCountingBloomBits(deletedKeys, shards, mbits, khash)
      .withColumnRenamed("cnt", "dec")
    val merged = materialize(
      counts.join(dec, Seq("shard", "pos"), "full_outer")
        .select(col("shard"), col("pos"),
          (coalesce(col("cnt"), lit(0L)) - coalesce(col("dec"), lit(0L)))
            .as("cnt", countingGeomMetadata(shards, mbits, khash))),
      checkpointDir)
    val negative = merged.where(col("cnt") < 0).count()
    require(negative == 0L,
      s"$negative position(s) would go negative — a removed key was " +
        "never inserted (or was removed twice); the filter would " +
        "silently lose its no-false-negative guarantee, so it refuses")
    merged.where(col("cnt") > 0)
  }

  /** [[countingBloomAdd]]'s sharded twin — lazy per-`(shard, pos)`
    * increments, no refusal (added evidence cannot void the
    * guarantee). */
  def shardedCountingBloomAdd(counts: DataFrame, addedKeys: DataFrame,
      shards: Int, mbits: Int = BloomMBits,
      khash: Int = BloomHashes): DataFrame = {
    requireCountingGeometry(counts, shards, mbits, khash,
      "shardedCountingBloomAdd")
    val inc = shardedCountingBloomBits(addedKeys, shards, mbits, khash)
      .withColumnRenamed("cnt", "inc")
    counts.join(inc, Seq("shard", "pos"), "full_outer")
      .select(col("shard"), col("pos"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("inc"), lit(0L)))
          .as("cnt", countingGeomMetadata(shards, mbits, khash)))
      .where(col("cnt") > 0)
  }

  /** [[countingBloomScreen]]'s sharded twin: khash lookup rows per
    * doc routed to the key's shard, equi-joined on `(shard, pos)`. No
    * broadcast hint on purpose ([[shardedBloomScreen]]'s rule — the
    * sharded form exists for frames past broadcast size; the planner
    * still broadcasts small ones on its own). */
  def shardedCountingBloomScreen(increment: DataFrame,
      counts: DataFrame, shards: Int, mbits: Int = BloomMBits,
      khash: Int = BloomHashes): DataFrame = {
    requireCountingGeometry(counts, shards, mbits, khash,
      "shardedCountingBloomScreen")
    increment.select(col("doc_id"), col("content_key"),
        bloomShard(col("content_key"), shards).as("shard"),
        explode(array((0 until khash).map(i =>
          bloomPos(col("content_key"), i, mbits)): _*)).as("pos"))
      .join(counts, Seq("shard", "pos"), "left")
      .groupBy("doc_id", "content_key")
      .agg(expr("bool_and(coalesce(cnt, CAST(0 AS BIGINT)) > 0)")
        .as("maybe_seen"))
  }

  /** MULTIPLICITY estimate from a counting frame — the screen upgraded
    * from "seen before?" to "seen how many times?" at zero extra state:
    * the frame's per-position counts are exactly a CountMin sketch's
    * counters (Cormode & Muthukrishnan 2005) restricted to the filter's
    * khash rows, so `min` over a key's khash positions is an UPPER
    * BOUND on how many corpus occurrences carry that content —
    * `est_seen ≥ true multiplicity` always (every occurrence
    * incremented all khash positions; collisions only inflate), with
    * equality except under the sized-for collision rate. est 0 is the
    * screen's `maybe_seen = false` guarantee; est ≥ 1 is its `true`.
    * Directly useful for crawl-frequency weighting: an ingest batch
    * learns per doc how often its content was already crawled without
    * ever joining the corpus — khash lookup rows per doc against the
    * fixed-size frame, one partial-combining `min` per doc. Same
    * deterministic positions, so even the overcounts replay in the
    * oracle. Null keys carry no positions and estimate 0 (no evidence
    * can join them — the build-side null rule's read twin). */
  def countingBloomMultiplicity(increment: DataFrame, counts: DataFrame,
      mbits: Int = BloomMBits, khash: Int = BloomHashes): DataFrame = {
    requireCountingGeometry(counts, 1, mbits, khash,
      "countingBloomMultiplicity")
    increment.select(col("doc_id"), col("content_key"),
        explode(array((0 until khash).map(i =>
          bloomPos(col("content_key"), i, mbits)): _*)).as("pos"))
      .join(counts, Seq("pos"), "left")
      .groupBy("doc_id", "content_key")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_seen"))
  }

  /** [[countingBloomMultiplicity]]'s sharded twin: lookups routed to
    * the key's shard, the `(shard, pos)` equi-join, the same min-fold
    * — shards=1 is estimate-identical to the flat form (the sharded
    * family's standing pin). */
  def shardedCountingBloomMultiplicity(increment: DataFrame,
      counts: DataFrame, shards: Int, mbits: Int = BloomMBits,
      khash: Int = BloomHashes): DataFrame = {
    requireCountingGeometry(counts, shards, mbits, khash,
      "shardedCountingBloomMultiplicity")
    increment.select(col("doc_id"), col("content_key"),
        bloomShard(col("content_key"), shards).as("shard"),
        explode(array((0 until khash).map(i =>
          bloomPos(col("content_key"), i, mbits)): _*)).as("pos"))
      .join(counts, Seq("shard", "pos"), "left")
      .groupBy("doc_id", "content_key")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_seen"))
  }

  /** The MULTIPLICITY SCREEN (x107): per increment doc, how many times
    * its content occurs in the corpus — estimated from the counting
    * frame alone ([[shardedCountingBloomMultiplicity]]'s min-fold,
    * never a corpus join) next to the exact truth (the audit twin, the
    * [[ingestScreen]] convention: computed here so the gate checks the
    * ≥-bound AND the exact overcount set — deterministic positions
    * make even the collisions reproducible). Output per increment doc:
    * `est_seen` (the CountMin-style upper bound), `true_seen` (exact
    * corpus multiplicity of the key), `overcount` (est − true, ≥ 0
    * always). In production the exact twin is the audit-cadence
    * spot-check; the estimate itself reads only the fixed-size
    * frame. */
  def multiplicityScreen(corpus: DataFrame, increment: DataFrame,
      shards: Int = 1, mbits: Int = BloomMBits,
      khash: Int = BloomHashes): DataFrame = {
    val ck = contentKeyOf(corpus)
    val counts = shardedCountingBloomBits(ck, shards, mbits, khash)
    val est = shardedCountingBloomMultiplicity(
      increment.select(col("doc_id"), contentKeyColumn), counts, shards,
      mbits, khash)
    val truth = ck.groupBy("content_key")
      .agg(count(lit(1)).as("true_seen"))
    est.join(truth, Seq("content_key"), "left")
      .select(col("doc_id"), col("est_seen"),
        coalesce(col("true_seen"), lit(0L)).as("true_seen"),
        (col("est_seen") - coalesce(col("true_seen"), lit(0L)))
          .as("overcount"))
  }

  /** [[multiplicityScreen]] oracle — frame build, min-fold estimate,
    * and exact-truth join replayed in SQL. `corpusPred` selects the
    * corpus from `documents` (self-unions welcome via `corpusSql`
    * instead), `incSql` the increment's `(doc_id, text)`. */
  def multiplicityScreenSql(corpusSql: String, incSql: String,
      shards: Int = 1, mbits: Int = BloomMBits,
      khash: Int = BloomHashes): String =
    s"""WITH craw AS (
       |$corpusSql
       |), ck AS (
       |  SELECT md5(${normTextSql("text")}) AS k FROM craw
       |), counts AS (
       |  SELECT shard, pos, count(*) AS cnt FROM (
       |    SELECT ${bloomShardSql("k", shards)} AS shard,
       |      ${bloomPosSql("k", "i", mbits)} AS pos
       |    FROM ck, range(0, $khash) r(i)
       |  ) WHERE pos IS NOT NULL GROUP BY shard, pos
       |), ikraw AS (
       |$incSql
       |), ik AS (
       |  SELECT doc_id, md5(${normTextSql("text")}) AS k FROM ikraw
       |), est AS (
       |  SELECT doc_id, k,
       |    min(coalesce(c.cnt, CAST(0 AS BIGINT))) AS est_seen
       |  FROM (
       |    SELECT doc_id, k, ${bloomShardSql("k", shards)} AS shard,
       |      ${bloomPosSql("k", "i", mbits)} AS pos
       |    FROM ik, range(0, $khash) r(i)
       |  ) lk LEFT JOIN counts c USING (shard, pos)
       |  GROUP BY doc_id, k
       |), tru AS (
       |  SELECT k, count(*) AS true_seen FROM ck GROUP BY k
       |)
       |SELECT e.doc_id, e.est_seen,
       |  coalesce(t.true_seen, CAST(0 AS BIGINT)) AS true_seen,
       |  e.est_seen - coalesce(t.true_seen, CAST(0 AS BIGINT))
       |    AS overcount
       |FROM est e LEFT JOIN tru t ON e.k = t.k""".stripMargin

  /** [[bloomStats]] for a counting frame (flat or sharded) — the
    * delete-heavy deployment's filter-health report, same
    * [[BloomStats]] shape with tighter semantics: `setBits` counts
    * OCCUPIED positions (rows with cnt > 0), fill is
    * occupied/capacity, and `estimatedKeys` is EXACT, not an estimate
    * — Σcnt = khash·(live keys) by construction (every non-null key
    * contributes exactly khash position-increments, survive or
    * collide), so the division recovers the live multiset size with
    * no fill-curve inversion. `impliedFpRate` stays fill^khash (a
    * screen false-positives when all khash probes land occupied).
    * The half-full resize rule applies unchanged — and resizing
    * relocates every position, so the migration is a fresh build at
    * [[adaptiveCountingGeometry]] of the live count (which this
    * report hands you exactly). One bounded aggregate over ≤
    * shards·mbits rows; validates the in-frame geometry pin. */
  def countingBloomStats(counts: DataFrame, mbits: Int = BloomMBits,
      khash: Int = BloomHashes, shards: Int = 1): BloomStats = {
    require(shards >= 1, s"shards must be >= 1: $shards")
    requireCountingGeometry(counts, shards, mbits, khash,
      "countingBloomStats")
    val row = counts.where(col("cnt") > 0)
      .agg(count(lit(1)).as("occ"), sum("cnt").as("tot")).collect()(0)
    val occ = if (row.isNullAt(0)) 0L else row.getLong(0)
    val tot = if (row.isNullAt(1)) 0L else row.getLong(1)
    val capacity = shards.toLong * mbits
    val fill = occ.toDouble / capacity
    BloomStats(mbits, khash, occ, fill,
      math.round(tot.toDouble / khash), math.pow(fill, khash))
  }

  /** [[ingestScreenFrom]]'s counting twin: audit an increment against
    * a PREBUILT (and possibly delta-maintained) counting frame — the
    * trickle-ingest loop for a delete-heavy corpus builds the frame
    * once ([[countingBloomBits]]), follows its corpus with
    * [[countingBloomRemove]]/[[countingBloomAdd]], and screens every
    * batch here without ever re-aggregating. `surviving` is the
    * CURRENT corpus (the exact-audit side — it must be the multiset
    * the maintained counts describe, or the audit and the screen
    * disagree by construction). */
  def ingestScreenCountingFrom(surviving: DataFrame, counts: DataFrame,
      increment: DataFrame, mbits: Int = BloomMBits,
      khash: Int = BloomHashes,
      checkpointDir: Option[String] = None): DataFrame =
    screenJoinConfirmed(surviving, increment,
      checkpointDir = checkpointDir)((ik, _) =>
      countingBloomScreen(ik, counts, mbits, khash))
      .select(auditColumns: _*)

  /** [[ingestScreenCountingFrom]]'s sharded twin. */
  def ingestScreenCountingShardedFrom(surviving: DataFrame,
      counts: DataFrame, increment: DataFrame, shards: Int,
      mbits: Int = BloomMBits, khash: Int = BloomHashes,
      checkpointDir: Option[String] = None): DataFrame =
    screenJoinConfirmed(surviving, increment,
      checkpointDir = checkpointDir)((ik, _) =>
      shardedCountingBloomScreen(ik, counts, shards, mbits, khash))
      .select(auditColumns: _*)

  /** [[ingestScreenCounting]]'s sharded twin (x104) — same output and
    * audit contract (delete-correct verdicts against the SURVIVING
    * corpus, deterministic FP set, the in-corpus delete-feed
    * constraint), the filter keyed `(shard, pos)` so a delete-heavy
    * corpus past ~10^8 keys — the flat form's hard ceiling — sizes out
    * by [[adaptiveCountingGeometry]] instead of refusing. */
  def ingestScreenCountingSharded(corpus: DataFrame, deleted: DataFrame,
      increment: DataFrame, shards: Int, mbits: Int = BloomMBits,
      khash: Int = BloomHashes,
      checkpointDir: Option[String] = None): DataFrame = {
    // the same two id-level joins as the flat form: decrement only
    // deletes PROVABLY IN the corpus; audit against the survivors
    val inCorpus = corpus.join(deleted.select("doc_id"),
      Seq("doc_id"), "left_semi")
    val counts = shardedCountingBloomRemove(
      shardedCountingBloomBits(contentKeyOf(corpus), shards, mbits, khash),
      contentKeyOf(inCorpus), shards, mbits, khash, checkpointDir)
    val surviving = corpus.join(deleted.select("doc_id"),
      Seq("doc_id"), "left_anti")
    screenJoinConfirmed(surviving, increment,
      checkpointDir = checkpointDir)((ik, _) =>
      shardedCountingBloomScreen(ik, counts, shards, mbits, khash))
      .select(auditColumns: _*)
  }

  /** [[ingestScreenCounting]] oracle — the counting frame, the
    * decrements, the zero-drop, and the surviving-corpus audit all
    * replayed in SQL. `corpusPred` selects the original corpus,
    * `deletedPred` the dropped docs WITHIN it, `incSql` the
    * increment's `(doc_id, text)`. */
  def ingestScreenCountingSql(corpusPred: String, deletedPred: String,
      incSql: String, mbits: Int = BloomMBits,
      khash: Int = BloomHashes): String =
    s"""WITH ck AS (
       |  SELECT md5(${normTextSql("text")}) AS k
       |  FROM documents WHERE $corpusPred
       |), dk AS (
       |  SELECT md5(${normTextSql("text")}) AS k
       |  FROM documents WHERE ($corpusPred) AND ($deletedPred)
       |), built AS (
       |  SELECT pos, count(*) AS cnt FROM (
       |    SELECT ${bloomPosSql("k", "i", mbits)} AS pos
       |    FROM ck, range(0, $khash) r(i)
       |  ) WHERE pos IS NOT NULL GROUP BY pos
       |), dec AS (
       |  SELECT pos, count(*) AS dec FROM (
       |    SELECT ${bloomPosSql("k", "i", mbits)} AS pos
       |    FROM dk, range(0, $khash) r(i)
       |  ) WHERE pos IS NOT NULL GROUP BY pos
       |), counts AS (
       |  SELECT pos, coalesce(b.cnt, 0) - coalesce(d.dec, 0) AS cnt
       |  FROM built b FULL OUTER JOIN dec d USING (pos)
       |  WHERE coalesce(b.cnt, 0) - coalesce(d.dec, 0) > 0
       |), sk AS (
       |  SELECT md5(${normTextSql("text")}) AS k
       |  FROM documents WHERE ($corpusPred) AND NOT ($deletedPred)
       |), ikraw AS (
       |$incSql
       |), ik AS (
       |  SELECT doc_id, md5(${normTextSql("text")}) AS k FROM ikraw
       |), screened AS (
       |  SELECT doc_id, k, bool_and(coalesce(c.cnt, 0) > 0) AS maybe_seen
       |  FROM (
       |    SELECT doc_id, k, ${bloomPosSql("k", "i", mbits)} AS pos
       |    FROM ik, range(0, $khash) r(i)
       |  ) lk LEFT JOIN counts c USING (pos)
       |  GROUP BY doc_id, k
       |)
       |SELECT s.doc_id, s.maybe_seen,
       |  EXISTS (SELECT 1 FROM sk WHERE sk.k = s.k) AS exact_seen,
       |  (s.maybe_seen AND
       |    NOT EXISTS (SELECT 1 FROM sk WHERE sk.k = s.k)) AS false_pos
       |FROM screened s""".stripMargin

  /** [[ingestScreenCountingSharded]] oracle — [[ingestScreenCountingSql]]
    * with the shard id carried through build, decrement, zero-drop and
    * lookup. */
  def ingestScreenCountingShardedSql(corpusPred: String,
      deletedPred: String, incSql: String, shards: Int,
      mbits: Int = BloomMBits, khash: Int = BloomHashes): String =
    s"""WITH ck AS (
       |  SELECT md5(${normTextSql("text")}) AS k
       |  FROM documents WHERE $corpusPred
       |), dk AS (
       |  SELECT md5(${normTextSql("text")}) AS k
       |  FROM documents WHERE ($corpusPred) AND ($deletedPred)
       |), built AS (
       |  SELECT shard, pos, count(*) AS cnt FROM (
       |    SELECT ${bloomShardSql("k", shards)} AS shard,
       |      ${bloomPosSql("k", "i", mbits)} AS pos
       |    FROM ck, range(0, $khash) r(i)
       |  ) WHERE pos IS NOT NULL GROUP BY shard, pos
       |), dec AS (
       |  SELECT shard, pos, count(*) AS dec FROM (
       |    SELECT ${bloomShardSql("k", shards)} AS shard,
       |      ${bloomPosSql("k", "i", mbits)} AS pos
       |    FROM dk, range(0, $khash) r(i)
       |  ) WHERE pos IS NOT NULL GROUP BY shard, pos
       |), counts AS (
       |  SELECT shard, pos,
       |    coalesce(b.cnt, 0) - coalesce(d.dec, 0) AS cnt
       |  FROM built b FULL OUTER JOIN dec d USING (shard, pos)
       |  WHERE coalesce(b.cnt, 0) - coalesce(d.dec, 0) > 0
       |), sk AS (
       |  SELECT md5(${normTextSql("text")}) AS k
       |  FROM documents WHERE ($corpusPred) AND NOT ($deletedPred)
       |), ikraw AS (
       |$incSql
       |), ik AS (
       |  SELECT doc_id, md5(${normTextSql("text")}) AS k FROM ikraw
       |), screened AS (
       |  SELECT doc_id, k, bool_and(coalesce(c.cnt, 0) > 0) AS maybe_seen
       |  FROM (
       |    SELECT doc_id, k, ${bloomShardSql("k", shards)} AS shard,
       |      ${bloomPosSql("k", "i", mbits)} AS pos
       |    FROM ik, range(0, $khash) r(i)
       |  ) lk LEFT JOIN counts c USING (shard, pos)
       |  GROUP BY doc_id, k
       |)
       |SELECT s.doc_id, s.maybe_seen,
       |  EXISTS (SELECT 1 FROM sk WHERE sk.k = s.k) AS exact_seen,
       |  (s.maybe_seen AND
       |    NOT EXISTS (SELECT 1 FROM sk WHERE sk.k = s.k)) AS false_pos
       |FROM screened s""".stripMargin

  /** BLOOM-ACCELERATED exact dedup (x101) — the composition the screen
    * exists for, delivered as one operator: the increment's final
    * new-vs-duplicate verdict with EXACTLY the anti-join's contract
    * (the oracle below never mentions the filter — false positives are
    * weeded by the confirm, false negatives don't exist, so the bloom
    * is invisible in the OUTPUT) while shaping the PLAN the way a
    * 100 TB ingest must run: definitely-new rows never touch the
    * corpus at all, and the maybe_seen suspects confirm broadcast
    * against one map pass over the corpus key column
    * ([[confirmedOf]]). The whole increment-vs-corpus anti-join — the
    * shuffle of 10^11 stored keys per crawl batch — is replaced by a
    * ~10·n-bit frame read plus a suspect set the size of the true
    * duplication rate. */
  def bloomAcceleratedDedup(corpus: DataFrame, increment: DataFrame,
      mbits: Int = BloomMBits, khash: Int = BloomHashes,
      checkpointDir: Option[String] = None): DataFrame =
    screenJoinConfirmed(corpus, increment,
      checkpointDir = checkpointDir)((ik, ck) =>
      bloomScreen(ik, bloomBits(ck, mbits, khash), mbits, khash))
      .select(col("doc_id"),
        (!coalesce(col("exact_seen"), lit(false))).as("is_new"))

  /** [[bloomAcceleratedDedup]] oracle — the plain exact anti-join
    * semantics, no bloom anywhere: the operator's contract IS
    * exactness; the filter only shapes the plan. NOT EXISTS, never
    * NOT IN: a null key (null-text doc) in either frame would
    * null-propagate NOT IN's answer — for a null CORPUS key, for EVERY
    * increment row — where anti-join semantics (and the operator's
    * coalesce) say "kept, is_new = true". */
  def bloomAcceleratedDedupSql(corpusPred: String, incSql: String): String =
    s"""WITH ck AS (
       |  SELECT md5(${normTextSql("text")}) AS k
       |  FROM documents WHERE $corpusPred
       |), ikraw AS (
       |$incSql
       |)
       |SELECT doc_id,
       |  NOT EXISTS (SELECT 1 FROM ck
       |    WHERE ck.k = md5(${normTextSql("text")})) AS is_new
       |FROM ikraw""".stripMargin

  /** [[ingestScreenSharded]] oracle — [[ingestScreenSql]] with the
    * shard id carried through build and lookup. */
  def ingestScreenShardedSql(corpusPred: String, incSql: String,
      shards: Int, mbits: Int = BloomMBits,
      khash: Int = BloomHashes): String =
    s"""WITH ck AS (
       |  SELECT md5(${normTextSql("text")}) AS k
       |  FROM documents WHERE $corpusPred
       |), bloom AS (
       |  SELECT shard, pos // 32 AS word,
       |    bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
       |  FROM (
       |    SELECT ${bloomShardSql("k", shards)} AS shard,
       |      ${bloomPosSql("k", "i", mbits)} AS pos
       |    FROM ck, range(0, $khash) r(i)
       |  ) GROUP BY shard, word
       |), ikraw AS (
       |$incSql
       |), ik AS (
       |  SELECT doc_id, md5(${normTextSql("text")}) AS k FROM ikraw
       |), lk AS (
       |  SELECT doc_id, k, ${bloomShardSql("k", shards)} AS shard,
       |    pos // 32 AS word,
       |    1::BIGINT << CAST(pos % 32 AS INT) AS mask
       |  FROM (
       |    SELECT doc_id, k, ${bloomPosSql("k", "i", mbits)} AS pos
       |    FROM ik, range(0, $khash) r(i)
       |  )
       |), screened AS (
       |  SELECT doc_id, k,
       |    bool_and((coalesce(b.bits, 0) & mask) <> 0) AS maybe_seen
       |  FROM lk LEFT JOIN bloom b USING (shard, word)
       |  GROUP BY doc_id, k
       |)
       |SELECT s.doc_id, s.maybe_seen,
       |  EXISTS (SELECT 1 FROM ck WHERE ck.k = s.k) AS exact_seen,
       |  (s.maybe_seen AND
       |    NOT EXISTS (SELECT 1 FROM ck WHERE ck.k = s.k)) AS false_pos
       |FROM screened s""".stripMargin

  /** [[adaptiveBloomBits]] in SQL — identical integer arithmetic:
    * next power of two via the bit length of (want − 1), never a
    * floating log2 (exact at every boundary, the [[adaptiveBloomBits]]
    * `highestOneBit` mirror). */
  def adaptiveBloomBitsSql(countSql: String): String =
    s"(1::BIGINT << length(format('{:b}', GREATEST(1024, 10 * ($countSql)) - 1)))"

  /** [[ingestScreen]] oracle: the bloom frame replayed in SQL —
    * corpus keys × khash hash positions, bit-OR'd into the same
    * 32-bit-word rows, then the increment's positions LEFT JOIN'd
    * against it with the same all-bits-set test. `incSql` selects the
    * increment's `(doc_id, text)` — a full SELECT, not a predicate,
    * because a meaningful increment RE-PRESENTS some corpus content
    * under new doc_ids (the fixtures carry no cross-id exact dups
    * below sf0.1, so a plain row split would leave `exact_seen`
    * vacuously false). */
  def ingestScreenSql(corpusPred: String, incSql: String,
      mbits: Int = BloomMBits, khash: Int = BloomHashes): String =
    s"""WITH ck AS (
       |  SELECT md5(${normTextSql("text")}) AS k
       |  FROM documents WHERE $corpusPred
       |), bloom AS (
       |  SELECT pos // 32 AS word, bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
       |  FROM (
       |    SELECT ${bloomPosSql("k", "i", mbits)} AS pos
       |    FROM ck, range(0, $khash) r(i)
       |  ) GROUP BY word
       |), ikraw AS (
       |$incSql
       |), ik AS (
       |  SELECT doc_id, md5(${normTextSql("text")}) AS k FROM ikraw
       |), lk AS (
       |  SELECT doc_id, k, pos // 32 AS word,
       |    1::BIGINT << CAST(pos % 32 AS INT) AS mask
       |  FROM (
       |    SELECT doc_id, k, ${bloomPosSql("k", "i", mbits)} AS pos
       |    FROM ik, range(0, $khash) r(i)
       |  )
       |), screened AS (
       |  SELECT doc_id, k,
       |    bool_and((coalesce(b.bits, 0) & mask) <> 0) AS maybe_seen
       |  FROM lk LEFT JOIN bloom b USING (word)
       |  GROUP BY doc_id, k
       |)
       |SELECT s.doc_id, s.maybe_seen,
       |  EXISTS (SELECT 1 FROM ck WHERE ck.k = s.k) AS exact_seen,
       |  (s.maybe_seen AND
       |    NOT EXISTS (SELECT 1 FROM ck WHERE ck.k = s.k)) AS false_pos
       |FROM screened s""".stripMargin
}
