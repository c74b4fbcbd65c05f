package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline
  * (builder brief "text analysis"; SURVEY.md §2.11): tokenization, term
  * frequencies, language-ID scoring, quality heuristics, SimHash and
  * rolling-hash document fingerprints, over the `documents` fixture.
  *
  * Design rule: every per-document computation is a pure column
  * expression over the token array — `transform`/`filter`/`aggregate`
  * higher-order functions, no UDF, no explode unless the OUTPUT is
  * per-token. Per-row expressions are embarrassingly parallel (zero
  * shuffle) and stay inside whole-stage codegen, so a 100 TB corpus
  * scans at I/O speed; the only shuffles in this file are the
  * aggregations whose result is genuinely cross-document (term
  * frequencies).
  *
  * Every operator has a twin `...Sql` generator producing the DuckDB
  * oracle from the SAME Scala constants, so Spark and oracle can never
  * drift apart.
  */
object TextOps {

  /** Deterministic 32-bit hash both engines can compute identically:
    * unsigned value of the first 8 hex digits of md5. (Spark's builtin
    * `hash`/`xxhash64` have no DuckDB equivalent; md5 is bit-identical
    * everywhere.) */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")
  def hash32Sql(e: String): String =
    s"('0x' || substr(md5($e), 1, 8))::BIGINT"

  /** Whitespace tokenization of lowercased text. */
  def tokens(c: Column): Column = split(lower(c), " ")
  def tokensSql(e: String): String = s"string_split(lower($e), ' ')"

  /** Whitespace class spelled out instead of `\s`: Java regex `\s` is
    * `[ \t\n\x0B\f\r]` but DuckDB's RE2 `\s` EXCLUDES vertical tab
    * (\x0B), so a `\s`-based normal form silently diverges across
    * engines on \x0B-bearing text. The explicit class (= Java `\s`,
    * which [[graft.functions.TextExpressions]]' kernels also use) is
    * interpreted identically by both regex engines. */
  val WsClass = " \\t\\n\\x0B\\f\\r"

  /** Whitespace-collapsed, trimmed, lowercased normal form (the exact
    * -dedup key; regexp semantics identical in Spark and DuckDB). */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), s"[$WsClass]+", " "))
  def normTextSql(e: String): String =
    s"trim(regexp_replace(lower($e), '[$WsClass]+', ' ', 'g'))"

  /** Word k-shingles (distinct), as an array column. k=3 default.
    * NULL for blank text (null/empty/whitespace-only): `split` of an
    * empty string yields `[""]`, so without the guard every blank doc in
    * a raw crawl would share the single shingle `""` — identical MinHash
    * signatures, identical band keys, and m²/2 confirmed J=1.0 "pairs"
    * among m blank docs. A doc with no content carries no n-gram
    * information to near-match on; blank-vs-blank dedup is exact dedup's
    * job ([[graft.operators.Dedup.exactDedup]] keys on `normText`, which
    * maps all blanks to one key). The NULL flows through the MinHash
    * kernel (null in → null sig) and banding drops null signatures. */
  def shingles(c: Column, k: Int = 3): Column =
    // fused native kernel (one loop per row; the builtin
    // array_distinct∘transform∘slice chain is CodegenFallback —
    // PipelineSpec pins kernel ≡ builtin including blank→NULL and
    // first-occurrence order). Blank = zero-length normText — `trim`
    // alone strips only spaces, and tab/newline-only docs must be blank
    // too, the same \s class exact dedup keys on.
    graft.functions.TextKernels.shingles(c, k)
  def shinglesSql(e: String, k: Int = 3): String = {
    val t = tokensSql(e)
    s"CASE WHEN $e IS NULL OR len(${normTextSql(e)}) = 0 THEN NULL ELSE " +
      s"list_distinct(list_transform(range(1, greatest(len($t)-${k - 1}, 1)+1), " +
      s"i -> array_to_string(($t)[i:i+${k - 1}], ' '))) END"
  }

  // --- term frequencies (x4) ---------------------------------------------

  /** Term frequency per (lang, token): the one genuinely cross-document
    * aggregation — explode then hash-aggregate with map-side combine.
    * At 100 TB the output cardinality is |langs|×|vocab|, tiny relative
    * to input, so the shuffle moves partial counts only. */
  def termFrequencies(docs: DataFrame): DataFrame =
    docs.select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("n"))

  val termFrequenciesSql: String =
    s"""WITH tok AS (SELECT lang, unnest(${tokensSql("text")}) AS token FROM documents)
       |SELECT lang, token, count(*) AS n FROM tok GROUP BY lang, token""".stripMargin

  // --- language ID (x5) --------------------------------------------------

  /** Marker-token profiles per language. On real corpora these are the
    * top-n-gram profiles of each language; the fixture vocabulary is 31
    * shared tech words, so the profiles are fixed word sets — the scoring
    * MECHANISM (count profile hits per language, argmax with fixed
    * tiebreak) is the operator under test. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "slow", "window", "row"),
    "de" -> Seq("data", "key", "scan", "batch", "small"),
    "es" -> Seq("column", "line", "part", "hash", "customer"),
    "fr" -> Seq("order", "sort", "query", "group", "value"),
    "zh" -> Seq("merge", "vector", "join", "stream", "agg"))

  /** Language-ID: per-row profile scores + argmax (first language in
    * profile order wins ties). Pure array expressions — no shuffle. */
  def languageId(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val scores = langProfiles.map { case (lang, words) =>
      lang -> size(filter(toks, t => t.isInCollection(words)))
    }
    val best = greatest(scores.map(_._2): _*)
    // earlier profiles take precedence on ties (fixed argmax order)
    val predFirst = scores.foldRight(lit(null).cast("string")) {
      case ((lang, s), acc) => when(s === best, lit(lang)).otherwise(acc)
    }
    docs.select(
      (col("doc_id") +: col("lang").as("lang_actual") +:
        scores.map { case (l, s) => s.as(s"score_$l") }) :+
        predFirst.as("lang_pred"): _*)
  }

  val languageIdSql: String = {
    def scoreSql(words: Seq[String]): String =
      s"len(list_filter(${tokensSql("text")}, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"
    val scoreCols = langProfiles
      .map { case (l, ws) => s"${scoreSql(ws)} AS score_$l" }.mkString(",\n  ")
    val best = s"greatest(${langProfiles.map { case (l, _) => s"score_$l" }.mkString(",")})"
    val pred = langProfiles.map { case (l, _) =>
      s"WHEN score_$l = $best THEN '$l'"
    }.mkString("CASE ", " ", " END")
    s"""WITH scored AS (
       |  SELECT doc_id, lang AS lang_actual,
       |  $scoreCols
       |  FROM documents)
       |SELECT doc_id, lang_actual,
       |  ${langProfiles.map { case (l, _) => s"score_$l" }.mkString(", ")},
       |  $pred AS lang_pred
       |FROM scored""".stripMargin
  }

  /** Language-ID confusion matrix: (actual, predicted) → count — the
    * evaluation report for [[languageId]]'s classifier (per-class
    * precision/recall derive from its marginals). One hash aggregate
    * over the map-only scoring pass; output cardinality is |langs|². */
  def languageConfusion(docs: DataFrame): DataFrame =
    languageId(docs)
      .groupBy(col("lang_actual"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))

  val languageConfusionSql: String =
    s"""WITH ids AS ($languageIdSql)
       |SELECT lang_actual, lang_pred, count(*) AS n
       |FROM ids GROUP BY lang_actual, lang_pred""".stripMargin

  // --- quality scoring (x6) ----------------------------------------------

  /** Stopword list for the quality ratio (fixture's closest analog of
    * function words). */
  val stopwords: Seq[String] = Seq("the", "a", "fast", "slow", "big", "small")

  /** Per-document quality heuristics: token count, distinct-token ratio,
    * stopword ratio, mean token length. All integer-derived divisions →
    * bit-identical doubles in any engine. Zero shuffle. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val nUniq = size(array_distinct(toks)).cast("double")
    val nStop = size(filter(toks, t => t.isInCollection(stopwords))).cast("double")
    // single-space-joined tokens: mean token length derivable exactly
    val meanLen = (length(col("text")) - (size(toks) - 1)).cast("double") / nTok
    docs.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      (nUniq / nTok).as("uniq_ratio"),
      (nStop / nTok).as("stopword_ratio"),
      meanLen.as("mean_token_len"))
  }

  val qualityScoreSql: String = {
    val t = tokensSql("text")
    val stop = stopwords.map(w => s"'$w'").mkString(",")
    s"""SELECT doc_id,
       |  len($t) AS n_tokens,
       |  CAST(len(list_distinct($t)) AS DOUBLE) / len($t) AS uniq_ratio,
       |  CAST(len(list_filter($t, x -> x IN ($stop))) AS DOUBLE) / len($t) AS stopword_ratio,
       |  CAST(length(text) - (len($t) - 1) AS DOUBLE) / len($t) AS mean_token_len
       |FROM documents""".stripMargin
  }

  /** Gopher-style quality filter flags (Rae et al.'21 §A1.1 rules, the
    * ones derivable from the fixture's text): word-count bounds, mean
    * word length bounds, max single-token repetition fraction, and the
    * aggregate keep/drop decision. Integer-exact arithmetic throughout;
    * per-row expressions — a map-only pass over the corpus. */
  def qualityFilter(docs: DataFrame,
      minWords: Int = 5, maxWords: Int = 10000,
      minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0,
      maxTopTokenFrac: Double = 0.25): DataFrame = {
    val toks = tokens(col("text"))
    val n = size(toks)
    val meanLen = (length(col("text")) - (n - 1)).cast("double") / n.cast("double")
    val topFrac = topRunCount(toks).cast("double") / n.cast("double")
    val keep = n.between(minWords, maxWords) &&
      meanLen >= minMeanLen && meanLen <= maxMeanLen &&
      topFrac <= maxTopTokenFrac
    docs.select(col("doc_id"), n.as("n_words"),
      meanLen.as("mean_word_len"), topFrac.as("top_token_frac"),
      keep.as("keep"))
  }

  /** Most-frequent element count of a string array = longest equal run
    * of the SORTED array: one sort + one linear scan, O(n log n) per
    * row, vs. the naive max-over-distinct-of-count form which is
    * O(distinct × n) — ~10⁸ comparisons for a 10k-word doc. Runs as the
    * fused native kernel [[graft.functions.TopRunCountExpr]]: the
    * equivalent `aggregate(array_sort(...))` HOF fold is CodegenFallback
    * (per-element lambda dispatch), the same interpreted tax the MinHash
    * kernel removed. Consumers stay map-only codegen'd scans at any
    * corpus size; kernel ≡ builtin-fold equivalence is spec-pinned. */
  private def topRunCount(arr: Column): Column =
    graft.functions.TextKernels.topRunCount(arr)

  /** [[qualityFilter]]'s keep-predicate as oracle SQL over a text
    * expression — the single source for every oracle that embeds the
    * Gopher thresholds (x15's component form, x16/x25's inline form):
    * one place to change a threshold, no chance of the oracles
    * desynchronizing. */
  def qualityKeepSql(textExpr: String, minWords: Int = 5, maxWords: Int = 10000,
      minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0,
      maxTopTokenFrac: Double = 0.25): String = {
    val t = tokensSql(textExpr)
    s"""(len($t) BETWEEN $minWords AND $maxWords
       |      AND CAST(length($textExpr) - (len($t) - 1) AS DOUBLE) / len($t) BETWEEN $minMeanLen AND $maxMeanLen
       |      AND CAST(list_max(list_transform(list_distinct($t),
       |            x -> len(list_filter($t, y -> y = x)))) AS DOUBLE) / len($t) <= $maxTopTokenFrac)""".stripMargin
  }

  def qualityFilterSql(minWords: Int = 5, maxWords: Int = 10000,
      minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0,
      maxTopTokenFrac: Double = 0.25): String = {
    val t = tokensSql("text")
    s"""WITH q AS (
       |  SELECT doc_id,
       |    len($t) AS n_words,
       |    CAST(length(text) - (len($t) - 1) AS DOUBLE) / len($t) AS mean_word_len,
       |    CAST(list_max(list_transform(list_distinct($t),
       |      t -> len(list_filter($t, x -> x = t)))) AS DOUBLE) / len($t) AS top_token_frac
       |  FROM documents)
       |SELECT doc_id, n_words, mean_word_len, top_token_frac,
       |  (n_words BETWEEN $minWords AND $maxWords
       |    AND mean_word_len >= $minMeanLen AND mean_word_len <= $maxMeanLen
       |    AND top_token_frac <= $maxTopTokenFrac) AS keep
       |FROM q""".stripMargin
  }

  // --- repetition metrics (x27) -------------------------------------------

  /** Contiguous word n-grams (NOT distinct, unlike [[shingles]] —
    * repetition IS the signal here). Docs shorter than n words yield one
    * truncated gram, same convention as shingles. */
  def ngrams(c: Column, n: Int): Column = {
    val toks = tokens(c)
    transform(sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(n))))
  }
  def ngramsSql(e: String, n: Int): String = {
    val t = tokensSql(e)
    s"list_transform(range(1, greatest(len($t)-${n - 1}, 1)+1), " +
      s"i -> array_to_string(($t)[i:i+${n - 1}], ' '))"
  }

  /** Gopher-style repetition filter (Rae et al.'21 §A1.1's "repetitious
    * text" rules): fraction of bigram occurrences claimed by the single
    * most frequent bigram, and fraction of trigram occurrences that are
    * repeats — boilerplate and template spam score high on both long
    * before exact dedup would catch them. Adapted to the fixture: n=2/3
    * (the paper uses 2–4 and 5–10 over much longer documents) and
    * occurrence-weighted rather than character-weighted fractions —
    * thresholds are parameters. The top-bigram count reuses the
    * sorted-run fold ([[topRunCount]]); everything is per-row column
    * expressions, so the filter is a map-only pass at any corpus size. */
  def repetitionMetrics(docs: DataFrame,
      maxTopBigramFrac: Double = 0.20,
      maxDupTrigramFrac: Double = 0.30): DataFrame = {
    val bg = ngrams(col("text"), 2)
    val tg = ngrams(col("text"), 3)
    val nBg = size(bg)
    val topBgFrac = topRunCount(bg).cast("double") / nBg.cast("double")
    val dupTgFrac = (size(tg) - size(array_distinct(tg))).cast("double") /
      size(tg).cast("double")
    docs.select(col("doc_id"), nBg.as("n_bigrams"),
      topBgFrac.as("top_bigram_frac"), dupTgFrac.as("dup_trigram_frac"),
      (topBgFrac <= maxTopBigramFrac && dupTgFrac <= maxDupTrigramFrac)
        .as("keep_rep"))
  }

  /** [[repetitionMetrics]] oracle. The naive O(distinct×n) top-count
    * form is fine oracle-side (DuckDB checks correctness, not scale). */
  def repetitionMetricsSql(maxTopBigramFrac: Double = 0.20,
      maxDupTrigramFrac: Double = 0.30): String =
    s"""WITH g AS (
       |  SELECT doc_id, ${ngramsSql("text", 2)} AS bg, ${ngramsSql("text", 3)} AS tg
       |  FROM documents
       |), m AS (
       |  SELECT doc_id, len(bg) AS n_bigrams,
       |    CAST(list_max(list_transform(list_distinct(bg),
       |      x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / len(bg) AS top_bigram_frac,
       |    CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE) / len(tg) AS dup_trigram_frac
       |  FROM g)
       |SELECT doc_id, n_bigrams, top_bigram_frac, dup_trigram_frac,
       |  (top_bigram_frac <= $maxTopBigramFrac
       |    AND dup_trigram_frac <= $maxDupTrigramFrac) AS keep_rep
       |FROM m""".stripMargin

  // --- TF-IDF (x28) -------------------------------------------------------

  /** Top-k most distinctive terms per document by smoothed TF-IDF
    * (`tf · ln((N+1)/(df+1))`). The plan at scale: one explode →
    * (doc, token) hash-aggregate with map-side combine (TF), the
    * document-frequency aggregate DERIVED from the TF frame (tokens are
    * already distinct per doc there — no second corpus pass), a
    * vocabulary-sized join back, and a per-doc top-k window (doc_id
    * partitions are token-bounded, so the window scales out). The corpus
    * count collapses to one broadcast row, same shape as
    * [[graft.operators.Dedup.contamination]]'s vocabulary. Ranking uses
    * the 6dp-ROUNDED score on both engines (ln's last ulp may differ
    * across libm implementations; the rounded value is the compared AND
    * the ordered quantity, so ranks can never disagree). */
  def tfIdfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(df, "token").crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") *
        log((col("n") + lit(1.0)) / (col("df") + lit(1.0))), 6))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("token"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("doc_id", "rank", "token", "tf", "df", "tfidf")
  }

  def tfIdfTopTermsSql(k: Int = 3): String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${tokensSql("text")}) AS token FROM documents
       |), tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
       |), df AS (
       |  SELECT token, count(*) AS df FROM tf GROUP BY token
       |), n AS (SELECT count(*) AS n FROM documents),
       |s AS (
       |  SELECT doc_id, tf.token, tf, df,
       |    round(tf * ln((n.n + 1.0) / (df + 1.0)), 6) AS tfidf
       |  FROM tf JOIN df USING (token) CROSS JOIN n
       |), r AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY tfidf DESC, token) AS rank
       |  FROM s QUALIFY rank <= $k
       |)
       |SELECT doc_id, rank, token, tf, df, tfidf FROM r""".stripMargin

  // --- PII scrubbing (x29) ------------------------------------------------

  /** Redaction patterns shared with the oracle (kept to the regex subset
    * Java and DuckDB interpret identically). Order matters: emails are
    * matched before bare number runs. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val LongNumRe = "[0-9]{7,}"

  /** PII scrub: replace emails / IPv4s / long digit runs with typed
    * placeholders and count each redaction class. Pure per-row regex
    * expressions — map-only at any corpus size; counting runs on the
    * ORIGINAL text, replacement cascades ordered so an IP inside an
    * already-redacted email can't double-count. Takes the text column as
    * an expression so callers can scrub composed/JSON-extracted fields. */
  def piiScrub(docs: DataFrame, text: Column): DataFrame = {
    val t = lower(text)
    val clean = regexp_replace(
      regexp_replace(
        regexp_replace(t, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      LongNumRe, "<NUM>")
    docs.select(col("doc_id"),
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(t, lit(Ipv4Re), lit(0))).as("n_ips"),
      clean.as("clean_text"))
  }

  /** [[piiScrub]] oracle over a text expression (DuckDB regexp_replace
    * needs the 'g' flag for replace-all — Spark's replaces all by
    * default). */
  def piiScrubSql(textExpr: String): String = {
    val t = s"lower($textExpr)"
    s"""SELECT doc_id,
       |  len(regexp_extract_all($t, '$EmailRe')) AS n_emails,
       |  len(regexp_extract_all($t, '$Ipv4Re')) AS n_ips,
       |  regexp_replace(regexp_replace(regexp_replace($t,
       |    '$EmailRe', '<EMAIL>', 'g'),
       |    '$Ipv4Re', '<IP>', 'g'),
       |    '$LongNumRe', '<NUM>', 'g') AS clean_text
       |FROM documents""".stripMargin
  }

  // --- token counting (x7) -----------------------------------------------

  /** BPE-ish token regex: letter runs, digit runs, single other symbols —
    * the pre-tokenizer split rule of byte-pair encoders. Whitespace via
    * [[WsClass]], not `\s` (Java/RE2 divergence on \x0B). */
  val BpePattern = s"[a-z]+|[0-9]+|[^a-z0-9$WsClass]"

  /** Whitespace token count + BPE-ish subword-unit count per document. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).as("ws_tokens"),
      size(regexp_extract_all(lower(col("text")), lit(BpePattern), lit(0)))
        .as("bpe_tokens"))

  val tokenCountsSql: String =
    s"""SELECT doc_id,
       |  len(${tokensSql("text")}) AS ws_tokens,
       |  len(regexp_extract_all(lower(text), '$BpePattern')) AS bpe_tokens
       |FROM documents""".stripMargin

  // --- SimHash (x8) ------------------------------------------------------

  val SimHashBits = 32

  /** 32-bit SimHash per document: each word 3-shingle votes ±1 on every
    * bit of its hash; the fingerprint sets bits with positive tally.
    * Near-duplicate docs differ in few bits (Charikar'02 — see
    * Charikar'02). Shingles, not unigrams: a small shared vocabulary makes
    * unigram votes identical across documents, while shingle sets are
    * discriminative. Entirely per-row array expressions: at scale this
    * is a map-only pass. */
  def simHash(docs: DataFrame): DataFrame = {
    // fused native kernel: one md5 + one bit-vote loop per row (the
    // builtin form ran the md5 chain per element through an interpreted
    // transform plus 32 interpreted filter passes — PipelineSpec pins
    // kernel ≡ builtin). Blank docs (null shingles) keep the builtin
    // form's value: every vote CASE fell through to 0.
    val value = coalesce(
      graft.functions.TextKernels.simHash(shingles(col("text")), SimHashBits),
      lit(0L))
    docs.select(col("doc_id"), value.as("simhash"))
  }

  val simHashSql: String = {
    val hs = s"list_transform(${shinglesSql("text")}, t -> ${hash32Sql("t")})"
    val terms = (0 until SimHashBits).map { b =>
      s"(CASE WHEN 2*len(list_filter(hs, h -> (h >> $b) & 1 = 1)) > len(hs) THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH h AS (SELECT doc_id, $hs AS hs FROM documents)
       |SELECT doc_id, $terms AS simhash FROM h""".stripMargin
  }

  // --- unigram surprisal (x38) --------------------------------------------

  /** Unigram-LM surprisal per document: average bits per token,
    * −(1/n)·Σ log₂ p(tᵢ), with p estimated from the corpus's own term
    * frequencies — the deterministic stand-in for the LM-perplexity
    * quality filter every serious curation pipeline runs (CCNet,
    * Wenzek et al. LREC'20, scores docs by LM perplexity and keeps the
    * low/middle bands; a unigram model is the same MECHANISM with an
    * oracle-checkable estimator). High bits-per-token = rare/garbled
    * text, low = boilerplate-common tokens.
    *
    * Scale/determinism shape:
    *  - TF pass: one explode→hash-aggregate (map-side combined) — the
    *    x4 shuffle; the token total is a one-row broadcast;
    *  - scoring pass: exploded tokens equi-join the per-token log-prob
    *    frame on `token` (planner broadcasts while the vocab is small;
    *    at open-vocabulary scale it degrades to a keyed shuffle, never
    *    a driver collect), then one hash-aggregate per doc;
    *  - per-token log₂ p is rounded to 9 dp and summed as
    *    DECIMAL(18,9): decimal addition is EXACT and order-independent,
    *    so partial-aggregation order — the classic float-sum
    *    nondeterminism — cannot flip the result between runs or
    *    engines. The only float op left is log₂ itself (1-ulp libm
    *    risk, absorbed by the 9-dp grid same as the cosine recipes). */
  def unigramSurprisal(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val total = tok.agg(count(lit(1)).as("total"))
    val lp = tok.groupBy("token").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .select(col("token"),
        round(log2(col("n") / col("total")), 9).cast("decimal(18,9)").as("lp"))
    tok.join(lp, "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp")).as("slp"))
      .select(col("doc_id"), col("n_tokens"),
        round(-col("slp").cast("double") / col("n_tokens"), 6).as("bits_per_token"))
  }

  val unigramSurprisalSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${tokensSql("text")}) AS token FROM documents
       |), tot AS (
       |  SELECT count(*) AS total FROM tok
       |), lp AS (
       |  SELECT token, CAST(round(log2(n / total), 9) AS DECIMAL(18,9)) AS lp
       |  FROM (SELECT token, count(*) AS n FROM tok GROUP BY token), tot
       |), agg AS (
       |  SELECT doc_id, count(*) AS n_tokens, sum(lp) AS slp
       |  FROM tok JOIN lp USING (token) GROUP BY doc_id
       |)
       |SELECT doc_id, n_tokens,
       |  round(-CAST(slp AS DOUBLE) / n_tokens, 6) AS bits_per_token
       |FROM agg""".stripMargin

  // --- bigram surprisal (x45) ---------------------------------------------

  /** Bigram-LM surprisal per document: average bits per bigram,
    * −(1/m)·Σ log₂ p(w₂|w₁), with the conditional estimated from the
    * corpus's own bigram counts (c(w₁w₂)/c(w₁·)) — one model order up
    * from [[unigramSurprisal]], and a materially sharper quality signal:
    * a doc of individually-common tokens in implausible ORDER (shuffled
    * text, keyword-stuffed spam, boilerplate splices) scores high here
    * while the unigram model waves it through. Same CCNet-style use:
    * keep the low/middle perplexity bands.
    *
    * Scale shape: bigram extraction is a per-doc window (`lead` over
    * token position — partitions by doc, parallel across the corpus, no
    * cross-doc traffic); the two count aggregates and the count-join
    * shuffle on token keys, the same shape as any term-frequency pass.
    * Per-bigram log-probs are rounded onto a 10⁻⁹ decimal grid before
    * the per-doc sum — decimal addition is associative, so the result is
    * independent of Spark's partial-aggregation order AND bit-identical
    * to the oracle's (the x38 device). Docs with < 2 tokens have no
    * bigrams and drop out, in both engines. */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .withColumnRenamed("col", "token")
    val big = tok
      .withColumn("w2",
        lead(col("token"), 1).over(Window.partitionBy("doc_id").orderBy("pos")))
      .where(col("w2").isNotNull)
      .select(col("doc_id"), col("token").as("w1"), col("w2"))
    val pref = big.groupBy("w1").agg(count(lit(1)).as("np"))
    val lp = big.groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      .join(pref, "w1")
      .select(col("w1"), col("w2"),
        round(log2(col("n") / col("np")), 9).cast("decimal(18,9)").as("lp"))
    big.join(lp, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("slp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("slp").cast("double") / col("n_bigrams"), 6)
          .as("bits_per_bigram"))
  }

  val bigramSurprisalSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${tokensSql("text")}) AS token,
       |    generate_subscripts(${tokensSql("text")}, 1) AS pos
       |  FROM documents
       |), big AS (
       |  SELECT doc_id, token AS w1,
       |    lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       |  FROM tok QUALIFY w2 IS NOT NULL
       |), pref AS (
       |  SELECT w1, count(*) AS np FROM big GROUP BY w1
       |), lp AS (
       |  SELECT w1, w2, CAST(round(log2(n / np), 9) AS DECIMAL(18,9)) AS lp
       |  FROM (SELECT w1, w2, count(*) AS n FROM big GROUP BY w1, w2)
       |  JOIN pref USING (w1)
       |), agg AS (
       |  SELECT doc_id, count(*) AS n_bigrams, sum(lp) AS slp
       |  FROM big JOIN lp USING (w1, w2) GROUP BY doc_id
       |)
       |SELECT doc_id, n_bigrams,
       |  round(-CAST(slp AS DOUBLE) / n_bigrams, 6) AS bits_per_bigram
       |FROM agg""".stripMargin

  // --- surprisal bands (x46) ----------------------------------------------

  /** CCNet's head/middle/tail banding (Wenzek et al. LREC'20 §4.3): rank
    * each language's documents by LM surprisal ([[unigramSurprisal]])
    * and cut into `nBands` equal-population bands — band 1 = lowest
    * surprisal ("head", cleanest), band `nBands` = "tail" (CCNet trains
    * on head+middle and drops tail). This is the DECISION step the
    * surprisal score exists for; per-language banding matters because
    * raw surprisal is not comparable across languages.
    *
    * Determinism: the band edge is a pure function of rank, and the
    * rank order is total (surprisal already rounded to 6 dp, ties broken
    * by doc_id), so both engines cut identically. Scale shape: scoring
    * is the audited x38 pass; banding is one window per language —
    * parallel across languages, the same cost class as any per-stratum
    * window in [[graft.operators.Sampling]], but a language IS one sort
    * partition: a corpus dominated by one language rides on a single
    * straggler task. That is acceptable at per-snapshot report cardinality
    * and exactness is what the oracle checks; for the 100 TB path use
    * [[surprisalBandsApprox]], which replaces the rank window with
    * approximate-quantile cutoffs and a map-only assignment. */
  def surprisalBands(docs: DataFrame, nBands: Int = 3): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(col("bits_per_token"), col("doc_id"))
    unigramSurprisal(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("bits_per_token"),
        ntile(nBands).over(w).cast("long").as("band"))
  }

  /** [[surprisalBands]]' 100 TB shape: per-language band CUTOFFS via
    * `percentile_approx` (one aggregate — no per-language sort
    * partition, no straggler on a dominant language), then band
    * assignment as a map-only comparison against the broadcast cutoff
    * row. Bands are approximate at the boundaries (quantile-sketch
    * error + ties land whole tie-groups on one side) but each doc's
    * band is within one of the exact cut for any reasonable accuracy —
    * spec-pinned against [[surprisalBands]] on the fixture. Not
    * oracle-registered: the sketch is Spark-internal, so there is no
    * engine-independent declarative twin. */
  def surprisalBandsApprox(docs: DataFrame, nBands: Int = 3,
      accuracy: Int = 10000): DataFrame = {
    val scored = unigramSurprisal(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val cuts = scored.groupBy("lang").agg(
      percentile_approx(col("bits_per_token"),
        array((1 until nBands).map(i => lit(i.toDouble / nBands)): _*),
        lit(accuracy)).as("cuts"))
    scored.join(broadcast(cuts), "lang")
      .select(col("doc_id"), col("lang"), col("bits_per_token"),
        aggregate(col("cuts"), lit(1L), (acc, c) =>
          acc + when(col("bits_per_token") > c, lit(1L)).otherwise(lit(0L)))
          .as("band"))
  }

  def surprisalBandsSql(nBands: Int = 3): String =
    s"""WITH scored AS (
       |  SELECT doc_id, bits_per_token FROM (
       |$unigramSurprisalSql
       |  )
       |)
       |SELECT s.doc_id, d.lang, s.bits_per_token,
       |  ntile($nBands) OVER (PARTITION BY d.lang
       |    ORDER BY s.bits_per_token, s.doc_id) AS band
       |FROM scored s JOIN documents d USING (doc_id)""".stripMargin

  // --- rolling-hash fingerprint (x9) --------------------------------------

  val GramLen = 8

  /** Document fingerprint: minimum hash over all character 8-grams of the
    * normalized text (the "min" selection step of winnowing, doc-global
    * window). Content-defined, so it survives token reordering at the
    * edges. Per-row expression — map-only at scale. */
  def fingerprint(docs: DataFrame): DataFrame = {
    val norm = normText(col("text"))
    val fp = array_min(transform(
      sequence(lit(1), greatest(length(norm) - (GramLen - 1), lit(1))),
      i => hash32(norm.substr(i, lit(GramLen)))))
    docs.select(col("doc_id"), fp.as("fingerprint"))
  }

  val fingerprintSql: String = {
    val n = normTextSql("text")
    s"""WITH nrm AS (SELECT doc_id, $n AS nt FROM documents)
       |SELECT doc_id,
       |  list_min(list_transform(range(1, greatest(length(nt)-${GramLen - 1}, 1)+1),
       |    i -> ${hash32Sql(s"substr(nt, i, $GramLen)")})) AS fingerprint
       |FROM nrm""".stripMargin
  }

  // --- BM25 ranked retrieval (x56) ----------------------------------------

  /** Okapi BM25 parameters (Robertson et al., TREC-3): the textbook
    * defaults. Interpolated into BOTH the Spark plan and the oracle SQL
    * (the x51 single-constant rule). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** BM25 top-k ranked retrieval over the corpus for a fixed query-term
    * batch — the lexical half of hybrid search (the ANN family is the
    * dense half; the reference feeds documents INTO a search index, and
    * this closes the loop by serving the ranked lookup itself).
    * `score(d,q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`
    * with the Lucene non-negative idf `ln((N−df+0.5)/(df+0.5)+1)`.
    *
    * Scale shape: tf / dl / df are map-side-combined hash aggregates
    * (one row per (doc, term) / doc / term on the wire); the query
    * terms, their df and the corpus N/avgdl enter the plan as
    * literals; scoring is map-only; the
    * final top-k windows per query over docs that matched ≥ 1 query
    * term. Determinism is the x38 device applied to scoring: each
    * (doc, term) partial score lands on a 10⁻⁹ decimal grid BEFORE the
    * per-(query, doc) sum (associative — partial-agg order can't move
    * it), the summed score is rounded to 6 dp BEFORE ranking (the
    * cosine convention), doc_id breaks ties. */
  def bm25TopK(docs: DataFrame, queries: Seq[(Long, Seq[String])],
      k: Int, checkpointDir: Option[String] = None): DataFrame = {
    val (tf, dl) = bm25Stats(docs, checkpointDir)
    bm25TopKFrom(tf, dl, queries, k)
  }

  /** The per-document lexical index frames BM25 serves from:
    * `(doc_id, token, tf)` and `(doc_id, dl)`. Both are PER-DOC local —
    * a doc's rows depend on its text alone — which is what makes them
    * incrementally maintainable: a corpus slice's stats computed in
    * isolation equal its stats within the full corpus, so an artifact
    * of appended per-batch slices IS the full index
    * ([[graft.streaming.StreamingLexical]] builds exactly that).
    *
    * `tf` is MATERIALIZED (the [[Dedup.materialize]] band-frame
    * convention; reliable when `checkpointDir` set): it feeds three
    * consumers (the scoring join, `dl`, and df), and the initial
    * physical plan otherwise repeats the scan+tokenize subtree per
    * consumer — AQE's runtime stage reuse recovered only one of the
    * three copies when measured, so at corpus scale the 100 TB
    * tokenization pass would run twice. `dl` then derives from the
    * materialized `tf` (sum of a doc's term counts) — the doc_id
    * shuffle moves already-combined (doc, term) rows, never raw
    * tokens. */
  def bm25Stats(docs: DataFrame,
      checkpointDir: Option[String] = None): (DataFrame, DataFrame) = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val tf = Dedup.materialize(
      tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf")), checkpointDir)
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    (tf, dl)
  }

  /** The corpus-level BM25 constants: N (scoring units in `dl`) and
    * avgdl (their mean length). */
  final case class Bm25Corpus(n: Long, avgdl: Double)

  /** [[Bm25Corpus]] of a `dl` frame — one aggregate collected to the
    * driver. avgdl is `(double) Σdl / N`, the same IEEE division the
    * in-plan form computed, so scores are unchanged bit for bit. A
    * caller over an immutable snapshot computes it once
    * ([[graft.serve.Retrieval]] per `load`); callers over live frames
    * compute it per call (the [[bm25TopKFrom]] default). */
  def bm25CorpusOf(dl: DataFrame): Bm25Corpus = {
    val r = dl.agg(count(lit(1)), sum(col("dl"))).head()
    val n = r.getLong(0)
    Bm25Corpus(n, if (r.isNullAt(1)) Double.NaN else r.getLong(1).toDouble / n)
  }

  /** The ONE BM25 scoring chain every lexical serve ranks through —
    * doc-level ([[bm25TopKFrom]], key = doc_id) and chunk-level
    * ([[bm25ChunkTopKFrom]], key = (doc_id, chunk_id)) are the same
    * arithmetic over a different unit, so the formula, the decimal
    * grid, and the prune live in exactly one place.
    *
    * Postings are pruned to the QUERY terms before anything joins: a
    * literal IN-filter, not a join — the terms are plan-time
    * constants, so the prune PUSHES INTO a stored tf scan
    * (PushedFilters) and the tf⋈dl join moves only the queried
    * posting lists, never the corpus. df counted on the pruned frame
    * is exact (restricting rows to a token cannot change that token's
    * df); it is ONE collect of |terms| rows, and df, the term → query
    * fan-out and N/avgdl (`corpus`, computed from `dl` when absent)
    * all enter the scoring plan as literals, not broadcast relations —
    * each broadcast would cost the call a Spark job of its own. Each
    * (query, key, term) partial lands on the 10⁻⁹ decimal
    * grid BEFORE the per-(query, key) sum (associative — partial-agg
    * order can't move it); the summed score rounds to 6 dp before any
    * caller ranks. Returns `(query_id, keyCols…, score)`.
    *
    * `allowed` = candidate restriction BEFORE the rank, with GLOBAL
    * df/N/avgdl — the Lucene filter-query semantics: a filter narrows
    * candidates, it does not re-weight the collection. (A post-filter
    * of an unfiltered top-k under-fills; filtering tf itself would
    * silently change every idf.) */
  private def bm25AggScores(tf: DataFrame, dl: DataFrame,
      keyCols: Seq[String], queries: Seq[(Long, Seq[String])],
      allowed: Option[DataFrame], corpus: Option[Bm25Corpus]): DataFrame = {
    val c = corpus.getOrElse(bm25CorpusOf(dl))
    val tfq = tf.where(col("token")
      .isInCollection(queries.flatMap(_._2).distinct))
    val dfreq: Map[String, Long] = tfq.groupBy("token")
      .agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // term → the queries holding it, once per occurrence (a repeated
    // query term counts twice, as the (query, term) rows did)
    val fanout: Map[String, Seq[Long]] = queries
      .flatMap { case (q, ts) => ts.map(t => (t, q)) }
      .groupBy(_._1).map { case (t, qs) => t -> qs.map(_._2) }
    val df = element_at(typedLit(dfreq), col("token"))
    val scored = tfq.join(dl, keyCols)
      .select(col("*"),
        explode(element_at(typedLit(fanout), col("token"))).as("query_id"))
      .select((col("query_id") +: keyCols.map(col)) :+
        round(log((lit(c.n) - df + 0.5) / (df + 0.5) + 1.0)
          * (col("tf") * lit(Bm25K1 + 1))
          / (col("tf") + lit(Bm25K1) *
            (lit(1.0) - lit(Bm25B) + lit(Bm25B) * col("dl") / lit(c.avgdl))), 9)
          .cast("decimal(18,9)").as("s"): _*)
    val agg = scored.groupBy("query_id", keyCols: _*)
      .agg(round(sum(col("s")).cast("double"), 6).as("score"))
    allowed.fold(agg)(a =>
      agg.join(broadcast(a.select("doc_id")), Seq("doc_id"), "left_semi")
        // un-front the join key
        .select((("query_id" +: keyCols) :+ "score").map(col): _*))
  }

  /** BM25 scoring + per-query top-k from prebuilt index frames — the
    * single scoring path both [[bm25TopK]] (batch) and the streaming
    * and snapshot artifacts serve through, so batch/stream/snapshot
    * equivalence is structural, not coincidental. `corpus` passes
    * N/avgdl a caller already holds; absent, they derive here from
    * `dl` (always current over a live frame). */
  def bm25TopKFrom(tf: DataFrame, dl: DataFrame,
      queries: Seq[(Long, Seq[String])], k: Int,
      allowed: Option[DataFrame] = None,
      corpus: Option[Bm25Corpus] = None): DataFrame = {
    val restricted = bm25AggScores(tf, dl, Seq("doc_id"), queries, allowed,
      corpus)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("score"), asc("doc_id"))
    restricted.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  /** The scoring CTE chain shared by [[bm25TopKSql]] and
    * [[bm25ChunkTopKSql]] — the SQL twin of [[bm25AggScores]]'s
    * single-sourcing: emitted once with CTE-name prefix `p` and
    * scoring key `keys`, assuming `${p}tf(keys…, token, tf)` and
    * `${p}dl(keys…, dl)` CTEs precede it; ends with
    * `${p}agg(query_id, keys…, score)`. Same constants, same
    * parenthesization, same decimal grid in both emissions by
    * construction. */
  private def bm25RankCtesSql(p: String, keys: Seq[String],
      queries: Seq[(Long, Seq[String])],
      // swaps the literal query-term VALUES for a derived
      // `(query_id, token)` SELECT — the seam the BPE-symbol serve
      // (x90) threads its in-SQL query encode through, so the oracle's
      // query tokens derive from the SAME learned rules as its index
      qSql: Option[String] = None): String = {
    val qvals = queries
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }.mkString(", ")
    val qCte = qSql
      .map(s => s"${p}q AS (\n$s\n")
      .getOrElse(s"${p}q(query_id, token) AS (VALUES $qvals\n")
    val keyList = keys.mkString(", ")
    s"""${p}stats AS (
       |  SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
       |  FROM ${p}dl
       |), ${p}dfreq AS (
       |  SELECT token, count(*) AS df FROM ${p}tf GROUP BY token
       |), $qCte), ${p}scored AS (
       |  SELECT ${p}q.query_id, ${keys.map(c => s"${p}tf.$c").mkString(", ")},
       |    CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |      * (tf * ${Bm25K1 + 1})
       |      / (tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / avgdl)), 9)
       |      AS DECIMAL(18,9)) AS s
       |  FROM ${p}tf JOIN ${p}dl USING ($keyList) JOIN ${p}dfreq USING (token)
       |    JOIN ${p}q USING (token), ${p}stats
       |), ${p}agg AS (
       |  SELECT query_id, $keyList,
       |    round(CAST(sum(s) AS DOUBLE), 6) AS score
       |  FROM ${p}scored GROUP BY query_id, $keyList
       |)""".stripMargin
  }

  /** [[bm25TopK]] oracle — the shared chain ([[bm25RankCtesSql]]) over
    * doc-keyed tf/dl. `allowedSql`: an optional one-column doc_id
    * subquery restricting candidates before the rank (global stats,
    * the filter-query semantics above). */
  def bm25TopKSql(queries: Seq[(Long, Seq[String])], k: Int,
      allowedSql: Option[String] = None): String = {
    val restrict = allowedSql
      .map(a => s"WHERE doc_id IN ($a)\n").getOrElse("")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${tokensSql("text")}) AS token FROM documents
       |), tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
       |), dl AS (
       |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
       |), ${bm25RankCtesSql("", Seq("doc_id"), queries)}
       |SELECT query_id, doc_id, score,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id) AS rn
       |FROM agg
       |${restrict}QUALIFY rn <= $k""".stripMargin
  }

  /** Merge-rule count of [[bpeMerges]] — 8 learned rules keeps the
    * unrolled oracle chain bounded; a production tokenizer run raises
    * this to the vocabulary budget (the loop cost is per-rule, not
    * per-corpus-row). Single-constant rule: both engines interpolate. */
  val BpeMerges = 8

  /** Symbol separator of the BPE working state — U+0001, absent from
    * any corpus text the tokenizer emits. Each symbol is wrapped
    * INDIVIDUALLY (`sep+sym+sep`, adjacent symbols separated by a
    * DOUBLE separator): with single shared separators, replacing
    * `sep+a+sep+b+sep` consumes the boundary separator and a literal
    * left-to-right replace UNDER-merges consecutive occurrences
    * ("banana" under rule (a,n) would yield [b, an, a, n, a] instead
    * of greedy BPE's [b, an, an, a] — Sennrich's reference avoids this
    * with zero-width regex lookarounds, which DuckDB's RE2 lacks).
    * With per-symbol wrapping, candidate matches share no characters,
    * so non-overlapping left-to-right literal replacement IS the
    * greedy within-word merge order in both engines. */
  private val BpeSep = "\u0001"

  /** BPE-style subword vocabulary induction (Sennrich et al., ACL'16) —
    * the tokenizer-training step of an LLM data pipeline: learn the
    * first `k` merge rules over the corpus vocabulary. Each round
    * counts adjacent-symbol pairs across all words (weighted by word
    * frequency, overlapping occurrences counted — the standard
    * convention), merges the most frequent pair corpus-wide
    * (deterministic tie-break: count DESC, then left/right symbol
    * ascending), and repeats on the updated symbol sequences. Output:
    * one row per learned rule `(rank, lhs, rhs, merged, cnt)`.
    *
    * Scale shape: the state is one row per DISTINCT word (vocabulary
    * cardinality, not corpus bytes — the frequency aggregate collapses
    * the corpus once up front); each round is one map-side-combining
    * pair aggregate plus a driver collect of exactly ONE row (the
    * argmax — bounded metadata, the k-means convention), and the merge
    * application is a map-only literal `replace`. The driver loop is
    * `k` rounds of that — identical in shape to [[VectorOps
    * .trainedCentroids]]' Lloyd rounds, and unrolled verbatim in the
    * oracle so every learned rule is cross-engine verified.
    *
    * Mechanics shared with the oracle, step for step: each symbol
    * lives individually wrapped as `sep+sym+sep` ([[BpeSep]] explains
    * why the wrapping — not a shared single separator — is what makes
    * literal replacement exactly BPE-greedy), pairs derive by
    * splitting on the separator and zipping non-empty neighbors, and a
    * merge is the literal replacement
    * `sep+a+sep + sep+b+sep → sep+ab+sep`. Rules can run out before
    * `k` on a degenerate corpus (every word one symbol): both engines
    * then emit the learned prefix — the driver loop stops, the
    * oracle's empty argmax row empties every later round. */
  def bpeMerges(docs: DataFrame, k: Int = BpeMerges,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sep = lit(BpeSep)
    val words = docs.select(explode(tokens(col("text"))).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("w"))
    var st = Dedup.materialize(
      words.select(col("w"),
        expr("concat_ws('', transform(sequence(1, length(word)), " +
          "i -> concat(chr(1), substr(word, i, 1), chr(1))))").as("s")),
      checkpointDir)
    val rules = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var exhausted = false
    for (r <- 1 to k if !exhausted) {
      val syms = expr("filter(split(s, chr(1)), x -> x <> '')")
      val top = st
        .select(col("w"), syms.as("syms"))
        .where(size(col("syms")) >= 2)
        .select(col("w"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("w")).as("cnt"))
        .orderBy(desc("cnt"), asc("l"), asc("r"))
        .limit(1).collect().headOption
      top match {
        case None => exhausted = true // no adjacent pairs left anywhere
        case Some(best) =>
          val (l, rr, cnt) =
            (best.getString(0), best.getString(1), best.getLong(2))
          // checkpoint every 4th round, not every round: the training
          // loop is inherently sequential (one bounded argmax job per
          // rule), and a per-round checkpoint doubled its job count —
          // a ≤4-deep chain of literal `replace`s over the vocab frame
          // is cheap to carry and values are unchanged (the argmax of
          // round r reads the same state either way); the cadence only
          // bounds lineage depth (optimization guide §1.2)
          val next = st.select(col("w"),
            replace(col("s"),
              concat(sep, lit(l), sep, sep, lit(rr), sep),
              concat(sep, lit(l + rr), sep)).as("s"))
          st = if (r % 4 == 0) Dedup.materialize(next, checkpointDir)
            else next
          rules += ((r, l, rr, l + rr, cnt))
      }
    }
    rules.toSeq.toDF("rank", "lhs", "rhs", "merged", "cnt")
  }

  /** The shared training-CTE chain of [[bpeMergesSql]] and
    * [[bpeEncodeSql]]: `w0` (vocabulary frequencies), `st_0..st_k`
    * (the wrapped symbol state per round), `py_r`/`b_r` (pair counts
    * and the one-row argmax per round). Extracted so the encode oracle
    * applies EXACTLY the rules the training oracle learned — one
    * definition, no drift. */
  private def bpeTrainingCtes(k: Int): String = {
    val rounds = (1 to k).map { r =>
      s"""py_$r AS (
         |  SELECT l, r, SUM(w) AS cnt FROM (
         |    SELECT w, syms[i] AS l, syms[i + 1] AS r
         |    FROM (SELECT w, list_filter(string_split(s, chr(1)), x -> x <> '') AS syms
         |          FROM st_${r - 1}),
         |      UNNEST(range(1, len(syms))) AS t(i)
         |  ) GROUP BY l, r
         |), b_$r AS (
         |  SELECT l, r, cnt FROM py_$r ORDER BY cnt DESC, l, r LIMIT 1
         |), st_$r AS (
         |  SELECT w, replace(s,
         |    chr(1) || b.l || chr(1) || chr(1) || b.r || chr(1),
         |    chr(1) || b.l || b.r || chr(1)) AS s
         |  FROM st_${r - 1}, b_$r b
         |)""".stripMargin
    }
    s"""w0 AS (
       |  SELECT word, count(*) AS w FROM (
       |    SELECT unnest(${tokensSql("text")}) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word
       |), st_0 AS (
       |  SELECT w, array_to_string(list_transform(range(1, len(word) + 1),
       |      i -> chr(1) || word[i:i] || chr(1)), '') AS s
       |  FROM w0
       |),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  /** [[bpeMerges]] oracle: the same round structure unrolled — per
    * round, the pair aggregate, a one-row argmax CTE, and the literal
    * replace applied via a cross join of that single row. */
  def bpeMergesSql(k: Int = BpeMerges): String = {
    val out = (1 to k).map(r =>
      s"SELECT CAST($r AS INT) AS rank, l AS lhs, r AS rhs, l || r AS merged, CAST(cnt AS BIGINT) AS cnt FROM b_$r")
      .mkString("\nUNION ALL\n")
    graft.operators.VectorOps.materializedCtes(s"""WITH ${bpeTrainingCtes(k)}
       |$out""".stripMargin)
  }

  /** Token-id offset for MERGED symbols: `0x110000`, one past the last
    * Unicode code point, so `id(merged_r) = 0x110000 + r` can never
    * collide with a base symbol's id (= its code point — merged
    * symbols are always ≥ 2 characters, base symbols exactly 1).
    * Both engines compute base ids with `ascii(sym)` (first-character
    * code point; symbols are single characters by construction). */
  val BpeMergedIdOffset: Long = 0x110000L

  /** Apply learned BPE merge rules to the corpus — the ENCODE step
    * that turns [[bpeMerges]]' vocabulary into the pipeline's actual
    * token counts (packing, budget selection and shard stats in a real
    * training pipeline run on tokenizer tokens, not whitespace tokens).
    *
    * `rules` is the learned merge table in rank order (lhs, rhs) —
    * bounded driver metadata (k rows), broadcast into the plan as
    * literals. Encoding is a map-only fold: each word is wrapped
    * per-symbol exactly as in training ([[BpeSep]] — per-symbol
    * wrapping makes literal left-to-right replacement the greedy merge
    * order), the k replaces apply in rank order, and the surviving
    * symbols become the token stream. Output per document:
    * `(doc_id, [extra...], n_bpe_tokens, token_ids_csv)` where ids are
    * code points for base symbols and [[BpeMergedIdOffset]]` + rank`
    * for merged ones (first matching rule wins when two rules merge to
    * the same string).
    *
    * Scale shape: zero shuffle — one projection over the corpus scan,
    * every expression codegen-friendly column work. The rules are k
    * literals, not a join. */
  /** The per-document BPE symbol-stream column over `rules` — the one
    * encode expression [[bpeEncode]] and [[bpeQualityScored]] project
    * (per-symbol separator wrapping, greedy rule folds, word-boundary
    * flatten). */
  private def bpeSymsCol(text: Column, rules: Seq[(String, String)]): Column = {
    val sep = BpeSep
    def wrap(w: Column): Column = concat_ws("", transform(
      sequence(lit(1), length(w)),
      i => concat(lit(sep), w.substr(i, lit(1)), lit(sep))))
    def encoded(w: Column): Column = rules.foldLeft(wrap(w)) {
      case (s, (l, r)) =>
        replace(s, lit(sep + l + sep + sep + r + sep), lit(sep + l + r + sep))
    }
    def wordSyms(w: Column): Column =
      filter(split(encoded(w), BpeSep), x => x =!= "")
    flatten(transform(filter(tokens(text), w => w =!= ""),
      w => wordSyms(w)))
  }

  /** Symbol → token-id ladder shared by [[bpeEncode]] and
    * [[bpeChunkDocs]]: code points for base symbols,
    * [[BpeMergedIdOffset]]` + rank` for merged ones — first matching
    * rule wins (the when-chain builds outermost = rank 1). */
  private def bpeIdOf(rules: Seq[(String, String)])(s: Column): Column =
    rules.zipWithIndex.reverse.foldLeft(ascii(s).cast("long")) {
      case (els, ((l, r), i)) =>
        when(s === lit(l + r), lit(BpeMergedIdOffset + i + 1)).otherwise(els)
    }

  def bpeEncode(docs: DataFrame, rules: Seq[(String, String)],
      extra: Seq[String] = Nil): DataFrame = {
    val cols = col("doc_id") +: extra.map(col)
    docs.select(cols :+ bpeSymsCol(col("text"), rules).as("syms"): _*)
      .select(cols ++ Seq(
        size(col("syms")).cast("long").as("n_bpe_tokens"),
        array_join(transform(col("syms"),
          s => bpeIdOf(rules)(s).cast("string")), ",")
          .as("token_ids_csv")): _*)
  }

  /** One-pass scored frame for token-TRUE budget selection (x81):
    * `(doc_id, n_tokens = BPE count, uniq_ratio)`. Both columns derive
    * from the same text, so ONE map-only projection produces them —
    * joining [[qualityScore]]'s output with [[bpeEncode]]'s would
    * shuffle two corpus-wide map outputs by id for columns a single
    * scan can compute. The ratio arithmetic is [[qualityScore]]'s
    * exactly. */
  def bpeQualityScored(docs: DataFrame,
      rules: Seq[(String, String)]): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(col("doc_id"),
      size(bpeSymsCol(col("text"), rules)).cast("long").as("n_tokens"),
      (size(array_distinct(toks)).cast("double") /
        size(toks).cast("double")).as("uniq_ratio"))
  }

  /** The encode chain of [[bpeEncodeSql]]/[[bpeEncodePackSql]] shared
    * verbatim: the training CTEs plus a per-document symbol-stream CTE
    * `ec(doc_id, lang, syms)`. The learned one-row `b_r` CTEs join in
    * via `LEFT JOIN ... ON true` and every use NULL-guards with
    * `coalesce(..., chr(2))` (chr(2) never occurs in the state), so a
    * corpus that exhausts before k rules no-ops the spare rounds
    * instead of NULLing the corpus — mirroring the Spark side's
    * shorter `rules` list. */
  /** The learned-rule join list (`LEFT JOIN b_r bbr ON true`) and the
    * per-word encode-chain expression over a variable/column named `w`
    * — the two snippets every SQL-side encode of ANYTHING (corpus
    * docs, query terms) composes from, factored so the folds can never
    * drift. */
  private def bpeRuleJoinsSql(k: Int): String =
    (1 to k).map(r => s"LEFT JOIN b_$r bb$r ON true").mkString(" ")
  private def bpeWordChainSql(k: Int): String =
    (1 to k).foldLeft(
      "array_to_string(list_transform(range(1, len(w) + 1), " +
        "i -> chr(1) || w[i:i] || chr(1)), '')") { (acc, r) =>
      s"""replace($acc,
         |      coalesce(chr(1) || bb$r.l || chr(1) || chr(1) || bb$r.r || chr(1), chr(2)),
         |      coalesce(chr(1) || bb$r.l || bb$r.r || chr(1), chr(2)))""".stripMargin
    }

  private def bpeEncodeCtes(k: Int): String =
    s"""${bpeTrainingCtes(k)},
       |dt AS (
       |  SELECT doc_id, lang, list_filter(${tokensSql("text")}, x -> x <> '') AS toks
       |  FROM documents
       |), ec AS (
       |  SELECT doc_id, lang, flatten(list_transform(toks, w ->
       |    list_filter(string_split(${bpeWordChainSql(k)}, chr(1)), x -> x <> ''))) AS syms
       |  FROM dt ${bpeRuleJoinsSql(k)}
       |)""".stripMargin

  /** [[bpeEncode]] oracle: the training chain of [[bpeMergesSql]]
    * (same CTEs — the applied rules ARE the verified learned rules)
    * plus the per-document replace chain and the id CASE ladder. */
  def bpeEncodeSql(k: Int = BpeMerges): String = {
    val joins = (1 to k).map(r => s"LEFT JOIN b_$r bb$r ON true").mkString(" ")
    val caseId = (1 to k).reverse.foldLeft("CAST(ascii(s) AS BIGINT)") {
      (els, r) =>
        s"CASE WHEN s = bb$r.l || bb$r.r " +
          s"THEN CAST(${BpeMergedIdOffset + r} AS BIGINT) ELSE $els END"
    }
    graft.operators.VectorOps.materializedCtes(
      s"""WITH ${bpeEncodeCtes(k)}
         |SELECT doc_id, CAST(len(syms) AS BIGINT) AS n_bpe_tokens,
         |  array_to_string(list_transform(syms, s -> CAST(($caseId) AS VARCHAR)), ',')
         |    AS token_ids_csv
         |FROM ec $joins""".stripMargin)
  }

  /** BPE-token-TRUE chunking — [[chunkDocs]]' windowing re-metered in
    * the LEARNED tokenizer's units (x74's symbol stream), the chunking
    * an embedding/packing pipeline with a real context limit ships:
    * a context window is a budget in MODEL tokens, and a whitespace
    * meter over-fills it on subword-heavy text. Each doc's BPE symbol
    * stream becomes `ceil((n − overlap) / (window − overlap))` windows
    * (min 1) of up to `window` symbols, consecutive windows sharing
    * `overlap` symbols; output rows are MODEL-READY —
    * `(doc_id, chunk_id, n_bpe_tokens, token_ids_csv)` with the same
    * id space as [[bpeEncode]] — because the consumer of a BPE-metered
    * chunk is the model/packer, not the lexical index ([[chunkDocs]]
    * keeps the text-surface role; see the serve matrix note in
    * SURVEY.md §2.10k).
    *
    * Scale shape: [[chunkDocs]]' exactly — one map-only projection
    * (encode folds + bounded `sequence` explode + array slice per
    * row), zero shuffle; the rules are k literals, not a join. */
  def bpeChunkDocs(docs: DataFrame, rules: Seq[(String, String)],
      window: Int = ChunkWindow, overlap: Int = ChunkOverlap): DataFrame =
    bpeChunkSlices(docs, rules, window, overlap)
      .select(col("doc_id"), col("chunk_id"),
        size(col("cs")).cast("long").as("n_bpe_tokens"),
        array_join(transform(col("cs"),
          s => bpeIdOf(rules)(s).cast("string")), ",").as("token_ids_csv"))

  /** The shared BPE-window slice frame `(doc_id, chunk_id, cs)` (cs =
    * the window's SYMBOL list) behind [[bpeChunkDocs]],
    * [[bpeChunkIds]] and [[bpeChunkBm25Stats]] — one encode + window
    * pass, three projections. PUBLIC as the chunk-once seam for
    * builders that feed several consumers from one materialized pass
    * (the [[chunkBm25StatsFrom]] convention at the BPE meter — the
    * subword postings AND the chunk-vector keys from one slice
    * frame). */
  def bpeChunkSlices(docs: DataFrame, rules: Seq[(String, String)],
      window: Int = BpeChunkWindow,
      overlap: Int = BpeChunkOverlap): DataFrame =
    windowSlices(
      docs.select(col("doc_id"), bpeSymsCol(col("text"), rules).as("t")),
      col("t"), window, overlap)

  /** Just the BPE-window keys `(doc_id, chunk_id)` — what the
    * chunk-vector derivation needs to build a model-context-true chunk
    * index ([[graft.operators.VectorOps.chunkEmbeddingsFrom]] keys
    * vectors by (doc, window); this hands it BPE windows without
    * paying [[bpeChunkDocs]]' id-ladder projection). */
  def bpeChunkIds(docs: DataFrame, rules: Seq[(String, String)],
      window: Int = BpeChunkWindow,
      overlap: Int = BpeChunkOverlap): DataFrame =
    bpeChunkSlices(docs, rules, window, overlap).select("doc_id", "chunk_id")

  /** Chunk-level lexical index over BPE-METERED windows — the
    * [[chunkBm25Stats]] frames with the chunk unit swapped to the
    * model-context-true window and the token unit to the learned
    * tokenizer's SYMBOLS: `(doc_id, chunk_id, token = symbol, tf)` and
    * `(doc_id, chunk_id, dl = window symbol count)`. Subword symbols
    * as the lexical unit is the standard trick for matching quality on
    * morphology-rich text, and it is forced here anyway: a BPE window
    * is a span of the symbol stream, not of the text surface. Queries
    * against this index encode with the SAME rules
    * ([[bpeEncodeTerms]]), the tokenize-with-the-engine's-rule
    * symmetry at the subword level.
    *
    * Scale shape: [[chunkBm25Stats]]' exactly — map-only encode +
    * window explode, then the tf/dl aggregates; per-doc local, so the
    * bucket-merge incremental-maintenance argument carries over. */
  def bpeChunkBm25Stats(docs: DataFrame, rules: Seq[(String, String)],
      window: Int = BpeChunkWindow, overlap: Int = BpeChunkOverlap,
      checkpointDir: Option[String] = None): (DataFrame, DataFrame) =
    bpeChunkBm25StatsFrom(bpeChunkSlices(docs, rules, window, overlap),
      checkpointDir)

  /** [[bpeChunkBm25Stats]] over a PREBUILT slice frame — the seam that
    * lets one [[bpeChunkSlices]] pass feed both the subword postings
    * and the chunk-vector derivation (the chunk-once convention). */
  def bpeChunkBm25StatsFrom(slices: DataFrame,
      checkpointDir: Option[String] = None): (DataFrame, DataFrame) = {
    val tok = slices
      .select(col("doc_id"), col("chunk_id"), explode(col("cs")).as("token"))
    val ctf = Dedup.materialize(
      tok.groupBy("doc_id", "chunk_id", "token").agg(count(lit(1)).as("tf")),
      checkpointDir)
    val cdl = ctf.groupBy("doc_id", "chunk_id").agg(sum(col("tf")).as("dl"))
    (ctf, cdl)
  }

  /** Driver-side BPE encode of bounded query terms — the EXACT mirror
    * of [[bpeSymsCol]]'s column fold (same per-symbol separator
    * wrapping, same greedy rank-order replaces, same split), applied
    * to a query batch the way [[graft.operators.HybridOps
    * .tokenizeQueries]] applies the whitespace rule: querying a
    * BPE-symbol index can never disagree with indexing on symbol
    * boundaries. Java's `String.replace` and Spark's `replace` both
    * substitute every non-overlapping occurrence left-to-right, so the
    * two folds are the same computation (spec-pinned against the
    * column output over the fixture vocabulary, non-BMP included).
    * The initial wrap is per Unicode CODE POINT, not UTF-16 code unit
    * — [[bpeSymsCol]] wraps via Spark `substr`/`length` and the oracle
    * via DuckDB `w[i:i]`, both code-point-indexed, so a per-Char wrap
    * would split surrogate pairs on non-BMP query text into symbols
    * the index never contains (silent recall loss). */
  def bpeEncodeTerms(terms: Seq[String],
      rules: Seq[(String, String)]): Seq[String] =
    terms.filter(_.nonEmpty).flatMap { w =>
      val wrapped = w.codePoints().toArray
        .map(cp => s"$BpeSep${new String(Character.toChars(cp))}$BpeSep")
        .mkString
      val enc = rules.foldLeft(wrapped) { case (s, (l, r)) =>
        s.replace(s"$BpeSep$l$BpeSep$BpeSep$r$BpeSep", s"$BpeSep$l$r$BpeSep")
      }
      enc.split(BpeSep).filter(_.nonEmpty).toSeq
    }

  /** Symbol window / overlap of the BPE-metered chunk INDEX (x90) —
    * distinct from [[ChunkWindow]] on purpose: a model context is
    * budgeted in SUBWORD tokens, which run ~4-6× denser than
    * whitespace tokens on this corpus (8 learned rules leave most
    * symbols single characters), so the symbol window is 4× the word
    * window — textually comparable spans, and the chunk-vector corpus
    * stays index-sized instead of exploding 6×. Single-constant rule:
    * both engines interpolate. */
  val BpeChunkWindow = 256
  val BpeChunkOverlap = 64

  /** The BPE-window lexical CTE list (no WITH prefix), ending at
    * `clex(query_id, doc_id, chunk_id, score, rn)` with `rn <= k`
    * applied — single-sourced for [[bpeChunkBm25TopKSql]] and the
    * fused [[graft.operators.HybridOps.bpeChunkHybridSql]], whose
    * dense half SHARES the `bcc` window CTE emitted here (the
    * chunk-once convention in SQL). Queries carry RAW whitespace
    * terms: they encode to symbols IN SQL through the same learned
    * one-row rule CTEs the index encodes with ([[bpeWordChainSql]]
    * over the term column), so the engine's driver-side
    * [[bpeEncodeTerms]] query encode is itself oracle-gated. */
  private[operators] def bpeChunkLexCtesSql(
      queries: Seq[(Long, Seq[String])], k: Int,
      kRules: Int = BpeMerges, window: Int = BpeChunkWindow,
      overlap: Int = BpeChunkOverlap,
      allowedSql: Option[String] = None): String = {
    // pre-filter semantics ([[bm25ChunkTopKSql]]'s restrict placement):
    // all of a filtered doc's windows drop BEFORE the ranks, subword
    // df/N/avgdl stay collection-global
    val restrict = allowedSql
      .map(a => s"  WHERE doc_id IN ($a)\n").getOrElse("")
    val qvals = queries
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }.mkString(", ")
    val qEncodeSql =
      s"""  SELECT query_id,
         |    unnest(list_filter(string_split(${bpeWordChainSql(kRules)},
         |      chr(1)), x -> x <> '')) AS token
         |  FROM (VALUES $qvals) cq0(query_id, w) ${bpeRuleJoinsSql(kRules)}
         |  WHERE w <> ''""".stripMargin
    s"""${bpeEncodeCtes(kRules)},
       |${windowSlicesSql("bc", "ec", "syms", window, overlap)},
       |ltok AS (
       |  SELECT doc_id, chunk_id, unnest(cs) AS token FROM bcc
       |), ltf AS (
       |  SELECT doc_id, chunk_id, token, count(*) AS tf
       |  FROM ltok GROUP BY doc_id, chunk_id, token
       |), ldl AS (
       |  SELECT doc_id, chunk_id, count(*) AS dl
       |  FROM ltok GROUP BY doc_id, chunk_id
       |), ${bm25RankCtesSql("l", Seq("doc_id", "chunk_id"), queries,
            qSql = Some(qEncodeSql))},
       |lbest AS (
       |  SELECT query_id, doc_id, chunk_id, score
       |  FROM lagg
       |$restrict  QUALIFY row_number() OVER (PARTITION BY query_id, doc_id
       |    ORDER BY score DESC, chunk_id) = 1
       |), clex AS (
       |  SELECT query_id, doc_id, chunk_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS rn
       |  FROM lbest
       |  QUALIFY rn <= $k
       |)""".stripMargin
  }

  /** [[bpeChunkBm25Stats]] + [[bm25ChunkTopKFrom]] oracle — the
    * BPE-window twin of [[bm25ChunkTopKSql]], thin wrapper over
    * [[bpeChunkLexCtesSql]]. */
  def bpeChunkBm25TopKSql(queries: Seq[(Long, Seq[String])], k: Int,
      kRules: Int = BpeMerges, window: Int = BpeChunkWindow,
      overlap: Int = BpeChunkOverlap): String =
    graft.operators.VectorOps.materializedCtes(
      s"""WITH ${bpeChunkLexCtesSql(queries, k, kRules, window, overlap)}
         |SELECT query_id, doc_id, chunk_id, score, rn FROM clex""".stripMargin)

  /** The BPE-window keys as a standalone subquery `(doc_id,
    * chunk_id)` — [[bpeChunkIds]]' oracle twin, composed into the
    * chunk-dense chain via [[graft.operators.VectorOps
    * .chunkIvfPqMaxSimSql]]'s `chunkIdsSql` seam. */
  def bpeChunkIdsSql(kRules: Int = BpeMerges, window: Int = BpeChunkWindow,
      overlap: Int = BpeChunkOverlap): String =
    s"""WITH ${bpeEncodeCtes(kRules)},
       |${windowSlicesSql("bc", "ec", "syms", window, overlap)}
       |SELECT doc_id, chunk_id FROM bcc""".stripMargin

  /** [[bpeChunkDocs]] oracle: [[bpeEncodeSql]]'s train + encode CTEs
    * (the applied rules ARE the verified learned rules), then
    * [[chunkDocsSql]]'s integer window arithmetic over the symbol
    * list, then the id CASE ladder over each window's symbols. */
  def bpeChunkDocsSql(k: Int = BpeMerges, window: Int = ChunkWindow,
      overlap: Int = ChunkOverlap): String = {
    val joins = (1 to k).map(r => s"LEFT JOIN b_$r bb$r ON true").mkString(" ")
    val caseId = (1 to k).reverse.foldLeft("CAST(ascii(s) AS BIGINT)") {
      (els, r) =>
        s"CASE WHEN s = bb$r.l || bb$r.r " +
          s"THEN CAST(${BpeMergedIdOffset + r} AS BIGINT) ELSE $els END"
    }
    graft.operators.VectorOps.materializedCtes(
      s"""WITH ${bpeEncodeCtes(k)},
         |${windowSlicesSql("bc", "ec", "syms", window, overlap)}
         |SELECT doc_id, chunk_id, CAST(len(cs) AS BIGINT) AS n_bpe_tokens,
         |  array_to_string(list_transform(cs,
         |    s -> CAST(($caseId) AS VARCHAR)), ',') AS token_ids_csv
         |FROM bcc $joins""".stripMargin)
  }

  /** Token-TRUE sequence packing oracle: [[bpeEncodeSql]]'s count CTE
    * feeding [[graft.operators.Sampling.packByBudgetSelectSql]] — the
    * packing a training pipeline actually ships, keyed on the learned
    * tokenizer's counts instead of whitespace counts. */
  def bpeEncodePackSql(k: Int = BpeMerges, budget: Long): String =
    graft.operators.VectorOps.materializedCtes(
      s"""WITH ${bpeEncodeCtes(k)},
         |tok AS (
         |  SELECT doc_id, lang, CAST(len(syms) AS BIGINT) AS n_bpe_tokens FROM ec
         |)
         |SELECT doc_id, lang, n_bpe_tokens,
         |  ${Sampling.packByBudgetSelectSql("lang", "doc_id", "n_bpe_tokens", budget)}
         |FROM tok""".stripMargin)

  /** Token-TRUE budget selection oracle: [[graft.operators.Sampling
    * .selectByTokenBudgetSql]]'s quality prefix window with the budget
    * unit swapped to the learned tokenizer's counts — quality still
    * ranks the corpus, BPE tokens meter the budget (what a training
    * pipeline's token budget actually denominates in). */
  def bpeBudgetSelectSql(k: Int = BpeMerges, budget: Long): String =
    graft.operators.VectorOps.materializedCtes(
      s"""WITH ${bpeEncodeCtes(k)},
         |bq AS ($qualityScoreSql),
         |bscored AS (
         |  SELECT bq.doc_id, CAST(len(ec.syms) AS BIGINT) AS n_tokens,
         |    bq.uniq_ratio
         |  FROM bq JOIN ec ON bq.doc_id = ec.doc_id
         |  WHERE bq.uniq_ratio IS NOT NULL
         |), bsel AS (
         |  SELECT doc_id, n_tokens, uniq_ratio,
         |    sum(n_tokens) OVER (ORDER BY uniq_ratio DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM bscored)
         |SELECT doc_id, n_tokens, uniq_ratio FROM bsel
         |WHERE cum <= $budget""".stripMargin)

  /** Token-TRUE shard balance oracle: [[graft.operators.Sampling
    * .shardStats]]' per-shard report with token mass counted in the
    * learned tokenizer's units — the skew check a loader actually
    * cares about is BPE-token mass per shard, not whitespace mass. */
  def bpeShardStatsSql(k: Int = BpeMerges, nShards: Int): String =
    graft.operators.VectorOps.materializedCtes(
      s"""WITH ${bpeEncodeCtes(k)}
         |${Sampling.shardStatsSql("doc_id", "len(syms)", nShards,
             from = "ec")}""".stripMargin)

  /** Token window / overlap of [[chunkDocs]] — 64/16 suits the fixture
    * doc lengths (most docs yield 1–5 chunks); a RAG deployment tunes
    * them to its embedding model's context. Single-constant rule: both
    * engines interpolate these. */
  val ChunkWindow = 64
  val ChunkOverlap = 16

  /** Token-window chunking — the splitting step every RAG /
    * context-packing pipeline runs before embedding: each doc becomes
    * `ceil((n − overlap) / (window − overlap))` chunks (min 1) of up to
    * `window` tokens, consecutive chunks sharing `overlap` tokens so no
    * semantic unit is cut without context. One row per
    * `(doc_id, chunk_id)` with the chunk text (tokens re-joined with
    * single spaces — the engine tokenizer's inverse up to whitespace
    * runs) and its token count; `chunk_id` is the 0-based window index,
    * so chunk provenance is stable and joinable.
    *
    * Scale shape: pure per-doc column work — tokenize, one bounded
    * `sequence` explode (fan-out = chunks per doc, data-proportional),
    * an array slice per row. Map-only, no shuffle, no window; chunk
    * rows land embedding-ready for the chunk-vector encode or the
    * streaming indexes (chunk_id composes into the vec_id
    * space as `doc_id * maxChunks + chunk_id`). */
  /** THE window arithmetic, shared by [[chunkDocs]] (whitespace meter)
    * and [[bpeChunkDocs]] (learned-token meter): explode a per-doc
    * element list into `ceil((n − overlap) / step)` windows (min 1) of
    * up to `window` elements, consecutive windows sharing `overlap`.
    * Output `(doc_id, chunk_id, cs)` with `cs` the window's slice —
    * one implementation (and one SQL twin, [[windowSlicesSql]]) so the
    * two meters and their oracles can never drift on a boundary. */
  private def windowSlices(src: DataFrame, listCol: Column,
      window: Int, overlap: Int): DataFrame = {
    require(window > overlap && overlap >= 0,
      s"window=$window must exceed overlap=$overlap")
    val step = window - overlap
    src.select(col("doc_id"), listCol.as("xs"))
      .select(col("doc_id"), col("xs"),
        greatest(floor((size(col("xs")) - lit(overlap) + lit(step - 1)) /
          lit(step)).cast("long"), lit(1L)).as("nc"))
      .select(col("doc_id"), col("xs"),
        explode(sequence(lit(0L), col("nc") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("xs"), (col("chunk_id") * step + 1).cast("int"),
          lit(window)).as("cs"))
  }

  /** [[windowSlices]]' oracle twin: the window CTEs over a preceding
    * `srcName(doc_id, $listCol)` relation, ending in
    * `${p}c(doc_id, chunk_id, cs)` — DuckDB's inclusive list slice
    * `[a : a+window−1]` ≡ Spark's clamped `slice(a, window)`. */
  private def windowSlicesSql(p: String, srcName: String, listCol: String,
      window: Int, overlap: Int): String = {
    val step = window - overlap
    s"""${p}n AS (
       |  SELECT doc_id, $listCol AS xs,
       |    greatest((len($listCol) - $overlap + ${step - 1}) // $step, 1) AS nc
       |  FROM $srcName
       |), ${p}g AS (
       |  SELECT doc_id, xs, unnest(range(0, nc)) AS chunk_id FROM ${p}n
       |), ${p}c AS (
       |  SELECT doc_id, chunk_id,
       |    xs[(chunk_id * $step + 1):(chunk_id * $step + $window)] AS cs
       |  FROM ${p}g
       |)""".stripMargin
  }

  def chunkDocs(docs: DataFrame, window: Int = ChunkWindow,
      overlap: Int = ChunkOverlap): DataFrame =
    windowSlices(docs.select(col("doc_id"), tokens(col("text")).as("t")),
      col("t"), window, overlap)
      .select(col("doc_id"), col("chunk_id"),
        size(col("cs")).cast("long").as("n_tokens"),
        array_join(col("cs"), " ").as("chunk"))

  /** [[chunkDocs]] oracle — same integer chunk-count arithmetic
    * (`(n − overlap + step − 1) // step`, floored at 1), DuckDB's
    * inclusive list slice `[a : a+window−1]` ≡ Spark's clamped
    * `slice(a, window)`. */
  def chunkDocsSql(window: Int = ChunkWindow,
      overlap: Int = ChunkOverlap, docsSql: Option[String] = None): String = {
    // docsSql swaps the corpus for a derived `(doc_id, text)` SELECT —
    // chunk-level oracles over evolved corpora compose through here
    // instead of duplicating the chunk arithmetic
    val (srcCte, srcName) = docsSql
      .map(d => (s"cdocs_src AS (\n$d\n), ", "cdocs_src"))
      .getOrElse(("", "documents"))
    s"""WITH ${srcCte}t AS (
       |  SELECT doc_id, ${tokensSql("text")} AS toks FROM $srcName
       |), ${windowSlicesSql("", "t", "toks", window, overlap)}
       |SELECT doc_id, chunk_id, CAST(len(cs) AS BIGINT) AS n_tokens,
       |  array_to_string(cs, ' ') AS chunk
       |FROM c""".stripMargin
  }

  // --- chunk-level BM25 retrieval (x78) ------------------------------------

  /** The chunk-level lexical index frames: `(doc_id, chunk_id, token,
    * tf)` and `(doc_id, chunk_id, dl)` over [[chunkDocs]]' windows —
    * the index a RAG serve ranks CHUNKS from instead of whole
    * documents (a long doc's one relevant passage should not be
    * diluted by the rest of the doc's length, and the caller needs to
    * know WHICH passage matched). Both frames are PER-DOC local — a
    * doc's chunk rows depend on its text alone — so the [[bm25Stats]]
    * incremental-maintenance argument carries over verbatim: a corpus
    * slice's chunk stats computed in isolation equal its stats within
    * the full corpus.
    *
    * `ctf` is MATERIALIZED for [[bm25Stats]]' three-consumer reason
    * (scoring join, `cdl`, df). Chunking itself is the map-only
    * [[chunkDocs]] pass — the tokenize happens once, inside it. */
  def chunkBm25Stats(docs: DataFrame, window: Int = ChunkWindow,
      overlap: Int = ChunkOverlap,
      checkpointDir: Option[String] = None): (DataFrame, DataFrame) =
    chunkBm25StatsFrom(chunkDocs(docs, window, overlap), checkpointDir)

  /** [[chunkBm25Stats]] over a PREBUILT chunk frame — the seam that
    * lets one [[chunkDocs]] pass feed both the lexical chunk index and
    * the chunk-embedding derivation (the chunk-hybrid and snapshot
    * builds chunk the corpus exactly once through here). */
  def chunkBm25StatsFrom(chunks: DataFrame,
      checkpointDir: Option[String] = None): (DataFrame, DataFrame) = {
    val tok = chunks
      .select(col("doc_id"), col("chunk_id"),
        explode(tokens(col("chunk"))).as("token"))
    val ctf = Dedup.materialize(
      tok.groupBy("doc_id", "chunk_id", "token").agg(count(lit(1)).as("tf")),
      checkpointDir)
    val cdl = ctf.groupBy("doc_id", "chunk_id").agg(sum(col("tf")).as("dl"))
    (ctf, cdl)
  }

  /** Chunk-ranked, doc-deduped BM25 top-k from prebuilt chunk index
    * frames — the production RAG serve shape: score CHUNKS (each chunk
    * is the BM25 "document": df = chunks containing the term, N =
    * chunk count, avgdl = mean chunk length), keep each doc's best
    * chunk (max score, chunk_id ascending on ties — the dedup-to-docs
    * step, so one long doc can never crowd a result list with its own
    * passages), then rank docs per query by that best-chunk score.
    * Output `(query_id, doc_id, chunk_id, score, rn)` — `chunk_id` IS
    * the attribution a RAG caller feeds to generation.
    *
    * Scale shape: [[bm25TopKFrom]]'s exactly — literal IN-prune pushed
    * into the ctf scan, query terms / df / N / avgdl as literals,
    * decimal-grid partials before the per-(query, doc, chunk) sum,
    * round-before-rank. The extra best-chunk step is a window over
    * (query, doc) — it ranks only chunks that matched ≥ 1 query term,
    * posting-list-bounded, never corpus-bounded. */
  def bm25ChunkTopKFrom(ctf: DataFrame, cdl: DataFrame,
      queries: Seq[(Long, Seq[String])], k: Int,
      allowed: Option[DataFrame] = None): DataFrame = {
    // the one scoring chain with chunks as the BM25 unit (df = chunks
    // containing the term, N = chunk count, avgdl = mean chunk
    // length); `allowed` drops all of a filtered doc's chunks together
    val restricted = bm25AggScores(ctf, cdl, Seq("doc_id", "chunk_id"),
      queries, allowed, None)
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id", "doc_id").orderBy(desc("score"), asc("chunk_id"))
    val best = restricted.withColumn("rc", row_number().over(wBest))
      .where(col("rc") === 1).drop("rc")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("score"), asc("doc_id"))
    best.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  /** [[bm25ChunkTopKFrom]] over a raw corpus — chunk, index, serve in
    * one plan (the batch/oracle-gated entry; a deployment serves from
    * stored chunk frames through [[bm25ChunkTopKFrom]] instead). */
  def bm25ChunkTopK(docs: DataFrame, queries: Seq[(Long, Seq[String])],
      k: Int, window: Int = ChunkWindow, overlap: Int = ChunkOverlap,
      checkpointDir: Option[String] = None): DataFrame = {
    val (ctf, cdl) = chunkBm25Stats(docs, window, overlap, checkpointDir)
    bm25ChunkTopKFrom(ctf, cdl, queries, k)
  }

  /** [[bm25ChunkTopK]] oracle — [[chunkDocsSql]]'s chunk arithmetic
    * composed (not duplicated) as the corpus, then [[bm25TopKSql]]'s
    * scoring chain with (doc, chunk) as the scoring key, the same
    * best-chunk window, and the same round-before-rank doc ranking.
    * `allowedSql` mirrors [[bm25ChunkTopKFrom]]'s pre-filter: all of a
    * filtered doc's chunks drop BEFORE the ranks, df/N/avgdl stay
    * collection-global. */
  def bm25ChunkTopKSql(queries: Seq[(Long, Seq[String])], k: Int,
      window: Int = ChunkWindow, overlap: Int = ChunkOverlap,
      docsSql: Option[String] = None,
      allowedSql: Option[String] = None): String = {
    val restrict = allowedSql
      .map(a => s"  WHERE doc_id IN ($a)\n").getOrElse("")
    s"""WITH ck AS (
       |  SELECT doc_id, chunk_id, chunk
       |  FROM (${chunkDocsSql(window, overlap, docsSql)})
       |), ctok AS (
       |  SELECT doc_id, chunk_id, unnest(${tokensSql("chunk")}) AS token
       |  FROM ck
       |), ctf AS (
       |  SELECT doc_id, chunk_id, token, count(*) AS tf
       |  FROM ctok GROUP BY doc_id, chunk_id, token
       |), cdl AS (
       |  SELECT doc_id, chunk_id, count(*) AS dl
       |  FROM ctok GROUP BY doc_id, chunk_id
       |), ${bm25RankCtesSql("c", Seq("doc_id", "chunk_id"), queries)},
       |cbest AS (
       |  SELECT query_id, doc_id, chunk_id, score
       |  FROM cagg
       |$restrict  QUALIFY row_number() OVER (PARTITION BY query_id, doc_id
       |    ORDER BY score DESC, chunk_id) = 1
       |)
       |SELECT query_id, doc_id, chunk_id, score,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id) AS rn
       |FROM cbest
       |QUALIFY rn <= $k""".stripMargin
  }
}
