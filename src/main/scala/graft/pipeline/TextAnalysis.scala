package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, dictionary language-ID, and document fingerprinting.
  * All pure Column expressions (codegen'd, embarrassingly parallel — no
  * shuffle at all until an eventual aggregation), which is exactly what a
  * 100 TB text scan wants: one pass, map-side only.
  */
object TextAnalysis {

  /** Codepoint sequence of a string, as pure Column algebra: UTF-32
    * bytes (Java's UTF-32 charset encodes big-endian, no BOM) → 8-hex-
    * char chunks → longs. The naive `transform(split(w, ""), ascii)`
    * iterates UTF-16 CODE UNITS — lone surrogates for astral chars —
    * while the DuckDB oracles iterate codepoints via unicode(), and the
    * codegen'd kernels (RollingFpPortable etc.) loop with codePointAt;
    * this formulation agrees with both on ALL inputs, not just the BMP
    * (r7 ADVICE: emoji in a future documents corpus would have broken
    * the bit-for-bit oracle claim). Identical to ascii() on BMP text,
    * so existing signatures are unchanged. */
  private[graft] def codepoints(w: Column): Column =
    transform(
      regexp_extract_all(hex(encode(w, "UTF-32")), lit("(.{8})"), lit(1)),
      h => conv(h, 16, 10).cast("long"))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(text, "\\s+")).cast("long")

  /** BPE-ish subword count: alpha chunks of ≤4 chars, digit runs, or single
    * punctuation — a cheap deterministic proxy for a real tokenizer's token
    * count. */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9\\s]")).cast("long")

  /** Composite quality score in [0,1]: length saturation, low punctuation
    * noise, stopword presence, mean word length sanity. Deterministic and
    * SQL-expressible (oracled in PipelineQueries). The stopword count
    * goes through the codegen'd InSetCounts expression (an interpreted
    * `filter(words, isInCollection)` HOF dominated the scan otherwise),
    * which the session's GraftExtensions injects. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val nChars = length(text).cast("double")
    val words = split(text, "\\s+")
    val nWords = size(words).cast("double")
    val lenScore = least(nChars / 400.0, lit(1.0))
    val punct = regexp_count(text, lit("[^A-Za-z0-9\\s]")).cast("double")
    val punctScore = greatest(lit(1.0) - punct / greatest(nChars, lit(1.0)) * 10.0, lit(0.0))
    val stops = element_at(
      graft.functions.Sketches.inSetCounts(words, Seq(stopwords)), 1)
      .cast("double")
    val stopScore = least(stops / greatest(nWords, lit(1.0)) * 5.0, lit(1.0))
    val meanLen = nChars / greatest(nWords, lit(1.0))
    val lenSanity = when(meanLen.between(3.0, 10.0), 1.0).otherwise(0.5)
    // +1e-9 pushes exact .XXXX5 sums off the round-half boundary so
    // Spark (HALF_UP on exact binary) and DuckDB (fp round) agree
    round(lenScore * 0.3 + punctScore * 0.3 + stopScore * 0.2 + lenSanity * 0.2
      + 1e-9, 4)
  }

  /** Small public stopword dictionaries for the language-ID heuristic. */
  val langDicts: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "no", "por"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est", "que", "pour"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"))

  /** Dictionary language-ID: score = stopword hits per language; argmax
    * with deterministic tie-break (dictionary order). Returns a struct
    * (lang, score). A char-n-gram model would drop in the same shape.
    * All dictionaries are scored in ONE pass over one tokenization via
    * InSetCounts (the HOF formulation re-tokenized per language because
    * CodegenFallback defeats subexpression elimination). */
  def langId(text: Column): Column = {
    val scores = graft.functions.Sketches.inSetCounts(
      split(lower(text), "\\s+"), langDicts.map(_._2))
    // array of (score, rankDesc, lang); array_max picks lexicographic max:
    // highest score, then lowest dictionary index (rankDesc = -index).
    val scored = array(langDicts.zipWithIndex.map { case ((lang, _), i) =>
      struct(
        element_at(scores, i + 1).as("score"),
        lit(-i).as("rank_desc"),
        lit(lang).as("lang"))
    }: _*)
    val best = array_max(scored)
    struct(best.getField("lang").as("lang"), best.getField("score").as("score"))
  }

  /** Content fingerprint: md5 of whitespace/case-normalized text — the
    * canonical-form key for exact-after-normalization dedup. */
  def fingerprintMd5(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** In-document repetition signals (the Gopher-rule family): the
    * fraction of word occurrences that are repeats, the same at the
    * word-n-gram level, and the longest run of one word repeated
    * back-to-back. High values mark boilerplate/spam for a quality
    * filter. Distinct n-gram counts come from the codegen'd Shingles
    * expression; everything is map-side arithmetic — no shuffle. */
  def dupWordFrac(text: Column): Column = {
    val ws = split(text, "\\s+")
    round(lit(1.0) - size(array_distinct(ws)).cast("double")
      / size(ws).cast("double"), 4)
  }

  /** 1 - distinct/total word n-grams; total follows the Shingles
    * convention (a doc shorter than n yields one truncated shingle). */
  def dupNgramFrac(text: Column, n: Int): Column = {
    val total = greatest(
      size(split(text, "\\s+")) - (n - 1), lit(1)).cast("double")
    val distinct = size(Dedup.shingles(text, n)).cast("double")
    round(lit(1.0) - distinct / total, 4)
  }

  /** Longest back-to-back run of a single repeated word: one
    * `aggregate` fold over the word array carrying (prev, run, best). */
  def maxWordRun(text: Column): Column = {
    val ws = split(text, "\\s+")
    aggregate(ws,
      named_struct(lit("prev"), lit(""), lit("run"), lit(0L),
        lit("best"), lit(0L)),
      (st, w) => {
        val run = when(w === st.getField("prev"),
          st.getField("run") + 1L).otherwise(lit(1L))
        named_struct(lit("prev"), w, lit("run"), run,
          lit("best"), greatest(st.getField("best"), run))
      },
      st => st.getField("best"))
  }

  /** Polynomial rolling hash over words, mod 1e9+7: word hashes from
    * xxhash64 folded into [0, 1e9+7) — via the codegen'd RollingFpXx
    * expression (bit-identical to the HOF spec below). */
  def fingerprintRolling(text: Column): Column =
    graft.functions.Sketches.rollingFp(split(text, "\\s+"))

  /** HOF spec for fingerprintRolling (overflow-safe under ANSI:
    * acc < 1e9+7, acc*31 + h < 2^63). */
  private[graft] def fingerprintRollingHof(text: Column): Column =
    aggregate(
      transform(split(text, "\\s+"), w => pmod(xxhash64(w), lit(1000000007L))),
      lit(0L), (acc, h) => pmod(acc * 31 + h, lit(1000000007L)))

  /** Engine-portable rolling fingerprint: word hash = codepoint
    * polynomial (acc*131 + cp) mod 1e9+7, document fingerprint =
    * (acc*31 + h(word)) mod 1e9+7 — no engine-specific hash, so an
    * external oracle (DuckDB list_reduce over unicode()) reproduces it
    * bit-for-bit. Via the codegen'd RollingFpPortable expression (its
    * HOF spec, KernelSpecs.fingerprintPortableHof in src/test, runs one
    * interpreted lambda per CHARACTER). */
  def fingerprintPortable(text: Column): Column =
    graft.functions.Sketches.rollingFpPortable(split(text, "\\s+"))

  /** Markup cleanup for crawled text: drop HTML/XML tags, collapse runs
    * of whitespace, trim. Pure codegen'd regexp_replace chain (Java and
    * RE2 agree on every construct used — no backreferences/lookaround,
    * so an external oracle reproduces it exactly). */
  def cleanText(text: Column): Column =
    trim(regexp_replace(regexp_replace(text, "<[^>]*>", " "), "\\s+", " "))

  /** PII redaction: emails → <EMAIL>, IPv4 → <IP>, phone-shaped digit
    * runs → <PHONE>. Order matters — emails first (their domains would
    * otherwise feed the looser patterns). Per-row codegen'd regex work,
    * no shuffle: at 100 TB this runs map-side in the scan stage. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
      "\\+?[0-9][0-9()\\- ]{6,}[0-9]", "<PHONE>")

  /** Per-document top-k salient terms with smoothed TF-IDF scores.
    * Ranking is by (raw tf desc, term asc) — integer-deterministic, so
    * the selected rows can never flip on a floating-point ulp; the
    * tf·idf score is an output column only. Shuffles: tokenize →
    * (doc, term) count, term document-frequency (vocabulary-sized),
    * join back, one window per doc. The doc-count joins in as a
    * broadcast 1-row aggregate — no driver action, no collect. */
  def tfIdfTopTerms(
      df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = df.select(col(idCol).as("id"),
      explode(split(col(textCol), "\\s+")).as("term"))
    val tf = tok.groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    // document frequency from tf (one row per (doc, term) already) —
    // recomputing it from `tok` would tokenize the whole corpus twice
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("dfq"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    // rank BEFORE the dfreq join: the ranking key is tf alone, so the
    // term-keyed join only ever sees k rows per doc instead of the whole
    // (doc, term) matrix — at corpus scale that join's shuffle drops from
    // O(total terms) to O(k * docs) on the left side
    tf.withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("tf").desc, col("term"))))
      .filter(col("rn") <= k)
      .join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * (log((col("n_docs") + 1).cast("double")
          / (col("dfq") + 1)) + 1) + lit(1e-9), 4))
      .select(col("id"), col("term"), col("tf"), col("score"))
  }

  /** Consecutive word bigrams of a text column — array<struct<w1,w2>>,
    * length max(0, nWords − 1); tokens are the non-empty \s+ splits.
    * The token array is LET-BOUND via transform(array(e), ws -> ...)
    * (the SCALE.md idiom): HOF lambdas re-evaluate captured
    * subexpressions per element, so a naive element_at(filter(split(
    * text)), i) re-tokenizes the whole document at every position —
    * O(n²) per doc; it read 10 s on the quiet box vs 0.9 s let-bound. */
  private[graft] def bigrams(text: Column): Column = {
    val ws0 = filter(split(text, "\\s+"), t => t =!= "")
    element_at(transform(array(ws0), ws =>
      when(size(ws) < 2,
        array().cast("array<struct<w1:string,w2:string>>"))
        .otherwise(transform(sequence(lit(1), size(ws) - 1), i =>
          struct(element_at(ws, i).as("w1"),
            element_at(ws, i + 1).as("w2"))))), 1)
  }

  /** CCNet-style n-gram LM quality score: train a Laplace-smoothed
    * bigram model on `train`, score each `eval` document by its
    * per-bigram cross-entropy −(1/B)·Σ ln P(w2|w1) with
    * P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + |V|) — low means fluent
    * under the reference corpus, high means gibberish/boilerplate;
    * filter pipelines keep a middle band. Every probability is a ratio
    * of INTEGER counts (both engines compute the identical double), so
    * the only fp work is ln + the rounded mean — the tfIdf convention
    * (round(x + 1e-9, 4)). Scale: the model is two count tables bounded
    * by the train corpus's distinct-bigram/vocab size (≪ token count —
    * AQE broadcasts them when small, shuffle-joins past that), |V| rides
    * along as a broadcast 1-row aggregate, and the score is one
    * per-doc aggregation. Returns (doc_id, n_bigrams, xent).
    *
    * `alpha` generalizes the Laplace term to
    * P(w2|w1) = (c(w1,w2) + α) / (c(w1·) + α·|V|). Scale-invariance
    * contract (rehearsed in PipeScale): training on an ×f-replicated
    * corpus with α scaled to f·α yields bit-identical conditional
    * probabilities — (f·c + f·α)/(f·c₁ + f·α·V) is the same IEEE
    * quotient as (c + α)/(c₁ + α·V) because every scaled term is an
    * exact double — so replica corpora score rep-0 documents exactly
    * as the ×1 corpus does (up to the per-doc fp sum order). */
  def crossEntropyScore(
      train: org.apache.spark.sql.DataFrame,
      eval: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      alpha: Double = 1.0): org.apache.spark.sql.DataFrame = {
    def explodeBigrams(df: org.apache.spark.sql.DataFrame) = df
      .select(col(idCol).as("doc_id"),
        explode(bigrams(col(textCol))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val trainBg = explodeBigrams(train)
    val c12 = trainBg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n12"))
    // c(w1·) and |V| both derive from the c12 table (Σ n12 over w2 /
    // distinct w2) — aggregates of an aggregate, so the corpus-sized
    // explode+shuffle happens once (ReuseExchange serves the branches)
    // and the extra passes are vocabulary-bounded
    val c1 = c12.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
    val vocab = c12.agg(countDistinct(col("w2")).as("v"))
    explodeBigrams(eval)
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        // at α=1 this is bit-identical to the historical
        // (n12 + 1.0)/(n1 + v) form: 1.0·v is exact and long+double
        // addition of exact terms rounds identically
        log((coalesce(col("n12"), lit(0L)) + lit(alpha))
          / (coalesce(col("n1"), lit(0L)) + lit(alpha) * col("v"))).as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-sum(col("lp")) / count(lit(1)) + lit(1e-9), 4).as("xent"))
  }

  /** CCNet's tail stage (Wenzek et al. 2020 §3.3): bucket every scored
    * document into perplexity terciles — head / middle / tail — by
    * VALUE thresholds derived from discrete ranks over the scored set.
    *
    * Threshold derivation is scale-safe and engine-exact: instead of a
    * global sort or an interpolating percentile (fp, engine-divergent),
    * the 4-dp xent values are aggregated to a (value, count) CDF —
    * bounded by the VALUE GRID (~10⁵ distinct 4-dp values over the
    * xent range), not the corpus size, so the driver collect stays the
    * sanctioned per-class-counts shape — and t_k = the smallest value
    * whose cumulative count reaches ceil(k·n/3). Labels are then a
    * map-side comparison against two literals; every engine with the
    * same 4-dp xents derives the same thresholds by integer arithmetic.
    * Docs with zero bigrams (< 2 tokens) carry no score and are
    * dropped, as in CCNet. Returns (doc_id, n_bigrams, xent, bucket).
    */
  def perplexityBuckets(
      train: org.apache.spark.sql.DataFrame,
      eval: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    // materialize ONCE: the LM-scoring chain (bigram explode + count
    // joins) has THREE consumers — the CDF collect here, ccnetSample's
    // per-class quota counts, and the caller's final action; without
    // this each re-runs the whole chain (r13 review). localCheckpoint,
    // NOT persist: a persist() here registers the subplan with the
    // CacheManager, which then silently substitutes the cached relation
    // into ANY OTHER query sharing the shape (pipe_text_crossentropy's
    // plan inflated past the shuffle budget when this ran first — the
    // exact cross-query contamination the r7 note in
    // simhashPairsPortable warns about). At 100 TB: checkpoint the
    // scored slice to storage.
    val scored = Materialize.checkpoint(
      crossEntropyScore(train, eval, idCol, textCol))
    val cdf = scored.groupBy(col("xent")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).sortBy(_._1)
    require(cdf.nonEmpty, "perplexityBuckets: no scored documents")
    val n = cdf.map(_._2).sum
    def valueAtRank(k: Long): Double = {
      var cum = 0L
      cdf.find { case (_, c) => cum += c; cum >= k }.get._1
    }
    val t1 = valueAtRank((n + 2) / 3)
    val t2 = valueAtRank((2 * n + 2) / 3)
    scored.withColumn("bucket",
      when(col("xent") <= t1, lit("head"))
        .when(col("xent") <= t2, lit("middle"))
        .otherwise(lit("tail")))
  }

  /** The full CCNet tail composition: perplexity terciles then a
    * deterministic per-bucket quota sample (downsample-only, exact
    * integer mix — [[graft.operators.Sampling.rebalanceToTarget]]'s
    * md5-ranked selection, so reruns and external engines agree).
    * The 3:2:1 head:middle:tail mix keeps the head-heavy slice CCNet's filter
    * keeps. One LM-scoring pass, one tiny CDF collect, one per-bucket
    * ranked window — no global sort anywhere. Degenerate corpora with
    * fewer than 3 distinct xent values leave a tercile empty and fail
    * fast via rebalanceToTarget's missing-class check (a silent
    * partial mix would not be the requested mix). */
  def ccnetSample(
      train: org.apache.spark.sql.DataFrame,
      eval: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame =
    graft.operators.Sampling.rebalanceToTarget(
      perplexityBuckets(train, eval, idCol, textCol),
      "bucket", "doc_id", Map("head" -> 3, "middle" -> 2, "tail" -> 1))
}
