package graft.operators

import graft.functions.GeoFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis surface for training-data curation: token counting,
  * quality scoring, language ID, fingerprinting. Everything is a
  * column-level composition of codegen'd primitives — no UDFs, so the
  * whole profile computes in one WholeStageCodegen pass over the corpus
  * and column pruning keeps the scan at exactly the text column.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(text, " "))

  /** BPE-ish token count: word pieces + isolated punctuation. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0)))

  def langId(text: Column): Column = GeoFunctions.lang_id(text)

  def fingerprint(text: Column): Column = GeoFunctions.text_fingerprint(text)

  /** Heuristic quality score in [0, 1]: blends length band, mean word
    * length band, alpha ratio, and whitespace sanity — the standard cheap
    * pre-filter ahead of expensive model-based scoring. */
  def qualityScore(text: Column): Column = {
    val nChars = length(text).cast("double")
    val nTokens = tokenCount(text).cast("double")
    val nAlpha = length(regexp_replace(text, lit("[^A-Za-z]"), lit(""))).cast("double")
    val nSpaces = (length(text) - length(regexp_replace(text, lit(" "), lit("")))).cast("double")
    val meanWordLen = (nChars - nSpaces) / greatest(nTokens, lit(1.0))
    val lengthBand = when(nChars.between(50, 10000), 1.0)
      .when(nChars.between(20, 100000), 0.5).otherwise(0.0)
    val wordLenBand = when(meanWordLen.between(2.5, 12.0), 1.0).otherwise(0.3)
    val alphaRatio = nAlpha / greatest(nChars, lit(1.0))
    val spaceSanity = when((nSpaces / greatest(nChars, lit(1.0))).between(0.05, 0.4), 1.0)
      .otherwise(0.5)
    (lengthBand * 0.3 + wordLenBand * 0.2 + alphaRatio * 0.3 + spaceSanity * 0.2)
  }

  /** The Gopher document-quality rules (Rae et al. 2021, appendix A) as
    * explicit per-rule booleans plus the conjunction — the standard
    * cheap gate a pretraining pipeline runs before any model-based
    * scoring. Output per doc: (`idCol`, `words_ok` 50..100k words,
    * `word_len_ok` mean word length 3..10, `symbol_ok` hash+ellipsis
    * per word ≤ 0.1, `ellipsis_lines_ok` ≤ 30% of lines ending "...",
    * `bullet_lines_ok` < 90% of lines starting with a bullet,
    * `alpha_words_ok` ≥ 80% of words contain a letter, `stopwords_ok`
    * ≥ 2 distinct of the 8 canonical stop words, `gopher_pass` = all).
    *
    * Scale: map-only — one pass of codegen'd higher-order functions
    * over materialized token/line arrays, no shuffle, no UDF. NULL text
    * reads as empty (fails the length rule, keeps its output row).
    * Tokenization is the family's single-space convention; lines split
    * on "\n". */
  def gopherFlags(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    df.select(col(idCol),
        coalesce(col(textCol).cast("string"), lit("")).as("__txt"))
      .withColumn("__toks", split(col("__txt"), " "))
      .withColumn("__lines", split(col("__txt"), "\n"))
      .withColumn("__nw", size(col("__toks")).cast("double"))
      .withColumn("__nl", size(col("__lines")).cast("double"))
      .withColumn("__mwl",
        aggregate(col("__toks"), lit(0L), (acc, x) => acc + length(x))
          .cast("double") / greatest(col("__nw"), lit(1.0)))
      .withColumn("__sym",
        ((length(col("__txt")) - length(regexp_replace(col("__txt"), lit("#"), lit("")))) +
          (length(col("__txt")) - length(regexp_replace(col("__txt"), lit("\\.\\.\\."), lit("")))) / 3)
          .cast("double"))
      .select(col(idCol),
        col("__nw").between(50, 100000).as("words_ok"),
        col("__mwl").between(3.0, 10.0).as("word_len_ok"),
        (col("__sym") / greatest(col("__nw"), lit(1.0)) <= 0.1).as("symbol_ok"),
        (size(filter(col("__lines"), l => l.endsWith("..."))).cast("double")
          <= lit(0.3) * col("__nl")).as("ellipsis_lines_ok"),
        (size(filter(col("__lines"),
          l => l.startsWith("•") || l.startsWith("- "))).cast("double")
          < lit(0.9) * col("__nl")).as("bullet_lines_ok"),
        (size(filter(col("__toks"), t => t.rlike("[A-Za-z]"))).cast("double")
          >= lit(0.8) * col("__nw")).as("alpha_words_ok"),
        (stop.map(s => when(array_contains(col("__toks"), s), 1).otherwise(0))
          .reduce(_ + _) >= 2).as("stopwords_ok"))
      .withColumn("gopher_pass",
        col("words_ok") && col("word_len_ok") && col("symbol_ok") &&
          col("ellipsis_lines_ok") && col("bullet_lines_ok") &&
          col("alpha_words_ok") && col("stopwords_ok"))
  }

  /** Within-document repetition signals (the Gopher-style quality rules):
    * duplicate-token and duplicate-bigram mass plus the heaviest single
    * token/bigram. High values flag boilerplate, keyword stuffing, and
    * generator loops that length/alpha heuristics miss.
    *
    * Scale design: explode + two-level hash aggregation — the shuffle is
    * keyed by (doc, token), so hot TOKENS don't skew (the same word in
    * many docs lands on many keys); a single pathological document is the
    * only skew unit. No self-joins, no window over the whole corpus.
    *
    * Output per doc: `n_tokens`, `n_distinct_tokens`, `top_token_n`,
    * `n_bigrams`, `n_distinct_bigrams`, `top_bigram_n`.
    */
  /** Compressibility quality profile: raw UTF-8 bytes, DEFLATE-compressed
    * bytes, and their ratio (0.0 for empty text) — the classic "template
    * and boilerplate compress too well, noise doesn't compress at all"
    * signal, one codegen'd map pass (`deflate_len` is a native
    * expression, no UDF). Ratios are comparable within a corpus/level;
    * absolute compressed sizes are zlib-specific, so thresholds should
    * be calibrated per deployment, not hard-coded (q172 gates orderings
    * and the stored-block bound only). */
  def compressionProfile(df: DataFrame, idCol: String, textCol: String,
      level: Int = 6): DataFrame =
    df.select(col(idCol),
        octet_length(col(textCol)).cast("long").as("raw_len"),
        GeoFunctions.deflate_len(col(textCol), lit(level)).as("deflate_len"))
      .withColumn("ratio", when(col("raw_len") === 0, lit(0.0))
        .otherwise(rz6(col("deflate_len").cast("double") / col("raw_len"))))

  def repetitionProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // null text coalesces to "" so the doc still gets its output row
    // (zero counters) — explode over a null token array would silently
    // drop the document from the profile, unlike profile()
    val toks = df.select(col(idCol).as("doc"),
      split(coalesce(col(textCol), lit("")), " ").as("__t"))
    // bigrams of adjacent tokens; docs under 2 tokens have none. __t is a
    // materialized attribute (lambda bodies re-evaluate captured
    // EXPRESSIONS per element — splitting inline would be O(tokens²)).
    val bigrams = when(size(col("__t")) >= 2,
      transform(sequence(lit(0), size(col("__t")) - 2),
        i => concat_ws(" ", element_at(col("__t"), i + 1), element_at(col("__t"), i + 2))))
      .otherwise(array().cast("array<string>"))
    def stats(exploded: DataFrame, prefix: String, top: String) =
      exploded.groupBy("doc", "u").agg(count(lit(1)).as("n"))
        .groupBy("doc").agg(
          sum(col("n")).as(s"n_$prefix"),
          count(lit(1)).as(s"n_distinct_$prefix"),
          max(col("n")).as(top))
    val t = stats(toks.select(col("doc"), explode(col("__t")).as("u")),
      "tokens", "top_token_n")
    val b = stats(toks.select(col("doc"), explode(bigrams).as("u")),
      "bigrams", "top_bigram_n")
    t.join(b, Seq("doc"), "left")
      .select(col("doc").as(idCol), col("n_tokens"), col("n_distinct_tokens"),
        col("top_token_n"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_distinct_bigrams"), lit(0L)).as("n_distinct_bigrams"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"))
  }

  /** Per-group heavy hitters: the `k` most frequent tokens within each
    * group (corpus source, language, shard…) with a deterministic
    * tie-break (count desc, token asc) — the vocabulary/boilerplate
    * fingerprint of each slice of a corpus.
    *
    * Scale design: explode + two-level aggregation keyed by (group,
    * token) — the count shuffle spreads hot tokens across groups — then a
    * per-group top-k window. The window's partition is the GROUP (small
    * cardinality × distinct tokens), and rank pushdown keeps only k rows
    * per group past the sort. */
  def topTokens(df: DataFrame, groupCol: String, textCol: String,
      k: Int): DataFrame = {
    val counts = df
      .select(col(groupCol).as("grp"), explode(split(col(textCol), " ")).as("tok"))
      .groupBy("grp", "tok").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("n").desc, col("tok").asc)
    counts.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("grp").as(groupCol), col("rnk"), col("tok"), col("n"))
  }

  /** Smoothed TF-IDF (sklearn's smooth_idf: idf = ln((N+1)/(df+1)) + 1)
    * over whitespace tokens, returning each document's top-k scoring
    * terms — the classic keyword/topicality signal for corpus curation
    * and search-index construction.
    *
    * Scale design (100 TB): two hash-aggregates (doc-term counts, then
    * term doc-frequency) and one shuffle join keyed by TOKEN — the
    * vocabulary is never broadcast or collected, so unbounded vocabularies
    * (typos, code, ids) cannot OOM anything; the corpus size N is the
    * only driver-side scalar. The per-doc top-k is a rank-pushdown window
    * keyed by document. Scores are rounded to 6dp BEFORE ranking so the
    * (score desc, token asc) tie-break is reproducible across engines. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val n = df.count()
    val tf = df
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("dfreq"))
    val scored = tf.join(dfreq, "tok").withColumn("score",
      round(col("tf") * (log(lit(n + 1.0) / (col("dfreq") + lit(1)).cast("double")) + 1), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("score").desc, col("tok").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("id").as(idCol), col("rnk"), col("tok"), col("tf"),
        col("dfreq"), col("score"))
  }

  /** Corpus-trained bigram language-model cross-entropy — the CCNet-style
    * statistical quality signal: documents whose token transitions are
    * improbable UNDER THE CORPUS'S OWN bigram distribution (boilerplate,
    * gibberish, wrong-language fragments) score high and can be
    * percentile-filtered, without any external model artifact.
    *
    * Model: p(w2|w1) = c(w1,w2) / c(w1·) over all corpus bigrams (no
    * smoothing needed — every scored bigram exists in the model it was
    * counted into). Per document the operator emits `bigrams` (count)
    * and `xent_sum` = Σ round(-ln p, 6): consumers divide for the mean
    * cross-entropy in nats. Each -ln term is rounded to 6dp BEFORE
    * summing so the sum is a multiple of 1e-6 — maximally far from
    * rounding boundaries, which makes the result reproducible across
    * engines and partitionings (double summation noise ~1e-13 against a
    * 5e-7 margin); a raw avg() of unrounded logs would be neither.
    * Documents with fewer than 2 tokens produce no bigrams and drop out.
    *
    * Scale design (100 TB): ONE hash-aggregate builds the bigram counts
    * (shuffle on (w1,w2)); head-token totals come from a window SUM over
    * that already-aggregated set — its partitions are bounded by
    * distinct-successors-per-head (≤ vocabulary), never by corpus
    * occurrences, so a stopword head cannot skew it and the pairs
    * lineage is evaluated exactly once per scan. One token-keyed shuffle
    * join then scores the corpus (hot heads bounded by AQE skew
    * splitting). The vocabulary is never broadcast or collected —
    * unbounded vocabularies cannot OOM anything — and the final per-doc
    * aggregate is one more hash-agg.
    *
    * The self-trained path scans the corpus twice (model + scoring) —
    * intentionally NOT hidden behind a corpus-sized cache, which at
    * 100 TB costs more than the second scan. For repeated scoring, or to
    * score with one scan, materialize [[bigramModel]] once (parquet /
    * persist) and pass it to [[bigramCrossEntropyWith]] — the same
    * build-once-query-many shape as the IVF index. */
  def bigramCrossEntropy(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    bigramCrossEntropyWith(df, idCol, textCol, bigramModel(df, idCol, textCol))

  /** The corpus bigram model: (w1, w2, c12, c1) with c12 = corpus count
    * of the bigram and c1 = Σ c12 over the head token. Vocabulary-
    * bounded (one row per DISTINCT bigram), so it is the thing to
    * materialize when scoring more than once. */
  def bigramModel(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w1win = org.apache.spark.sql.expressions.Window.partitionBy("w1")
    tokenBigrams(df, idCol, textCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .withColumn("c1", sum("c12").over(w1win))
  }

  /** Score `df` against a (possibly pre-materialized) [[bigramModel]].
    * Bigrams absent from the model are dropped from the score, matching
    * the self-trained no-smoothing contract. */
  def bigramCrossEntropyWith(df: DataFrame, idCol: String, textCol: String,
      model: DataFrame): DataFrame =
    tokenBigrams(df, idCol, textCol).join(model, Seq("w1", "w2"))
      .groupBy("id")
      .agg(count(lit(1)).as("bigrams"),
        round(sum(round(-log(col("c12").cast("double") / col("c1"))
          , 6)), 6).as("xent_sum"))
      .select(col("id").as(idCol), col("bigrams"), col("xent_sum"))

  /** (id, w1, w2) — every adjacent whitespace-token pair per document. */
  private def tokenBigrams(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("id"), split(col(textCol), " ").as("t"))
      .select(col("id"),
        slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))).as("a"),
        slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))).as("b"))
      .select(col("id"), explode(arrays_zip(col("a"), col("b"))).as("bg"))
      .select(col("id"), col("bg.a").as("w1"), col("bg.b").as("w2"))

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    * '03 — the MOSS algorithm): hash every `k`-token gram, then keep the
    * minimum hash of each sliding window of `w` consecutive gram
    * positions. Any shared substring of >= w+k-1 tokens between two
    * documents is GUARANTEED to share at least one selected fingerprint,
    * at ~2/(w+1) of the grams stored — the standard local-plagiarism /
    * contamination-detection signature.
    *
    * Determinism across engines: the gram hash is md5 HEX (lexicographic
    * min on the hex string), so any engine with md5 reproduces the exact
    * fingerprint set. Scale: explode + two windows keyed by doc — one
    * shuffle; output is ~2n/w rows per n-token doc. Returns
    * (`doc`, `fp` — distinct selected gram hashes). */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    require(k > 0 && w > 0, "k and w must be positive")
    val grams = df
      .select(col(idCol).as("doc"), split(col(textCol), " ").as("toks"))
      .where(size(col("toks")) >= k)
      .select(col("doc"), posexplode(transform(
        sequence(lit(0), size(col("toks")) - k, lit(1)),
        i => md5(array_join(slice(col("toks"), i + 1, lit(k)), " ").cast("binary")))))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "h")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc").orderBy("i")
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, w - 1)
    val nWin = org.apache.spark.sql.expressions.Window.partitionBy("doc")
    grams
      .withColumn("fp", min(col("h")).over(win))
      .withColumn("n", max(col("i")).over(nWin))
      // a window starting at i covers [i, i+w-1]: keep full windows only;
      // for docs with fewer than w grams keep just i=0 (global min)
      .where(col("i") <= greatest(col("n") - (w - 1), lit(0)))
      .select(col("doc"), col("fp")).distinct()
  }

  /** Candidate plagiarism/contamination pairs: documents sharing at least
    * `minShared` winnowing fingerprints. The fingerprint set is ~2/(w+1)
    * of the gram set, so the pair join runs on the compressed signatures
    * — one shuffle keyed by fingerprint, in-bucket pairs only (same
    * capped-bucket kernel pattern as MinHash-LSH). */
  def winnowSharedPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, minShared: Int = 2,
      maxBucket: Int = 10000): DataFrame = {
    // Dedup's capped bucket-pair kernel, not an uncapped self-join: a
    // boilerplate fingerprint (license header, nav bar) shared by m docs
    // would emit m²/2 pairs from ONE key — the cap drops such buckets
    // exactly as minhashCandidates does, bounding the worst case at
    // O(buckets · maxBucket²)
    val fps = winnowFingerprints(df, idCol, textCol, k, w)
    Dedup.explodeBucketPairs(
      fps.groupBy("fp").agg(sort_array(collect_list(col("doc"))).as("ds")),
      maxBucket)
      .groupBy("ida", "idb").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** PII scrubbing: replace email addresses, North-American phone
    * numbers, and 13-19 digit card-like numbers with typed placeholders.
    * Patterns are deliberately RE2-compatible (no backrefs/lookaround) so
    * the same regexes run identically on Spark (java.util.regex) and
    * engines like DuckDB/Go that use RE2 — redaction must be reproducible
    * wherever the corpus is reprocessed. One codegen'd map pass. */
  def redactPii(text: Column): Column = {
    // order matters: emails first (their local part may contain digit
    // runs), then long card-like numbers BEFORE phones so a phone pattern
    // can't bite 10 digits out of a 16-digit card.
    // Card pattern accepts the common separator groupings ("4111 1111
    // 1111 1111", "4111-1111-1111-1111"), not just contiguous runs; both
    // ends are word-bounded so 13-19 digit WINDOWS of longer ids never
    // match. Phone pattern word-bounds the area code (an 11-12 digit id
    // no longer loses its middle 10 digits) without lookbehind — the
    // DuckDB oracle replays these in RE2, which has none.
    val email = regexp_replace(text,
      lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit("[EMAIL]"))
    val num = regexp_replace(email,
      lit("\\b(?:[0-9][ -]?){12,18}[0-9]\\b"), lit("[NUMBER]"))
    regexp_replace(num,
      lit("(?:\\+?1[ .-]?)?(?:\\([0-9]{3}\\)|\\b[0-9]{3})[ .-]?[0-9]{3}[ .-]?[0-9]{4}\\b"),
      lit("[PHONE]"))
  }

  /** One-row corpus profile: doc/token totals plus EXACT quartiles of
    * document length — the summary a curation run logs before/after each
    * filter stage. Quartile fractions (.25/.5/.75) are chosen so every
    * interpolation intermediate is exactly representable in binary over
    * integer lengths: the result is bit-identical across engines
    * regardless of their interpolation formula's operation order.
    * One aggregation; exact percentile holds per-group value lists, so
    * for 100 TB corpora group by a shard column first (or swap in
    * percentile_approx) — this shape is for bounded-cardinality stats. */
  def corpusStats(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame =
    df.select(col(idCol), col(sourceCol).as("__src"),
        tokenCount(col(textCol)).as("__nt"), length(col(textCol)).as("__nc"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("total_tokens"),
        expr("percentile(__nc, 0.25)").as("p25_chars"),
        expr("percentile(__nc, 0.5)").as("p50_chars"),
        expr("percentile(__nc, 0.75)").as("p75_chars"),
        countDistinct(col("__src")).as("n_sources"))

  /** Web-corpus URL extraction: one output row per URL occurrence with
    * its host, in document order. Pure codegen'd regexp — no UDF; URLs
    * end at whitespace (the common crawl-text convention). */
  def extractUrls(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(regexp_extract_all(col(textCol),
          lit("""https?://[^\s]+"""), lit(0))).as(Seq("pos", "url")))
      .withColumn("host", regexp_extract(col("url"), """https?://([^/\s]+)""", 1))
      .select(col("id").as(idCol), col("pos"), col("url"), col("host"))

  /** Per-host URL stats over a corpus — the input to per-domain caps
    * ([[Curation.capPerKey]]) and domain blocklists. One shuffle keyed
    * by host (partial counts map-side). */
  def domainStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    extractUrls(df, idCol, textCol)
      .groupBy("host")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col(idCol)).as("n_docs"))

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how much more likely its hashed-unigram features are
    * under the TARGET corpus's bucket distribution than under the raw
    * corpus's own —
    * `Σ_tokens [log p_target(bucket(tok)) − log p_raw(bucket(tok))]`
    * with add-1 smoothing over `buckets` hash buckets. High scores mark
    * documents that look like the target domain; [[dsirTopK]] turns the
    * weights into a deterministic selection.
    *
    * Feature hashing is the 48-bit md5 prefix mod `buckets` — the same
    * engine-replayable law as [[Dedup.dedupSpans]] / the sampling
    * operators, so any SQL engine reproduces the exact bucket ids (the
    * paper's 10⁴-bucket default keeps collisions as intended model
    * smoothing, not error). Per-token log-ratios are rounded to 6dp
    * before the per-doc sum and the sum rounded again — the
    * [[bigramCrossEntropy]] determinism contract.
    *
    * Empty/NULL-text documents keep a row with `n_feats = 0` and
    * `dsir_logratio = 0.0` (an empty product, not a dropped document —
    * a selection operator must not silently lose candidates).
    *
    * Scale design (100 TB): the two bucket-count aggregates are
    * vocabulary-INDEPENDENT — each is one hash-agg with map-side
    * partials onto exactly `buckets` rows, so the model is a fixed-size
    * (≤ buckets-row) table regardless of corpus size. That table (and
    * its totals row) broadcasts; scoring is a map-only broadcast join
    * plus one doc-keyed hash-agg. The raw corpus is scanned twice
    * (count + score) — same deliberate trade as the self-trained bigram
    * LM; persist the ratio table to score many corpora against one
    * target. */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 1024): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    def toks(df: DataFrame) = df
      .select(col(idCol).as("__id"),
        explode(split(coalesce(col(textCol).cast("string"), lit("")), " ")).as("__tok"))
      .where(col("__tok") =!= "")
      .select(col("__id"),
        pmod(conv(substring(md5(col("__tok").cast("binary")), 1, 12), 16, 10)
          .cast("long"), lit(buckets.toLong)).as("__b"))
    val rawToks = toks(raw)
    val cr = rawToks.groupBy("__b").agg(count(lit(1)).as("__nr"))
    val ct = toks(target).groupBy("__b").agg(count(lit(1)).as("__nt"))
    val joinedCounts = cr.join(ct, Seq("__b"), "full_outer")
      .select(col("__b"), coalesce(col("__nr"), lit(0L)).as("__nr"),
        coalesce(col("__nt"), lit(0L)).as("__nt"))
    val totals = joinedCounts.agg(sum("__nr").as("__tr"), sum("__nt").as("__tt"))
    val ratios = joinedCounts.crossJoin(broadcast(totals))
      .select(col("__b"), round(
        log((col("__nt") + 1).cast("double") / (col("__tt") + buckets)) -
          log((col("__nr") + 1).cast("double") / (col("__tr") + buckets)), 6).as("__lr"))
    val scored = rawToks.join(broadcast(ratios), Seq("__b"))
      .groupBy("__id")
      .agg(count(lit(1)).as("__n"), round(sum("__lr"), 6).as("__s"))
    raw.select(col(idCol).as("__id")).distinct()
      .join(scored, Seq("__id"), "left_outer")
      .select(col("__id").as(idCol),
        coalesce(col("__n"), lit(0L)).as("n_feats"),
        coalesce(col("__s"), lit(0.0)).as("dsir_logratio"))
  }

  /** Deterministic DSIR selection: the `k` raw documents with the
    * highest [[dsirWeights]] log-ratio (ties broken by ascending id —
    * total order, engine-replayable). The paper resamples with Gumbel
    * noise; for a reproducible pipeline the noiseless top-k is the
    * standard deterministic variant, and weighted sampling composes via
    * [[Sampling]]'s md5 law against `exp(dsir_logratio)` rates if
    * randomization is wanted. Spark plans the global top-k as
    * TakeOrderedAndProject (per-partition heads, no full sort). */
  def dsirTopK(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, k: Int, buckets: Int = 1024): DataFrame =
    dsirWeights(raw, target, idCol, textCol, buckets)
      .orderBy(col("dsir_logratio").desc, col(idCol))
      .limit(k)

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    * document against a reference bigram LM ([[bigramModel]] of the
    * `reference` corpus — CCNet uses a Wikipedia KenLM; any clean
    * in-domain sample works), then split each language into `parts`
    * equal-frequency buckets by ascending perplexity — bucket 1 is the
    * cleanest ("head"), `parts` the noisiest ("tail"). Downstream
    * pipelines keep head+middle or weight by bucket.
    *
    * Perplexity proxy is `round(xent_sum / bigrams, 6)` — the mean
    * per-bigram negative log-likelihood under the reference model,
    * 6dp-rounded on both sides of the determinism contract. Documents
    * whose bigrams never hit the reference model (or with < 2 tokens)
    * are unscorable and drop, as in CCNet. The bucket split is
    * `ntile(parts)` semantics ordered by (ppl, id) — a total order, so
    * any engine's standard ntile reproduces the assignment.
    *
    * Scale design (100 TB): the reference model is vocabulary-bounded
    * and built once; scoring is [[bigramCrossEntropyWith]]'s one
    * token-keyed join + doc hash-agg. The bucket split deliberately
    * does NOT use `ntile().over(Window.partitionBy(lang))`: a window
    * partitioned by language lands the ENTIRE language in one task, and
    * on an English-heavy crawl that is billions of rows through one
    * external sort. Instead the slim (id, lang, ppl) frame — never
    * text — is RANGE-partitioned on (lang, ppl, id) with a PINNED
    * partition count (so AQE cannot re-coalesce the two reads of the
    * shared exchange differently), and each row's exact in-language
    * rank is assembled from two codegen'd pieces:
    * `monotonically_increasing_id()` over the sorted partitions, whose
    * bit layout IS (partition id << 33 | row index) — no object
    * deserialization, no per-group state — plus one tiny per-(pid,
    * lang) aggregate (≤ P + #languages rows: languages are contiguous
    * under the range order) giving each (partition, language) slice
    * its first local index, its cumulative cross-partition offset, and
    * the language total. Broadcast that aux table back and the rank is
    * `lidx − first_lidx + 1 + offset`; the bucket falls out of ntile's
    * size arithmetic applied to (rank, n_lang, parts) — identical
    * assignment to the window form, with no collect and no
    * single-reducer sort anywhere. Both consumers hang off the SAME
    * range Exchange (Spark's exchange reuse materializes it once per
    * action), every node is lazy (constructing the frame runs no job),
    * and the whole rank assembly stays inside whole-stage codegen. */
  def ccnetBuckets(df: DataFrame, idCol: String, textCol: String,
      langCol: String, reference: DataFrame, parts: Int = 3): DataFrame = {
    require(parts > 0, "parts must be positive")
    import org.apache.spark.sql.expressions.Window
    // ppl is a quotient of a snapped 6dp sum by an integer count — the
    // exact divergence class where Spark's shortest-string round
    // disagrees with the oracle's scaled-double convention; rz6 keeps
    // half-boundary quotients on the oracle's side (see rz6 scaladoc).
    val scored = bigramCrossEntropyWith(df, idCol, textCol,
      bigramModel(reference, idCol, textCol))
      .withColumn("ppl", rz6(col("xent_sum") / col("bigrams")))
    val slim = df.select(col(idCol), col(langCol).as("__lang"))
      .join(scored.select(col(idCol), col("ppl")), Seq(idCol))
      .select(col(idCol), col("__lang"), col("ppl"))
    val ranged = slim
      .repartitionByRange(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("__lang"), col("ppl"), col(idCol))
      .sortWithinPartitions(col("__lang"), col("ppl"), col(idCol))
    // codegen'd local index: mid = (pid << 33) | rowIndexInPartition,
    // assigned in the sorted partition order (documented bit layout of
    // monotonically_increasing_id; caps partitions at 8.6e9 rows)
    // LAZY localCheckpoint — load-bearing for correctness: the aux
    // aggregate and the rank join below must read ONE materialization.
    // Range boundaries are sampled from racy-ordered, AQE-re-coalesced
    // input, so two re-evaluations of this subtree can partition rows
    // differently and the assembled ranks would skew (the
    // Freq.exactQuantiles race, caught at 6M rows; a pre-exchange sort
    // cannot pin it — EliminateSorts drops sorts below repartitions).
    // Construction triggers the upstream AQE stages via toRdd — the
    // documented eagerness trade of every rank-assembly operator.
    val withIdx = ranged
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftright(col("__mid"), 33))
      .withColumn("__lidx", col("__mid").bitwiseAND(lit((1L << 33) - 1)))
      .localCheckpoint(false)
    // one tiny aux aggregate (≤ P + #languages rows): each (partition,
    // language) slice's first local index and row count, from which the
    // cross-partition cumulative offset and language total follow
    val wPid = Window.partitionBy("__lang").orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wLang = Window.partitionBy("__lang")
    val aux = withIdx.groupBy("__pid", "__lang")
      .agg(min("__lidx").as("__lmin"), count(lit(1)).as("__lcntp"))
      .withColumn("__loff", coalesce(sum("__lcntp").over(wPid), lit(0L)))
      .withColumn("__lcnt", sum("__lcntp").over(wLang))
      .select("__pid", "__lang", "__lmin", "__loff", "__lcnt")
    // ntile's size arithmetic: first (n % parts) buckets get one extra
    // row; the otherwise-branch `div __bsz` is unreachable when
    // __bsz = 0 because then __big = n ≥ __r (CaseWhen is lazy per row)
    withIdx
      .join(broadcast(aux), Seq("__pid", "__lang"))
      .withColumn("__r", col("__lidx") - col("__lmin") + 1 + col("__loff"))
      .withColumn("__bsz", expr(s"__lcnt div ${parts.toLong}"))
      .withColumn("__pad", pmod(col("__lcnt"), lit(parts.toLong)))
      .withColumn("__big", (col("__bsz") + 1) * col("__pad"))
      .withColumn("bucket",
        when(col("__r") <= col("__big"),
          expr("(__r - 1) div (__bsz + 1) + 1"))
          .otherwise(expr("__pad + (__r - __big - 1) div __bsz + 1"))
          .cast("int"))
      .select(col(idCol), col("__lang").as(langCol), col("ppl"), col("bucket"))
  }

  /** 6dp rounding in the ORACLE ENGINE'S operational convention:
    * `sign(x) * floor(|x| * 1e6 + 0.5) / 1e6` — round half away from
    * zero evaluated on the scaled DOUBLE, which is what DuckDB's
    * `round(x, 6)` computes. Spark's own `round` instead rounds the
    * SHORTEST DECIMAL STRING of the double (Scala `BigDecimal(double)`
    * goes through `Double.toString`), and the two conventions disagree
    * exactly when a value's shortest representation sits on the
    * half-way boundary — which products of two 6dp decimals hit
    * routinely (e.g. 0.005 * 0.0363 = 0.0001815: Spark says 0.000182,
    * the binary double is a hair below the boundary and DuckDB says
    * 0.000181). The classifier pipeline rounds PRODUCTS and QUOTIENTS
    * of 6dp values at every step, so it must use the oracle's
    * convention or sf0.1-scale corpora flip ~1 row in 10^4 (caught by
    * the sf01 twin gate). Valid for |x| < 2^53/1e6 ≈ 9e9 — far above
    * any margin/gradient here. */
  private def rz6(c: Column): Column = graft.util.Round6.rz6(c)

  /** Hashed term-frequency features: one row per (doc, bucket) with
    * `tf = round(count/doc_tokens, 6)` over `buckets` 48-bit-md5 hash
    * buckets — the shared feature law of [[dsirWeights]] and the
    * logistic quality classifier below (engine-replayable, fixed
    * model width regardless of vocabulary). Zero-token docs emit no
    * rows (their classifier margin is the bias alone). */
  def hashedTf(df: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame = df
    .select(col(idCol).as("__id"),
      explode(split(coalesce(col(textCol).cast("string"), lit("")), " ")).as("__tok"))
    .where(col("__tok") =!= "")
    .select(col("__id"),
      pmod(conv(substring(md5(col("__tok").cast("binary")), 1, 12), 16, 10)
        .cast("long"), lit(buckets.toLong)).as("__b"))
    .groupBy("__id", "__b").agg(count(lit(1)).as("__c"))
    .withColumn("__n", sum("__c").over(
      org.apache.spark.sql.expressions.Window.partitionBy("__id")))
    .select(col("__id"), col("__b"),
      rz6(col("__c").cast("double") / col("__n")).as("__tf"))

  /** Train a binary quality classifier IN-ENGINE: logistic regression
    * on [[hashedTf]] features by full-batch gradient descent — the
    * fastText-style model modern curation pipelines (DCLM, FineWeb-Edu)
    * use to score documents against a curated positive set, without
    * leaving the cluster or sampling the corpus down to one machine.
    * `labelCol` must be 0/1 (numeric). Returns (weights, bias) with
    * `weights(b)` the coefficient of bucket `b`.
    *
    * Every arithmetic step follows the 6dp determinism contract
    * (margins, residuals, gradients, and updates each round to 6dp), so
    * the whole optimization — not just the scores — replays exactly in
    * any engine: the q144 oracle reruns all iterations in DuckDB and
    * hash-matches the resulting probabilities.
    *
    * Scale design (100 TB): the feature frame is cached ONCE (bounded
    * by corpus tokens, never vocabulary); each iteration is one
    * broadcast join with the B-row weight table + a doc-keyed residual
    * join + a bucket-keyed gradient aggregate whose B-row result is
    * collected — the Lloyd-iteration shape ([[Ann]] k-means): driver
    * state is exactly the model (B + 1 doubles), gradients arrive
    * pre-aggregated, and the corpus never funnels anywhere. */
  def trainQualityLr(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, buckets: Int = 256, iters: Int = 3,
      eta: Double = 1.0): (Array[Double], Double) = {
    require(buckets > 0 && iters >= 0, "buckets and iters must be positive")
    val spark = df.sparkSession
    val labels = df.select(col(idCol).as("__id"),
      col(labelCol).cast("double").as("__y"))
    val tf = hashedTf(df, idCol, textCol, buckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = labels.count().toDouble
    val w = Array.fill(buckets)(0.0)
    var bias = 0.0
    try {
      var it = 0
      while (it < iters) {
        import spark.implicits._
        val wDf = broadcast(
          w.toIndexedSeq.zipWithIndex.map { case (v, b) => (b.toLong, v) }
            .toDF("__b", "__w"))
        // Summation law (the q118 self-correcting contract): every
        // summed TERM is first rounded to 6dp, so the true decimal sum
        // is an exact multiple of 1e-6 — maximally far from the outer
        // round's half-way boundary — and double summation-order noise
        // (~1e-13) can never flip the snapped result. A sum of
        // UNROUNDED products lands anywhere, and at sf0.1 scale one
        // margin in ~10⁴ really did straddle the boundary between
        // engines. Sums are snapped to 6dp BEFORE the /n so the
        // division operates on bit-identical doubles in every engine.
        val margins = tf.join(wDf, Seq("__b"))
          .groupBy("__id").agg(sum(rz6(col("__tf") * col("__w"))).as("__m"))
        val resid = labels.join(margins, Seq("__id"), "left_outer")
          .select(col("__id"), rz6(
            lit(1.0) / (lit(1.0) + exp(-rz6(lit(bias) + coalesce(col("__m"), lit(0.0)))))
              - col("__y")).as("__r"))
        val grads = tf.join(resid, Seq("__id"))
          .groupBy("__b")
          .agg(rz6(rz6(sum(rz6(col("__tf") * col("__r")))) / n).as("__g"))
          .collect().map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
        val gBias = resid.agg(rz6(rz6(sum("__r")) / n)).head().getDouble(0)
        // the same operational rule as [[rz6]] — half away from zero on
        // the scaled double (math.rint would be HALF_EVEN, and
        // BigDecimal-on-shortest-string is Spark round's divergent law)
        def r6(x: Double): Double =
          math.copySign(math.floor(math.abs(x) * 1e6 + 0.5), x) / 1e6
        var b = 0
        while (b < buckets) {
          w(b) = r6(w(b) - eta * grads.getOrElse(b, 0.0))
          b += 1
        }
        bias = r6(bias - eta * gBias)
        it += 1
      }
    } finally tf.unpersist()
    (w, bias)
  }

  /** Calibration profile of a [0,1] classifier score against binary
    * labels — the check a pipeline runs on its quality model BEFORE
    * trusting a score threshold to budget real documents: `bins`
    * equal-width score bins, each with row count, 6dp mean score
    * (confidence), 6dp positive fraction (accuracy), and their 6dp
    * absolute gap; every row also carries the frame's expected
    * calibration error `ece = round6(Σ_b round6(gap_b·n_b) / N)` (a
    * broadcast 1-row scalar — the reliability-diagram summary from
    * Naeini et al. 2015 / Guo et al. 2017).
    *
    * Determinism laws (cross-engine, order-free): bin =
    * clamp(floor(score·bins), 0, bins−1); per-bin mean = 6dp-snapped
    * scores summed as DECIMAL(20,6) (exact, association-free) then
    * divided and re-snapped; the ece numerator terms likewise. NULL
    * labels count as NEGATIVE (the boolean cast's otherwise-branch) —
    * filter upstream if NULL means "unknown" rather than "negative".
    * NULL scores are DROPPED here: a NULL score would otherwise flow
    * through least/greatest/floor into a NULL bin whose count inflates
    * the ECE denominator while its NULL gap term drops from the
    * numerator — a silently understated ECE, the one failure mode a
    * calibration check must not have. One bin-keyed hash aggregate with
    * map-side
    * partials + one bins-sized aggregate — nothing corpus-sized leaves
    * the first shuffle. */
  def calibrationProfile(df: DataFrame, scoreCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins > 0, s"bins must be positive (got $bins)")
    val rz6 = graft.util.Round6.rz6 _
    val s = col(scoreCol).cast("double")
    val binned = df.where(s.isNotNull).select(
      least(greatest(floor(s * bins), lit(0)), lit(bins - 1)).cast("int").as("bin"),
      rz6(s).cast("decimal(20,6)").as("__s6"),
      when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__y"))
    val perBin = binned.groupBy("bin").agg(
        count(lit(1)).as("n"),
        sum("__s6").as("__ssum"),
        sum("__y").as("__npos"))
      .select(col("bin"), col("n"),
        rz6(col("__ssum").cast("double") / col("n")).as("mean_score"),
        rz6(col("__npos").cast("double") / col("n")).as("frac_pos"))
      .withColumn("gap", rz6(abs(col("frac_pos") - col("mean_score"))))
    val ece = broadcast(perBin
      .select(rz6(col("gap") * col("n")).cast("decimal(20,6)").as("__t"), col("n"))
      .agg(sum("__t").as("__tsum"), sum("n").as("__N"))
      .select(rz6(col("__tsum").cast("double") / col("__N")).as("ece")))
    perBin.crossJoin(ece)
  }

  /** Score documents with a trained (or external) hashed-TF logistic
    * model: `lr_prob = sigmoid(round(bias + Σ w·tf, 6))`. Zero-token
    * docs keep a row scored by the bias alone. Map-only + one
    * broadcast join + one doc-keyed aggregate. */
  def scoreQualityLr(df: DataFrame, idCol: String, textCol: String,
      weights: Array[Double], bias: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val wDf = broadcast(
      weights.toIndexedSeq.zipWithIndex.map { case (v, b) => (b.toLong, v) }
        .toDF("__b", "__w"))
    val margins = hashedTf(df, idCol, textCol, weights.length)
      .join(wDf, Seq("__b"))
      // per-term 6dp rounding before the sum — see the summation-law
      // note in [[trainQualityLr]]
      .groupBy("__id").agg(sum(rz6(col("__tf") * col("__w"))).as("__m"))
    df.select(col(idCol).as("__id")).distinct()
      .join(margins, Seq("__id"), "left_outer")
      .select(col("__id").as(idCol),
        rz6(lit(bias) + coalesce(col("__m"), lit(0.0))).as("lr_margin"))
      .withColumn("lr_prob",
        rz6(lit(1.0) / (lit(1.0) + exp(-col("lr_margin")))))
  }

  /** Model-free document embeddings by feature hashing — the signed
    * hashed bag-of-words vector (Weinberger et al. 2009), L2-normalized:
    * token t adds sign(t) to bucket `h48(t) mod dim` where the sign is
    * the parity of `h48(t) div dim` (one md5 evaluation per token, the
    * engine's shared 48-bit law, both coordinates replayable by any
    * engine). The result composes directly with the [[Ann]] surface —
    * SemDeDup, kNN graphs, IVF, coresets — on corpora that have NO
    * model-produced embeddings, closing the text → vector → ANN loop
    * in-engine. Cosine on these vectors estimates token-multiset
    * cosine similarity (hashing is sign-unbiased).
    *
    * Output: one row per (doc, dim index) with a NONZERO coordinate
    * (`vec_dim`, `val` — rz6'd quotient by the rz6'd norm; opposite
    * signs can cancel a bucket to zero, which drops the row on every
    * engine alike). Empty docs produce no rows. Use
    * [[hashedEmbeddingVec]] for the assembled array<float> form.
    *
    * Scale design (100 TB): one hash-agg keyed (doc, bucket) — at most
    * `dim` rows per doc regardless of length — then a doc-keyed window
    * for the norm; integer signed counts make every sum exact, so the
    * only rounding is the final normalize. No vocabulary state, no
    * broadcast, no driver participation. */
  def hashedEmbedding(df: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame = {
    require(dim > 0, "dim must be positive")
    val h = conv(substring(md5(col("__tok").cast("binary")), 1, 12), 16, 10)
      .cast("long")
    val bucketed = df
      .select(col(idCol).as("__id"),
        explode(split(coalesce(col(textCol).cast("string"), lit("")), " ")).as("__tok"))
      .where(col("__tok") =!= "")
      .select(col("__id"), pmod(h, lit(dim.toLong)).as("__b"),
        // integer h div dim via (h - h mod dim)/dim — the subtraction
        // makes the double division exact (a float quotient could round
        // across an integer and flip the parity bit)
        when(pmod(((h - pmod(h, lit(dim.toLong))) / lit(dim.toDouble)).cast("long"),
          lit(2L)) === 0, lit(1L)).otherwise(lit(-1L)).as("__s"))
      .groupBy("__id", "__b").agg(sum("__s").as("__v"))
      .where(col("__v") =!= 0)
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("__id")
    bucketed
      .withColumn("__nrm", rz6(sqrt(sum(col("__v") * col("__v")).over(wDoc))))
      .select(col("__id").as(idCol), col("__b").cast("int").as("vec_dim"),
        rz6(col("__v") / col("__nrm")).as("val"))
  }

  /** [[hashedEmbedding]] assembled into a dense `array<float>` column
    * (`embedding`), zero-filled — the shape the [[Ann]] operators eat.
    * Docs with no tokens get a NULL embedding (not a zero vector, which
    * would have an undefined cosine). */
  def hashedEmbeddingVec(df: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame = {
    val sparse = hashedEmbedding(df, idCol, textCol, dim)
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("vec_dim"), col("val"))))
        .as("__m"))
      .select(col(idCol),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("__m"), i), lit(0.0)).cast("float"))
          .as("embedding"))
    df.select(col(idCol)).distinct()
      .join(sparse, Seq(idCol), "left")
  }

  /** Okapi BM25 retrieval: for each query, the top-`k` documents by the
    * BM25 ranking function over whitespace tokens — the standard sparse
    * retrieval primitive (contamination lookup, nearest-document audit,
    * retrieval-augmented curation) that [[tfidfTopTerms]]'s statistics
    * almost compute but don't rank by.
    *
    * Scoring (Lucene's non-negative idf variant):
    * {{{
    *   idf_t  = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
    *   norm_d = dl_d / avgdl
    *   s(q,d) = Σ_t∈q∩d  idf_t · tf · (k1+1) / (tf + k1·(1 − b + b·norm_d))
    * }}}
    * with N = total documents (empty/NULL docs count toward N and pull
    * avgdl down, the IR convention), dl = token count, df_t = documents
    * containing t, and duplicate query terms deduplicated (standard
    * bag-of-words BM25 counts a repeated query term once per distinct
    * term here; callers wanting query-side tf can weight rows).
    *
    * Determinism contract: every product/quotient is rounded half-away-
    * from-zero to 6dp ([[rz6]]) before it feeds the next step, and the
    * per-(query,doc) sum adds ONLY 6dp terms — the [[trainQualityLr]]
    * summation law, so the score is reproducible across engines and
    * partitionings; ranking ties break by ascending doc id (total
    * order). ln agreement at 6dp across libm implementations follows the
    * [[dsirWeights]] precedent.
    *
    * Scale design (100 TB): the corpus is scanned once. Each document
    * row explodes into its tokens plus one "" sentinel row carrying its
    * token count, and a left join against the BROADCAST query terms
    * (|queries|·|terms| rows) keeps only the sentinel and the query-term
    * occurrences — map-side, so the corpus vocabulary never reaches an
    * exchange and corpus text never rides one. One id-keyed aggregate
    * folds each document to (dl, its matched (query, term) occurrences);
    * it needs no exchange when the corpus already arrives
    * hash-partitioned by id, and otherwise shuffles ids, counts and query
    * terms once, a shuffle both branches below read. From that
    * per-document frame two branches run side by side: the corpus
    * scalars (N over distinct ids, empty documents included, and the
    * postings mass for avgdl) as one global aggregate riding a broadcast
    * 1-row frame, and the matched postings, shuffled ONCE by query.
    * Everything after that shuffle is query-local: df_t is a window count
    * over the query's postings of t (a document holds at most one posting
    * per (query, term)), and the (query, doc) score sum and the
    * rank-pushdown top-k window reuse the same partitioning. No broadcast
    * is built on top of another. A hot query's candidate set is its
    * matched-postings count — salt via [[SkewJoin]] if one query matches
    * most of the corpus. `queries` must be broadcast-small (retrieval
    * batches, not a second corpus — for corpus×corpus similarity use
    * [[winnowSharedPairs]] or MinHash) with one row per query id. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, "k must be positive")
    require(k1 >= 0 && b >= 0 && b <= 1, s"need k1 >= 0, 0 <= b <= 1 (got $k1, $b)")
    def tokens(c: String) = split(coalesce(col(c).cast("string"), lit("")), " ")
    // (query, distinct term) rows, flagged so a match is told apart from
    // a miss even under a null query id
    val qterms = queries
      .select(col(qidCol).as("__qid"), explode(array_distinct(tokens(qtextCol))).as("__tok"))
      .where(col("__tok") =!= "")
      .withColumn("__hit", lit(true))
    // every document row explodes into a "" sentinel carrying its token
    // count plus its tokens; the left join keeps the sentinel (real
    // tokens are never "") and the query-term occurrences only
    val perDoc = df
      .select(col(idCol).as("__id"), filter(tokens(textCol), t => t =!= "").as("__ts"))
      .select(col("__id"), size(col("__ts")).as("__ntok"),
        explode(concat(array(lit("")), col("__ts"))).as("__tok"))
      .join(broadcast(qterms), Seq("__tok"), "left")
      .where(col("__tok") === "" || col("__hit").isNotNull)
      .groupBy("__id").agg(
        sum(when(col("__tok") === "", col("__ntok"))).as("__dl"),
        collect_list(when(col("__tok") =!= "", struct(col("__qid"), col("__tok"))))
          .as("__m"))
    // one row per (document, matched query term) with its tf — or one
    // row with a null term for a document that matched nothing, so the
    // same frame also carries every document's dl exactly once
    val perTerm = perDoc
      .select(col("__id"), col("__dl"), col("__m"),
        posexplode_outer(array_distinct(col("__m"))).as(Seq("__pos", "__qt")))
      .select(col("__qt.__qid").as("__qid"), col("__qt.__tok").as("__tok"),
        col("__id"), col("__dl"), col("__pos"),
        size(filter(col("__m"), o => o === col("__qt"))).cast("long").as("__tf"))
    // corpus scalars: N over ALL distinct ids (empty ones too), avgdl =
    // 6dp quotient of the postings mass over N
    val first = coalesce(col("__pos"), lit(0)) === 0
    val stats = broadcast(perTerm
      .agg(count(when(first, lit(1))).cast("double").as("__n"),
        sum(when(first, col("__dl"))).as("__mass"))
      .select(col("__n"), rz6(col("__mass") / col("__n")).as("__avgdl")))
    val postings = perTerm.where(col("__pos").isNotNull).repartition(col("__qid"))
    val contrib = postings
      .withColumn("__df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("__qid", "__tok")))
      .crossJoin(stats)
      .select(col("__qid"), col("__id"),
        rz6(rz6(log(lit(1.0) +
            (col("__n") - col("__df") + lit(0.5)) /
              (col("__df") + lit(0.5)))) *
          rz6(col("__tf") * lit(k1 + 1.0) /
            (col("__tf") + lit(k1) * (lit(1.0 - b) +
              lit(b) * rz6(col("__dl") / col("__avgdl")))))).as("__c"))
    val scored = contrib.groupBy("__qid", "__id")
      .agg(count(lit(1)).as("__nt"), rz6(sum("__c")).as("__s"))
    val wQ = org.apache.spark.sql.expressions.Window
      .partitionBy("__qid").orderBy(col("__s").desc, col("__id").asc)
    scored.withColumn("__rk", row_number().over(wQ)).where(col("__rk") <= k)
      .select(col("__qid").as(qidCol), col("__id").as(idCol),
        col("__rk").cast("int").as("rnk"),
        col("__nt").as("n_terms"), col("__s").as("score"))
  }

  // ---- persisted BM25 index: retrieval without a corpus scan ----------

  /** Persist [[bm25TopK]]'s corpus-side state under `path` so retrieval
    * never rescans the corpus: `postings/` (tok, doc, tf, dl) and
    * `dfreq/` (tok, df), both parquet PARTITIONED BY `pt =
    * pmod(hash(tok), buckets)` so a probe's scan prunes to the query
    * tokens' buckets; `stats/` holds the one-row corpus scalars
    * (n docs INCLUDING empty ones, total postings mass — the avgdl
    * quotient is taken at search time under the same rz6 law); a
    * `_bm25_params.json` sidecar pins the bucket count, since the
    * hash-partition layout is meaningless under any other value.
    * Versioned root like every persisted index here: tables land in
    * `path/v<N>/` and activate by `_current` pointer flip
    * ([[graft.util.FsIO.publishVersion]]), so rebuilds are invisible
    * to concurrent probes. */
  def writeBm25Index(df: DataFrame, idCol: String, textCol: String,
      path: String, buckets: Int = 64): Unit = {
    require(buckets > 0, s"buckets must be positive (got $buckets)")
    val spark = df.sparkSession
    val ver = graft.util.FsIO.nextVersionDir(spark, path)
    // the postings aggregation feeds THREE separate write actions
    // (postings, dfreq, stats mass) — actions don't share exchanges, so
    // without a persist each one re-runs the corpus scan + explode +
    // (doc, tok) hash agg (guide §5: cache exactly the reused-and-
    // expensive intermediate, unpersist when done; same pattern as the
    // kmeans corpus cache in Ann.buildIvf)
    val postings = df
      .select(col(idCol).as("doc"),
        explode(split(coalesce(col(textCol).cast("string"), lit("")), " ")).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("doc", "tok").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc")
      // each sub-table also records its schema as a DDL sidecar: probes
      // read with an EXPLICIT schema, so no footer of any (possibly
      // unprobed) file is ever opened for inference — pruning stays
      // pruning even for the planning step
      def writeTable(frame: DataFrame, sub: String, partitioned: Boolean): Unit = {
        val w = frame.write.mode("overwrite")
        (if (partitioned) w.partitionBy("pt") else w).parquet(s"$ver/$sub")
        graft.util.FsIO.writeStringAtomic(df.sparkSession,
          new org.apache.hadoop.fs.Path(ver, s"_schema_$sub.ddl"),
          frame.schema.toDDL)
      }
      writeTable(postings.withColumn("dl", sum("tf").over(wDoc))
        .withColumn("pt", pmod(hash(col("tok")), lit(buckets))), "postings",
        partitioned = true)
      writeTable(postings.groupBy("tok").agg(count(lit(1)).as("df"))
        .withColumn("pt", pmod(hash(col("tok")), lit(buckets))), "dfreq",
        partitioned = true)
      writeTable(df.select(col(idCol)).distinct()
        .agg(count(lit(1)).cast("double").as("n"))
        .crossJoin(postings.agg(coalesce(sum("tf"), lit(0L)).as("mass"))),
        "stats", partitioned = false)
      graft.util.FsIO.writeStringAtomic(df.sparkSession,
        new org.apache.hadoop.fs.Path(ver, "_bm25_params.json"),
        s"""{"buckets":$buckets,"idCol":"$idCol"}""")
      graft.util.FsIO.publishVersion(spark, path, ver)
    } finally postings.unpersist(false)
  }

  /** Document-level incremental append for a persisted BM25 index: the
    * batch's postings/doc-lengths append as new part-files in their
    * token buckets, its per-token document counts append as DELTA rows
    * to `dfreq/`, and its (doc count, postings mass) appends as one
    * more `stats/` row — nothing existing is rewritten. The search
    * path SUMS dfreq deltas per token and stats rows before scoring,
    * so search-after-append equals search over a one-shot index of the
    * union (q175; the sums are exactly the one-shot aggregates).
    * Document-level means each doc's text must arrive whole in one
    * batch: dl is computed within the batch, and re-appending an id
    * double-counts it, the standard contract of every append here. */
  def appendToBm25Index(spark: org.apache.spark.sql.SparkSession, path: String,
      df: DataFrame, idCol: String, textCol: String): Unit = {
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val buckets = bm25Buckets(spark, dataDir)
    // same three-action reuse as [[writeBm25Index]]: persist the batch
    // postings once instead of re-aggregating the batch per write
    val postings = df
      .select(col(idCol).as("doc"),
        explode(split(coalesce(col(textCol).cast("string"), lit("")), " ")).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("doc", "tok").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc")
      postings.withColumn("dl", sum("tf").over(wDoc))
        .withColumn("pt", pmod(hash(col("tok")), lit(buckets)))
        .write.mode("append").partitionBy("pt").parquet(s"$dataDir/postings")
      postings.groupBy("tok").agg(count(lit(1)).as("df"))
        .withColumn("pt", pmod(hash(col("tok")), lit(buckets)))
        .write.mode("append").partitionBy("pt").parquet(s"$dataDir/dfreq")
      df.select(col(idCol)).distinct().agg(count(lit(1)).cast("double").as("n"))
        .crossJoin(postings.agg(coalesce(sum("tf"), lit(0L)).as("mass")))
        .write.mode("append").parquet(s"$dataDir/stats")
      graft.util.FsIO.assertStillCurrent(spark, path, dataDir)
    } finally postings.unpersist(false)
  }

  /** The pinned bucket count of a resolved BM25 version directory. */
  private def bm25Buckets(spark: org.apache.spark.sql.SparkSession,
      dataDir: String): Int = {
    val json = graft.util.FsIO.readString(spark,
        new org.apache.hadoop.fs.Path(dataDir, "_bm25_params.json"))
      .getOrElse(throw new java.io.IOException(
        s"BM25 index at $dataDir has no readable _bm25_params.json sidecar"))
    """"buckets":(\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toInt).getOrElse(throw new java.io.IOException(
        s"BM25 index sidecar at $dataDir lacks buckets: $json"))
  }

  /** Compact a persisted BM25 index in place: every
    * [[appendToBm25Index]] leaves new part-files in the postings
    * buckets, DELTA rows in `dfreq/`, and one more `stats/` row — at
    * production append cadence that is a small-file explosion and a
    * per-probe read fan-out that grows with append count. Compaction
    * folds the dfreq deltas to one row per token, collapses stats to
    * its one-row aggregate, and rewrites each `pt=` bucket as ONE file
    * with postings sorted by (tok, doc) for row-group locality. The
    * sums compacted here are exactly the aggregates
    * [[bm25SearchIndex]] computes on every probe, so search after
    * compaction is IDENTICAL to search before it (q204 pins the
    * search-after-appends-then-compact result against q146's in-memory
    * oracle; the spec additionally pins file counts to 1/bucket).
    * The rewrite lands in the NEXT version directory and activates by
    * pointer flip ([[graft.util.FsIO.publishVersion]]) — concurrent
    * probes, including ones planned mid-compaction, keep reading the
    * version they resolved. Run it offline like any other
    * index-maintenance job; it is not concurrent-WRITER safe. */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String, keepVersions: Int = 1): Unit = {
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val buckets = bm25Buckets(spark, dataDir)
    def readTable(sub: String) = bm25Table(spark, dataDir, sub)
    val ver = graft.util.FsIO.nextVersionDir(spark, path)
    // one task per pt bucket -> one file per partition directory; the
    // in-file (tok, doc) sort clusters each token's postings contiguously
    // and leads with pt, or the partitioned write's own sort by pt
    // would replace it
    readTable("postings")
      .repartition(buckets, col("pt")).sortWithinPartitions("pt", "tok", "doc")
      .write.partitionBy("pt").parquet(s"$ver/postings")
    readTable("dfreq")
      .groupBy("tok").agg(sum("df").as("df"))
      .withColumn("pt", pmod(hash(col("tok")), lit(buckets)))
      .repartition(buckets, col("pt")).sortWithinPartitions("pt", "tok")
      .write.partitionBy("pt").parquet(s"$ver/dfreq")
    readTable("stats")
      .agg(sum("n").as("n"), sum("mass").as("mass"))
      .coalesce(1).write.parquet(s"$ver/stats")
    // sidecars carry over verbatim: schemas and params are unchanged
    for (name <- Seq("_bm25_params.json", "_schema_postings.ddl",
        "_schema_dfreq.ddl", "_schema_stats.ddl"))
      graft.util.FsIO.readString(spark,
          new org.apache.hadoop.fs.Path(dataDir, name))
        .foreach(s => graft.util.FsIO.writeStringAtomic(spark,
          new org.apache.hadoop.fs.Path(ver, name), s))
    graft.util.FsIO.publishVersion(spark, path, ver, keepVersions)
  }

  /** One sub-table of a resolved BM25 version directory, read with its
    * recorded explicit schema (no footer inference). The scan covers
    * the base directory PLUS any `<sub>_b<batchId>` streaming delta
    * directories ([[appendBm25BatchExactlyOnce]]); each root is
    * pt-partitioned on its own, so bucket pruning holds across all of
    * them. */
  private def bm25Table(spark: org.apache.spark.sql.SparkSession,
      dataDir: String, sub: String): DataFrame = {
    val ddl = graft.util.FsIO.readString(spark,
        new org.apache.hadoop.fs.Path(dataDir, s"_schema_$sub.ddl"))
      .getOrElse(throw new java.io.IOException(
        s"BM25 index at $dataDir has no readable _schema_$sub.ddl sidecar"))
    val base = new org.apache.hadoop.fs.Path(dataDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val roots = fs.listStatus(base).toSeq.map(_.getPath)
      .filter(p => p.getName == sub || p.getName.startsWith(sub + "_b"))
      .map(_.toString).sorted
    require(roots.nonEmpty, s"BM25 index at $dataDir has no $sub data")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    // one scan per root, unioned: sibling delta roots confuse a single
    // multi-path read's partition discovery (CONFLICTING_DIRECTORY_
    // STRUCTURES), while per-root scans keep pt-pruning on each; the
    // root count is bounded by the compaction cadence
    roots.map(r => spark.read.schema(schema).parquet(r))
      .reduce(_.unionByName(_))
  }

  /** EXACTLY-ONCE streaming append for a persisted BM25 index — the
    * `foreachBatch` form of [[appendToBm25Index]]. The plain append is
    * not retry-safe: a foreachBatch RETRY of the same micro-batch would
    * append its postings/dfreq/stats rows a second time and every
    * re-sent df and tf would double-count. Here the batch's three
    * contributions land in batch-suffixed DELTA directories
    * (`postings_b<id>`, `dfreq_b<id>`, `stats_b<id>`) written with mode
    * OVERWRITE — a retry rewrites the same directories with the same
    * rows (the foreachBatch replay contract) instead of adding new
    * ones, so the committed state is identical however many times the
    * batch runs. Read paths ([[bm25SearchIndex]]) union base + deltas
    * and already sum dfreq/stats rows, so search after N micro-batches
    * equals a one-shot index of their union (the q222 gate); a
    * [[compactBm25Index]] folds the deltas into the next version's
    * base. Same document-level contract as the batch append: each
    * doc's text arrives whole in one micro-batch. Ordering contract
    * with compaction: quiesce the stream before compacting (compaction
    * is not concurrent-WRITER safe anywhere in this family) — a retry
    * of a batch whose delta was already FOLDED by a compaction would
    * re-create the delta dir and double-count it, exactly the
    * single-writer rule the foreachBatch checkpoint already enforces
    * for a live stream. */
  def appendBm25BatchExactlyOnce(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, idCol: String, textCol: String,
      batchId: Long): Unit = {
    require(batchId >= 0, s"batchId must be >= 0 (got $batchId)")
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val buckets = bm25Buckets(spark, dataDir)
    val postings = df
      .select(col(idCol).as("doc"),
        explode(split(coalesce(col(textCol).cast("string"), lit("")), " ")).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("doc", "tok").agg(count(lit(1)).as("tf"))
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc")
    postings.withColumn("dl", sum("tf").over(wDoc))
      .withColumn("pt", pmod(hash(col("tok")), lit(buckets)))
      .write.mode("overwrite").partitionBy("pt")
      .parquet(s"$dataDir/postings_b$batchId")
    postings.groupBy("tok").agg(count(lit(1)).as("df"))
      .withColumn("pt", pmod(hash(col("tok")), lit(buckets)))
      .write.mode("overwrite").partitionBy("pt")
      .parquet(s"$dataDir/dfreq_b$batchId")
    df.select(col(idCol)).distinct().agg(count(lit(1)).cast("double").as("n"))
      .crossJoin(postings.agg(coalesce(sum("tf"), lit(0L)).as("mass")))
      .write.mode("overwrite").parquet(s"$dataDir/stats_b$batchId")
    graft.util.FsIO.assertStillCurrent(spark, path, dataDir)
  }

  /** BM25 retrieval against a PERSISTED index: the query batch's token
    * buckets are evaluated once (a tiny driver job, like the IVF probe
    * collect) and become a static `pt IN (...)` partition filter on the
    * postings and dfreq scans — the index is touched only where query
    * vocabulary can match. Scoring replays [[bm25TopK]]'s exact
    * arithmetic (same rz6 law, same idf, same tie order), so for the
    * same corpus the ranked results are IDENTICAL to the in-memory
    * path (q174 pins this against q146's oracle). Reads aggregate
    * dfreq delta rows and stats rows, so appended indexes
    * ([[appendToBm25Index]]) score identically to one-shot ones. */
  def bm25SearchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qidCol: String, qtextCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, "k must be positive")
    // resolve the version ONCE at plan time: params, schemas and every
    // table scan come from the same snapshot, and a compaction
    // publishing mid-probe cannot pull files out from under this plan
    val dataDir = graft.util.FsIO.indexDataDir(spark, path)
    val json = graft.util.FsIO.readString(spark,
        new org.apache.hadoop.fs.Path(dataDir, "_bm25_params.json"))
      .getOrElse(throw new java.io.IOException(
        s"BM25 index at $dataDir has no readable _bm25_params.json sidecar"))
    val buckets = """"buckets":(\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toInt).getOrElse(throw new java.io.IOException(
        s"BM25 index sidecar at $dataDir lacks buckets: $json"))
    val idColName = """"idCol":"([^"]+)"""".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse("doc_id")
    val qterms = queries
      .select(col(qidCol).as("__qid"),
        explode(array_distinct(
          split(coalesce(col(qtextCol).cast("string"), lit("")), " "))).as("__tok"))
      .where(col("__tok") =!= "")
    val probed = qterms.select(pmod(hash(col("__tok")), lit(buckets)).as("pt"))
      .distinct().collect().map(_.getInt(0)).sorted
    def readTable(sub: String) = bm25Table(spark, dataDir, sub)
    def pruned(sub: String) = {
      val t = readTable(sub)
      if (probed.isEmpty) t.where(lit(false)) else
        t.where(col("pt").isin(probed.map(Int.box): _*))
    }
    // stats rows and per-token dfreq rows SUM across append deltas;
    // for a one-shot index these aggregates are identities
    val stats = broadcast(readTable("stats")
      .agg(sum("n").as("n"), sum("mass").as("mass")))
    val qidf = broadcast(
      qterms.join(broadcast(pruned("dfreq")
            .groupBy(col("tok").as("__tok")).agg(sum("df").as("df"))),
          Seq("__tok"))
        .crossJoin(stats)
        .select(col("__qid"), col("__tok"),
          rz6(log(lit(1.0) +
            (col("n") - col("df") + lit(0.5)) /
              (col("df") + lit(0.5)))).as("__idf")))
    val avgdlDf = broadcast(stats
      .select(rz6(col("mass") / col("n")).as("__avgdl")))
    val contrib = pruned("postings")
      .select(col("tok").as("__tok"), col("doc").as("__id"),
        col("tf").as("__tf"), col("dl").as("__dl"))
      .join(qidf, Seq("__tok")).crossJoin(avgdlDf)
      .select(col("__qid"), col("__id"),
        rz6(col("__idf") *
          rz6(col("__tf") * lit(k1 + 1.0) /
            (col("__tf") + lit(k1) * (lit(1.0 - b) +
              lit(b) * rz6(col("__dl") / col("__avgdl")))))).as("__c"))
    val scored = contrib.groupBy("__qid", "__id")
      .agg(count(lit(1)).as("__nt"), rz6(sum("__c")).as("__s"))
    val wQ = org.apache.spark.sql.expressions.Window
      .partitionBy("__qid").orderBy(col("__s").desc, col("__id").asc)
    scored.withColumn("__rk", row_number().over(wQ)).where(col("__rk") <= k)
      .select(col("__qid").as(qidCol), col("__id").as(idColName),
        col("__rk").cast("int").as("rnk"),
        col("__nt").as("n_terms"), col("__s").as("score"))
  }

  /** Zipf profile of the corpus vocabulary: the `topK` most frequent
    * whitespace tokens with rank, count, and 6dp `ln(rank)`/`ln(count)`
    * — the two columns whose regression slope is the corpus's Zipf
    * exponent, the standard sanity check that a crawl slice looks like
    * natural language (slope ≈ −1) rather than boilerplate or spam
    * (flat head / cliff). Ties rank by (count desc, token asc).
    *
    * Scale design: one token hash-agg (map-side partials), then a
    * TakeOrdered top-`topK` (per-partition heads merged — never a
    * global sort or corpus-sized window), then rank assignment by
    * sorting the ≤ topK collected rows INSIDE one aggregate row
    * (sort_array + posexplode — window-free, so the global-window
    * audit stays clean). Deterministic: integer counts, byte-order
    * token ties, 6dp logs. */
  def zipfProfile(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    require(topK > 0, s"topK must be positive (got $topK)")
    val rz6 = graft.util.Round6.rz6 _
    df.select(explode(split(coalesce(col(textCol).cast("string"), lit("")),
        " ")).as("__tok"))
      .where(col("__tok") =!= "")
      .groupBy("__tok").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__tok").asc).limit(topK)
      .agg(sort_array(collect_list(
        struct((-col("__c")).as("nc"), col("__tok").as("t")))).as("xs"))
      .select(posexplode(col("xs")))
      .select((col("pos") + 1).cast("int").as("rnk"),
        col("col.t").as("term"),
        (-col("col.nc")).as("cnt"),
        rz6(log((col("pos") + 1).cast("double"))).as("ln_rank"),
        rz6(log((-col("col.nc")).cast("double"))).as("ln_cnt"))
  }

  /** Heaps-law vocabulary growth: distinct-vocabulary size after each
    * id-ordered document-count checkpoint — the sublinearity check that
    * a corpus keeps contributing NEW tokens (a flattening curve means
    * the marginal crawl is duplicates/boilerplate; Heaps' law predicts
    * V ∝ N^β, β ≈ 0.5 for natural language). Checkpoints are doc-id
    * thresholds (id-order = ingest order here), so the curve is a
    * deterministic function of the corpus, not of partitioning.
    *
    * One corpus pass: each token reduces to its FIRST appearance
    * (min doc id — a single hash-agg), and the curve falls out as K
    * conditional counts over that vocabulary-sized table — never K
    * corpus scans. Output: `(checkpoint, vocab)` per checkpoint. */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
      checkpoints: Seq[Long]): DataFrame = {
    require(checkpoints.nonEmpty, "need at least one checkpoint")
    require(checkpoints.distinct.size == checkpoints.size,
      s"duplicate checkpoints: $checkpoints")
    val first = df
      .select(col(idCol).as("__id"),
        explode(split(coalesce(col(textCol).cast("string"), lit("")), " "))
          .as("__tok"))
      .where(col("__tok") =!= "")
      .groupBy("__tok").agg(min("__id").as("__first"))
    val counts = checkpoints.sorted.map(c =>
      count(when(col("__first") <= c, 1)).as(s"__c$c"))
    val one = first.agg(counts.head, counts.tail: _*)
    val rows = checkpoints.sorted.map(c =>
      struct(lit(c).as("checkpoint"), col(s"__c$c").as("vocab")))
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.checkpoint"), col("r.vocab"))
  }

  /** Full per-document profile in one pass. */
  def profile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
      tokenCount(t).as("n_tokens"),
      bpeTokenCount(t).as("n_bpe"),
      length(t).as("n_chars"),
      langId(t).as("lang_pred"),
      qualityScore(t).as("quality"),
      fingerprint(t).as("fingerprint"))
  }

  /** Unicode-script composition per document: character counts and
    * fractions for the major script blocks (Latin, Cyrillic, Han,
    * Arabic) plus decimal digits — the script-mix signal multilingual
    * curation routes on (a "Latin" crawl shard full of Han characters
    * is mislabeled; a doc that is half digits is a table dump).
    *
    * Everything is a map-only projection of codegen'd string
    * expressions — `length(regexp_replace(...))` per script class, no
    * UDF, no shuffle — so it composes with any downstream filter at
    * full scan speed. Fractions follow the 6dp law (DuckDB replays
    * with `\p{Script}` RE2 classes; Java spells them `\p{IsScript}` —
    * same classes for the codepoints both engines see).
    *
    * Scale note: counting by REMOVING non-members (`[^\p{X}]` → "")
    * and taking the remaining length counts CODEPOINTS for every
    * class on both engines, because both `length` functions count
    * codepoints, and supplementary-plane members survive intact. */
  /** Jensen–Shannon divergence between two corpora over `buckets`
    * hashed-token mass distributions — the drift gate a pipeline runs
    * when a new crawl batch lands: JS ∈ [0, ln 2], symmetric, finite
    * even for disjoint vocabularies (unlike KL), comparable across
    * batches because the bucket space is fixed. Buckets use the shared
    * seed-free md5 law ([[hashedTf]]), so the statistic is a pure
    * function of the two corpora.
    *
    * Determinism: bucket masses and the midpoint are 6dp-snapped; each
    * summed term is 6dp-snapped and accumulated as DECIMAL(20,6) —
    * decimal sums are EXACT and order-free, so the result does not
    * depend on partitioning (a double sum over buckets would carry
    * last-ulp order sensitivity into rz6). `ln` agrees across libms at
    * 6dp (the corpus-wide law).
    *
    * Scale design: one token hash-agg per corpus (map-side partials,
    * final size ≤ buckets rows), two 1-row totals riding broadcast
    * cross joins, a buckets-sized full-outer join, one global
    * aggregation of ≤ buckets rows. Nothing after the first
    * aggregation is corpus-sized. */
  def jsDivergence(a: DataFrame, b: DataFrame, textCol: String,
      buckets: Int = 256): DataFrame = {
    require(buckets > 0, s"buckets must be positive (got $buckets)")
    def bucketCounts(df: DataFrame) = df
      .select(explode(split(coalesce(col(textCol).cast("string"), lit("")),
        " ")).as("__tok"))
      .where(col("__tok") =!= "")
      .select(pmod(conv(substring(md5(col("__tok").cast("binary")), 1, 12),
        16, 10).cast("long"), lit(buckets.toLong)).as("__b"))
      .groupBy("__b").agg(count(lit(1)).as("__c"))
    val ca = bucketCounts(a)
    val cb = bucketCounts(b)
    val ta = ca.agg(sum("__c").as("__ta"))
    val tb = cb.agg(sum("__c").as("__tb"))
    val pa = ca.crossJoin(broadcast(ta))
      .select(col("__b"), rz6(col("__c").cast("double") / col("__ta")).as("p"))
    val pb = cb.crossJoin(broadcast(tb))
      .select(col("__b"), rz6(col("__c").cast("double") / col("__tb")).as("q"))
    val f = pa.join(pb, Seq("__b"), "full_outer")
      .select(coalesce(col("p"), lit(0.0)).as("p"),
        coalesce(col("q"), lit(0.0)).as("q"))
      .withColumn("m", rz6((col("p") + col("q")) / 2))
      .withColumn("tp", when(col("p") > 0,
        rz6(col("p") * rz6(log(col("p") / col("m"))))).otherwise(lit(0.0)))
      .withColumn("tq", when(col("q") > 0,
        rz6(col("q") * rz6(log(col("q") / col("m"))))).otherwise(lit(0.0)))
    f.agg(
        sum(col("tp").cast("decimal(20,6)")).as("__sp"),
        sum(col("tq").cast("decimal(20,6)")).as("__sq"))
      .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
      .select(
        rz6((col("__sp") + col("__sq")).cast("double") * 0.5).as("js"),
        col("__ta").as("n_tokens_a"), col("__tb").as("n_tokens_b"))
  }

  def scriptProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(col(textCol).cast("string"), lit(""))
    val n = length(t)
    def frac(c: Column): Column =
      when(n === 0, lit(0.0)).otherwise(rz6(c.cast("double") / n))
    // ONE codepoint pass emits all five counters (the codegen'd
    // script_counts kernel) — the per-script regex formulation this
    // replaces re-scanned the string once per script class; counts are
    // pinned identical by q190 + twin and ScriptCountsSpec
    val sc = graft.functions.GeoFunctions.script_counts(t)
    df.withColumn("__sc", sc)
      .select(col(idCol),
        n.as("n_chars"),
        element_at(col("__sc"), 1).as("n_latin"),
        element_at(col("__sc"), 2).as("n_cyrillic"),
        element_at(col("__sc"), 3).as("n_han"),
        element_at(col("__sc"), 4).as("n_arabic"),
        element_at(col("__sc"), 5).as("n_digit"),
        frac(element_at(col("__sc"), 1)).as("f_latin"),
        frac(element_at(col("__sc"), 2)).as("f_cyrillic"),
        frac(element_at(col("__sc"), 3)).as("f_han"),
        frac(element_at(col("__sc"), 4)).as("f_arabic"),
        frac(element_at(col("__sc"), 5)).as("f_digit"))
  }
}
