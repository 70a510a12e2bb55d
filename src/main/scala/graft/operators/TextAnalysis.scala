package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.rolling_hash

/** Text-analysis operators for training-data pipelines: quality features,
  * token counting, language ID, document fingerprinting. All column
  * expressions (codegen'd) — rolling_hash is a native Catalyst expression.
  */
object TextAnalysis {

  /** Occurrences of a literal substring, via the replace-length identity
    * (chosen because it computes identically in any ANSI SQL engine —
    * the oracle mirrors it verbatim).
    */
  def countOccurrences(text: Column, lit0: String): Column =
    ((length(text) - length(replace(text, lit(lit0), lit("")))) /
      lit0.length).cast("long")

  /** Quality features per document — every column is reproducible exactly
    * in ANSI SQL (no regex dialect dependence).
    */
  def qualityFeatures(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val t = col(textCol)
    val nChars = length(t).cast("long")
    val nTokens = (length(t) - length(replace(t, lit(" "), lit(""))) + 1)
      .cast("long")
    val nPeriods = countOccurrences(t, ".")
    val nCommas = countOccurrences(t, ",")
    val nThe = countOccurrences(t, " the ")
    docs.select(
      col(idCol),
      nChars.as("n_chars"),
      nTokens.as("n_tokens"),
      nPeriods.as("n_periods"),
      nCommas.as("n_commas"),
      nThe.as("n_the"),
      (nChars.cast("double") / nTokens.cast("double")).as("avg_token_len"),
      ((nPeriods + nCommas).cast("double") / nChars.cast("double"))
        .as("punct_ratio"),
      (nThe.cast("double") / nTokens.cast("double")).as("stopword_ratio"))
      .orderBy(idCol)
  }

  /** Stopword profiles for the language-ID heuristic (top function words;
    * public-knowledge lists).
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "los", "por"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "une", "du", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "就", "不", "人"))

  /** N-gram/stopword language ID: score = fraction of tokens found in each
    * language's stopword set; argmax with deterministic tie-break (language
    * code order). Unknown when no stopword hits.
    */
  def languageId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = split(lower(col(textCol)), "\\s+")
    val scores = stopwords.toSeq.sortBy(_._1).map { case (lang, sw) =>
      val swArr = array(sw.map(lit): _*)
      struct(size(array_intersect(array_distinct(words), swArr))
        .cast("double").as("score"), lit(lang).as("lang"))
    }
    // argmax: sort (score desc, lang asc) and take first
    val best = element_at(
      reverse(array_sort(array(scores: _*))), 1)
    docs.select(col(idCol),
        when(best.getField("score") > 0, best.getField("lang"))
          .otherwise(lit("und")).as("predicted_lang"))
      .orderBy(idCol)
  }

  /** BPE-ish token count: word pieces + standalone punctuation (regex). */
  def bpeishTokenCount(text: Column): Column =
    size(expr(s"regexp_extract_all(${text.toString}, '[a-z0-9]+|[^a-z0-9\\\\s]', 0)"))
      .cast("long")

  /** Deterministic content-hash split assignment for train/eval carving:
    * stable across runs, engines, and partitionings (keyed on md5 of the
    * content, not on row order or RNG state) — the property a reproducible
    * training-data pipeline needs.
    */
  def splitAssignment(text: Column, evalOneIn: Int = 4): Column =
    when(ascii(substring(md5(text), 1, 1)) % evalOneIn === 0, lit("eval"))
      .otherwise(lit("train"))

  /** Repetition features (Gopher-style repetition signals): the share of a
    * document's word bigrams taken by its single most frequent bigram —
    * high values flag boilerplate/templated text that dedup misses because
    * the repetition is WITHIN the document. Two keyed shuffles
    * ((doc, gram) count, then per-doc max); no driver-side state, so the
    * shape holds at 10^9 documents.
    */
  def repetitionFeatures(docs: DataFrame, idCol: String, textCol: String,
      flagThreshold: Double = 0.1): DataFrame = {
    val words = split(lower(col(textCol)), "\\s+")
    // tokenize+bigram-explode is the CPU-heavy per-row pass: fan a
    // sub-split-size input out so it doesn't run in one scan task
    val grams = graft.util.Fanout.widen(docs)
      .select(col(idCol), words.as("w"))
      .filter(size(col("w")) >= 2)
      // OUTER explode + post-filter: avoids the inferred generate filter
      // re-evaluating the bigram transform 2x extra per row
      .select(col(idCol), size(col("w")).cast("long").as("n_tokens"),
        explode_outer(transform(sequence(lit(1), size(col("w")) - 1),
          i => concat_ws(" ", element_at(col("w"), i),
            element_at(col("w"), i + 1)))).as("gram"))
      .filter(col("gram").isNotNull)
    val ratio =
      col("top_bigram_n").cast("double") /
        (col("n_tokens") - 1).cast("double")
    grams.groupBy(col(idCol), col("n_tokens"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol), col("n_tokens"))
      .agg(max("cnt").as("top_bigram_n"))
      .select(col(idCol), col("n_tokens"), col("top_bigram_n"),
        ratio.as("rep_ratio"),
        (ratio >= flagThreshold).as("repetitive"))
      .orderBy(idCol)
  }

  /** PII patterns — chosen to mean the same thing in Java regex (Spark)
    * and RE2 (DuckDB, Go tooling): no backreferences, no lookaround.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction: count and replace emails and IPv4 literals. Pure
    * column expressions; emits a content hash of the redacted text so any
    * engine can verify the redaction byte-for-byte without shipping the
    * text itself.
    */
  def piiRedact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val redacted = regexp_replace(
      regexp_replace(t, EmailPattern, "<EMAIL>"), Ipv4Pattern, "<IP>")
    docs.select(col(idCol),
        (regexp_count(t, lit(EmailPattern)) +
          regexp_count(t, lit(Ipv4Pattern))).cast("long").as("n_pii"),
        md5(redacted).as("redacted_hash"))
      .orderBy(idCol)
  }

  /** Stratified deterministic sampling: within each stratum, a document is
    * sampled iff its content hash lands in the sample residue — the same
    * document samples identically on any engine, at any parallelism, on
    * any run (no RNG state, no row order dependence). One shuffle.
    */
  def stratifiedSampleCounts(docs: DataFrame, strata: Seq[String],
      idCol: String, textCol: String, oneIn: Int = 5): DataFrame = {
    val sampled = ascii(substring(md5(col(textCol)), 1, 1)) % oneIn === 0
    docs.groupBy(strata.map(col): _*)
      .agg(count(lit(1)).as("n_total"),
        sum(when(sampled, 1L).otherwise(0L)).as("n_sampled"),
        coalesce(min(when(sampled, col(idCol))), lit(-1L))
          .as("min_sampled_doc"))
      .orderBy(strata.map(col): _*)
  }

  /** Per-document top TF-IDF terms — the keyword-extraction staple of
    * training-data curation (topic balancing, query mining).
    *
    * Two aggregation shuffles (doc-term tf, then term df) + one term join +
    * one per-doc window; partial aggregation keeps the term shuffle
    * proportional to the vocabulary, and the df side broadcasts when the
    * vocabulary is small — the same shape at 10^9 documents.
    *
    * IDF is INTEGER-SCALED: `idf_scaled = (N * 10^6) div df` (floor
    * division). Monotone in N/df per term, exact in int64 on any engine at
    * any parallelism — ln(N/df) is a one-line swap where cross-engine
    * bit-stability is not required (libm `ln` is not correctly-rounded in
    * general, so gate outputs avoid it).
    */
  /** Cumulative-capacity sequence packing — the pretraining-batch
    * assembly step: within each shard group, documents in key order
    * fill fixed token-capacity training bins, a document's bin being
    * `exclusive-cumulative-tokens div capacity` (documents straddling a
    * boundary belong to the bin they start in; the downstream loader
    * truncates or wraps the tail). One window per group over the shared
    * whitespace tokenization.
    *
    * Scale: the window shuffles by the group columns, so parallelism is
    * the number of shards — callers at corpus scale pass a composite
    * (source, shard) grouping, exactly how production packers bound
    * per-task state. Exclusive-cumsum stays in int64 (no doubles, no
    * floor drift across engines).
    */
  def packSequences(docs: DataFrame, groupCols: Seq[String],
      idCol: String, textCol: String, capacity: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col(idCol))
    val nTokens = size(whitespaceTokens(col(textCol))).cast("long")
    docs
      .select(groupCols.map(col) ++ Seq(col(idCol),
        nTokens.as("n_tokens")): _*)
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin", expr(s"(cum - n_tokens) div $capacity"))
      .groupBy((groupCols.map(col) :+ col("bin")): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("bin_tokens"),
        min(col(idCol)).as("first_doc"),
        max(col(idCol)).as("last_doc"))
      .orderBy((groupCols.map(col) :+ col("bin")): _*)
  }

  /** Temperature-weighted corpus mixture — down/up-weighting sources so
    * a dominant crawl does not drown curated corpora (the UnifiedQA /
    * Pile-style mixing step). Source `s` with `n_s` documents gets
    * sampling weight proportional to `n_s^0.5` (temperature 2
    * flattening); each document is kept when its stable md5 bucket
    * falls under the source's integer threshold, so the sample is
    * deterministic, join-free to reproduce, and exact across engines.
    *
    * All threshold arithmetic is INTEGER once per-source weights are
    * fixed: `w_s = floor(sqrt(n_s) * 10^6)` (one correctly-rounded
    * double sqrt per source — bit-stable everywhere), then
    * `t_s = min(B, B * target * w_s div (sum(w) * n_s))` over int64
    * with bucket space B = 65536. The per-source count aggregation is
    * one shuffle; thresholds broadcast back onto the corpus.
    */
  def temperatureMixture(docs: DataFrame, sourceCol: String,
      idCol: String, targetFraction: Double = 0.4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the mixture MODEL is O(#sources) driver state (like IVF's
    // centroids): one count shuffle, thresholds broadcast back
    val counts = docs.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_in"))
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    val nTotal = counts.map(_._2).sum
    val target = nTotal * (targetFraction * 1000000).round / 1000000L
    // w_s = floor(sqrt(n_s) * 10^6): one correctly-rounded double sqrt
    // per source, then exact INTEGER summation (cross-engine-safe; a
    // double sum's addition order would not be)
    val ws = counts.map { case (_, n) =>
      math.floor(math.sqrt(n.toDouble) * 1000000).toLong }
    val wSum = ws.sum
    // threshold in fixed left-associated double steps (each IEEE
    // correctly rounded, so any engine reproduces it bit-for-bit);
    // the oracle SQL spells the same association
    val thresholds = counts.zip(ws).map { case ((s, n), w) =>
      val t = math.min(65536.0,
        math.floor(65536.0 * w / wSum * target / n)).toLong
      (s, n, t)
    }.toDF(sourceCol, "n_in", "t")
    val bucket = expr(
      s"CAST(conv(substring(md5(CAST($idCol AS STRING)), 1, 4), 16, 10) " +
        "AS BIGINT)")
    docs.join(broadcast(thresholds), sourceCol)
      .withColumn("kept", bucket < col("t"))
      .groupBy(col(sourceCol))
      .agg(max(col("n_in")).as("n_in"),
        max(col("t")).as("threshold"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        coalesce(min(when(col("kept"), col(idCol))), lit(-1L))
          .as("min_kept_doc"))
      .orderBy(col(sourceCol))
  }

  /** The one tokenization shared by tfidfTopTerms and tokenHistogram:
    * lowercase, split on runs of whitespace, drop empty tokens — so the
    * two operators agree on any corpus (incl. leading/trailing/multiple
    * whitespace and empty documents → 0 tokens).
    */
  def whitespaceTokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NOT widened (cf. Fanout.widen elsewhere): measured +0.3 s — the
    // single-token explode is cheap and the (doc, term) partial
    // aggregation repeated per fanned-out slice outweighs the
    // parallelism on a sub-split corpus
    // OUTER explode + post-filter: avoids the inferred generate filter
    // re-tokenizing the document 2x extra per row
    val terms = docs.select(col(idCol),
        explode_outer(whitespaceTokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull)
    val tf = terms.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("tfidf_scaled",
        col("tf") * expr("(n_docs * CAST(1000000 AS BIGINT)) div df"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("tfidf_scaled").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col(idCol), col("rnk"), col("term"), col("tf"), col("df"),
        col("tfidf_scaled"))
      .orderBy(col(idCol), col("rnk"))
  }

  /** Corpus-level token-count histogram (bucket = n_tokens div 100): the
    * length-distribution profile every curation run starts from. One
    * aggregation shuffle over ~dozens of buckets.
    */
  def tokenHistogram(docs: DataFrame, idCol: String, textCol: String,
      bucketWidth: Int = 100): DataFrame = {
    val nTokens = size(whitespaceTokens(col(textCol))).cast("long")
    docs.select(col(idCol), nTokens.as("n_tokens"))
      .groupBy(expr(s"n_tokens div $bucketWidth").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        min(col(idCol)).as("min_doc"))
      .orderBy("bucket")
  }

  /** Token n-gram shingles of a document under the shared tokenization —
    * empty array when the document has fewer than n tokens.
    */
  def ngramShingles(text: Column, n: Int): Column =
    shinglesFromTokens(whitespaceTokens(text), n)

  /** Shingles from an ALREADY-TOKENIZED array column (one native pass,
    * [[graft.functions.Shingles]]); a null token array gives an empty
    * array. Callers that explode shingles should materialize the token
    * array in a projection below the Generate first: `w` is referenced
    * twice here, so a raw `split(...)` tree would tokenize twice.
    */
  def shinglesFromTokens(w: Column, n: Int): Column =
    when(size(w) >= n,
      graft.functions.SketchFunctions.shingles(w, n, distinct = false))
      .otherwise(array().cast("array<string>"))

  /** Benchmark decontamination — the eval-overlap check every training
    * corpus must pass before a benchmark score means anything: a training
    * document is contaminated when it shares at least one token n-gram
    * with any document of the evaluation set.
    *
    * Scale shape: the eval side (benchmarks — thousands of rows) collapses
    * to a DISTINCT gram set and BROADCASTS; the corpus side (10^9 docs)
    * explodes to per-doc distinct grams and hash-joins the broadcast — no
    * shuffle of the corpus, one aggregation keyed on doc_id. Output is one
    * row per contaminated doc: (doc, n_shared_grams = distinct grams it
    * shares with the eval set); clean docs are absent (at 10^9 docs the
    * interesting set is the contaminated one).
    */
  def contamination(docs: DataFrame, evalDocs: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    // tokenize ONCE per doc in a projection below the Generate, then
    // shingle from the attribute — see shinglesFromTokens
    // OUTER explode + post-filter: a plain explode's inferred generate
    // filter re-evaluates the shingle transform 2x extra per row
    def grams(d: DataFrame, cols: Column*) = d
      .select(cols :+ whitespaceTokens(col(textCol)).as("w"): _*)
      .select(cols :+
        explode_outer(shinglesFromTokens(col("w"), n)).as("gram"): _*)
      .filter(col("gram").isNotNull)
    val evalGrams = grams(evalDocs).distinct()
    // broadcast-join FIRST: the join filters the exploded corpus grams to
    // the (tiny) shared subset map-side, so the only shuffle is the
    // per-doc countDistinct over matches — a pre-join .distinct() here
    // shuffled every gram of the corpus. The corpus-side tokenize+shingle
    // pass is CPU-heavy: fan a sub-split-size input out first.
    grams(graft.util.Fanout.widen(docs), col(idCol))
      .join(broadcast(evalGrams), "gram")
      .groupBy(idCol)
      .agg(countDistinct(col("gram")).as("n_shared_grams"))
      .orderBy(idCol)
  }

  /** Token-window chunking — the sharding step that turns documents into
    * fixed-size training/RAG segments: chunks of `chunkTokens` tokens,
    * consecutive chunks sharing `overlap` tokens. Start positions are
    * `1, 1+step, …` (step = chunkTokens − overlap) up to
    * `max(n_tokens − overlap, 1)`, so every token lands in ≥ 1 chunk,
    * the final chunk is the only short one, and a doc shorter than one
    * chunk yields exactly one chunk. Pure per-row expressions (the token
    * array materializes once below the Generate); emits the chunk hash,
    * not the text — any engine can verify chunking byte-for-byte without
    * re-shipping the corpus.
    */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 32, overlap: Int = 8): DataFrame = {
    require(overlap < chunkTokens, "overlap must be < chunkTokens")
    val step = chunkTokens - overlap
    docs.select(col(idCol), whitespaceTokens(col(textCol)).as("w"))
      .filter(size(col("w")) > 0)
      .select(col(idCol), col("w"),
        posexplode(sequence(lit(1),
          greatest(size(col("w")) - overlap, lit(1)), lit(step)))
          .as(Seq("i", "s")))
      .select(col(idCol), (col("i") + 1).as("chunk_idx"),
        size(slice(col("w"), col("s"), lit(chunkTokens)))
          .cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", slice(col("w"), col("s"), lit(chunkTokens))))
          .as("chunk_hash"))
      .orderBy(col(idCol), col("chunk_idx"))
  }

  /** Corpus-level duplicate-gram profile (the Gopher/RefinedWeb
    * "duplicate n-gram fraction" signal at corpus granularity): of all
    * DISTINCT token n-grams, how many appear in more than one document.
    * One aggregation shuffle keyed on gram; the explode never leaves the
    * executor that holds the document.
    */
  def duplicateGramStats(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    // tokenize+shingle is the CPU-heavy per-row pass: fan a
    // sub-split-size input out so it doesn't run in one scan task
    val perDoc = graft.util.Fanout.widen(docs)
      .select(col(idCol), whitespaceTokens(col(textCol)).as("w"))
      // OUTER explode + post-filter: avoids the inferred generate filter
      // re-evaluating the shingle transform 2x extra per row
      .select(col(idCol),
        explode_outer(shinglesFromTokens(col("w"), n)).as("gram"))
      .filter(col("gram").isNotNull)
      .distinct()
    perDoc.groupBy("gram").agg(count(lit(1)).as("nd"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared_grams"),
        max(col("nd")).as("max_gram_docs"))
      .select(col("n_grams"), col("n_shared_grams"), col("max_gram_docs"),
        (col("n_shared_grams").cast("double") /
          col("n_grams").cast("double")).as("dup_fraction"))
  }

  /** Gopher quality rules (Rae et al. 2021, arXiv 2112.11446 Table A1 —
    * public-knowledge heuristics), the subset expressible exactly in any
    * ANSI engine: token-count bounds, mean-word-length bounds, and a
    * stopword requirement. Pure column expressions; every flag is
    * reproducible in the DuckDB oracle via the same replace-length
    * identities as qualityFeatures.
    */
  def gopherQualityFlags(docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 50, maxTokens: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      minStopwordHits: Int = 2): DataFrame = {
    val t = col(textCol)
    val nTokens = (length(t) - length(replace(t, lit(" "), lit(""))) + 1)
      .cast("long")
    val meanWordLen = (length(replace(t, lit(" "), lit(""))).cast("double") /
      nTokens.cast("double"))
    // stopword hits: distinct en stopwords present, via the padded-contains
    // identity (same trick in SQL: position(' the ' in ' '||text||' ') > 0)
    val padded = concat(lit(" "), t, lit(" "))
    val swHits = stopwords("en").map(sw =>
      when(locate(s" $sw ", padded) > 0, 1).otherwise(0))
      .reduce(_ + _).cast("long")
    val tokOk = nTokens >= minTokens && nTokens <= maxTokens
    val wordLenOk = meanWordLen >= minMeanWordLen &&
      meanWordLen <= maxMeanWordLen
    val swOk = swHits >= minStopwordHits
    docs.select(col(idCol),
        nTokens.as("n_tokens"),
        meanWordLen.as("mean_word_len"),
        swHits.as("stopword_hits"),
        tokOk.as("token_count_ok"),
        wordLenOk.as("word_len_ok"),
        swOk.as("stopword_ok"),
        (tokOk && wordLenOk && swOk).as("gopher_pass"))
      .orderBy(idCol)
  }

  /** Rolling-hash fingerprint per document (native Catalyst expression) +
    * duplicate-group size per fingerprint.
    */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val normalized = lower(regexp_replace(col(textCol), "\\s+", " "))
    val fp = docs.select(col(idCol),
      rolling_hash(normalized).as("fingerprint"),
      bpeishTokenCount(col(textCol)).as("n_bpeish_tokens"))
    fp.withColumn("group_size",
        count(lit(1)).over(Window.partitionBy("fingerprint")))
      .orderBy(idCol)
  }

  /** Corpus-typicality scoring against a reference slice — the
    * INTEGER-EXACT core of a CCNet-style perplexity filter (Wenzek et
    * al. 2020, arXiv 1911.00359: score documents by a language model
    * trained on a trusted corpus and drop the atypical tail). The
    * language model here is the char-trigram table of the reference
    * slice (the lexicographically-first `sourceCol` value — a
    * deterministic stand-in for "the trusted corpus"); each document
    * reports (n_trigrams, n_unseen, seen_ref_count_sum, novelty_permille)
    * — all integers, so the score is bit-identical across engines, where
    * a float log-probability sum would be evaluation-order-dependent.
    * Full-perplexity variants differ only in applying -log P per trigram
    * before the same aggregation.
    *
    * Scale shape: the reference trigram table is bounded by alphabet³
    * (≤ ~10^5 for lowercase text), so it BROADCASTS; the corpus side
    * explodes to O(total chars) rows and hash-joins the broadcast — no
    * shuffle of the corpus, one aggregation keyed on doc.
    */
  def charTrigramNovelty(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame = {
    // substring needs the dynamic start — expr form keeps codegen.
    // Guard len < 3: sequence(1, 0) defaults to
    // step -1 and yields [1, 0], so an unguarded transform would emit two
    // bogus partial-trigram rows per short doc (and pollute the reference
    // table) while DuckDB's generate_series(1, 0) is empty.
    // materialize lower(text) as its own column FIRST: inlined in the
    // lambda it would re-lowercase the whole document once per trigram —
    // O(len²) character work per doc (no common-subexpression elimination
    // reaches inside a higher-order function's lambda)
    val triExpr = expr(
      "case when length(__lc) >= 3 then " +
        "transform(sequence(1, length(__lc) - 2), " +
        "i -> substring(__lc, i, 3)) " +
        "else cast(array() as array<string>) end")
    val refSrc = broadcast(
      docs.agg(min(col(sourceCol)).as("__ref_src")))
    // the trigram explode is the CPU-heavy per-row pass: fan a
    // sub-split-size corpus out so it doesn't run in one scan task
    // OUTER explode + post-filter: a plain explode's inferred generate
    // filter would re-run the substring transform (and re-lowercase the
    // document) 2x extra per row below the __lc projection
    val exploded = graft.util.Fanout.widen(docs)
      .withColumn("__lc", lower(col(textCol)))
      .crossJoin(refSrc)
      .select(col(idCol), col(sourceCol), col("__ref_src"),
        explode_outer(triExpr).as("tri"))
      .filter(col("tri").isNotNull)
    val ref = broadcast(exploded
      .filter(col(sourceCol) === col("__ref_src"))
      .groupBy("tri").agg(count(lit(1)).as("ref_cnt")))
    exploded
      .join(ref, Seq("tri"), "left")
      .groupBy(col(idCol), col(sourceCol))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("ref_cnt").isNull, 1L).otherwise(0L)).as("n_unseen"),
        sum(coalesce(col("ref_cnt"), lit(0L))).as("seen_ref_count_sum"))
      .select(col(idCol), col(sourceCol).as("source"),
        col("n_trigrams"), col("n_unseen"), col("seen_ref_count_sum"),
        expr("n_unseen * 1000 div n_trigrams").as("novelty_permille"))
      .orderBy(idCol)
  }
}
