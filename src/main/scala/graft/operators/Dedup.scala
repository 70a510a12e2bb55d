package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora. All pure
  * DataFrame transforms — every stage is a shuffle-partitioned Spark plan
  * with no driver-side loops, so each scales to 10^9-document corpora:
  *   exact        — one hash shuffle
  *   minhash LSH  — shingle explode → 64-perm signature agg → band-bucket
  *                  join (candidates only) → exact-Jaccard verify
  *   simhash      — 64-bit signature, 4×16-bit pigeonhole blocking
  *   n-gram       — blocked exact Jaccard (no approximation)
  */
object Dedup {

  /** Exact duplicate groups by content hash: one shuffle on md5(text). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy("content_hash")

  /** Word n-gram set per document (lowercased, whitespace split). */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val words = split(lower(col(textCol)), "\\s+")
    // tokenize+shingle is the CPU-heavy per-row pass: fan a
    // sub-split-size input out so it doesn't run in one scan task
    graft.util.Fanout.widen(docs)
      .select(col(idCol).as("doc"), words.as("words"))
      .filter(size(col("words")) >= n)
      .select(col("doc"),
        graft.functions.SketchFunctions.shingles(col("words"), n,
          distinct = true)
          .as("shingles"))
  }

  /** Exact Jaccard between two distinct-element array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_distinct(concat(a, b))).cast("double")

  /** MinHash + LSH near-duplicate pairs.
    *
    * numHashes permutations via seeded xxhash64; `bands` bands of
    * numHashes/bands rows each; candidate pairs share at least one band
    * bucket; candidates are verified with exact Jaccard ≥ threshold.
    * With 64 hashes / 16 bands, P(miss) at j=0.7 is (1-0.7⁴)^16 ≈ 1.2%.
    */
  def minHashLsh(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, numHashes: Int = 64, bands: Int = 16)
      : DataFrame = {
    require(numHashes % bands == 0)
    val grams = shingleSets(docs, idCol, textCol).cache()

    // whole signature + band keys in one native-expression pass per doc
    // (no shingle explode, no 64-aggregate shuffle). OUTER explode + a
    // post-filter instead of plain posexplode: InferFiltersFromGenerate
    // would otherwise plant `size(minhash_band_keys(…))>0 AND
    // isnotnull(minhash_band_keys(…))` below the projection and evaluate
    // the whole 64-hash pass THREE times per row (plan-audited); outer
    // generates skip that rule, and the isnotnull filter on the
    // generated column drops exactly the rows the non-outer form never
    // emitted (keys is never null and never empty for a non-empty
    // shingle set, so this is row-identical either way)
    val banded = grams.select(col("doc"),
        graft.functions.SketchFunctions
          .minhash_band_keys(col("shingles"), numHashes, bands).as("keys"))
      .select(col("doc"), posexplode_outer(col("keys")).as(Seq("band", "bkey")))
      .filter(col("bkey").isNotNull)

    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"))
      .distinct()

    cand.join(grams.withColumnRenamed("doc", "doc_a")
        .withColumnRenamed("shingles", "sh_a"), Seq("doc_a"))
      .join(grams.withColumnRenamed("doc", "doc_b")
        .withColumnRenamed("shingles", "sh_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** C(n, k) — exact over the tiny (chunks ≤ 32, k ≤ 8) domain. */
  private def binomial(n: Int, k: Int): Long =
    (1 to k).foldLeft(1L)((acc, i) => acc * (n - k + i) / i)

  /** Pick a SimHash blocking scheme `(chunks, minMatch)` for corpus size
    * `n` and hamming bound `h`.
    *
    * Generalized pigeonhole: `h` bit flips dirty at most `h` chunks, so
    * any pair within hamming `h` still agrees on at least `chunks − h`
    * intact chunks — indexing every `minMatch`-subset of chunks misses
    * nothing as long as `chunks ≥ h + minMatch`. Background (non-dup)
    * collision work is `C(chunks, minMatch) · n² / 2^keyBits`; per doc
    * that is `keys · n / 2^keyBits`. The rule: the smallest `minMatch`
    * whose (weakest) key still bounds per-doc background collisions by
    * `targetPerDoc`. For h = 3 this yields 4×16-bit single-chunk keys to
    * ~500k docs, 5-chunk pair keys (≈24 effective bits) to ~10^8, and
    * triple keys past that — the widening SCALE.md prescribes, derived
    * instead of hand-picked.
    */
  def simHashBlocking(n: Long, maxHamming: Int,
      targetPerDoc: Double = 32.0): (Int, Int) = {
    require(maxHamming >= 0 && maxHamming <= 30,
      s"maxHamming must be in [0, 30], got $maxHamming")
    def scheme(r: Int): Option[(Int, Int, Double)] = {
      val chunks = math.max(2, maxHamming + r)
      val width = (63 / chunks) + 1
      if (chunks > 32 || r * width > 63) None
      else {
        val weakest = 64 - width * (chunks - 1) // entropy of the top slice
        val keyBits = math.min(weakest + (r - 1) * width, 62)
        val perDoc =
          binomial(chunks, r) * n.toDouble / math.pow(2.0, keyBits)
        Some((chunks, r, perDoc))
      }
    }
    val feasible = (1 to 8).flatMap(scheme(_))
    val pick = feasible.find(_._3 <= targetPerDoc)
      .getOrElse(feasible.minBy(_._3))
    (pick._1, pick._2)
  }

  /** SimHash near-duplicate pairs at hamming distance ≤ maxHamming.
    *
    * 64-bit signature: bit b is the sign of Σ±1 over shingle hashes'
    * bit b. Blocking: the signature is cut into `chunks` equal slices
    * and every `minMatch`-subset of slices becomes a bucket key — any
    * pair within hamming `chunks - minMatch` shares at least one intact
    * key (generalized pigeonhole), so the bucket join has no false
    * negatives. The exact `bit_count` filter then drops the background
    * collisions, so EVERY valid scheme returns the identical pair set —
    * the scheme only decides how much candidate work the join does.
    *
    * `chunks = 0` (the default) auto-sizes the scheme from the corpus
    * count (`docCountHint`, or a `count()` when unset) via
    * [[simHashBlocking]]: single-chunk 4×16-bit keys while background
    * collisions stay ~linear, pair/triple keys (wider effective buckets)
    * as n² / 2^width overtakes — the hand-tuning SCALE.md used to
    * prescribe, now derived.
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, chunks: Int = 0, minMatch: Int = 1,
      docCountHint: Long = 0L): DataFrame = {
    val (blockChunks, blockMatch) =
      if (chunks == 0) {
        val n = if (docCountHint > 0) docCountHint else docs.count()
        simHashBlocking(n, maxHamming)
      } else (chunks, minMatch)
    // Cap at 32: for chunks in [33,63] the slice width is 2, so the shift
    // amount width*c reaches >=64 at c>=32, and a 64-bit >>> masks its
    // shift mod 64 — those chunks would silently re-read the LOW-order
    // slices and the pigeonhole recall guarantee would no longer hold.
    // 32 x 2-bit already serves hamming <= 31, far past any useful bound.
    require(blockChunks >= 2 && blockChunks <= 32,
      s"chunks must be in [2, 32], got $blockChunks")
    require(blockMatch >= 1 && maxHamming <= blockChunks - blockMatch,
      s"pigeonhole blocking over $blockChunks chunks with $blockMatch-chunk " +
        s"keys only guarantees recall for hamming <= " +
        s"${blockChunks - blockMatch}, got maxHamming=$maxHamming")
    val width = (63 / blockChunks) + 1 // ceil(64 / chunks)
    require(blockMatch * width <= 63,
      s"$blockMatch-chunk keys of $width-bit slices overflow a long")
    val grams = shingleSets(docs, idCol, textCol)
    // signature computed in one native-expression pass per doc. The cache
    // is the sketch index (16 B/doc) AND a constraint barrier: without it,
    // any downstream filter touching `simhash` (the hamming bound, join
    // null checks) makes constraint propagation re-derive
    // isnotnull(<full shingle+simhash64 tree>) INTO THE SCAN — the whole
    // signature recomputed per row, interpreted, per reference (measured
    // 15× on the cold path)
    val sigs = grams.select(col("doc"),
      graft.functions.SketchFunctions.simhash64(col("shingles")).as("simhash"))
      .cache()

    val mask = (1L << math.min(width, 63)) - 1L
    def slice(c: Int) =
      shiftrightunsigned(col("simhash"), width * c).bitwiseAND(mask)
    val keys = (0 until blockChunks).combinations(blockMatch)
      .toSeq.zipWithIndex.map { case (combo, i) =>
        val v = combo.map(slice)
          .reduceLeft((a, b) => shiftleft(a, width).bitwiseOR(b))
        struct(lit(i).as("c"), v.as("v"))
      }
    val chunked = sigs.select(col("doc"), col("simhash"),
      explode(array(keys: _*)).as("ck"))
      .select(col("doc"), col("simhash"), col("ck.c"), col("ck.v"))

    chunked.as("x").join(chunked.as("y"),
        col("x.c") === col("y.c") && col("x.v") === col("y.v") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Connected components over near-duplicate pairs: each document maps to
    * the minimum doc id reachable through the pair graph (the "keeper").
    * Iterative min-label propagation via joins — each round is one shuffle,
    * rounds ≈ graph diameter (near-dup clusters are shallow), so this
    * scales where a driver-side union-find would not.
    */
  def duplicateClusters(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIters: Int = 20): DataFrame = {
    // cache the pair source: building the bidirectional edge set reads it
    // twice, and it is typically itself an expensive blocked join
    val p = pairs.select(col(aCol).as("a"), col(bCol).as("b")).cache()
    val edges = p.union(p.select(col("b").as("a"), col("a").as("b")))
      .distinct().cache()
    // no duplicate candidates is a legitimate state — the loop below would
    // otherwise aggregate an empty frame (null sum → NPE)
    if (edges.isEmpty) {
      p.unpersist(); edges.unpersist()
      return pairs.select(col(aCol).as("doc_id"), col(aCol).as("cluster_rep"))
        .limit(0)
    }
    var labels = edges.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
    // labels only ever DECREASE, so "no label changed this round" is a
    // complete convergence test — and unlike a numeric label-sum it works
    // for ANY id type (string doc ids would cast to a null sum and break
    // the numeric test silently)
    var converged = false
    var cached: DataFrame = null      // the round's materialized frame
    var i = 0
    while (!converged && i < maxIters) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("node", "b")
          .withColumnRenamed("label", "nlabel"), Seq("b"))
        .groupBy(col("a").as("node"))
        .agg(min("nlabel").as("nmin"))
      val merged = labels.join(neighborMin, Seq("node"), "left")
        .select(col("node"), col("label").as("__prev"),
          least(col("label"), coalesce(col("nmin"), col("label")))
            .as("label"))
      // cache each round; every few rounds truncate the lineage entirely —
      // iterative plans otherwise grow a join tree whose re-analysis cost
      // dominates by round ~20 on a big graph
      val updated =
        if (i % 5 == 4) merged.localCheckpoint() else merged.cache()
      converged = updated.filter(col("label") =!= col("__prev")).isEmpty
      labels = updated.select("node", "label")
      if (cached != null) cached.unpersist()
      cached = updated
      i += 1
    }
    p.unpersist()
    labels.select(col("node").as("doc_id"), col("label").as("cluster_rep"))
      .orderBy("doc_id")
  }

  /** Blocked exact n-gram Jaccard: pairs verified with exact trigram
    * Jaccard — no approximation, fully mirrorable in ANSI SQL for the
    * oracle.
    *
    * Blocking key is COMPOSITE: `(50-char prefix, token-count ÷ 16)`. A
    * prefix alone is skew-unsafe — a boilerplate-heavy corpus (every doc
    * opening with the same license header) collapses into one quadratic
    * bucket; the length band caps each bucket at docs of similar size. To
    * keep recall exact across a band boundary (15 vs 17 tokens), each doc
    * also PROBES its two adjacent bands, so any pair within one band of
    * each other — a superset of all pairs that can reach trigram Jaccard
    * ≥ 0.3 while sharing the prefix at similar length — is still compared.
    * The probe explode triples one join side but makes the full composite
    * key part of the shuffle hash, which is what bounds the skew.
    */
  def ngramJaccardBlocked(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.3, prefixLen: Int = 50, lenBand: Int = 16)
      : DataFrame =
    ngramCandidatePairs(docs, idCol, textCol, prefixLen, lenBand)
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")

  /** Candidate pairs of the composite-key blocking with their exact
    * Jaccard, pre-threshold — exposed so tests can assert the candidate
    * count stays bounded on adversarial (shared-boilerplate) corpora.
    */
  def ngramCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      prefixLen: Int = 50, lenBand: Int = 16): DataFrame = {
    val words = split(col(textCol), " ")
    val g = docs
      .select(col(idCol).as("doc"),
        substring(col(textCol), 1, prefixLen).as("pfx"), words.as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc"), col("pfx"),
        floor(size(col("w")) / lenBand).cast("long").as("nb"),
        array_distinct(transform(sequence(lit(1), size(col("w")) - 2),
          i => concat(element_at(col("w"), i), lit(" "),
            element_at(col("w"), i + 1), lit(" "),
            element_at(col("w"), i + 2)))).as("grams"))
    // each doc probes its own and both adjacent length bands; the build
    // side keeps its single band, so every |nb_a − nb_b| ≤ 1 pair matches
    // exactly once (orientation fixed by doc_a < doc_b)
    val probes = g.withColumn("pb",
      explode(array(col("nb") - 1, col("nb"), col("nb") + 1)))
    probes.as("a").join(g.as("b"),
        col("a.pfx") === col("b.pfx") && col("a.pb") === col("b.nb") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        (size(array_intersect(col("a.grams"), col("b.grams"))).cast("double") /
          size(array_distinct(concat(col("a.grams"), col("b.grams"))))
            .cast("double")).as("jaccard"))
  }

  /** EXACT SUBSTRING deduplication (the Lee et al. 2021 "Deduplicating
    * Training Data Makes Language Models Better" operator, arXiv
    * 2107.06499, at token-n-gram granularity): find every token n-gram
    * that occurs in MORE THAN ONE document, merge each document's
    * duplicated gram positions into maximal spans (the removable
    * substrings), and report per-document span statistics —
    * (n_spans, n_dup_grams, dup_tokens, total_tokens, kept_tokens).
    * Documents with no cross-document duplicated gram are absent (at 10^9
    * docs the interesting set is the duplicated one).
    *
    * Scale shape: the gram explode is O(total tokens) rows keyed by a
    * 128-bit md5 of the gram text (collision-safe; the text itself never
    * shuffles). Duplicate detection pre-aggregates to DISTINCT
    * (gram, doc) before counting, so a gram repeated 10^4 times inside
    * one document lands ONE row in the counting shuffle. The span merge
    * is the classic gaps-and-islands window — one shuffle keyed on doc,
    * state bounded by a document's own gram count. No driver-side
    * structure anywhere; suffix arrays (the paper's exact-match backend)
    * don't distribute, gram fingerprints are the standard scale-out
    * equivalent.
    */
  def substringDedupSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val (toks, spans) = dupSpanFrames(docs, idCol, textCol, n)
    val perDoc = spans.groupBy(idCol)
      .agg(count(lit(1)).as("n_spans"),
        sum("n_gr").as("n_dup_grams"),
        sum(col("ee") - col("ss") + 1).cast("long").as("dup_tokens"))
    perDoc
      .join(toks.select(col(idCol),
        size(col("w")).cast("long").as("total_tokens")), Seq(idCol))
      .withColumn("kept_tokens", col("total_tokens") - col("dup_tokens"))
      .orderBy(idCol)
  }

  /** Token array + maximal duplicated spans (1-based inclusive [ss, ee])
    * per document — the shared core of [[substringDedupSpans]] and
    * [[applySubstringDedup]].
    */
  private def dupSpanFrames(docs: DataFrame, idCol: String, textCol: String,
      n: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // tokenize + gram-explode + md5 is the CPU-heavy per-row pass
    // (O(total tokens) rows): fan a sub-split-size input out so it
    // doesn't run in one scan task (guide §2.5)
    val toks = graft.util.Fanout.widen(docs).select(col(idCol),
      TextAnalysis.whitespaceTokens(col(textCol)).as("w"))
    // OUTER explode + post-filter: the non-outer form's inferred
    // generate filter would re-evaluate the whole shingle transform 2x
    // extra per row below this projection (see minHashLsh)
    val grams = toks
      .select(col(idCol),
        posexplode_outer(TextAnalysis.shinglesFromTokens(col("w"), n)))
      .filter(col("col").isNotNull)
      .select(col(idCol), (col("pos") + 1).as("s"), md5(col("col")).as("gh"))
    val dup = grams.select(col("gh"), col(idCol)).distinct()
      .groupBy("gh").agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1).select("gh")
    val hits = grams.join(dup, Seq("gh"), "left_semi")
      .select(col(idCol), col("s"), (col("s") + (n - 1)).as("e"))
    val wOrd = Window.partitionBy(idCol).orderBy("s")
    val prevMax = max(col("e"))
      .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val spans = hits
      .withColumn("brk",
        when(col("s") > coalesce(prevMax, lit(-1)), 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(wOrd))
      .groupBy(col(idCol), col("island"))
      .agg(min("s").as("ss"), max("e").as("ee"), count(lit(1)).as("n_gr"))
    (toks, spans)
  }

  /** The Lee et al. pipeline's actual PRODUCT — the rewritten corpus with
    * every duplicated span cut out: (id, deduped_text) for EVERY input
    * document (documents without a cross-document duplicated gram pass
    * through whole). Output text is in normalized token space (the shared
    * lowercase `\s+` tokenization the span positions are defined over,
    * re-joined with single spaces) — the same stream the paper's dedup
    * operates on.
    *
    * Scale shape: the span detection is [[substringDedupSpans]]'s frames
    * (one gram shuffle + one doc-keyed window); the cut itself is a pure
    * column expression — spans collect per document (bounded by the
    * document's own gram count), and the token filter is O(tokens ×
    * spans) per document with no extra shuffle beyond the span
    * aggregation's doc-keyed one.
    */
  def applySubstringDedup(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val (toks, spans) = dupSpanFrames(docs, idCol, textCol, n)
    val spanList = spans.groupBy(idCol)
      .agg(collect_list(struct(col("ss"), col("ee"))).as("sp"))
    toks.join(spanList, Seq(idCol), "left")
      .select(col(idCol),
        when(col("sp").isNull, concat_ws(" ", col("w")))
          .otherwise(concat_ws(" ", filter(col("w"), (t, i) =>
            !exists(col("sp"), s =>
              i + 1 >= s("ss") && i + 1 <= s("ee")))))
          .as("deduped_text"))
      .orderBy(idCol)
  }
}
