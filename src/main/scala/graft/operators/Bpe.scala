package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer (Sennrich et al. 2016, arXiv 1508.07909)
  * trained DISTRIBUTED.
  *
  * Scale shape — the standard word-frequency factorization: training
  * operates on the DISTINCT-WORD table (word → corpus frequency), so
  * after one O(corpus) aggregation every merge iteration costs
  * O(|vocabulary|), independent of corpus size; a 100 TB corpus with a
  * 10^7-word vocabulary trains at the same per-iteration cost as a 1 GB
  * one. Each iteration is one pair-count aggregation (shuffle keyed on
  * the symbol pair) plus a one-row argmax collect; the symbol table is
  * re-persisted per iteration and checkpointed every 16 to keep the
  * lineage short. The argmax tie-break is (max count, then
  * lexicographically smallest pair) so training is deterministic on any
  * cluster layout.
  *
  * Words follow the shared `\s+` lowercase tokenization
  * ([[TextAnalysis.whitespaceTokens]]) and carry the paper's explicit
  * end-of-word marker `</w>` as a final symbol, so word-final subwords
  * learn separately from word-internal ones.
  */
object Bpe {

  /** End-of-word marker (Sennrich et al. §3.2). */
  val Eow = "</w>"

  /** Distinct words of the corpus with frequencies — the training input
    * and the only O(corpus) pass in the pipeline.
    */
  def wordFrequencies(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(TextAnalysis.whitespaceTokens(col(textCol)))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  private def toSymbols(word: String): Seq[String] =
    word.map(_.toString) :+ Eow

  /** Learn `numMerges` merge rules. Returns them in rank order (rank 0 =
    * first learned); stops early when no adjacent pair occurs twice.
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int)
      : Seq[(String, String)] = {
    var words = symbolTable(docs, textCol)
    val merges = Seq.newBuilder[(String, String)]
    var i = 0
    var exhausted = false
    while (i < numMerges && !exhausted) {
      val top = pairCounts(words).takeOrdered(1)(ArgmaxOrder)
      if (top.isEmpty || top(0)._2 < 2) exhausted = true
      else {
        val (a, b) = top(0)._1
        merges += ((a, b))
        words = advance(words, i + 1)(mergePair(_, a, b))
      }
      i += 1
    }
    words.unpersist()
    merges.result()
  }

  /** The argmax order of a pair count: count descending, then the pair
    * lexicographically ascending (the same tie-break as [[driverTrain]]).
    */
  private val ArgmaxOrder: Ordering[((String, String), Long)] =
    Ordering.by[((String, String), Long), (Long, String, String)] {
      case ((a, b), c) => (-c, a, b)
    }

  /** The distinct-word table as symbol sequences, persisted. The merge
    * loops run on RDDs: each round is one pair-count shuffle and one
    * re-persist over a vocabulary-sized table, and a DataFrame query's
    * planning would cost more than either job.
    */
  private def symbolTable(docs: DataFrame, textCol: String)
      : RDD[(Seq[String], Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = wordFrequencies(docs, textCol).as[(String, Long)].rdd
      .map { case (w, f) => (toSymbols(w), f) }
      .persist()
    words.count()
    words
  }

  private def pairCounts(words: RDD[(Seq[String], Long)])
      : RDD[((String, String), Long)] =
    words.flatMap { case (syms, f) =>
      syms.iterator.zip(syms.iterator.drop(1)).map(p => (p, f))
    }.reduceByKey(_ + _)

  /** The symbol table after `merge`, persisted before `prev` is dropped;
    * every 16th round checkpoints it to keep the lineage short.
    */
  private def advance(prev: RDD[(Seq[String], Long)], round: Int)(
      merge: Seq[String] => Seq[String]): RDD[(Seq[String], Long)] = {
    val next = prev.map { case (syms, f) => (merge(syms), f) }.persist()
    if (round % 16 == 0) next.localCheckpoint()
    next.count()
    prev.unpersist()
    next
  }

  /** Job-efficient training — IDENTICAL merge list to [[train]], without
    * [[train]]'s one-shuffle-per-merge shape (at a production 32k-merge
    * vocabulary that is 32k sequential Spark jobs of pure scheduler
    * overhead — hours of wall clock doing kilobytes of work).
    *
    * The scale factorization already in place is what makes this cheap:
    * training never touches the corpus, only the DISTINCT-WORD frequency
    * table, which is the corpus compressed to its vocabulary (a 100 TB
    * corpus yields ~10^7–10^8 rows). When that table fits under
    * `maxDriverVocab`, the ENTIRE merge loop runs in-process on the
    * collected table — the same algorithm, same (count desc, pair lex
    * asc) tie-break, same stop rule, so the merge list is identical by
    * construction — and the whole training costs TWO Spark jobs (the
    * word-frequency aggregation + the collect) regardless of vocabulary
    * size. The merge loop is inherently sequential (every merge depends
    * on the table state its predecessors left), so "distributing" it
    * buys no parallelism — only per-iteration scheduler latency; pulling
    * the loop next to the data it iterates over is the 100 TB-correct
    * plan, not a shortcut. Vocabularies above the cap fall back to
    * [[trainBatched]], which stays fully distributed and still beats
    * [[train]] via provably-sequential-identical merge batches.
    */
  def trainFast(docs: DataFrame, textCol: String, numMerges: Int,
      maxDriverVocab: Long = 2000000L): Seq[(String, String)] = {
    val wf = wordFrequencies(docs, textCol).persist()
    val vocabSize = wf.count()
    val out =
      if (vocabSize <= maxDriverVocab) {
        val table = wf.collect()
          .map(r => r.getString(0) -> r.getLong(1))
        driverTrain(table, numMerges)
      } else trainBatched(docs, textCol, numMerges)
    wf.unpersist()
    out
  }

  /** Growable unboxed int list (the `where` index at a 10^6-word
    * vocabulary holds one entry per symbol adjacency — boxed sets cost
    * ~50 bytes/entry where this costs 4).
    */
  private final class IntVec {
    var a = new Array[Int](8)
    var n = 0
    def add(x: Int): Unit = {
      if (n > 0 && a(n - 1) == x) return // collapse same-word repeats
      if (n == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
      a(n) = x
      n += 1
    }
  }

  /** In-process merge loop over the collected vocabulary table —
    * bit-identical to [[train]]'s argmax (same counts, same tie-break,
    * same < 2 stop). Incremental: only words containing the merged pair
    * are rescanned per iteration, and the pair-count table is updated by
    * delta, so a merge over a rare pair costs O(words containing it),
    * not O(vocabulary). Memory shape for 10^6+ vocabularies: single-char
    * and fused symbols are SHARED instances (one String per distinct
    * symbol, words hold references), and the pair→words index is an
    * unboxed int list.
    */
  private[graft] def driverTrain(table: Array[(String, Long)],
      numMerges: Int): Seq[(String, String)] = {
    val symCache = new java.util.HashMap[String, String]()
    def shared(s: String): String = {
      val prev = symCache.putIfAbsent(s, s)
      if (prev == null) s else prev
    }
    val freqs: Array[Long] = table.map(_._2)
    val vocab: Array[Array[String]] = table.map { case (w, _) =>
      val arr = new Array[String](w.length + 1)
      var i = 0
      while (i < w.length) { arr(i) = shared(w.substring(i, i + 1)); i += 1 }
      arr(w.length) = Eow
      arr
    }
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
    val where = scala.collection.mutable
      .Map.empty[(String, String), IntVec]
    def bump(wi: Int, syms: Array[String], sign: Long, index: Boolean)
        : Unit = {
      val f = freqs(wi)
      var i = 0
      while (i < syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        val c = counts.getOrElse(p, 0L) + sign * f
        if (c == 0L) counts.remove(p) else counts(p) = c
        if (index)
          where.getOrElseUpdate(p, new IntVec).add(wi)
        i += 1
      }
    }
    var wi0 = 0
    while (wi0 < vocab.length) {
      bump(wi0, vocab(wi0), 1L, index = true)
      wi0 += 1
    }
    val merges = Seq.newBuilder[(String, String)]
    var n = 0
    var stop = false
    while (n < numMerges && !stop) {
      var best: (String, String) = null
      var bestC = 0L
      counts.foreach { case (p, c) =>
        if (c > bestC || (c == bestC && best != null &&
            (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
          best = p; bestC = c
        }
      }
      if (best == null || bestC < 2) stop = true
      else {
        merges += best
        val (a, b) = best
        val fused = shared(a + b)
        val hits = where.getOrElse(best, new IntVec)
        var h = 0
        while (h < hits.n) {
          val wi = hits.a(h)
          val syms = vocab(wi)
          // re-check: the index can be stale after earlier merges
          var has = false
          var i = 0
          while (i < syms.length - 1 && !has) {
            has = syms(i) == a && syms(i + 1) == b
            i += 1
          }
          if (has) {
            bump(wi, syms, -1L, index = false)
            // in-place leftmost merge with the SHARED fused instance
            val out = new Array[String](syms.length)
            var src = 0
            var dst = 0
            while (src < syms.length) {
              if (src + 1 < syms.length && syms(src) == a &&
                  syms(src + 1) == b) {
                out(dst) = fused; src += 2
              } else { out(dst) = syms(src); src += 1 }
              dst += 1
            }
            vocab(wi) = java.util.Arrays.copyOf(out, dst)
            bump(wi, vocab(wi), 1L, index = true)
          }
          h += 1
        }
        where.remove(best)
        n += 1
      }
    }
    merges.result()
  }

  /** Batched DISTRIBUTED training — the above-cap fallback of
    * [[trainFast]]. IDENTICAL merge list to [[train]]: each ROUND runs
    * ONE pair-count job (collecting the top `candidateLimit` pairs —
    * bounded driver memory) and ONE merge-application job, and the
    * driver-side [[selectSafeBatch]] accepts every merge that is
    * PROVABLY the next sequential argmax:
    *
    *   - merging (a,b) leaves the count of every pair DISJOINT from
    *     {a,b} unchanged (a merge replaces symbols, never removes or
    *     reorders others, so disjoint adjacencies are untouched);
    *   - pairs SHARING a symbol can only lose count, so the scan stops
    *     at the first sharing candidate (it may still be sequential's
    *     next pick);
    *   - every CREATED pair involves the fused symbol and each of its
    *     occurrences consumes an occurrence of an old left-neighbor or
    *     right-neighbor pair — (x,ab) ≤ old (x,a), (ab,y) ≤ old (b,y),
    *     (ab,ab) ≤ old (b,a); a self-merge (a,a) additionally bounds
    *     its (aa,a)/(aa,aa) creations by old count/2.
    *
    * So the next sorted candidate disjoint from the accepted symbols
    * whose count is STRICTLY above both the accumulated created-pair
    * bound and the collection cutoff beats every changed and created
    * pair and is exactly what sequential training picks next. Batch
    * application order is irrelevant because accepted merges are
    * pairwise symbol-disjoint.
    */
  def trainBatched(docs: DataFrame, textCol: String, numMerges: Int,
      candidateLimit: Int = 10000): Seq[(String, String)] = {
    var words = symbolTable(docs, textCol)
    val merges = Seq.newBuilder[(String, String)]
    var learned = 0
    var exhausted = false
    var rounds = 0
    while (learned < numMerges && !exhausted) {
      val top = pairCounts(words).filter(_._2 >= 2)
        .takeOrdered(candidateLimit)(ArgmaxOrder)
        .map { case ((a, b), c) => (a, b, c) }.toIndexedSeq
      rounds += 1
      if (top.isEmpty) exhausted = true
      else {
        val batch = selectSafeBatch(top, top.length < candidateLimit,
          numMerges - learned)
        merges ++= batch
        learned += batch.length
        val rules = batch.toSet
        words = advance(words, rounds)(mergeBatch(_, rules))
      }
    }
    words.unpersist()
    merges.result()
  }

  /** Longest prefix of provably-sequential-identical merges from one
    * sorted pair-count snapshot (see [[trainBatched]] for the argument).
    * `complete` = the snapshot holds EVERY pair with count ≥ 2 (nothing
    * fell below the collection cutoff).
    */
  private[graft] def selectSafeBatch(
      sorted: IndexedSeq[(String, String, Long)], complete: Boolean,
      limit: Int): Seq[(String, String)] = {
    // per-symbol top-2 counts over the snapshot, split by side:
    // leftMax(s) = counts of pairs (x, s); rightMax(s) = counts of (s, y)
    // — O(1) created-pair bounds per accepted merge
    val l1 = scala.collection.mutable.Map.empty[String, Long]
    val l2 = scala.collection.mutable.Map.empty[String, Long]
    val r1 = scala.collection.mutable.Map.empty[String, Long]
    val r2 = scala.collection.mutable.Map.empty[String, Long]
    def feed(m1: scala.collection.mutable.Map[String, Long],
        m2: scala.collection.mutable.Map[String, Long],
        s: String, c: Long): Unit = {
      val cur = m1.getOrElse(s, Long.MinValue)
      if (c >= cur) { m2(s) = cur; m1(s) = c }
      else if (c > m2.getOrElse(s, Long.MinValue)) m2(s) = c
    }
    sorted.foreach { case (a, b, c) => feed(r1, r2, a, c); feed(l1, l2, b, c) }
    def maxEx(m1: scala.collection.mutable.Map[String, Long],
        m2: scala.collection.mutable.Map[String, Long],
        s: String, exclude: Long): Long =
      if (m1.getOrElse(s, Long.MinValue) == exclude)
        m2.getOrElse(s, Long.MinValue)
      else m1.getOrElse(s, Long.MinValue)

    val cutoff = if (complete) 1L else sorted.last._3
    val acceptedSyms = scala.collection.mutable.Set.empty[String]
    var threat = Long.MinValue
    val out = Seq.newBuilder[(String, String)]
    var n = 0
    var i = 0
    var stop = false
    while (i < sorted.length && n < limit && !stop) {
      val (a, b, c) = sorted(i)
      if (acceptedSyms.contains(a) || acceptedSyms.contains(b))
        // a sharing pair only loses count — it may still be sequential's
        // next pick, so nothing after it is provable
        stop = true
      else if (n > 0 && (c <= threat || c <= cutoff)) stop = true
      else {
        out += ((a, b))
        n += 1
        acceptedSyms += a
        acceptedSyms += b
        val createdBound =
          if (a != b) math.max(l1.getOrElse(a, Long.MinValue),
            r1.getOrElse(b, Long.MinValue))
          else math.max(math.max(maxEx(l1, l2, a, c), maxEx(r1, r2, a, c)),
            c / 2)
        threat = math.max(threat, createdBound)
      }
      i += 1
    }
    out.result()
  }

  /** One left-to-right pass applying a SET of pairwise symbol-disjoint
    * merge rules — equivalent to applying them sequentially in any order
    * (disjoint rules can neither overlap in the symbol stream nor create
    * or destroy each other's adjacencies).
    */
  private[graft] def mergeBatch(syms: Seq[String],
      rules: Set[(String, String)]): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    val v = syms.toIndexedSeq
    while (i < v.length) {
      if (i + 1 < v.length && rules.contains((v(i), v(i + 1)))) {
        out += v(i) + v(i + 1)
        i += 2
      } else {
        out += v(i)
        i += 1
      }
    }
    out.result()
  }

  /** Replace every adjacent (a, b) with the fused symbol, one
    * left-to-right pass (the paper's merge step).
    */
  private[graft] def mergePair(syms: Seq[String], a: String,
      b: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    val v = syms.toIndexedSeq
    while (i < v.length) {
      if (i + 1 < v.length && v(i) == a && v(i + 1) == b) {
        out += a + b
        i += 2
      } else {
        out += v(i)
        i += 1
      }
    }
    out.result()
  }

  /** Encode one word: repeatedly merge the present pair with the LOWEST
    * training rank until none applies. Equivalent to replaying the merge
    * list in rank order (a merge's output pairs always rank later than
    * the merge itself, since their symbols could not exist before it).
    */
  private[graft] def encodeWord(word: String,
      rank: Map[(String, String), Int]): Seq[String] = {
    var syms: Vector[String] = toSymbols(word).toVector
    var done = syms.length < 2
    while (!done) {
      var best = Int.MaxValue
      var bi = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) { best = r; bi = i }
        i += 1
      }
      if (bi < 0) done = true
      else {
        syms = (syms.take(bi) :+ (syms(bi) + syms(bi + 1))) ++
          syms.drop(bi + 2)
        done = syms.length < 2
      }
    }
    syms
  }

  /** Tokenize a corpus under a trained merge list: per document,
    * (n_words, n_bpe_tokens). The merge table broadcasts (it is
    * vocabulary-sized); the pass is embarrassingly parallel — per-word
    * imperative subword merging is the one shape a column expression
    * cannot express, so this is a typed map, not a UDF-in-SQL.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val brank = spark.sparkContext.broadcast(merges.zipWithIndex.toMap)
    docs.select(col(idCol).cast("long"),
        TextAnalysis.whitespaceTokens(col(textCol)))
      .as[(Long, Seq[String])]
      .map { case (id, ws) =>
        val r = brank.value
        var nTok = 0L
        ws.foreach(w => nTok += encodeWord(w, r).length)
        (id, ws.length.toLong, nTok)
      }
      .toDF(idCol, "n_words", "n_bpe_tokens")
  }
}
