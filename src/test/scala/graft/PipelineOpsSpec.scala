package graft

import org.apache.spark.sql.functions._

import graft.operators._

class PipelineOpsSpec extends SparkSuite {
  private def docs = spark.read.parquet(sf("sf0.001/documents.parquet"))
  private def emb = spark.read.parquet(sf("sf0.001/embeddings.parquet"))

  test("minhash LSH finds the high-jaccard pairs exact search finds") {
    // ground truth: blocked exact jaccard >= 0.8
    val exactPairs = Dedup.ngramJaccardBlocked(docs, "doc_id", "text",
      threshold = 0.8).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshPairs = Dedup.minHashLsh(docs, "doc_id", "text", threshold = 0.8)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.nonEmpty)
    // every LSH pair is exact-verified, so lsh ⊆ exact; recall should be
    // high (16 bands of 4 rows: P(miss)@0.8 ≈ 0.1%)
    assert(lshPairs.subsetOf(exactPairs))
    assert(lshPairs.size >= exactPairs.size * 9 / 10,
      s"recall too low: ${lshPairs.size}/${exactPairs.size}")
  }

  test("ngram blocking survives a shared-boilerplate corpus without a " +
      "quadratic bucket") {
    import spark.implicits._
    // 500 docs all opening with the same 60-char license header — under
    // prefix-only blocking this is ONE bucket of 124,750 candidate pairs
    val header = "Licensed to the Apache Software Foundation under one or"
    require(header.length >= 50)
    val n = 500
    val corpus = (0 until n).map { i =>
      // varying lengths spread docs across token-count bands
      val body = (0 until (4 + i)).map(k => s"tok${i}_$k").mkString(" ")
      (i.toLong, s"$header $body")
    }.toDF("doc_id", "text")

    val candidates = Dedup.ngramCandidatePairs(corpus, "doc_id", "text")
      .count()
    val quadratic = n.toLong * (n - 1) / 2
    // composite (prefix, length-band) key with ±1-band probing: each of
    // the ~31 bands holds ~16 docs, so candidates ≈ n × 3×16/2 ≪ n²/2
    assert(candidates < quadratic / 5,
      s"$candidates candidate pairs ≈ quadratic ($quadratic) — blocking " +
        "key degenerated")
    assert(candidates > 0)

    // recall within the contract: a true near-dup pair (same band) with
    // the shared header is still found
    val nearDup = Seq(
      (1000L, s"$header alpha beta gamma delta epsilon zeta"),
      (1001L, s"$header alpha beta gamma delta epsilon eta"))
      .toDF("doc_id", "text")
    val found = Dedup.ngramJaccardBlocked(corpus.union(nearDup), "doc_id",
        "text", threshold = 0.3)
      .filter(col("doc_a") === 1000L && col("doc_b") === 1001L).count()
    assert(found == 1L)
  }

  test("simhash near-dup pairs overlap minhash pairs") {
    val sim = Dedup.simHash(docs, "doc_id", "text")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minHashLsh(docs, "doc_id", "text", threshold = 0.9)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.nonEmpty)
    assert((sim intersect mh).nonEmpty)
  }

  test("simhash chunk widening: 5x13-bit blocking serves hamming 4 with " +
    "full pigeonhole recall; 4 chunks refuse it") {
    // the pigeonhole guarantee is the contract: an EXPLICIT chunk count
    // must leave room for maxHamming (auto-sizing, chunks = 0, always
    // picks a valid scheme instead)
    val e = intercept[IllegalArgumentException] {
      Dedup.simHash(docs, "doc_id", "text", maxHamming = 4, chunks = 4)
    }
    assert(e.getMessage.contains("pigeonhole"))
    // widened blocking: every pair the 4-chunk default finds at <=3 is
    // also found by 5 chunks at <=4 (a superset by definition), and the
    // hamming values agree pair-for-pair
    val h3 = Dedup.simHash(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val h4 = Dedup.simHash(docs, "doc_id", "text", maxHamming = 4,
      chunks = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(h3.subsetOf(h4),
      s"widened blocking lost pairs: ${h3 -- h4}")
    assert(h4.forall(_._3 <= 4))
  }

  test("simHashBlocking widens with corpus size; every scheme returns " +
    "the identical pair set") {
    import graft.operators.Dedup.simHashBlocking
    // h=3: single-chunk 4x16-bit keys hold while 4n/2^16 <= 32/doc
    // (~500k docs), then pair keys over 5 chunks, then triple keys
    assert(simHashBlocking(10000L, 3) == ((4, 1)))
    assert(simHashBlocking(500000L, 3) == ((4, 1)))
    assert(simHashBlocking(1000000L, 3) == ((5, 2)))
    assert(simHashBlocking(100000000L, 3) == ((5, 2)))
    // 5-chunk pair keys: weakest 12+13=25 bits, 10 keys/doc ->
    // 10n/2^25 <= 32 holds to ~10^8; past that, triple keys
    assert(simHashBlocking(1000000000L, 3)._2 >= 3)
    // h=0 exact-signature match: two 32-bit halves are always enough
    assert(simHashBlocking(1000000000L, 0) == ((2, 1)))
    // pair sets agree across schemes: the bit_count filter is exact,
    // blocking only decides candidate work (recall is guaranteed by the
    // generalized pigeonhole as long as chunks - minMatch >= h)
    def pairs(c: Int, m: Int) =
      Dedup.simHash(docs, "doc_id", "text", maxHamming = 3,
        chunks = c, minMatch = m)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val base = pairs(4, 1)
    assert(pairs(5, 2) == base, "5-chunk pair keys diverged")
    assert(pairs(6, 3) == base, "6-chunk triple keys diverged")
  }

  test("rolling hash is deterministic and collision-free on distinct docs") {
    import graft.functions.GraftFunctions.rolling_hash
    val fp1 = docs.select(rolling_hash(col("text")).as("h")).collect().map(_.getLong(0))
    val fp2 = docs.select(rolling_hash(col("text")).as("h")).collect().map(_.getLong(0))
    assert(fp1.toSeq == fp2.toSeq)
    assert(fp1.distinct.length == fp1.length) // all docs md5-distinct
  }

  test("native shingles equal the transform/concat_ws formulation") {
    import spark.implicits._
    import graft.functions.SketchFunctions.shingles
    val extra = Seq(" Lead and trail  ", "a b a b a b", "one two", "",
      "x y z x y z x").toDF("text")
    val words = docs.select("text").union(extra)
      .select(split(lower(col("text")), "\\s+").as("w"))
    // short rows (fewer than 3 words) take the guard: an empty array
    val grams = when(size(col("w")) >= 3,
      transform(sequence(lit(1), size(col("w")) - 2),
        i => concat_ws(" ", slice(col("w"), i, lit(3)))))
      .otherwise(array().cast("array<string>"))
    val mismatches = words
      .select(
        (shingles(col("w"), 3, distinct = false) === grams).as("all"),
        (shingles(col("w"), 3, distinct = true) === array_distinct(grams))
          .as("distinct"))
      .filter(!col("all") || !col("distinct"))
    assert(mismatches.count() == 0L)
  }

  test("brute-force topk self-similarity sanity") {
    val topk = Similarity.bruteForceTopK(emb,
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 5)
    val rows = topk.collect()
    assert(rows.length == 15)
    // per query, sims are non-increasing in rank
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(3))
      val sims = byRank.map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("as-of join picks the latest at-or-before right row per key") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, "a"), (1L, 20L, "b"), (1L, 5L, "c"),   // before any right
      (2L, 15L, "d")).toDF("k", "t", "tag")
    val right = Seq(
      (1L, 10L, 100.0), (1L, 15L, 150.0),
      (2L, 1L, 10.0), (3L, 1L, 1.0)).toDF("k", "t", "v")
    val out = graft.operators.AsOfJoin
      .lastPrior(left, right, "k", "t", Seq("v"))
      .orderBy("k", "t").collect()
    // (1,5): nothing before; (1,10): the equal-ts right row (inclusive);
    // (1,20): latest of the two; (2,15): the single prior row
    assert(out.map(r => (r.getLong(0), r.getLong(1),
      Option(r.get(3)))).toSeq == Seq(
      (1L, 5L, None), (1L, 10L, Some(100.0)), (1L, 20L, Some(150.0)),
      (2L, 15L, Some(10.0))))
    // left-only columns survive
    assert(out.map(_.getString(2)).toSeq == Seq("c", "a", "b", "d"))
  }

  test("as-of join surfaces a matched row's NULL payload and keeps rows atomic") {
    import spark.implicits._
    val left = Seq((1L, 20L, "x"), (1L, 40L, "y")).toDF("k", "t", "tag")
    // latest right row at t=15 carries (NULL, "b2") — its NULL must WIN
    // over the older row's 1.0, and (v, w) must come from the same row
    val right = Seq(
      (1L, 10L, Some(1.0), "b1"),
      (1L, 15L, None: Option[Double], "b2"),
      (1L, 30L, Some(3.0), "b3")).toDF("k", "t", "v", "w")
    val out = graft.operators.AsOfJoin
      .lastPrior(left, right, "k", "t", Seq("v", "w"))
      .orderBy("t").collect()
      .map(r => (r.getLong(1), Option(r.get(3)), r.getString(4))).toSeq
    // DuckDB ASOF semantics: latest row wins, NULL and all — never a mix
    // of b1's v with b2's w
    assert(out == Seq((20L, None, "b2"), (40L, Some(3.0), "b3")))
  }

  test("duplicate clusters: empty pair input and non-numeric doc ids") {
    import spark.implicits._
    val empty = Seq.empty[(String, String)].toDF("doc_a", "doc_b")
    assert(Dedup.duplicateClusters(empty).isEmpty)
    // string ids: the numeric-sum convergence test would silently cast to
    // null; the changed-labels test must still converge to 2 components
    val pairs = Seq(("b", "a"), ("c", "b"), ("e", "d")).toDF("doc_a", "doc_b")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq("a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "d", "e" -> "d"))
  }

  test("range join matches a plain inequality join") {
    import spark.implicits._
    val points = Seq((1L, 5L, "p1"), (1L, 25L, "p2"), (1L, 99L, "p3"),
      (2L, 10L, "p4")).toDF("k", "t", "tag")
    val intervals = Seq((1L, 0L, 30L), (1L, 90L, 100L), (2L, 50L, 60L))
      .toDF("k", "s", "e")
    val bucketized = graft.operators.RangeJoin.pointInInterval(
      points, intervals, "t", "s", "e", binWidth = 7L, keyCols = Seq("k"))
      .select("k", "t", "s").orderBy("k", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val plain = points.join(intervals, Seq("k"))
      .filter(col("t") >= col("s") && col("t") < col("e"))
      .select("k", "t", "s").orderBy("k", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(bucketized == plain && plain.nonEmpty)
    assert(plain == Seq((1L, 5L, 0L), (1L, 25L, 0L), (1L, 99L, 90L)))
  }

  test("repetition features flag a templated document") {
    import spark.implicits._
    val d = Seq(
      (1L, "buy now buy now buy now buy now"),       // "buy now"/"now buy" dominate
      (2L, "a quiet fox walked over the old bridge while two birds sang " +
        "above the cold river bend")                 // all bigrams unique
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionFeatures(d, "doc_id", "text").collect()
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    // doc 1: 8 tokens, 7 bigrams, "buy now" appears 4 times
    assert(byId(1L) == ((8L, 4L, 4.0 / 7.0, true)))
    // doc 2: 17 tokens, every bigram unique: 1/16 < 0.1
    assert(byId(2L)._2 == 1L && !byId(2L)._4)
  }

  test("pii redaction counts and replaces emails and ipv4s") {
    import spark.implicits._
    val d = Seq(
      (1L, "reach me at jane.doe+spam@mail.example.org or 10.0.42.7 ok"),
      (2L, "no pii here, just text with 1.2 version numbers")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiRedact(d, "doc_id", "text").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 0L))
    // the redacted hash equals md5 of the expected redacted string
    val expected = d.select(col("doc_id"), md5(lit(
      "reach me at <EMAIL> or <IP> ok")).as("h")).filter(col("doc_id") === 1)
      .head().getString(1)
    assert(out.head.getString(2) == expected)
  }

  test("stratified sample is deterministic and counts add up") {
    val out1 = TextAnalysis.stratifiedSampleCounts(docs,
      Seq("lang", "source"), "doc_id", "text")
    val out2 = TextAnalysis.stratifiedSampleCounts(
      docs.repartition(7), Seq("lang", "source"), "doc_id", "text")
    // parallelism-independent
    assert(out1.collect().toSeq == out2.collect().toSeq)
    val totals = out1.agg(sum("n_total"), sum("n_sampled")).head()
    assert(totals.getLong(0) == docs.count())
    assert(totals.getLong(1) > 0 && totals.getLong(1) < totals.getLong(0))
  }

  test("multimodal stub decode preserves byte counts") {
    val feats = Multimodal.extractFeatures(spark, docs, "doc_id", "text")
    val joined = feats.toDF().join(docs, "doc_id")
      .filter(col("n_bytes") =!= length(col("text")))
    assert(joined.count() == 0)
    assert(feats.head().embedding.length == 8)
  }

  test("multimodal image decode reads real pixels through javax.imageio") {
    import spark.implicits._
    // 3x2 image with known pixels: lumas 0, 96, 255, 10, 20, 30
    val img = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    def gray(c: Int) = (c << 16) | (c << 8) | c
    img.setRGB(0, 0, gray(0)); img.setRGB(1, 0, gray(96))
    img.setRGB(2, 0, gray(255)); img.setRGB(0, 1, gray(10))
    img.setRGB(1, 1, gray(20)); img.setRGB(2, 1, gray(30))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val media = spark.createDataset(Seq(
      Multimodal.MediaRecord(7L, bos.toByteArray, "image/png")))

    val f = Multimodal.extractImageFeatures(media, partitions = 1).head()
    assert(f.doc_id == 7L && f.width == 3 && f.height == 2 && f.n_pixels == 6)
    assert(math.abs(f.mean_luma - (0 + 96 + 255 + 10 + 20 + 30) / 6.0) < 1e-9)
    // luma histogram: bins of 32 → [0,10,20,30]=bin0, 96=bin3, 255=bin7
    assert(f.embedding.toSeq == Seq(4f / 6, 0f, 0f, 1f / 6, 0f, 0f, 0f, 1f / 6))
    // BMP decodes through the same path (second in-JVM codec)
    val bmp = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bmp)
    val fb = Multimodal.extractImageFeatures(spark.createDataset(Seq(
      Multimodal.MediaRecord(8L, bmp.toByteArray, "image/bmp"))),
      partitions = 1).head()
    assert(fb.width == 3 && fb.height == 2 && fb.mean_luma == f.mean_luma)
    // corrupt payload fails loudly, never fake features
    intercept[org.apache.spark.SparkException] {
      Multimodal.extractImageFeatures(spark.createDataset(Seq(
        Multimodal.MediaRecord(9L, Array[Byte](1, 2, 3), "image/png"))),
        partitions = 1).head()
    }
  }

  test("multimodal audio decode reads real PCM through javax.sound") {
    import spark.implicits._
    // square wave: half-period 4 samples, 160 frames @ 8kHz, amp 8192 —
    // every feature is exactly computable
    val samples = Array.tabulate(160) { i =>
      if ((i / 4) % 2 == 0) 8192.toShort else (-8192).toShort
    }
    val wav = Multimodal.encodeWavPcm16(samples, 8000f)
    val media = spark.createDataset(Seq(
      Multimodal.MediaRecord(5L, wav, "audio/wav")))
    val f = Multimodal.extractAudioFeatures(media, partitions = 1).head()
    assert(f.doc_id == 5L && f.channels == 1 && f.n_frames == 160L)
    assert(f.sample_rate == 8000.0)
    assert(f.duration_ms == 20.0)
    assert(f.rms == 0.25)                      // 8192/32768, exact
    assert(f.zero_crossings == 159 / 4)        // sign flips at multiples of 4
    assert(f.embedding.forall(e => math.abs(e - 0.25f) < 1e-6))
    // corrupt payload fails loudly, never fake features
    intercept[org.apache.spark.SparkException] {
      Multimodal.extractAudioFeatures(spark.createDataset(Seq(
        Multimodal.MediaRecord(6L, Array[Byte](9, 9, 9), "audio/wav"))),
        partitions = 1).head()
    }
  }

  test("multimodal video decode walks a real AVI container (raw DIB)") {
    import spark.implicits._
    import graft.operators.AviCodec
    // 3 solid-gray frames (40, 50, 60) at 5x3 — odd width exercises the
    // 4-byte DIB row padding; every feature is exactly computable
    val frames = Seq(40, 50, 60).map(c =>
      AviCodec.solidDibFrame(5, 3, (c << 16) | (c << 8) | c))
    val avi = AviCodec.encode(frames, 5, 3, fps = 10, compressed = false)
    val media = spark.createDataset(Seq(
      Multimodal.MediaRecord(11L, avi, "video/avi")))
    val f = Multimodal.extractVideoFeatures(media, partitions = 1).head()
    assert(f.doc_id == 11L && f.width == 5L && f.height == 3L)
    assert(f.n_frames == 3L && f.fps == 10.0)
    assert(f.duration_ms == 300.0)
    assert(f.mean_luma == 50.0)                 // (40+50+60)/3, exact
    // corrupt payload fails loudly, never fake features
    intercept[org.apache.spark.SparkException] {
      Multimodal.extractVideoFeatures(spark.createDataset(Seq(
        Multimodal.MediaRecord(12L, Array[Byte](9, 9, 9), "video/avi"))),
        partitions = 1).head()
    }
  }

  test("multimodal video decode reads MJPEG frames through javax.imageio") {
    import spark.implicits._
    import graft.operators.AviCodec
    // JPEG is lossy, but a solid gray decodes within a couple of levels
    val frames = Seq(64, 128, 192).map(c =>
      AviCodec.solidJpegFrame(16, 16, (c << 16) | (c << 8) | c))
    val avi = AviCodec.encode(frames, 16, 16, fps = 25, compressed = true)
    val (hdr, decoded) = AviCodec.decodeFrames(avi)
    assert(hdr.handler == "MJPG" && hdr.fps == 25.0)
    val lumas = decoded.map(_.meanLuma).toSeq
    assert(lumas.size == 3)
    Seq(64.0, 128.0, 192.0).zip(lumas).foreach { case (want, got) =>
      assert(math.abs(want - got) < 3.0, s"JPEG luma drifted: $want vs $got")
    }
  }

  test("multimodal video frame sampling decodes only sampled frames") {
    import spark.implicits._
    import graft.operators.AviCodec
    val frames = (0 until 6).map(c =>
      AviCodec.solidDibFrame(4, 2, (c << 16) | (c << 8) | c))
    val avi = AviCodec.encode(frames, 4, 2, fps = 10, compressed = false)
    val media = spark.createDataset(Seq(
      Multimodal.MediaRecord(13L, avi, "video/avi")))
    val sampled = Multimodal.sampleVideoFrames(media, everyNth = 2,
      partitions = 1).collect().sortBy(_.frame_idx)
    assert(sampled.map(_.frame_idx).toSeq == Seq(0, 2, 4))
    assert(sampled.map(_.mean_luma).toSeq == Seq(0.0, 2.0, 4.0))
  }

  test("multimodal resize and frame sampling keep the plumbing honest") {
    import spark.implicits._
    val media = docs.select(col("doc_id").cast("long").as("doc_id"),
        org.apache.spark.sql.functions.encode(col("text"), "UTF-8").as("media"),
        org.apache.spark.sql.functions.lit("text/plain").as("modality"))
      .as[Multimodal.MediaRecord]

    // resize: one row in, one row out, payload at the target budget
    val resized = Multimodal.resize(media, width = 64, height = 64)
    assert(resized.count() == media.count())
    assert(resized.head().media.length == 64 * 64 / 64)

    // frame sampling: fan-out row counts follow the payload length exactly
    val frames = Multimodal.sampleFrames(media, frameBytes = 100, everyNth = 2)
    val expected = media.collect().map { r =>
      val n = math.max(1, r.media.length / 100)
      (0 until n by 2).size.toLong
    }.sum
    assert(frames.count() == expected)
    // frames are deterministic slices (first frame starts with the text)
    val f0 = frames.filter(_.frame_idx == 0).head()
    val original = media.filter(_.doc_id == f0.doc_id).head().media
    assert(f0.frame.sameElements(original.take(f0.frame.length)))
  }

  test("tfidf top terms: ranks contiguous, scores match a local recompute") {
    val out = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", topK = 3)
      .collect()
    val nDocs = docs.count()
    assert(out.nonEmpty)
    // every doc with >=1 token appears with ranks 1..min(3, n_distinct_terms)
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length))
    }
    // recompute one document's scores locally from its text
    val sample = docs.select("doc_id", "text").limit(1).collect().head
    val (docId, text) = (sample.getLong(0), sample.getString(1))
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val tf = toks.groupBy(identity).map { case (t, o) => t -> o.length.toLong }
    // df comes from the corpus — read it back from the operator's output
    val docRows = out.filter(_.getLong(0) == docId)
    docRows.foreach { r =>
      val (term, tfOut, dfOut, scaled) =
        (r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(tf(term) == tfOut, s"tf($term)")
      assert(scaled == tfOut * ((nDocs * 1000000L) / dfOut), s"scale($term)")
    }
  }

  test("token histogram agrees with tfidf tokenization and totals add up") {
    val hist = TextAnalysis.tokenHistogram(docs, "doc_id", "text").collect()
    assert(hist.nonEmpty)
    assert(hist.map(_.getLong(1)).sum == docs.count())   // every doc bucketed
    // total tokens across buckets == total exploded terms (one tokenization)
    val totalTokens = hist.map(_.getLong(2)).sum
    val exploded = docs.select(
      explode(TextAnalysis.whitespaceTokens(col("text")))).count()
    assert(totalTokens == exploded)
    // bucket identity: bucket * 100 <= every member's n_tokens — implied by
    // the group key; spot-check via an empty/whitespace doc counting 0 tokens
    import spark.implicits._
    val edge = Seq((1L, ""), (2L, "   \t \n "), (3L, "one two"))
      .toDF("doc_id", "text")
    val eh = TextAnalysis.tokenHistogram(edge, "doc_id", "text").collect()
    val bucket0 = eh.find(_.getLong(0) == 0L).get
    assert(bucket0.getLong(1) == 3L && bucket0.getLong(2) == 2L)
  }

  test("contamination flags exactly the docs sharing an eval trigram") {
    import spark.implicits._
    val eval = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "zz alpha beta gamma yy"),         // shares "alpha beta gamma"
      (2L, "Beta  Gamma\tDELTA extra"),       // tokenization-normalized hit
      (3L, "alpha gamma beta delta"),         // same words, no shared trigram
      (4L, "alpha beta"),                     // < 3 tokens → no shingles
      (5L, "")                                // empty → no shingles
    ).toDF("doc_id", "text")
    val out = TextAnalysis.contamination(train, eval, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L))
    // n_shared_grams counts DISTINCT shared grams: a doc repeating the
    // same eval trigram twice still counts it once
    val rep = Seq((6L, "alpha beta gamma xx alpha beta gamma"))
      .toDF("doc_id", "text")
    val out2 = TextAnalysis.contamination(rep, eval, "doc_id", "text", n = 3)
      .collect()
    assert(out2.length == 1 && out2.head.getLong(1) == 1L)
  }

  test("duplicate-gram stats count shared trigrams once per distinct gram") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d"),          // grams: "a b c", "b c d"
      (2L, "a b c x"),          // shares "a b c"
      (3L, "q r s t"),          // unique grams
      (4L, "a b")               // too short → no grams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.duplicateGramStats(corpus, "doc_id", "text", n = 3)
      .collect().head
    // distinct grams: "a b c","b c d","a b c x"→"b c x","q r s","r s t" = 5
    assert(out.getLong(0) == 5L)
    assert(out.getLong(1) == 1L)          // only "a b c" is shared
    assert(out.getLong(2) == 2L)          // it appears in 2 docs
    assert(math.abs(out.getDouble(3) - 0.2) < 1e-12)
  }

  test("gopher rules flag short, unnatural, and stopword-free docs") {
    import spark.implicits._
    val longBody = (1 to 60).map(i => s"word$i").mkString(" ")
    val corpus = Seq(
      (1L, s"the cat sat on the mat and it is that for $longBody"), // passes
      (2L, "too short to pass the bar"),                  // n_tokens < 50
      (3L, ("x " * 60).trim)                              // word len 1, no sw
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherQualityFlags(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(4), r.getBoolean(5), r.getBoolean(6), r.getBoolean(7)))
      .toMap
    assert(out(1L) == (true, true, true, true))
    assert(out(2L)._1 == false && out(2L)._4 == false)
    assert(out(3L) == (true, false, false, false))
  }

  test("chunking covers every token, short tail, one chunk for short docs") {
    import spark.implicits._
    val corpus = Seq(
      (1L, (1 to 8).map(i => s"t$i").mkString(" ")),  // 8 tokens
      (2L, "a b c"),                                  // shorter than a chunk
      (3L, "")                                        // empty → no chunks
    ).toDF("doc_id", "text")
    // chunk=4, overlap=1, step=3 → doc 1 starts [1,4,7]: sizes 4,4,2
    val out = TextAnalysis.chunkDocuments(corpus, "doc_id", "text",
        chunkTokens = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.filter(_._1 == 1L).map(x => (x._2, x._3)).toSeq ==
      Seq((1, 4L), (2, 4L), (3, 2L)))
    assert(out.filter(_._1 == 2L).map(x => (x._2, x._3)).toSeq ==
      Seq((1, 3L)))
    assert(!out.exists(_._1 == 3L))
    // consecutive chunks share exactly `overlap` tokens: chunk k starts at
    // 1 + k*step, so chunk1 covers 1-4 and chunk2 covers 4-7 → token 4 in
    // both — verified structurally by the sizes above (4+4+2 = 10 slots
    // for 8 tokens = 2 overlap slots)
  }

  test("funnel requires strict stage order per user") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = new Timestamp(m * 60000L)
    val events = Seq(
      // user 1 completes in order
      (1L, "view", ts(0)), (1L, "click", ts(1)), (1L, "purchase", ts(2)),
      // user 2 purchases BEFORE clicking → reaches stage 2 only
      (2L, "view", ts(0)), (2L, "purchase", ts(1)), (2L, "click", ts(2)),
      // user 3 views only
      (3L, "view", ts(0)),
      // user 4 clicks without ever viewing → reaches no stage
      (4L, "click", ts(0)), (4L, "purchase", ts(1)),
      // user 5: click at the SAME instant as view → strict > excludes it
      (5L, "view", ts(0)), (5L, "click", ts(0))
    ).toDF("user_id", "event_type", "ts")
    val out = graft.operators.Funnel.stageCounts(events, "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1, "view", 4L),        // users 1,2,3,5
      (2, "click", 2L),       // users 1,2 (5's click not strictly after)
      (3, "purchase", 1L)))   // user 1 only
  }

  test("semantic dedup drops only exactly-droppable docs, rep id is lower") {
    val dropped = Similarity.semanticDedup(emb, "vec_id", "embedding",
      dim = 64, threshold = 0.45, nlist = 8).collect()
    assert(dropped.nonEmpty)
    dropped.foreach(r => assert(r.getLong(1) < r.getLong(0),
      s"rep ${r.getLong(1)} !< doc ${r.getLong(0)}"))
    // exact global droppable set (brute force at spec scale)
    val e = emb.select(col("vec_id").as("id"), col("embedding").as("v"),
      Similarity.norm(col("embedding")).as("nv")).cache()
    val droppable = e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
      .select(col("b.id").as("doc_id"),
        round(Similarity.cosineWithNorms(
          Similarity.dot(col("a.v"), col("b.v")),
          col("a.nv"), col("b.nv")), 4).as("c"))
      .filter(col("c") >= 0.45)
      .select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val droppedIds = dropped.map(_.getLong(0)).toSet
    assert(droppedIds.subsetOf(droppable),
      s"false drops: ${droppedIds.diff(droppable).take(5)}")
    // the emitted cos_sim is the real pair similarity (exact-verified)
    dropped.take(3).foreach { r =>
      val doc = r.getLong(0); val rep = r.getLong(1); val cs = r.getDouble(2)
      val recomputed = e.as("a").filter(col("a.id") === rep)
        .crossJoin(e.as("b").filter(col("b.id") === doc))
        .select(round(Similarity.cosineWithNorms(
          Similarity.dot(col("a.v"), col("b.v")),
          col("a.nv"), col("b.nv")), 4))
        .collect().head.getDouble(0)
      assert(recomputed == cs, s"cos($rep,$doc)")
    }
  }

  test("sequence packing: straddling docs stay in the bin they start " +
      "in; empty docs pack without advancing") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // group g, capacity 6: doc 1 (3 tokens) starts at 0 -> bin 0;
    // doc 2 (4 tokens) starts at 3 -> bin 0, straddling the boundary;
    // doc 3 (5 tokens) starts at 7 -> bin 1; the whitespace-only doc 4
    // (0 tokens) starts at 12 -> bin 2 and advances nothing
    val df = Seq(
      (1L, "a b c", "g"),
      (2L, "a b c d", "g"),
      (3L, "a b c d e", "g"),
      (4L, "   ", "g")
    ).toDF("doc_id", "text", "grp")
    val out = TextAnalysis.packSequences(df, Seq("grp"), "doc_id",
      "text", capacity = 6).collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5))).toSeq ==
      Seq((0L, 2L, 7L, 1L, 2L), (1L, 1L, 5L, 3L, 3L),
        (2L, 1L, 0L, 4L, 4L)),
      out.mkString(";"))
  }

  test("temperature mixture: thresholds flatten source skew and " +
      "membership is deterministic") {
    import graft.operators.TextAnalysis
    val out = TextAnalysis.temperatureMixture(docs, "source", "doc_id",
      targetFraction = 0.4).collect()
    val kept = out.map(r => r.getAs[Long]("n_kept")).sum.toDouble
    val total = out.map(r => r.getAs[Long]("n_in")).sum.toDouble
    // lands near the target (md5 buckets are uniform-ish)
    assert(kept / total > 0.2 && kept / total < 0.6,
      s"kept $kept of $total")
    // temperature flattening: smaller sources keep a HIGHER fraction
    // than larger ones (monotone threshold-to-size relation)
    val bySize = out.sortBy(_.getAs[Long]("n_in"))
    val smallRate = bySize.head.getAs[Long]("threshold").toDouble
    val bigRate = bySize.last.getAs[Long]("threshold").toDouble
    assert(bySize.head.getAs[Long]("n_in") ==
      bySize.last.getAs[Long]("n_in") || smallRate >= bigRate,
      s"small-source threshold $smallRate < big-source $bigRate")
    // deterministic: a second run yields identical rows
    val again = TextAnalysis.temperatureMixture(docs, "source", "doc_id",
      targetFraction = 0.4).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("substring dedup merges overlapping cross-doc spans exactly") {
    import spark.implicits._
    // shared run of 10 tokens a1..a10 between docs 1 and 2 (grams at
    // positions 2..4 in doc 1 → one merged span of 10 tokens);
    // doc 3 repeats a 4-gram INSIDE itself only → not duplicated;
    // doc 4 is shorter than n → no grams at all
    val shared = (1 to 10).map(i => s"a$i").mkString(" ")
    val d = Seq(
      (1L, s"x1 $shared y1 y2"),
      (2L, s"z1 z2 z3 $shared"),
      (3L, "r1 r2 r3 r4 m m r1 r2 r3 r4"),
      (4L, "only three tokens")).toDF("doc_id", "text")
    val out = Dedup.substringDedupSpans(d, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    // doc 1: 13 tokens; only grams fully inside the shared run are
    // cross-doc, so duplicated 4-grams start at s=2..8 (7 grams) and
    // merge into one span [2, 11] = 10 tokens
    assert(out(1L) == ((1L, 7L, 10L, 13L, 3L)), s"doc1: ${out.get(1L)}")
    assert(out(2L) == ((1L, 7L, 10L, 13L, 3L)), s"doc2: ${out.get(2L)}")
    assert(!out.contains(3L), "intra-doc-only repeat must not count")
    assert(!out.contains(4L), "short doc has no grams")
  }

  test("trigram novelty scores corpus typicality against the reference " +
    "slice exactly") {
    import spark.implicits._
    // reference slice = min(source) = "a"; doc 1 IS the reference text,
    // doc 2 shares half its trigrams, doc 3 shares none
    val d = Seq(
      (1L, "abcabc", "a"),
      (2L, "abcxyz", "b"),
      (3L, "qrstuv", "b")).toDF("doc_id", "text", "source")
    val out = TextAnalysis
      .charTrigramNovelty(d, "doc_id", "text", "source")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // ref trigrams of "abcabc": abc(x2), bca, cab
    assert(out(1L) == ((4L, 0L, 6L, 0L)), out(1L).toString)
    // "abcxyz": abc seen (ref_cnt 2); bcx, cxy, xyz unseen -> 750 permille
    assert(out(2L) == ((4L, 3L, 2L, 750L)), out(2L).toString)
    // "qrstuv": all 4 unseen
    assert(out(3L) == ((4L, 4L, 0L, 1000L)), out(3L).toString)
  }
}
