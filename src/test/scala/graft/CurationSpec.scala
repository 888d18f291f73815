package graft

import org.apache.spark.sql.functions._

import graft.operators.Curation

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("contamination counts distinct shared n-grams against the eval set") {
    val docs = Seq(
      (1L, "one two three four five six"),          // eval
      (100L, "zzz one two three four five qqq"),    // shares 1 distinct 5-gram
      (101L, "totally unrelated words live here ok") // shares none
    ).toDF("doc_id", "text")
    val out = Curation.contamination(docs, col("doc_id") < 10L, n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(100L -> 1L, 101L -> 0L))
  }

  test("canonicalUrl: case/port/slash/fragment/tracking-param variants collapse; param order normalizes") {
    val urls = Seq(
      (0L, "https://h3.Example.COM/a/0"),
      (1L, "HTTPS://H3.EXAMPLE.COM:443/a/0/"),
      (2L, "https://h3.example.com/a/0#frag"),
      (3L, "https://h3.example.com/a/0?utm_source=x&gclid=1&fbclid=2&ref=z"),
      (4L, "http://x.com:80"),                     // default http port + empty path
      (5L, "http://x.com/"),                       // root slash is kept
      (6L, "https://y.com/p?b=2&a=1&utm_b=q"),     // kept params sort
      (7L, "https://y.com/p?a=1&b=2"),             // ...and so collapse with 6
      (8L, "https://y.com/P?a=1&b=2")              // path case is SIGNIFICANT
    ).toDF("doc_id", "url")
    val canon = urls.select(col("doc_id"),
      Curation.canonicalUrl(col("url")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(canon(0L) === "https://h3.example.com/a/0")
    assert(canon(1L) === "https://h3.example.com/a/0")
    assert(canon(2L) === "https://h3.example.com/a/0")
    assert(canon(3L) === "https://h3.example.com/a/0")
    assert(canon(4L) === "http://x.com/")
    assert(canon(5L) === "http://x.com/")
    assert(canon(6L) === "https://y.com/p?a=1&b=2")
    assert(canon(7L) === "https://y.com/p?a=1&b=2")
    assert(canon(8L) === "https://y.com/P?a=1&b=2")
    val dedup = Curation.urlDedup(urls).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(dedup("https://h3.example.com/a/0") === ((0L, 4L)))
    assert(dedup("http://x.com/") === ((4L, 2L)))
    assert(dedup("https://y.com/p?a=1&b=2") === ((6L, 2L)))
    assert(dedup("https://y.com/P?a=1&b=2") === ((8L, 1L)))
  }

  test("domainSample: smallest domain kept whole, larger domains at sqrt rate") {
    // 4 docs in "small", 400 in "big": r_small = 1 (threshold = P ⇒ every
    // sample key passes), r_big = sqrt(4/400) = 0.1 exactly. The 400
    // SEQUENTIAL doc_ids are the regression case for the sampling-key mix:
    // raw polyHash residues of sequential ids form a base-31 lattice and
    // this exact threshold kept 0/400 of them.
    val docs = ((0L until 4L).map(i => (i, "small")) ++
      (100L until 500L).map(i => (i, "big"))).toDF("doc_id", "source")
    val out = Curation.domainSample(docs, domainCol = "source").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val (nSmall, keptSmall, thrSmall) = out("small")
    assert((nSmall, keptSmall, thrSmall) === ((4L, 4L, 1000000007L))) // kept whole
    val (nBig, keptBig, thrBig) = out("big")
    assert(nBig === 400L)
    assert(thrBig === 100000000L) // floor(0.1 · P)
    // Mixed-key keep rate concentrates near 10%: loose band here, exact
    // count pinned by the oracle gate.
    assert(keptBig > 20L && keptBig < 80L, s"keptBig=$keptBig")
  }

  test("pipeline: every gate fires — quality, dedup, decontamination, eval") {
    val docs = Seq(
      (0L, "the zebra walks slowly home tonight again maybe"),    // eval doc
      (21L, "the quick brown fox jumps over the lazy dog tonight"), // dup, canonical (min id)
      (41L, "the quick brown fox jumps over the lazy dog tonight"), // dup, dropped
      (22L, "aa the zebra walks slowly home bb cc dd"),           // shares a 5-gram with doc 0
      (23L, "a clean document with the words nobody else uses here"), // survives everything
      (24L, "tiny doc")                                            // < 5 tokens → quality 0
    ).toDF("doc_id", "text")
    val out = Curation.pipeline(docs, col("doc_id") % 20 === 0)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getAs[Long]("is_eval") === 1L && out(0L).getAs[Long]("kept") === 0L)
    assert(out(21L).getAs[Long]("is_canonical") === 1L && out(21L).getAs[Long]("kept") === 1L)
    assert(out(41L).getAs[Long]("cluster_id") === 21L && out(41L).getAs[Long]("kept") === 0L)
    assert(out(22L).getAs[Long]("n_overlap") >= 1L && out(22L).getAs[Long]("kept") === 0L)
    assert(out(23L).getAs[Long]("kept") === 1L)
    assert(out(24L).getAs[Long]("passed_quality") === 0L && out(24L).getAs[Long]("kept") === 0L)
    assert(out.values.forall(r => Set("train", "val", "test")(r.getAs[String]("split"))))
  }

  test("hash split: deterministic, exhaustive, and roughly 90/5/5") {
    val docs = spark.read.parquet(sf("documents"))
    val a = Curation.hashSplit(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val b = Curation.hashSplit(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(a === b) // re-running must not reshuffle the split
    val total = docs.count()
    assert(a.values.map(_._1).sum === total)
    assert(a("train")._1 > total * 7 / 10) // loose at sf0.001's 50 docs
  }

  test("pack bins: tokens conserved, bins start at zero, budget respected") {
    val docs = spark.read.parquet(sf("documents"))
    val out = Curation.packBins(docs, tokenBudget = 200L, nShards = 4).collect()
    val totalDocs = out.map(_.getAs[Long]("n_docs")).sum
    assert(totalDocs === docs.count())
    // Each shard's bins start at 0; a bin holds at most budget + one
    // overflowing doc's tokens (greedy exclusive-prefix packing).
    val byShard = out.groupBy(_.getAs[Long]("shard"))
    byShard.foreach { case (_, bins) =>
      assert(bins.map(_.getAs[Long]("bin")).min === 0L)
    }
    val maxDocTok = docs
      .select(size(split(trim(col("text")), " +")).cast("long")).collect().map(_.getLong(0)).max
    out.foreach { r =>
      assert(r.getAs[Long]("n_tokens") <= 200L + maxDocTok)
    }
    // Determinism across runs.
    val again = Curation.packBins(docs, tokenBudget = 200L, nShards = 4).collect()
    assert(again.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet ===
      out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet)
  }

  test("stratified sample: default strata keep everything; head language is cut") {
    val docs = spark.read.parquet(sf("documents"))
    val out = Curation.stratifiedSample(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    // es/zh use the default 1000‰ rate → whole stratum kept, rate exactly 1.
    Seq("es", "zh").foreach { l =>
      assert(out(l).getAs[Long]("n_sampled") === out(l).getAs[Long]("n_docs"))
      assert(out(l).getAs[Double]("realized_rate") === 1.0)
    }
    // en is downsampled to 200‰ — realized rate must land well under 1.
    assert(out("en").getAs[Long]("n_sampled") < out("en").getAs[Long]("n_docs"))
    // Determinism: the same doc set always yields the same sample counts.
    val again = Curation.stratifiedSample(docs).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_sampled")).toMap
    assert(again === out.view.mapValues(_.getAs[Long]("n_sampled")).toMap)
  }

  test("chunk: overlapping windows, short docs get one chunk, tail is partial") {
    // size=4, overlap=1 → stride=3. 10 tokens → k = (10-4+2) div 3 + 1 = 3
    // chunks starting at tokens 1, 4, 7; the last covers 7..10.
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      (2L, "short doc"), // n=2 <= size → one chunk, n_tok=2
      (3L, "")           // empty text → [""] → one chunk of the empty token
    ).toDF("doc_id", "text")
    val out = Curation.chunk(docs, sizeTokens = 4, overlap = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getLong(3)))
      .toMap
    assert(out((1L, 0L)) === (("t1 t2 t3 t4", 4L)))
    assert(out((1L, 1L)) === (("t4 t5 t6 t7", 4L)))
    assert(out((1L, 2L)) === (("t7 t8 t9 t10", 4L)))
    assert(out((2L, 0L)) === (("short doc", 2L)))
    assert(out((3L, 0L)) === (("", 1L)))
    assert(out.size === 5)
    // Exact boundary: 7 tokens with stride 3 → chunks at 1 and 4; token 7
    // is covered by the second window (4..7), no empty trailing chunk.
    val boundary = Seq((9L, "a b c d e f g")).toDF("doc_id", "text")
    val bo = Curation.chunk(boundary, sizeTokens = 4, overlap = 1).collect()
    assert(bo.map(_.getLong(1)).sorted.toSeq === Seq(0L, 1L))
  }

  test("bloomContamination equals the exact path's flagged set") {
    val docs = spark.read.parquet(sf("documents"))
    val isEval = col("doc_id") % 20 === 0
    val exactFlagged = Curation.contamination(docs, isEval)
      .filter(col("n_overlap") > 0)
    val bloom = Curation.bloomContamination(docs, isEval)
    assert(bloom.count() > 0, "fixture produced no contaminated docs — vacuous test")
    assert(bloom.except(exactFlagged).isEmpty && exactFlagged.except(bloom).isEmpty)
  }

  test("bloomContamination: empty eval set flags nothing") {
    val docs = Seq((1L, "some plain words here")).toDF("doc_id", "text")
    assert(Curation.bloomContamination(docs, lit(false)).isEmpty)
  }

  test("hostStats aggregates quantized quality mass per extracted host") {
    val docs = Seq(
      (1L, "the cat and the dog sat on the mat together", "https://a.example.com/p/1"),
      (2L, "the cat and the dog sat on the mat together", "https://a.example.com/p/2"),
      (3L, "99 88 77 66 55 44", "http://b.example.com/x")
    ).toDF("doc_id", "text", "url")
    val out = Curation.hostStats(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val q = graft.operators.TextAnalysis.qualityScores(docs.select(col("doc_id"), col("text")))
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("quality_score")).toMap
    val (nA, qsumA, meanA) = out("a.example.com")
    assert(nA === 2L)
    assert(qsumA === 2L * math.round(q(1L) * 1e7)) // docs 1,2 identical text
    assert(math.abs(meanA - q(1L)) < 1e-6)
    val (nB, _, meanB) = out("b.example.com")
    assert(nB === 1L)
    assert(meanB < meanA) // the digit-ridden host scores below the clean one
  }

  test("corpusShuffle: exhaustive, contiguous per-shard positions, stable") {
    val docs = spark.read.parquet(sf("documents"))
    val out = Curation.corpusShuffle(docs, nShards = 8).cache()
    assert(out.count() === docs.count())
    assert(out.select("doc_id").distinct().count() === docs.count())
    // Within every shard, pos is exactly 1..k.
    val bad = out.groupBy("shard")
      .agg(count(lit(1)).as("k"), max(col("pos")).as("mx"), min(col("pos")).as("mn"),
        countDistinct(col("pos")).as("np"))
      .filter(col("mx") =!= col("k") || col("mn") =!= 1L || col("np") =!= col("k"))
    assert(bad.isEmpty)
    // Deterministic across runs.
    assert(out.except(Curation.corpusShuffle(docs, nShards = 8)).isEmpty)
    out.unpersist()
  }

  test("weightedSample: inclusion ≡ the per-row πps formula; zero-weight never kept; heavy always kept") {
    import org.apache.spark.sql.functions._
    // Weights chosen to exercise all three regimes: zero (π=0, never
    // kept), moderate (0<π<1, key decides), heavy (π≥1, always kept).
    val docs = ((0L until 200L).map(i => (i, (i % 7) * 5)) :+ (900L, 0L) :+ (901L, 3000L))
      .map { case (id, w) => (id, ("x " * w.toInt).trim) }
      .toDF("doc_id", "text")
    val w = size(split(trim(col("text")), " +")).cast("long")
    // split("") gives [""] (size 1) — weight for empty text must be 0:
    val weight = when(length(trim(col("text"))) === 0, 0L).otherwise(w)
    val target = 40L
    val kept = graft.operators.Curation.weightedSample(docs, weight, target)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Local replay of the exact integer formula.
    val rows = docs.select(col("doc_id"), weight.as("w")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val totW = rows.map(_._2).sum
    def key(id: Long): Long = {
      val h = s"wsamp:$id".foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
      ((h * h + h) % 1000000007L) % 1000000L // squared mix, then the draw mod
    }
    val expect = rows.filter { case (id, wi) =>
      key(id) * totW < target * wi * 1000000L
    }.toMap
    assert(kept === expect)
    assert(!kept.contains(900L)) // zero weight
    assert(kept.contains(901L))  // π capped at 1 (target·w ≥ Σw·S regime)
    assert(kept.size > 5 && kept.size < 200) // the moderate regime actually split
  }

  test("tokenBudgetMix: per-source token mass lands within one document of its budget share") {
    import org.apache.spark.sql.functions.{col, size, split, sum, trim}
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val kept = Curation.tokenBudgetMix(docs)
    val total = docs.select(sum(size(split(trim(col("text")), " +")).cast("long")))
      .head().getLong(0)
    val budget = Map("en" -> 40L, "fr" -> 15L, "de" -> 15L, "es" -> 15L, "zh" -> 15L)
      .map { case (l, p) => l -> (total / 2) * p / 100 }
    val perLang = kept.groupBy("lang").agg(sum(col("n_tokens")).as("mass"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perLang.keySet === budget.keySet, "every source must contribute")
    for ((lang, mass) <- perLang) {
      // exclusive-prefix cut: mass < budget + the crossing doc's tokens
      assert(mass >= budget(lang) / 2, s"$lang mass $mass suspiciously under budget ${budget(lang)}")
      val crossing = kept.filter(col("lang") === lang)
        .agg(org.apache.spark.sql.functions.max(col("n_tokens"))).head().getLong(0)
      assert(mass <= budget(lang) + crossing, s"$lang overshoot beyond one doc")
    }
    // Deterministic.
    assert(kept.except(Curation.tokenBudgetMix(docs)).isEmpty)
  }

  test("importance selection ranks target-like candidates above unlike ones") {
    val docs = Seq(
      // target slice (en): dominated by "alpha"
      (1L, "en", "alpha alpha alpha beta"),
      (2L, "en", "alpha alpha gamma"),
      // candidates: 10 looks like the target, 11 does not
      (10L, "fr", "alpha alpha alpha alpha"),
      (11L, "fr", "zeta zeta zeta zeta"),
      (12L, "de", "alpha zeta")
    ).toDF("doc_id", "lang", "text")
    val out = Curation.importanceSelect(docs, col("lang") === "en", topK = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // only candidates are scored
    assert(out.keySet === Set(10L, 11L, 12L))
    assert(out(10L) > out(12L) && out(12L) > out(11L))
    // closed-form check for the all-alpha candidate: 4 tokens in alpha's
    // bucket; alpha bucket ratio = (ct+1)*1e6 div (cs+1) with ct=5 target
    // alphas (docs 1,2), cs=5 candidate alphas (4+1 from docs 10,12) —
    // unless other tokens collide into alpha's bucket, which this avoids.
    val alphaF = docs.select(
      (graft.functions.TextHash.sampleKey(lit("alpha")) % 64).as("f")).head().getLong(0)
    val collisions = docs
      .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "alpha")
      .filter(graft.functions.TextHash.sampleKey(col("tok")) % 64 === alphaF)
      .count()
    if (collisions == 0) assert(out(10L) === 4L * ((5L + 1L) * 1000000L / (5L + 1L)))
  }

  test("stored decontam registry: round trip equals in-session contamination; guards format") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again"), // eval
      (1L, "the quick brown fox jumps over the lazy dog today"), // overlaps
      (2L, "completely different words with no shared grams at all"),
      (3L, "the quick brown fox jumps over the lazy dog again tonight") // overlaps more
    ).toDF("doc_id", "text")
    val isEval = col("doc_id") === 0L
    val dir = java.nio.file.Files.createTempDirectory("graft_dstore").toString
    Curation.writeDecontamStore(docs.filter(isEval), dir)
    val stored = Curation.decontamAgainstStore(docs.filter(!isEval), dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inSession = Curation.bloomContamination(docs, isEval)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored === inSession)
    assert(stored.contains(1L) && stored.contains(3L) && !stored.contains(2L))

    // wrong n-gram order must fail loudly, not silently match nothing
    val e = intercept[IllegalArgumentException] {
      Curation.decontamAgainstStore(docs, dir, n = 3)
    }
    assert(e.getMessage.contains("_format"))

    // empty eval set → empty store → zero overlaps, no crash
    val emptyDir = java.nio.file.Files.createTempDirectory("graft_dstore_e").toString
    Curation.writeDecontamStore(docs.filter(col("doc_id") < 0), emptyDir)
    assert(Curation.decontamAgainstStore(docs, emptyDir).count() === 0L)
  }

  test("curriculum ordering: easy buckets first, contiguous positions, fixed shards, kept only") {
    // the ccnet fixture: 9 scoreable docs, strict terciles 0/1/2
    val docs = (1L to 9L).map(i => (i, "a " * (11 - i.toInt) + "b"))
      .toDF("doc_id", "text")
    val out = Curation.curriculumOrder(docs, shardSize = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val kept = Curation.ccnetBuckets(docs).filter(col("kept") === 1)
      .select("doc_id").as[Long].collect().toSet
    assert(out.map(_._1).toSet === kept) // only kept docs are scheduled
    // positions are a contiguous 1..n permutation, bucket-monotone
    val byPos = out.sortBy(_._3)
    assert(byPos.map(_._3).toSeq === (1L to out.length).toSeq)
    assert(byPos.map(_._2).toSeq === byPos.map(_._2).sorted.toSeq)
    // shards cut by position
    byPos.foreach { case (_, _, pos, shard) => assert(shard === (pos - 1) / 2) }
  }

  test("negative sampling: k draws per user, accidental positives removed, deterministic") {
    // user 1 interacted with EVERY item → all its draws are accidental
    // positives and must vanish; user 2 interacted with item 10 only.
    val pos = (1L to 8L).map(i => (1L, 10L + i)).union(Seq((2L, 11L)))
      .toDF("u", "it")
    val out = Curation.negativeSample(pos, "u", "it", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(!out.exists(_._1 == 1L)) // the all-items user has no valid negatives
    // user 2's draws, recomputed independently from the same keys: item
    // universe is {11..18} rank-indexed in ascending order
    val universe = (11L to 18L).toArray
    val expected = (1L to 3L).flatMap { d =>
      val idx = spark.range(1)
        .select((graft.functions.TextHash.sampleKey(lit(s"neg:2:$d")) % 8L).as("i"))
        .head().getLong(0)
      val item = universe(idx.toInt)
      if (item == 11L) None else Some((2L, d, item)) // 11 is u2's positive
    }
    assert(out.filter(_._1 == 2L).sortBy(_._2).toSeq === expected)
    // deterministic replay
    val again = Curation.negativeSample(pos, "u", "it", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.sorted.toSeq === out.sorted.toSeq)
  }

  test("ccnet buckets: rank terciles, head/middle kept, tail sampled") {
    // 9 scoreable docs with strictly decreasing LM scores by construction:
    // "a a ... a" repeats the corpus's dominant bigram, so more repeats =
    // higher mean bigram probability. One short doc is unscoreable.
    val docs = (1L to 9L).map(i => (i, "a " * (11 - i.toInt) + "b"))
      .toDF("doc_id", "text")
      .union(Seq((99L, "solo")).toDF("doc_id", "text"))
    val out = Curation.ccnetBuckets(docs, tailKeepPct = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // unscoreable doc 99 is absent; 9 docs → exact terciles of 3
    assert(out.map(_._1) === (1L to 9L).toArray)
    assert(out.map(_._2) === Array(0L, 0L, 0L, 1L, 1L, 1L, 2L, 2L, 2L))
    // head + middle always kept
    out.filter(_._2 < 2).foreach { case (_, _, kept) => assert(kept === 1L) }
    // tail keeps must equal the sample-key decision doc by doc
    out.filter(_._2 === 2L).foreach { case (id, _, kept) =>
      val expect = docs.sparkSession.range(1)
        .select((graft.functions.TextHash.sampleKey(
          org.apache.spark.sql.functions.lit(s"ccnet:$id")) % 100 < 10)
          .cast("long")).head().getLong(0)
      assert(kept === expect, s"doc $id")
    }
  }

  test("paragraph Bloom dedup: seen paragraphs always dropped, FP drops bounded, rebuild ordered") {
    // one 10-token "paragraph" per doc, analytic text → every hash distinct
    def para(tag: String, i: Long): String =
      (0 until 10).map(j => s"${tag}_${i}_$j").mkString(" ")
    val storeDocs = (0L until 200L).map(i => (i, para("seen", i))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bff_spec").toString
    assert(Curation.writeParagraphBloomStore(storeDocs, dir) === 200L)

    // batch B: 2-paragraph docs — first a COPY of a stored paragraph,
    // second genuinely new
    val batch = (0L until 200L)
      .map(i => (1000L + i, para("seen", i) + " " + para("new", i)))
      .toDF("doc_id", "text")
    val screen = Curation.paragraphBloomScreen(batch, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(5))).toSeq
    // no false negatives: every seen-copy (seg_idx 0) is dropped
    assert(screen.filter(_._2 == 0L).forall(_._3), "a seen paragraph survived")
    // FP accounting: wrongly-dropped new paragraphs within 10× the model
    // (deterministic hashes → a fixed count; the bound is the CONTRACT)
    val fp = screen.count { case (_, idx, dropped) => idx == 1L && dropped }
    val bound = math.max(5.0,
      10.0 * 200 * Curation.expectedBloomFpRate(200L, 1L << 20, 1L << 23))
    assert(fp <= bound, s"fp=$fp exceeds bound $bound")
    // rebuild: drops exactly the flagged segments, order preserved
    val rebuilt = Curation.paragraphBloomDedup(batch, dir)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val fpDocs = screen.filter { case (_, idx, dr) => idx == 1L && dr }.map(_._1).toSet
    (0L until 200L).foreach { i =>
      val id = 1000L + i
      if (!fpDocs.contains(id))
        assert(rebuilt(id) === ((para("new", i), 1L, 2L)), s"doc $id")
      else assert(rebuilt(id) === (("", 0L, 2L)), s"fp doc $id")
    }
    // re-screening the SAME batch against the UPDATED?-no: store is
    // immutable — screening is idempotent
    val again = Curation.paragraphBloomScreen(batch, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(5))).toSeq
    assert(again.toSet === screen.toSet)
    // segWords mismatch fails loudly, not silently matches-nothing
    intercept[IllegalArgumentException](
      Curation.paragraphBloomScreen(batch, dir, segWords = 7))
    // empty store: nothing dropped
    val emptyDir = java.nio.file.Files.createTempDirectory("graft_bff_empty").toString
    assert(Curation.writeParagraphBloomStore(
      storeDocs.limit(0), emptyDir) === 0L)
    assert(Curation.paragraphBloomScreen(batch, emptyDir)
      .filter(col("dropped")).count() === 0L)
  }

  test("paragraph Bloom FP rate: a deliberately tight sketch measures near the analytic model") {
    // 5000 paragraphs into 2^16 bits (~13 bits/item): the model predicts
    // a small-but-nonzero FP rate — the measured count (deterministic
    // hashes) must sit within [rate/10, rate×10] of model × trials, the
    // accounting a Bloom-DEDUP deployment sizes numBits with.
    def para(tag: String, i: Long): String =
      (0 until 10).map(j => s"${tag}_${i}_$j").mkString(" ")
    val n = 5000L
    val storeDocs = (0L until n).map(i => (i, para("in", i))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bff_tight").toString
    Curation.writeParagraphBloomStore(storeDocs, dir,
      estimatedParas = n, numBits = 1L << 16)
    val probeDocs = (0L until n).map(i => (i, para("out", i))).toDF("doc_id", "text")
    val fp = Curation.paragraphBloomScreen(probeDocs, dir)
      .filter(col("dropped")).count()
    val expected = n * Curation.expectedBloomFpRate(n, n, 1L << 16)
    assert(expected > 1.0, s"fixture must predict measurable FPs, got $expected")
    assert(fp <= expected * 10 && fp * 10 >= expected,
      s"measured fp=$fp vs model $expected — sketch and model disagree")
  }

  test("semanticContamination: broadcast eval screen, match count, best-match total order") {
    // eval: 0 and 20 both point along e1 (a duplicated benchmark item);
    // train: 1 parallel (cos 1.0 with BOTH evals → tie broken to eval 0),
    // 2 orthogonal (clean), 3 at cos ≈ 0.995 (paraphrase-near)
    val emb = Seq(
      (0L, Array(1f, 0f)), (20L, Array(2f, 0f)),
      (1L, Array(3f, 0f)), (2L, Array(0f, 1f)), (3L, Array(10f, 1f))
    ).toDF("vec_id", "embedding")
    val out = Curation.semanticContamination(emb, col("vec_id") % 20 === 0,
      threshold = 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet === Set(1L, 3L), s"flagged ${out.keySet}")
    assert(out(1L) === ((2L, 0L))) // both evals match; tie → smaller eval_id
    assert(out(3L) === ((2L, 0L)))
  }

  test("balancedShards: snake placement balances token totals deterministically") {
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // counts 10,8,6,4,3,1 ranked desc → snake over 2 shards: 0,1,1,0,0,1
    val docs = Seq((1L, words(10)), (2L, words(8)), (3L, words(6)),
      (4L, words(4)), (5L, words(3)), (6L, words(1))).toDF("doc_id", "text")
    val out = Curation.balancedShards(docs, nShards = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map(0L -> ((3L, 17L)), 1L -> ((3L, 15L))))
  }

  test("packManifest describes exactly packBins' packing (counts, token sums, offsets, positions)") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val budget = 256L
    val bins = graft.operators.Curation.packBins(docs, tokenBudget = budget)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val man = graft.operators.Curation.packManifest(docs, tokenBudget = budget)
    val manAgg = man.groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        min("position").as("p_lo"), max("position").as("p_hi"),
        min("start_offset").as("o_lo"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(manAgg.keySet === bins.keySet)
    manAgg.foreach { case (k, (n, tok, pLo, pHi, oLo)) =>
      assert((n, tok) === bins(k), s"bin $k stats diverge from packBins")
      assert(pLo === 1L && pHi === n, s"bin $k positions must be contiguous 1..n")
      assert(oLo >= 0L && oLo < budget, s"bin $k first offset out of range")
    }
  }

  test("ngramNovelty: contained doc scores 0, disjoint doc 10000, mixed in between") {
    val docs = Seq(
      (1L, "a b c d e f g"),                    // ref: grams of this text
      (100L, "a b c d e f g"),                  // identical → novelty 0
      (101L, "q w e r t y u"),                  // disjoint → 10000
      (102L, "a b c d e zz ww vv uu tt")        // 1 seen gram (a b c d e), 5 novel
    ).toDF("doc_id", "text")
    val out = Curation.ngramNovelty(docs, col("doc_id") === 1L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(100L) == ((3L, 0L, 0L)))       // 3 grams, all seen
    assert(out(101L) == ((3L, 3L, 10000L)))
    assert(out(102L) == ((6L, 5L, 8333L)))    // 5·10000 div 6
    assert(!out.contains(1L), "reference docs are not scored")
  }

  test("noveltyAgainstStore ≡ ngramNovelty (store + Bloom prefilter output-invisible)") {
    val docs = Seq(
      (1L, "a b c d e f g"), (2L, "h i j k l m n"),   // reference slice
      (100L, "a b c d e f g"),
      (101L, "q w e r t y u"),
      (102L, "h i j k l zz ww vv uu tt")
    ).toDF("doc_id", "text")
    val isRef = col("doc_id") < 100L
    val dir = java.nio.file.Files.createTempDirectory("graft_nv_store").toString
    Curation.writeDecontamStore(docs.filter(isRef), dir)
    val direct = Curation.ngramNovelty(docs, isRef)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val stored = Curation.noveltyAgainstStore(docs.filter(!isRef), dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(stored == direct)
    // format-mismatch guard stays loud
    intercept[IllegalArgumentException] {
      Curation.noveltyAgainstStore(docs.filter(!isRef), dir, n = 3)
    }
  }

  test("noveltyIngest: grown store ≡ rebuilt store; idempotent re-ingest; replay exact; lease loud") {
    val crawl0 = Seq((1L, "a b c d e f g"), (2L, "h i j k l m n")).toDF("doc_id", "text")
    val crawl1 = Seq(
      (100L, "a b c d e f g"),            // all seen in crawl0
      (101L, "q w e r t y u"),            // all novel
      (102L, "h i j k l zz ww vv uu tt")  // 1 seen, 5 novel
    ).toDF("doc_id", "text")
    val crawl2 = Seq(
      (200L, "q w e r t y u"),            // seen — crawl1's novelty is IN the store now
      (201L, "n1 n2 n3 n4 n5 n6")         // novel
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_nvincr").toString
    // ingest 0: empty store → everything novel
    assert(Curation.noveltyIngest(crawl0, dir).collect()
      .forall(_.getAs[Long]("novelty_bp") == 10000L))
    // ingest 1 scores against crawl0's grams exactly like the direct twin
    val s1 = rows(Curation.noveltyIngest(crawl1, dir))
    val direct1 = rows(Curation.ngramNovelty(
      crawl0.withColumn("ref", lit(true))
        .unionByName(crawl1.withColumn("ref", lit(false))), col("ref")))
    assert(s1 == direct1, "grown store must equal the direct reference twin")
    // ingest 2 sees crawl0 ∪ crawl1 — including crawl1's formerly-novel grams
    val s2 = rows(Curation.noveltyIngest(crawl2, dir))
    val direct2 = rows(Curation.ngramNovelty(
      crawl0.unionByName(crawl1).withColumn("ref", lit(true))
        .unionByName(crawl2.withColumn("ref", lit(false))), col("ref")))
    assert(s2 == direct2, "store must have grown by crawl1's grams")
    val batchesBefore = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("batch-"))
    // replay (crash-after-publish): same scores, store unchanged
    val replay = rows(Curation.noveltyIngest(crawl2, dir, replayDeterministic = true))
    assert(replay == s2, "replay must recompute the ORIGINAL scores")
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("batch-")) == batchesBefore,
      "re-ingest must not grow the store")
    // new-only re-ingest: store already holds everything → zero novelty
    assert(Curation.noveltyIngest(crawl2, dir).collect()
      .forall(_.getAs[Long]("novelty_bp") == 0L))
    // parameter-mismatch guard stays loud
    intercept[IllegalStateException] {
      Curation.noveltyIngest(crawl2, dir, n = 3)
    }
    // a held lease fails the second writer loudly
    val lock = new java.io.File(dir, "_lock")
    assert(lock.createNewFile())
    val ex = intercept[IllegalStateException] {
      Curation.noveltyIngest(crawl2, dir)
    }
    assert(ex.getMessage.toLowerCase.contains("lease") ||
      ex.getMessage.toLowerCase.contains("lock") ||
      ex.getMessage.toLowerCase.contains("writer"), ex.getMessage)
    lock.delete()
    // compactStore (layout-generic: batch-* dirs + the same _lock lease)
    // folds the gram batches into one with scores unchanged — grams are
    // unique across batches (anti-joined at ingest) so distinct is a
    // no-op, src ids survive (replay determinism intact), and the root
    // sketch stays exactly covering (content unchanged)
    val (merged, keptRows) = graft.operators.Dedup.compactStore(spark, dir)
    assert(merged >= 3L && keptRows > 0L)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("batch-")) == 1)
    val crawl3 = Seq((300L, "q w e r t y u"), (301L, "zz only new here x y")).toDF("doc_id", "text")
    val s3 = rows(Curation.noveltyIngest(crawl3, dir))
    val direct3 = rows(Curation.ngramNovelty(
      crawl0.unionByName(crawl1).unionByName(crawl2).withColumn("ref", lit(true))
        .unionByName(crawl3.withColumn("ref", lit(false))), col("ref")))
    assert(s3 == direct3, "post-compaction scores must be unchanged")
  }

  test("eraseFromGramStore: erased docs' grams forgotten everywhere (incl. the sketch); store stays usable") {
    val crawl0 = Seq((1L, "secret alpha beta gamma delta eps"),
      (2L, "common words shared by many docs here")).toDF("doc_id", "text")
    val crawl1 = Seq((10L, "totally different content right here now")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_nverase").toString
    Curation.noveltyIngest(crawl0, dir)
    Curation.noveltyIngest(crawl1, dir)
    // erase doc 1: its grams vanish from payload AND sketch
    val erased = Curation.eraseFromGramStore(spark, dir, Seq(1L).toDF("doc_id"))
    assert(erased > 0L)
    val survivors = spark.read.option("recursiveFileLookup", "true").parquet(dir)
    assert(survivors.filter(col("src_id") === "1").count() === 0L)
    assert(survivors.count() > 0L, "other docs' grams survive")
    // a re-crawl of the erased text now scores fully novel (forgotten),
    // while a copy of a RETAINED doc still scores zero — store usable
    val recheck = Curation.noveltyIngest(
      Seq((100L, "secret alpha beta gamma delta eps"),
        (101L, "common words shared by many docs here")).toDF("doc_id", "text"), dir)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("novelty_bp")).toMap
    assert(recheck(100L) === 10000L, "erased content must be forgotten")
    assert(recheck(101L) === 0L, "retained content must still be known")
    // idempotent re-run: nothing left to erase, store intact
    assert(Curation.eraseFromGramStore(spark, dir, Seq(1L).toDF("doc_id")) === 0L)
    // a NULL in the erase request must not nuke retained rows: !isin with
    // a null literal is NULL for every non-match — the keep-filter would
    // have dropped whole batches before nulls were stripped (review fix)
    val before = spark.read.option("recursiveFileLookup", "true").parquet(dir).count()
    val erased2 = Curation.eraseFromGramStore(spark, dir,
      Seq[java.lang.Long](null, 2L).toDF("doc_id"))
    val after = spark.read.option("recursiveFileLookup", "true").parquet(dir).count()
    assert(erased2 > 0L, "the real key still erases")
    assert(after === before - erased2,
      "only the named key's rows may die — a null must never wipe a batch")
  }

  test("gram-store markers: stale marker on a batch-less dir is swept; marker dies with the last batch; multi-marker is loud") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_marker").toString
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def markers() = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith("_format-ngram")).sorted.toSeq
    // crash simulation: marker created, no batch ever published
    fs.create(new Path(dir, "_format-ngram5-e1048576-b8388608-incr-v1"), true).close()
    // an ingest with DIFFERENT parameters must sweep the stale marker,
    // not gate against it or leave two markers behind
    Curation.noveltyIngest(
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      dir, n = 3, estimatedGrams = 1L << 10, numBits = 1L << 16)
    assert(markers() === Seq("_format-ngram3-e1024-b65536-incr-v1"))
    // erasing the only contributor leaves a batch-less store with NO
    // marker — the next ingest re-declares parameters from scratch
    assert(Curation.eraseFromGramStore(spark, dir, Seq(1L).toDF("doc_id")) > 0L)
    assert(markers().isEmpty, "marker must die with the last batch")
    Curation.noveltyIngest(
      Seq((2L, "eta theta iota kappa lambda mu")).toDF("doc_id", "text"),
      dir, n = 5)
    assert(markers() === Seq("_format-ngram5-e1048576-b8388608-incr-v1"))
    // a second marker (corrupted history) fails the erase loudly
    fs.create(new Path(dir, "_format-ngram4-e1024-b65536-incr-v1"), true).close()
    val ex = intercept[IllegalStateException] {
      Curation.eraseFromGramStore(spark, dir, Seq(2L).toDF("doc_id"))
    }
    assert(ex.getMessage.contains("format markers"))
  }

  test("gram-store bloom: a batch-less dir's stale sketch is swept with the markers (param-change crash window)") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_bloomsweep").toString
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // build a real store to capture a genuine _bloom.bin, then retire the
    // batch — the crash-after-bloom-swap-before-batch-rename shape
    Curation.noveltyIngest(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
        .toDF("doc_id", "text"),
      dir, n = 3, estimatedGrams = 1L << 20, numBits = 1L << 23)
    assert(fs.exists(new Path(dir, "_bloom.bin")))
    fs.listStatus(new Path(dir)).filter(_.getPath.getName.startsWith("batch-"))
      .foreach(b => fs.delete(b.getPath, true))
    // a later ingest with DIFFERENT Bloom params must not merge into the
    // stale sketch (IncompatibleMergeException pre-fix) — the batch-less
    // dir describes no published content, so the sketch rebuilds clean
    val scored = Curation.noveltyIngest(
      Seq((2L, "iota kappa lambda mu nu xi omicron pi")).toDF("doc_id", "text"),
      dir, n = 3, estimatedGrams = 1L << 10, numBits = 1L << 16)
    assert(scored.count() == 1L)
    assert(fs.exists(new Path(dir, "_bloom.bin")), "fresh sketch republished")
    // and the rebuilt store serves: an exact replay of doc 2 scores 0 novel
    val replay = Curation.noveltyIngest(
      Seq((3L, "iota kappa lambda mu nu xi omicron pi")).toDF("doc_id", "text"),
      dir, n = 3, estimatedGrams = 1L << 10, numBits = 1L << 16)
    assert(replay.select(sum(col("n_novel"))).head().getLong(0) == 0L,
      "stale-bloom sweep must not cost the store its known grams")
  }

  test("eraseFromGramStore: an over-LiteralKeyMax request plans no isin wider than LiteralKeyMax") {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = java.nio.file.Files.createTempDirectory("graft_nvbig").toString
    Curation.noveltyIngest(
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"), dir)
    val max = graft.etl.Erasure.LiteralKeyMax
    val widest = new java.util.concurrent.atomic.AtomicInteger(0)
    def seen(n: Int): Unit = { widest.accumulateAndGet(n, math.max); () }
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.optimizedPlan.foreach(_.expressions.foreach(_.foreach {
          case i: In => seen(i.list.size)
          case i: InSet => seen(i.hset.size)
          case _ => ()
        }))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val erased =
      try {
        val n = Curation.eraseFromGramStore(spark, dir,
          spark.range(0, max + 1L).select(col("id").as("doc_id")))
        org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
        n
      } finally spark.listenerManager.unregister(listener)
    assert(erased > 0L)
    assert(widest.get <= max, s"a planned isin carries ${widest.get} literals")
  }

  test("lengthBuckets: exact rank deciles, per-bucket max padding waste") {
    // 20 docs with token lengths 1..20 → 10 buckets of 2 docs; bucket k
    // holds lengths (2k+1, 2k+2), waste = (2·(2k+2) − (4k+3))·10⁴ div
    // (2·(2k+2)) = 10⁴ div (4k+4).
    val docs = (1 to 20).map(i => (i.toLong, Seq.fill(i)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Curation.lengthBuckets(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(out.keySet == (0L to 9L).toSet)
    for (k <- 0 to 9) {
      val (nDocs, maxLen, sumLen, waste) = out(k.toLong)
      assert(nDocs == 2L)
      assert(maxLen == 2L * k + 2L)
      assert(sumLen == 4L * k + 3L)
      assert(waste == 10000L / (4L * k + 4L))
    }
  }
}
