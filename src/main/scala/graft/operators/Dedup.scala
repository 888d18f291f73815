package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextHash, VectorMath}

/** Deduplication operators for a pretraining-data pipeline, in increasing
  * sophistication: exact (hash group-by), n-gram Jaccard (exact set
  * similarity), MinHash + LSH (the scale path for near-dup detection),
  * SimHash signatures, and embedding-cosine near-dup.
  *
  * Scale design:
  *  - Exact dedup groups on md5(text), never on the full text → the shuffle
  *    carries 32-byte keys, not documents.
  *  - Jaccard works on DISTINCT (doc, shingle) pairs; the shingle join is a
  *    shuffle on the shingle hash (uniform), and candidate pairs are counted
  *    with a map-side-combined groupBy. At 100 TB you'd run MinHash first and
  *    reserve the exact join for candidate verification — which is exactly
  *    what [[minhashPairs]] does.
  *  - MinHash: k=32 permutations of one polynomial shingle hash; bands of
  *    r=2 → 16 band keys per doc. Only docs sharing a band key ever meet, so
  *    the pair space is LSH-pruned, not O(n²). All hashing is deterministic
  *    ([[TextHash]]) so the DuckDB oracle replays the identical pipeline.
  */
object Dedup {

  /** Exact dedup: one row per distinct text (keyed by md5), keeping the
    * smallest doc_id; n_copies counts the group size. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** DISTINCT (doc_id, shingle) word n-grams of the text column. Documents
    * with fewer than n tokens yield no shingles (sequence() would count
    * DOWN for start > stop, so the short case is guarded explicitly). */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val starts =
      when(size(toks) >= n, sequence(lit(1), size(toks) - (n - 1)))
        .otherwise(array().cast("array<int>"))
    docs
      .select(
        col("doc_id"),
        explode(transform(starts, i => concat_ws(" ", slice(toks, i, lit(n))))).as("shingle"))
      .distinct()
  }

  /** DISTINCT (doc_id, h) with h a 60-bit shingle hash (poly hash of the
    * shingle | poly hash of its reverse << 30). Everything downstream —
    * set sizes, intersections, MinHash — works on these 8-byte hashes, so
    * no raw text ever enters a shuffle (the 100 TB posture; collision odds
    * at 60 bits are ~n²/2^61). The dedup distinct also happens on longs. */
  def shingleHashes(docs: DataFrame, n: Int = 3): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val starts =
      when(size(toks) >= n, sequence(lit(1), size(toks) - (n - 1)))
        .otherwise(array().cast("array<int>"))
    docs
      .select(
        col("doc_id"),
        explode(transform(starts, i => concat_ws(" ", slice(toks, i, lit(n))))).as("shingle"))
      .select(
        col("doc_id"),
        (TextHash.polyHash(col("shingle")) +
          TextHash.polyHash(reverse(col("shingle"))) * lit(1L << 30)).as("h"))
      .distinct()
  }

  /** Per-document shingle-set sizes. */
  private def shingleCounts(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))

  /** Exact n-gram Jaccard near-dup pairs: all (a < b) pairs with
    * |A∩B| / |A∪B| >= threshold over word-3-gram shingle sets. */
  def jaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = shingleHashes(docs, n).cache()
    val cnt = shingleCounts(sh)
    val a = sh.select(col("doc_id").as("doc_a"), col("h"))
    val b = sh.select(col("doc_id").as("doc_b"), col("h"))
    val inter = a
      .join(b, Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"))
    val ca = cnt.select(col("doc_id").as("doc_a"), col("n_shingles").as("n_a"))
    val cb = cnt.select(col("doc_id").as("doc_b"), col("n_shingles").as("n_b"))
    // No broadcast hints on the count joins: ca/cb are corpus-sized (one row
    // per document), so a forced broadcast is a driver OOM at scale. AQE
    // broadcasts them anyway when the corpus is actually small.
    inter
      .join(ca, Seq("doc_a"))
      .join(cb, Seq("doc_b"))
      .withColumn(
        "jaccard",
        round(
          col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter")).cast("double"),
          7))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Prefix-filtered exact set-similarity join (the PPJoin/AllPairs family,
    * Xiao et al. / Bayardo et al.): identical output to [[jaccardPairs]] —
    * EXACT Jaccard, FULL recall — but the candidate space is pruned before
    * any pair is materialized, so it is the scale path when the answer must
    * be exact (LSH trades recall; this trades nothing).
    *
    * Why it is correct: order every document's shingle set by a single
    * global total order (ascending document frequency, rarest first, then
    * hash). If J(A,B) >= t then |A∩B| >= ceil(t·|A|), so the intersection
    * cannot fit inside A's last ceil(t·|A|)−1 elements — and the SMALLEST
    * common element under the global order sits within the first
    * |A|−ceil(t·|A|)+1 elements of A AND the first |B|−ceil(t·|B|)+1 of B
    * (its rank in each set is at most set size − intersection size + 1).
    * Hence joining only the per-document PREFIXES of those lengths loses no
    * qualifying pair; an exact count over the full sets then verifies each
    * candidate, making the filter output-invisible (q24/c3 pattern).
    *
    * Scale shape: one df-count shuffle on the 8-byte shingle hash, one
    * bounded per-document window sort (document-sized partitions), a
    * prefix-only self-join — rarest-first ordering makes prefix buckets the
    * SMALLEST buckets, the opposite of the hot-bucket problem — a length
    * filter (t·|A| <= |B| <= |A|/t, a consequence of min>=t·max), and an
    * exact verify restricted to surviving candidates. No candidate-derived
    * frame is broadcast (sizes scale with the dup rate). */
  def ppjoinPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Per-row codegen shingle sets (already doc-distinct, spec-proven ≡
    // the aggregate pipeline): skips the exploded-string shuffle AND the
    // distinct exchange the DataFrame formulation pays — measured 52 s of
    // a 119 s cold run at 100k docs.
    val sh = docs.select(col("doc_id"),
      explode(graft.functions.GraftColumns.shingleHashes(col("text"), n)).as("h"))
      .cache()
    val cnt = shingleCounts(sh)
    val docFreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val pos = row_number().over(
      Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h")))
    // FP-safety on every pruning bound: a double product that lands one
    // ulp HIGH on an exact integer boundary (0.4·5 = 2.0000000000000004 →
    // ceil 3, not 2) would shorten a prefix / tighten a filter and DROP a
    // qualifying pair. Nudge each bound by 1e-9 in the keep direction —
    // over-keeping costs a candidate, under-keeping costs recall.
    val Eps = 1e-9
    // Cached (r13): the pair self-join consumes this frame on BOTH sides,
    // and AQE does not reuse the duplicated subtrees (probed: 15 distinct
    // shuffle stages, zero ReusedExchange) — uncached, the df aggregate,
    // the count join, and the window sort all ran twice per run.
    val prefix = sh.join(docFreq, Seq("h"))
      .join(cnt, Seq("doc_id"))
      .withColumn("__pos", pos)
      .filter(col("__pos") <=
        col("n_shingles") - ceil(lit(threshold) * col("n_shingles") - Eps).cast("long") + 1)
      .select(col("doc_id"), col("h"), col("n_shingles"), col("__pos"))
      .cache()
    // Pair join: cost is the Σ bucket² OUTPUT, so AQE's input-sized
    // broadcast choice would serialize the explosion (CLAUDE.md LSH
    // lesson) — pin a shuffled hash join on both sides.
    val tau = threshold / (1.0 + threshold) // Jaccard → overlap fraction
    val cands = prefix.select(col("doc_id").as("doc_a"), col("h"),
        col("n_shingles").as("n_a"), col("__pos").as("pa"))
      .hint("shuffle_hash")
      .join(prefix.select(col("doc_id").as("doc_b"), col("h"),
          col("n_shingles").as("n_b"), col("__pos").as("pb"))
        .hint("shuffle_hash"),
        Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(col("n_b").cast("double") >= lit(threshold) * col("n_a").cast("double") - Eps &&
        col("n_a").cast("double") >= lit(threshold) * col("n_b").cast("double") - Eps)
      // positional filter (the PP in PPJoin): matching at suffix offsets
      // (n−pos) bounds the possible overlap at 1 + min of them; a true
      // pair needs overlap ≥ τ·(|A|+|B|), and its FIRST common element
      // always satisfies this, so any-match-passes keeps full recall
      .filter(lit(1.0) + least(col("n_a") - col("pa"), col("n_b") - col("pb")) >=
        lit(tau) * (col("n_a") + col("n_b")) - Eps)
      .select(col("doc_a"), col("doc_b")).distinct()
    // exact verify over the FULL sets of the surviving candidates only;
    // cands is candidate-derived (scales with the dup rate) and sh is
    // corpus-sized — neither may broadcast
    val inter = cands.hint("shuffle_hash")
      .join(sh.select(col("doc_id").as("doc_a"), col("h")).hint("shuffle_hash"), Seq("doc_a"))
      .hint("shuffle_hash")
      .join(sh.select(col("doc_id").as("doc_b"), col("h")).hint("shuffle_hash"), Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(cnt.select(col("doc_id").as("doc_a"), col("n_shingles").as("n_a")), Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"), col("n_shingles").as("n_b")), Seq("doc_b"))
      .withColumn("jaccard",
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"), 7))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Prefix-filtered EXACT containment join: all DIRECTED pairs (a, b),
    * a ≠ b, with C(A,B) = |A∩B| / |A| ≥ tNum/tDen over word-n-gram shingle
    * sets — "a's content is (mostly) inside b". This is the asymmetric
    * relation Jaccard misses: a short quote, excerpt, or boilerplate block
    * embedded in a much larger document scores near-zero Jaccard (the
    * union is dominated by b) but containment 1.0, and removing such
    * near-subset duplicates is a standard pretraining-dedup step beside
    * [[jaccardPairs]]/[[ppjoinPairs]].
    *
    * Pruning (full recall, same skeleton as [[ppjoinPairs]]):
    *  - probe side (a): rarest-first prefix of length
    *    |A| − ⌈t·|A|⌉ + 1 — if none of a's prefix shingles occurs in B,
    *    then |A∩B| < t·|A| (the smallest-common-element argument).
    *  - indexed side (b): NO prefix — containment puts no lower bound on
    *    where in B the overlap sits, so b contributes its full inverted
    *    index; the size bound |B| ≥ t·|A| (overlap can't exceed |B|) and
    *    the positional bound overlap ≤ 1 + |A| − pos(a) still prune.
    *  - the threshold is a RATIONAL tNum/tDen and every bound is exact
    *    integer arithmetic (⌈t·n⌉ = (tNum·n + tDen − 1) div tDen), so the
    *    ppjoin FP-nudge lesson (SCALING #24) does not even arise here.
    * Exact |A∩B| verification on surviving candidates only; candidate-
    * derived frames never broadcast, pair-output joins pin shuffle_hash
    * (CLAUDE.md LSH lesson). */
  def containmentPairs(docs: DataFrame, n: Int = 3, tNum: Int = 4, tDen: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docs.select(col("doc_id"),
      explode(graft.functions.GraftColumns.shingleHashes(col("text"), n)).as("h"))
      .cache()
    val cnt = shingleCounts(sh)
    val docFreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val pos = row_number().over(
      Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h")))
    // ⌈t·n_a⌉ in exact integers: (tNum·n_a + tDen − 1) div tDen
    val ceilT = expr(s"($tNum * n_shingles + ${tDen - 1}) div $tDen")
    val prefix = sh.join(docFreq, Seq("h"))
      .join(cnt, Seq("doc_id"))
      .withColumn("__pos", pos)
      .filter(col("__pos") <= col("n_shingles") - ceilT + 1)
      .select(col("doc_id").as("doc_a"), col("h"),
        col("n_shingles").as("n_a"), col("__pos").as("pa"))
    val index = sh.join(cnt, Seq("doc_id"))
      .select(col("doc_id").as("doc_b"), col("h"), col("n_shingles").as("n_b"))
    val cands = prefix.hint("shuffle_hash")
      .join(index.hint("shuffle_hash"), Seq("h"))
      .filter(col("doc_a") =!= col("doc_b"))
      // overlap ≤ |B| and overlap ≥ t·|A| ⇒ keep only tDen·n_b ≥ tNum·n_a
      .filter(col("n_b") * tDen >= col("n_a") * tNum)
      // positional: a's first common element at prefix position pa bounds
      // overlap ≤ 1 + (n_a − pa); any-match-passes keeps full recall
      .filter((lit(1L) + col("n_a") - col("pa")) * tDen >= col("n_a") * tNum)
      .select(col("doc_a"), col("doc_b")).distinct()
    val inter = cands.hint("shuffle_hash")
      .join(sh.select(col("doc_id").as("doc_a"), col("h")).hint("shuffle_hash"), Seq("doc_a"))
      .hint("shuffle_hash")
      .join(sh.select(col("doc_id").as("doc_b"), col("h")).hint("shuffle_hash"), Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(cnt.select(col("doc_id").as("doc_a"), col("n_shingles").as("n_a")), Seq("doc_a"))
      .filter(col("n_inter") * tDen >= col("n_a") * tNum) // exact rational test
      .withColumn("containment",
        round(col("n_inter").cast("double") / col("n_a").cast("double"), 7))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"), col("containment"))
  }

  /** Absorb near-subsets — containment dedup APPLIED (the wire-story
    * case: an excerpt/quote page adds nothing its source doesn't carry):
    * a doc is absorbed when [[containmentPairs]] shows ≥ t of its
    * shingles inside a doc with MORE shingles (or equal shingles and a
    * smaller id — so mutually-containing near-identical docs keep exactly
    * the min-id copy). Emits the full per-doc verdict:
    * (doc_id, absorbed, absorbed_by = min absorbing id or −1). Strictly
    * one-directional — the absorbing side always has at least as much
    * content, so no absorption chain can drop everything: within any
    * containment cluster the max-(n, −id) doc survives. Cost = the
    * prefix-filtered pair join + one size join + one per-doc min. */
  def absorbSubsets(docs: DataFrame, n: Int = 3, tNum: Int = 4,
      tDen: Int = 5): DataFrame = {
    val pairs = containmentPairs(docs, n, tNum, tDen)
    val sizes = docs.select(col("doc_id").as("doc_b"),
      size(graft.functions.GraftColumns.shingleHashes(col("text"), n))
        .cast("long").as("n_b"))
    val absorbing = pairs.join(sizes, Seq("doc_b"))
      .filter(col("n_b") > col("n_a") ||
        (col("n_b") === col("n_a") && col("doc_b") < col("doc_a")))
      .groupBy(col("doc_a")).agg(min(col("doc_b")).as("absorbed_by"))
    docs.select(col("doc_id"))
      .join(absorbing.select(col("doc_a").as("doc_id"), col("absorbed_by")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("absorbed_by").isNotNull.cast("long").as("absorbed"),
        coalesce(col("absorbed_by"), lit(-1L)).as("absorbed_by"))
  }

  val MinhashK = 32 // permutations

  /** Incremental-store format marker (see [[incrementalMinhashPairs]]).
    * v2 = space-only trim tokenization ([[graft.functions.GraftExprs]]
    * `trimSpaces`). Bump whenever shingle/minhash semantics change — stored
    * signatures from an older tokenizer are not comparable to new ones. */
  val StoreFormatMarker = "_format-v2"
  /** The vector store's pinned centering basis (see
    * [[incrementalSemanticPairs]]). */
  private val CenterFile = "_center"
  val BandR = 2     // rows per band → 16 bands

  /** MinHash signatures: (doc_id, mh array<bigint> of k minima), computed by
    * the single-buffer [[graft.functions.MinHashAgg]] — one shuffled row per
    * document instead of the k×-exploded (doc, i) rows (see that class for
    * the scale rationale). Input: (doc_id, h) shingle hashes; the
    * permutations operate on h mod P (the 30-bit projection of the 60-bit
    * identity hash). */
  def minhashSignatures(sh: DataFrame): DataFrame =
    sh
      .select(col("doc_id"), (col("h") % lit(TextHash.Prime)).as("hp"))
      .groupBy("doc_id")
      .agg(graft.functions.MinHashAgg.minhash(col("hp"), MinhashK).as("mh"))

  /** Candidate probability of an LSH (bands, rows) banding at Jaccard
    * similarity s — the standard S-curve 1 − (1 − s^r)^b. */
  def bandingProbability(s: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rows), bands)

  /** Derive (bands, rows) from a TARGET instead of by hand — the one
    * decision a production dedup run otherwise makes by folklore: among
    * the bandings b = ⌊k/r⌋ the k-permutation signature supports, pick
    * the LARGEST r (steepest S-curve → fewest sub-threshold candidate
    * pairs, the cost term of the banding join) whose candidate
    * probability at `threshold` still meets `targetRecall`. Throws when
    * even the max-recall banding (r = 1, b = k) falls short — the honest
    * answer is "use more permutations", never a silently-missed recall
    * target. The choice is analytic; CLAUDE.md's measure-don't-guess
    * stance still applies: verify the chosen knobs EMPIRICALLY with
    * [[lshRecallEval]] on a corpus sample in the same run (the
    * d17_auto_banding gate row does exactly that). */
  def bandingFor(threshold: Double, targetRecall: Double = 0.95,
      k: Int = MinhashK): (Int, Int) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0, 1), got $targetRecall")
    require(k >= 1, s"k must be positive, got $k")
    (k to 1 by -1).iterator
      .map(r => (k / r, r))
      .find { case (b, r) => bandingProbability(threshold, b, r) >= targetRecall }
      .getOrElse(throw new IllegalArgumentException(
        s"no banding of $k permutations reaches recall $targetRecall at " +
          s"threshold $threshold (max is 1-(1-s)^$k = " +
          s"${bandingProbability(threshold, k, 1)} at r=1); increase k"))
  }

  /** LSH band-key array from a signature-array column: band b ∈ [0, k/r),
    * key = Σ_{j<r} (j+1)·mh[b·r+j] (order-independent, deterministic; fits
    * in bigint: r·(r+1)/2·P < 2^40 for any r ≤ k). */
  def bandKeys(mh: Column): Column = bandKeysWith(mh, BandR)

  /** [[bandKeys]] at an explicit rows-per-band r (e.g. one chosen by
    * [[bandingFor]]); b = ⌊k/r⌋ full bands, leftover permutations unused. */
  def bandKeysWith(mh: Column, rows: Int): Column = {
    require(rows >= 1 && rows <= MinhashK, s"rows must be in [1, $MinhashK], got $rows")
    val nBands = MinhashK / rows
    transform(
      sequence(lit(0), lit(nBands - 1)),
      b => (0 until rows)
        .map(j => element_at(mh, b * rows + j + 1) * (j + 1))
        .reduce(_ + _))
  }

  /** One row per (doc, band): [[bandKeys]] exploded. */
  def lshBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), posexplode(bandKeys(col("mh"))).as(Seq("band", "band_key")))

  /** MinHash+LSH near-dup pairs: candidates = docs sharing any (band,
    * band_key); verified with exact shingle Jaccard >= threshold. Output is
    * (doc_a, doc_b, jaccard) for verified candidates.
    *
    * Signatures are PER-ROW generated-code calls
    * ([[graft.functions.ShingleHashesExpr]] → [[graft.functions.MinHashArrExpr]];
    * values bit-identical to the `shingleHashes` ∘ `MinHashAgg` pipeline,
    * spec-asserted) — so the corpus-wide (doc_id, h) DISTINCT shuffle and
    * the signature aggregation shuffle are gone, and the two compact JVM
    * loops also replace the long generated expression chain whose first-run
    * JIT dominated the 100k-doc probe. The first shuffle anything pays is
    * the band-key candidate join, which is already pair-pruned. */
  def minhashPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
      bandRows: Int = BandR): DataFrame = {
    import graft.functions.GraftColumns
    val withArr = docs
      .withColumn("__hs", GraftColumns.shingleHashes(col("text"), n))
      .filter(size(col("__hs")) > 0)
      .select(col("doc_id"), col("__hs"),
        GraftColumns.minhashArr(col("__hs"), MinhashK).as("__mh"))
      .cache()
    val bands = withArr
      .select(col("doc_id"),
        posexplode(bandKeysWith(col("__mh"), bandRows)).as(Seq("band", "band_key")))
    val l = bands.select(col("doc_id").as("doc_a"), col("band"), col("band_key"))
    val r = bands.select(col("doc_id").as("doc_b"), col("band"), col("band_key"))
    // Shuffled join for the same reason as [[simhashPairs]]: the band
    // bucket space, not the input row count, is what needs partitioning.
    val cands = l.hint("shuffle_hash")
      .join(r.hint("shuffle_hash"), Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
      .cache()
    // Exact verification over ONLY the candidate docs' shingles: the LSH
    // prune must shrink the join input, not just the join output —
    // otherwise verification pays the full O(all-pairs) shingle join the
    // LSH existed to avoid. No broadcast hint: the candidate set scales
    // with the corpus dup RATE, so at web-crawl rates (30–50% near-dups)
    // it is corpus-sized and a forced broadcast OOMs — AQE broadcasts it
    // when the runtime size is actually small.
    val candDocs = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id")))
      .distinct()
    // Candidate docs' shingle sets, exploded from the per-row arrays
    // (already distinct within a doc — no DISTINCT shuffle needed).
    val candArr = withArr.join(candDocs, Seq("doc_id"), "left_semi").cache()
    val shc = candArr.select(col("doc_id"), explode(col("__hs")).as("h"))
    // Set sizes only for candidate docs, straight off the array lengths.
    val cnt = candArr.select(col("doc_id"), size(col("__hs")).cast("long").as("n_shingles"))
    val a = shc.select(col("doc_id").as("doc_a"), col("h"))
    val b = shc.select(col("doc_id").as("doc_b"), col("h"))
    val inter = a
      .join(b, Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .join(cands, Seq("doc_a", "doc_b"), "left_semi")
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"))
    val ca = cnt.select(col("doc_id").as("doc_a"), col("n_shingles").as("n_a"))
    val cb = cnt.select(col("doc_id").as("doc_b"), col("n_shingles").as("n_b"))
    // Candidate-sized joins, no forced broadcast (same rationale as above).
    inter
      .join(ca, Seq("doc_a"))
      .join(cb, Seq("doc_b"))
      .withColumn(
        "jaccard",
        round(
          col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter")).cast("double"),
          7))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Incremental MinHash+LSH near-dup detection against a persisted
    * signature store — the growing-corpus pattern: each run reads ONLY the
    * new documents' text, pairs them against everything seen so far, and
    * appends their signatures to the store. Old↔old pairs are never
    * re-emitted (they were reported when their younger member arrived), so
    * `runs in arrival order ≡ one batch run` (spec-asserted).
    *
    * The store keeps (doc_id, hs, mh) — the per-row shingle-hash set and
    * signature — NOT the text: verification of new↔old candidates replays
    * exact Jaccard from the stored arrays, and the store rows are ~300
    * bytes/doc regardless of document size. Store reads prune to candidate
    * docs only (semi-join), so a run's cost scales with the new batch and
    * its collision neighborhood, not with corpus history.
    *
    * The store is a [[graft.etl.BatchStore]] (writer lease, staged
    * publish, crash recovery, format marker [[StoreFormatMarker]]). Re-
    * ingesting an already-stored doc_id is a no-op (anti-join before
    * pairing and appending), so re-running a partially observed batch is
    * idempotent. */
  def incrementalMinhashPairs(
      newDocs: DataFrame,
      storePath: String,
      n: Int = 3,
      threshold: Double = 0.5,
      replayDeterministic: Boolean = false): DataFrame = {
    import graft.functions.GraftColumns
    val spark = newDocs.sparkSession
    // The writer lease brackets snapshot → pair computation → publish;
    // everything that reads the store below is materialized (eager
    // checkpoints/caches) before the lease releases.
    graft.etl.BatchStore.open(spark, storePath, "signature store",
      StoreFormatMarker, "shingle sets from another tokenizer version are " +
        "not comparable to new ones") { store =>
    val hasStore = store.hasBatches
    val rawNewArr0 = newDocs
      .withColumn("__hs", GraftColumns.shingleHashes(col("text"), n))
      .filter(size(col("__hs")) > 0)
      .select(col("doc_id"), col("__hs"),
        GraftColumns.minhashArr(col("__hs"), MinhashK).as("__mh"))
    // Under replayDeterministic (see incrementalHammingPairs' scaladoc —
    // the contract is shared: full batch vs store-minus-batch so a
    // crash-replayed streaming micro-batch recomputes the SAME pairs
    // instead of an empty frame) the raw batch is consumed on the pair
    // side AND in two anti-joins — materialize the shingle/minhash
    // computation once.
    val rawNewArr =
      if (replayDeterministic) rawNewArr0.localCheckpoint(true) else rawNewArr0
    val oldArr = store.snapshot(rawNewArr.schema)
    // Idempotent re-ingest: drop documents the store already holds, then
    // sever the lineage from the store path (eager localCheckpoint) so the
    // append below cannot invalidate/recompute this frame mid-run.
    val (newArr, nNewArr) = graft.etl.BatchStore.checkpointCounted(
      if (hasStore) rawNewArr.join(oldArr.select("doc_id"), Seq("doc_id"), "left_anti")
      else rawNewArr)
    val sideNew = if (replayDeterministic) rawNewArr else newArr
    val sideOld =
      if (replayDeterministic && hasStore)
        oldArr.join(rawNewArr.select("doc_id"), Seq("doc_id"), "left_anti")
      else oldArr
    def bandsOf(arr: DataFrame) =
      arr.select(col("doc_id"), posexplode(bandKeys(col("__mh"))).as(Seq("band", "band_key")))
    val newBands = bandsOf(sideNew)
    val allBands = bandsOf(sideOld).unionByName(newBands)
    // Candidates: (new, anything) sharing a band — new↔new once via a<b,
    // new↔old regardless of id order (canonicalized to doc_a < doc_b).
    val cands = newBands.select(col("doc_id").as("doc_n"), col("band"), col("band_key"))
      .hint("shuffle_hash")
      .join(allBands.select(col("doc_id").as("doc_o"), col("band"), col("band_key"))
        .hint("shuffle_hash"), Seq("band", "band_key"))
      .filter(col("doc_n") =!= col("doc_o"))
      .select(
        least(col("doc_n"), col("doc_o")).as("doc_a"),
        greatest(col("doc_n"), col("doc_o")).as("doc_b"))
      .distinct()
      // both-new pairs appear from both sides; old↔old never appears
      // because the left side is new-only
      .cache()
    val candDocs = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id"))).distinct()
    // No broadcast hint: candidate count scales with the dup rate (see
    // [[minhashPairs]]); AQE broadcasts when the runtime size allows.
    val candArr = sideNew.unionByName(sideOld)
      .join(candDocs, Seq("doc_id"), "left_semi").cache()
    val shc = candArr.select(col("doc_id"), explode(col("__hs")).as("h"))
    val cnt = candArr.select(col("doc_id"), size(col("__hs")).cast("long").as("n_shingles"))
    val a = shc.select(col("doc_id").as("doc_a"), col("h"))
    val b = shc.select(col("doc_id").as("doc_b"), col("h"))
    val inter = a
      .join(b, Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .join(cands, Seq("doc_a", "doc_b"), "left_semi")
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"))
    val ca = cnt.select(col("doc_id").as("doc_a"), col("n_shingles").as("n_a"))
    val cb = cnt.select(col("doc_id").as("doc_b"), col("n_shingles").as("n_b"))
    // localCheckpoint (eager) BEFORE the append: writing to storePath
    // refreshes the path's file index and invalidates dependent caches, so
    // a merely-cached result would silently recompute against the
    // just-appended store (double-counting the new docs). Checkpointing
    // severs the lineage from the path entirely.
    val pairs = inter
      .join(ca, Seq("doc_a"))
      .join(cb, Seq("doc_b"))
      .withColumn(
        "jaccard",
        round(
          col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter")).cast("double"),
          7))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .localCheckpoint(true)
    store.publish(newArr, nNewArr)
    org.apache.spark.sql.graftbridge.DatasetBridge.unpersistCheckpoint(newArr)
    if (replayDeterministic)
      org.apache.spark.sql.graftbridge.DatasetBridge.unpersistCheckpoint(rawNewArr)
    cands.unpersist()
    candArr.unpersist()
    pairs
    }
  }

  /** Cross-document span duplication, the Lee et al. ("Deduplicating
    * Training Data...") criterion applied doc-wise: for each document, the
    * fraction of its distinct word-n-grams that also occur in at least one
    * OTHER document. Whole-doc near-dup (MinHash/SimHash) misses partial
    * copy-paste — a document that quotes half of another scores low
    * Jaccard but high span duplication; this is the per-doc evidence used
    * to cut or rewrite such spans. Plan: per-row codegen shingle sets →
    * explode to (doc_id, h) → doc-frequency as a count window over the ONE
    * h-shuffle (a groupBy+self-join twin would shuffle the gram list
    * twice) → per-doc aggregate. Every shuffled row is 16 bytes; text
    * never shuffles. Docs with fewer than n words have no grams and no
    * output row (INNER semantics, matching the oracle). */
  def spanDuplication(docs: DataFrame, n: Int = 5): DataFrame = {
    import graft.functions.GraftColumns
    import org.apache.spark.sql.expressions.Window
    val grams = docs
      .select(col("doc_id"), explode(GraftColumns.shingleHashes(col("text"), n)).as("h"))
    grams
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2L, lit(1L)).otherwise(lit(0L))).as("n_shared"))
      .withColumn("dup_frac",
        round(col("n_shared").cast("double") / col("n_grams").cast("double"), 7))
  }

  /** Exact duplicated SUBSTRINGS at arbitrary offsets — the Lee et al.
    * ("Deduplicating Training Data Makes Language Models Better")
    * suffix-array shape re-expressed relationally: find every maximal
    * cross-document token run of ≥ `minTokens` tokens, wherever it starts
    * in either document. [[spanDuplication]] only SCORES gram sharing and
    * [[segmentDedup]] only matches at fixed segment boundaries; this
    * operator recovers the exact (start_a, start_b, length) of each
    * duplicated passage, the evidence a substring-cut pass consumes.
    *
    * Algorithm: positional k-gram anchor hashes (one codegen call per doc
    * — [[graft.functions.GraftExprs.shingleHashSeq]]), an anchor
    * equi-join on the 60-bit hash, then island detection per
    * (doc_a, doc_b, offset-difference): a duplicated run of m tokens at
    * aligned offsets is exactly m−k+1 CONSECUTIVE anchor matches with the
    * same pos_b−pos_a, so the classic pos−row_number island key turns
    * maximal runs into single groups. Emits (doc_a, doc_b, a_start,
    * b_start, len_tokens), positions 0-based in token space.
    *
    * Scale shape: shuffled rows are 24-byte (h, doc, pos) triples — text
    * never shuffles; the anchor join is Σ per-hash bucket² OUTPUT, so both
    * sides pin `shuffle_hash` (the [[simhashPairs]] AQE lesson) and
    * parallelism comes from partitioning the hash space. The island
    * windows partition by (doc_a, doc_b, diff) — bounded by document
    * length, never corpus-sized. Boilerplate k-grams shared by f docs
    * produce O(f²) anchor pairs — exactly the passages the operator
    * exists to find; when only rarer duplication matters, `maxAnchorDf`
    * drops anchors whose OCCURRENCE count exceeds the cap before the
    * join (a map-side-combined groupBy over the 24-byte anchor stream +
    * an anti-join against the over-cap hash set — skew-safe: no window
    * puts one anchor's occurrences in one task), which
    * bounds every bucket at maxAnchorDf² pairs — at the documented cost
    * of splitting or losing runs that pass through dropped anchors
    * (spec-pinned). 0 = uncapped (the exact default). */
  def duplicatedSpans(docs: DataFrame, minTokens: Int = 10, k: Int = 5,
      maxAnchorDf: Int = 0): DataFrame = {
    require(k >= 1 && minTokens >= k,
      s"minTokens $minTokens must be >= anchor width $k")
    import graft.functions.GraftColumns
    import org.apache.spark.sql.expressions.Window
    val raw = docs.select(col("doc_id"),
        posexplode(GraftColumns.shingleHashSeq(col("text"), k)).as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"))
    val sh =
      if (maxAnchorDf <= 0) raw
      else {
        // Over-cap anchors via groupBy + anti-join, NOT a count window: a
        // window partitioned by h puts every occurrence of one anchor hash
        // in ONE task, so the very boilerplate anchor the cap exists to
        // neutralize becomes a single hot task in the cap computation
        // itself. groupBy gets map-side partial aggregation (each map task
        // emits one row per local h), and the anti-join's build side is
        // only the over-cap hashes — duplication-shaped, typically tiny
        // (AQE may broadcast it; the anti-join output is bounded by its
        // probe input, so there is no Σ bucket² hazard here). r7 skew fix.
        val overCap = raw.groupBy(col("h"))
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxAnchorDf)
          .select(col("h"))
        raw.join(overCap, Seq("h"), "left_anti")
      }
    alignedRunCore(sh, minTokens, k).withColumnRenamed("len", "len_tokens")
  }

  /** The aligned-run island core shared by [[duplicatedSpans]] (token
    * k-gram anchors) and [[frameAlignedRuns]] (per-frame perceptual hashes,
    * k = 1): join positional anchors on the hash, group matches by
    * (doc_a, doc_b, pos_b−pos_a), and collapse CONSECUTIVE matches at one
    * offset difference into maximal runs via the classic pos−row_number
    * island key. Input: (doc_id, pos, h); output: (doc_a, doc_b, a_start,
    * b_start, len) with len = covered positions (anchor span + k − 1).
    * Both sides pin `shuffle_hash` — the join's cost is its Σ per-hash
    * bucket² OUTPUT (the [[simhashPairs]] AQE lesson); island windows
    * partition by (doc_a, doc_b, diff), bounded by sequence length. */
  private def alignedRunCore(sh: DataFrame, minLen: Int, k: Int): DataFrame = {
    val a = sh.select(col("h"), col("doc_id").as("doc_a"), col("pos").as("pos_a"))
    val b = sh.select(col("h"), col("doc_id").as("doc_b"), col("pos").as("pos_b"))
    islandRuns(
      a.hint("shuffle_hash").join(b.hint("shuffle_hash"), Seq("h"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("pos_a"), col("pos_b")),
      minLen, k)
  }

  /** The island-detection tail of [[alignedRunCore]] over an already-
    * canonicalized match stream (doc_a < doc_b, one row per anchor match):
    * group by offset difference, collapse consecutive matches via the
    * pos − row_number island key, emit maximal runs ≥ minLen. Shared with
    * [[incrementalDuplicatedSpans]], whose match stream is canonicalized
    * with least/greatest (new↔old order is arbitrary) rather than a plain
    * a < b self-join filter. Input rows MUST be distinct per
    * (doc_a, doc_b, pos_a, pos_b) — duplicates would corrupt the
    * row_number island arithmetic. */
  private def islandRuns(matches: DataFrame, minLen: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wIsle = Window
      .partitionBy(col("doc_a"), col("doc_b"), col("__diff"))
      .orderBy(col("pos_a"))
    matches
      .withColumn("__diff", col("pos_b") - col("pos_a"))
      .withColumn("__isle", col("pos_a") - row_number().over(wIsle))
      .groupBy(col("doc_a"), col("doc_b"), col("__diff"), col("__isle"))
      .agg(
        min(col("pos_a")).as("a_start"),
        (max(col("pos_a")) - min(col("pos_a")) + lit(k.toLong)).as("len"))
      .select(col("doc_a"), col("doc_b"), col("a_start"),
        (col("a_start") + col("__diff")).as("b_start"), col("len"))
      .filter(col("len") >= minLen)
  }

  /** Temporal alignment of per-frame perceptual hashes — the video
    * near-dup criterion: two videos share a duplicated SEGMENT iff ≥
    * `minRun` consecutive frames match at one constant offset difference
    * (a trimmed or re-encoded cut aligns at diff = trim length; unrelated
    * videos have no run). This is [[duplicatedSpans]]'s machinery with
    * positions = frame indices and anchors = frame dHashes (k = 1: each
    * anchor covers exactly one frame). Input: (doc_id, pos, h) rows from
    * [[graft.operators.Multimodal.frameDhash]]; output: (doc_a, doc_b,
    * a_start, b_start, len_frames). Frame-hash equality is EXACT —
    * perceptually-identical frames (re-encodes of the same raster) carry
    * identical dHashes; per-frame Hamming tolerance belongs in a banding
    * pre-step ([[hammingPairs]]) if a lossy-codec corpus needs it.
    * Scale shape: only (hash, doc, pos) triples shuffle — frames never
    * do; cost is Σ per-hash bucket², `shuffle_hash` pinned. */
  def frameAlignedRuns(frameHashes: DataFrame, minRun: Int = 4): DataFrame = {
    require(minRun >= 1, s"minRun must be >= 1, got $minRun")
    alignedRunCore(frameHashes, minRun, 1).withColumnRenamed("len", "len_frames")
  }

  /** [[frameAlignedRuns]] with per-frame Hamming TOLERANCE — the
    * lossy-codec variant: JPEG/H.264 re-encodes perturb pixels, so
    * perceptually-identical frames can differ in a few dHash bits and
    * exact hash equality under-pairs. Frame-level near-pairs come from
    * the [[hammingPairs]] pigeonhole banding over COMPOSITE keys
    * (doc_id · 2²⁰ + frame_idx — videos are bounded to 2²⁰ frames, ~12
    * days at 1 fps, loud require), decoded back to (doc, pos) matches and
    * collapsed by the same island core. Because doc_id dominates the
    * composite key, hammingPairs' key-order canonicalization IS doc-order
    * canonicalization, so the match stream lands pre-canonicalized.
    *
    * Scale shape: banding cost is Σ per-(chunk,value) bucket² like every
    * Hamming path — at maxHamming = 0 this degrades gracefully to the
    * exact-equality plan and `frameAlignedRuns` should be used instead
    * (one join on the full 64-bit hash beats 1-chunk banding). Within-doc
    * frame near-pairs are filtered (self-similarity of adjacent frames is
    * not cross-video evidence). */
  def frameAlignedRunsTolerant(frameHashes: DataFrame, minRun: Int = 4,
      maxHamming: Int = 2): DataFrame = {
    require(minRun >= 1, s"minRun must be >= 1, got $minRun")
    require(maxHamming >= 1,
      "maxHamming 0 is exact equality — use frameAlignedRuns (cheaper plan)")
    val FrameBits = 20
    val checked = frameHashes.select(
      col("doc_id"), col("pos").cast("long").as("pos"), col("h"))
      .withColumn("__fk",
        when(col("pos") >= 0 && col("pos") < (1L << FrameBits) &&
          col("doc_id") >= 0 && col("doc_id") < (1L << (62 - FrameBits)),
          shiftleft(col("doc_id"), FrameBits) + col("pos"))
          .otherwise(raise_error(concat(lit("frameAlignedRunsTolerant: doc_id/pos out of range: "),
            col("doc_id").cast("string"), lit("/"), col("pos").cast("string")))))
    val framePairs = hammingPairs(
      checked.select(col("__fk").as("doc_id"), col("h").as("sig")),
      bits = 64, maxHamming = maxHamming)
    islandRuns(
      framePairs.select(
        shiftrightunsigned(col("doc_a"), FrameBits).as("doc_a"),
        shiftrightunsigned(col("doc_b"), FrameBits).as("doc_b"),
        col("doc_a").bitwiseAND(lit((1L << FrameBits) - 1)).as("pos_a"),
        col("doc_b").bitwiseAND(lit((1L << FrameBits) - 1)).as("pos_b"))
        .filter(col("doc_a") =!= col("doc_b")),
      minRun, 1)
      .withColumnRenamed("len", "len_frames")
  }

  /** Cross-batch exact substring dedup against a persisted anchor store —
    * [[duplicatedSpans]] in the growing-corpus pattern (the Lee et al. use
    * case is precisely cross-crawl: each new crawl must be checked against
    * every previous one, without recomputing history). Each run computes
    * the NEW batch's positional k-gram anchors, pairs them against every
    * stored anchor plus its own, emits the maximal aligned runs, and
    * appends the new anchors to the store. Old↔old spans are never
    * re-emitted — every (a, b) span is reported exactly once, in the run
    * where its younger member arrived, and within that run ALL of the
    * pair's anchor matches involve the new doc, so island maximality is
    * preserved: `runs in arrival order ≡ one batch [[duplicatedSpans]]
    * over the union corpus` (spec-asserted).
    *
    * The store keeps (doc_id, pos, h) — 24-byte anchor triples, one per
    * token position. Unlike the minhash store this is corpus-token-sized,
    * which is inherent to exact substring dedup (a suffix-array index is
    * corpus-sized too); text itself never enters the store or any shuffle.
    * `maxAnchorDf` caps pair-time anchor frequency over the CURRENT union
    * (groupBy + anti-join, the skew-safe r7 form); the store itself is
    * always uncapped so a later run with a different cap stays exact.
    *
    * The store is a [[graft.etl.BatchStore]]; re-ingest is anti-joined
    * (idempotent). The format marker additionally pins the ANCHOR WIDTH —
    * `_format-spans-k<k>-v2` — because stored k-gram anchors are only
    * comparable to new ones at the same k and tokenizer revision.
    *
    * Output: (doc_a, doc_b, a_start, b_start, len_tokens) for new↔old and
    * new↔new runs, canonicalized doc_a < doc_b. */
  def incrementalDuplicatedSpans(
      newDocs: DataFrame,
      storePath: String,
      minTokens: Int = 10,
      k: Int = 5,
      maxAnchorDf: Int = 0,
      replayDeterministic: Boolean = false): DataFrame = {
    require(k >= 1 && minTokens >= k,
      s"minTokens $minTokens must be >= anchor width $k")
    import graft.functions.GraftColumns
    incrementalAlignedRuns(
      newDocs.select(col("doc_id"),
        posexplode(GraftColumns.shingleHashSeq(col("text"), k)).as(Seq("pos", "h")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h")),
      storePath, minTokens, k, s"spans-k$k-v2", maxAnchorDf,
      replayDeterministic)
      .withColumnRenamed("len", "len_tokens")
  }

  /** Incremental VIDEO near-dup against a persisted frame-hash store —
    * [[frameAlignedRuns]] in the growing-corpus pattern: frame dHashes ARE
    * positional anchors (positions = frame indices, k = 1), so the anchor
    * store machinery applies verbatim; new video batches align against
    * every stored frame sequence and append their own. `formatTag` pins
    * the frame-signature scheme (grid size, extractor revision), e.g.
    * "frames-dhash8x7-v1". `maxFrameDf` caps boilerplate FRAMES — a black
    * or title-card frame shared by f videos is the df² pair hazard on the
    * time axis; the cap drops it before pairing (runs through it split,
    * the documented duplicatedSpans trade). Output: (doc_a, doc_b,
    * a_start, b_start, len_frames), every run reported exactly once, in
    * the run where its younger member arrived. */
  def incrementalFrameRuns(
      newFrameHashes: DataFrame,
      storePath: String,
      minRun: Int = 4,
      formatTag: String = "frames-dhash8x7-v1",
      maxFrameDf: Int = 0,
      replayDeterministic: Boolean = false): DataFrame = {
    require(minRun >= 1, s"minRun must be >= 1, got $minRun")
    incrementalAlignedRuns(newFrameHashes, storePath, minRun, 1, formatTag,
      maxFrameDf, replayDeterministic)
      .withColumnRenamed("len", "len_frames")
  }

  /** The store-backed aligned-run core shared by
    * [[incrementalDuplicatedSpans]] (token k-gram anchors) and
    * [[incrementalFrameRuns]] (per-frame perceptual hashes): input is the
    * NEW batch's (doc_id, pos, h) anchor rows; see the callers for the
    * full durability and equivalence contracts. The marker file is
    * `_format-<formatTag>` — callers encode every parameter that makes
    * stored anchors incomparable (width, tokenizer, signature scheme). */
  private def incrementalAlignedRuns(
      rawNew0: DataFrame,
      storePath: String,
      minLen: Int,
      k: Int,
      formatTag: String,
      maxAnchorDf: Int,
      replayDeterministic: Boolean = false): DataFrame = {
    require(formatTag.nonEmpty && formatTag.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '.' || c == '_'),
      s"formatTag must be a plain file-name token, got '$formatTag'")
    val spark = rawNew0.sparkSession
    // replayDeterministic: the shared streaming-replay contract (see
    // incrementalHammingPairs' scaladoc) — pair the FULL batch against
    // store-minus-batch plus itself so a crash-replayed micro-batch
    // recomputes the SAME spans instead of an empty frame; the anchor
    // append stays anti-joined either way. The batch is consumed on the
    // pair side and in two anti-joins — materialize the anchor explosion
    // once.
    val rawNew =
      if (replayDeterministic) rawNew0.localCheckpoint(true) else rawNew0
    graft.etl.BatchStore.open(spark, storePath, "anchor store",
      s"_format-$formatTag", "anchors of another width or signature scheme " +
        "are not comparable") { store =>
      val hasStore = store.hasBatches
      val oldAnchors = store.snapshot(rawNew.schema)
      // Idempotent re-ingest + lineage severed from the store path before
      // the append (the incrementalMinhashPairs rationale).
      val (newAnchors, nNewAnchors) = graft.etl.BatchStore.checkpointCounted(
        if (hasStore) rawNew.join(oldAnchors.select("doc_id").distinct(),
          Seq("doc_id"), "left_anti")
        else rawNew)
      val sideNew = if (replayDeterministic) rawNew else newAnchors
      val sideOld =
        if (replayDeterministic && hasStore)
          oldAnchors.join(rawNew.select("doc_id").distinct(),
            Seq("doc_id"), "left_anti")
        else oldAnchors
      // In replay mode this union equals the first attempt's (pre-append
      // store ∪ batch), so the df cap below is replay-invariant too.
      val union = sideOld.unionByName(sideNew)
      // Pair-time df cap over the current union (skew-safe groupBy form —
      // see duplicatedSpans); both the new side and the union side must be
      // filtered or a capped anchor would still pair one-sided.
      val (newSide, allSide) =
        if (maxAnchorDf <= 0) (sideNew, union)
        else {
          val overCap = union.groupBy(col("h"))
            .agg(count(lit(1)).as("__df"))
            .filter(col("__df") > maxAnchorDf)
            .select(col("h"))
          (sideNew.join(overCap, Seq("h"), "left_anti"),
            union.join(overCap, Seq("h"), "left_anti"))
        }
      // New-side × union on the anchor hash, canonicalized with
      // least/greatest (new↔old arrives in arbitrary id order; new↔new
      // from both orientations collapses under distinct — required before
      // the island row_number). shuffle_hash pinned: Σ bucket² output.
      val matches = newSide
        .select(col("h"), col("doc_id").as("doc_n"), col("pos").as("pos_n"))
        .hint("shuffle_hash")
        .join(allSide
          .select(col("h"), col("doc_id").as("doc_o"), col("pos").as("pos_o"))
          .hint("shuffle_hash"), Seq("h"))
        .filter(col("doc_n") =!= col("doc_o"))
        .select(
          least(col("doc_n"), col("doc_o")).as("doc_a"),
          greatest(col("doc_n"), col("doc_o")).as("doc_b"),
          when(col("doc_n") < col("doc_o"), col("pos_n"))
            .otherwise(col("pos_o")).as("pos_a"),
          when(col("doc_n") < col("doc_o"), col("pos_o"))
            .otherwise(col("pos_n")).as("pos_b"))
        .distinct()
      val spans = islandRuns(matches, minLen, k)
        // Eager checkpoint BEFORE the append (see incrementalMinhashPairs).
        .localCheckpoint(true)
      store.publish(newAnchors, nNewAnchors)
      org.apache.spark.sql.graftbridge.DatasetBridge.unpersistCheckpoint(newAnchors)
      if (replayDeterministic)
        org.apache.spark.sql.graftbridge.DatasetBridge.unpersistCheckpoint(rawNew)
      spans
    }
  }

  /** [[duplicatedSpans]] closed into the Lee et al. TRANSFORM: cut the
    * LATER occurrence of every duplicated run ≥ `minTokens` and rebuild
    * each document from its surviving tokens. "Later" is the span's
    * doc_b side (doc_a < doc_b), so for any set of documents sharing a
    * passage, exactly the minimum-doc_id occurrence survives — the same
    * keep-the-canonical convention as [[clusters]]. Cut ranges overlap
    * freely (position-set union per doc); a doc whose every token is cut
    * emits an empty `text_dedup` with its counts, keeping one output row
    * per input doc (the [[segmentDedup]] contract).
    *
    * Scale shape: [[duplicatedSpans]]'s cost plus one explode of the
    * span list into (doc, pos) cut rows (Σ span lengths — duplication-
    * sized, not corpus-sized), one distinct, and a doc-keyed left join
    * against the posexploded token stream; rebuilds group by doc. The
    * within-doc copy caveat: pairs are cross-document, so a passage
    * repeated only WITHIN one document is not cut (that is
    * [[segmentDedup]]'s job at segment granularity).
    *
    * Precondition: `text` must be non-null — a NULL text produces no
    * token rows under `posexplode`, so the doc is DROPPED, not emitted
    * empty (callers wanting the one-row-per-doc contract on nullable
    * corpora should `coalesce(text, '')` first; empty strings are fine —
    * they tokenize to a single empty token and survive).
    *
    * Output: (doc_id, text_dedup, n_cut, n_total). */
  def substringDedupCut(docs: DataFrame, minTokens: Int = 10, k: Int = 5,
      maxAnchorDf: Int = 0): DataFrame = {
    val spans = duplicatedSpans(docs, minTokens, k, maxAnchorDf)
    val cuts = spans
      .select(col("doc_b").as("doc_id"),
        explode(sequence(col("b_start"), col("b_start") + col("len_tokens") - 1))
          .as("pos"))
      .distinct()
      .withColumn("__cut", lit(1L))
    docs
      // coalesce honors the one-output-row-per-input-doc contract for
      // NULL-text docs too: posexplode of a NULL token array would drop the
      // doc entirely (tokens('') = [''] keeps empty-string docs anyway)
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(coalesce(col("text"), lit(""))))
          .as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
      .join(cuts, Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(when(col("__cut").isNull,
              struct(col("pos"), col("tok"))))),
            s => s.getField("tok")),
          " ").as("text_dedup"),
        sum(when(col("__cut").isNotNull, 1L).otherwise(0L)).as("n_cut"),
        count(lit(1)).as("n_total"))
  }

  /** CONTENT-DEFINED chunking at token granularity — the FastCDC/Rabin
    * shape re-expressed over the portable positional window hashes: a
    * token position i ENDS a chunk when the w-token window hash ending at
    * i hits the boundary mask (h ≡ 0 mod 2^maskBits — expected chunk
    * length ≈ 2^maskBits + w−1 tokens); the last token always ends the
    * final chunk. Boundaries derive from CONTENT, so an insertion near
    * the start of a document shifts only the chunks up to the next
    * boundary — unlike [[segmentRows]]'s fixed windows, where one
    * leading token misaligns every later segment (the classic CDC
    * advantage, spec-asserted). Chunk identity is the 60-bit portable
    * text hash (the [[segmentRows]] convention).
    *
    * Everything is per-row array arithmetic staged as columns (the
    * interpreted-HOF lesson — the token and hash arrays materialize once
    * per row); no shuffle until a consumer aggregates. Output: (doc_id,
    * chunk_idx 1-based, start 0-based token offset, n_tokens, h). */
  def cdcChunks(docs: DataFrame, w: Int = 4, maskBits: Int = 4): DataFrame =
    cdcRows(docs, w, maskBits).drop("chunk")

  /** [[cdcChunks]] with the chunk TEXT retained — the decomposition
    * [[cdcDedupCut]] rebuilds from (text enters the dedup shuffle here,
    * exactly like [[segmentDedup]]'s segment rows; consumers that only
    * need identity take [[cdcChunks]]'s 8-byte hashes). */
  def cdcRows(docs: DataFrame, w: Int = 4, maskBits: Int = 4): DataFrame = {
    require(w >= 1, s"window w must be positive, got $w")
    require(maskBits >= 1 && maskBits <= 30, s"maskBits must be in [1,30], got $maskBits")
    import graft.functions.GraftColumns
    val g = 1L << maskBits
    val staged = docs
      .select(col("doc_id"),
        TextAnalysis.tokens(col("text")).as("__t"),
        GraftColumns.shingleHashSeq(col("text"), w).as("__hs"))
      // cut ENDS: 0-based token i ends a chunk when the window covering
      // tokens (i−w+1 .. i) hits the mask — hs[i−w+1] = element_at(__hs,
      // i−w+2). Guarded: sequence(a, b) with a > b counts DOWN, so short
      // docs (size < w) take the empty-hits branch. The last token is
      // always appended; array_distinct removes the duplicate when it was
      // already a hit (ascending order preserved — first occurrences).
      .select(col("doc_id"), col("__t"),
        array_distinct(concat(
          when(size(col("__t")) >= w,
            filter(sequence(lit(w - 1), size(col("__t")) - 1),
              i => element_at(col("__hs"), i - lit(w - 2)) % g === 0))
            .otherwise(expr("CAST(array() AS array<int>)")),
          array(size(col("__t")) - 1))).as("__ends"))
    staged
      .select(col("doc_id"), col("__t"),
        posexplode(transform(sequence(lit(1), size(col("__ends"))),
          j => struct(
            when(j === 1, lit(0))
              .otherwise(element_at(col("__ends"), j - 1) + 1).as("s"),
            element_at(col("__ends"), j).as("e"))))
          .as(Seq("__ci", "__c")))
      .select(col("doc_id"),
        (col("__ci") + 1).cast("long").as("chunk_idx"),
        col("__c.s").cast("long").as("start"),
        (col("__c.e") - col("__c.s") + 1).cast("long").as("n_tokens"),
        array_join(slice(col("__t"), col("__c.s") + 1,
          col("__c.e") - col("__c.s") + 1), " ").as("__chunk"))
      .select(col("doc_id"), col("chunk_idx"), col("start"), col("n_tokens"),
        col("__chunk").as("chunk"),
        (graft.functions.GraftColumns.polyHash(col("__chunk")) +
          graft.functions.GraftColumns.polyHash(reverse(col("__chunk"))) * lit(1L << 30))
          .as("h"))
  }

  /** [[cdcChunks]] closed into the TRANSFORM ([[segmentDedup]]'s contract
    * at content-defined granularity): a chunk occurrence survives iff it
    * is the FIRST occurrence of that chunk text corpus-wide under the
    * (doc_id, chunk_idx) total order; each document is rebuilt from its
    * surviving chunks in order. Being content-defined, the cut is robust
    * to insertions — a shifted near-copy still loses its re-aligned
    * chunks, where fixed windows would silently keep every one. Same
    * plan shape as [[segmentDedup]]: ONE wide-hash shuffle carrying the
    * chunk rows + the doc-keyed rebuild; one output row per input doc
    * (empty `text_dedup` when everything was seen earlier).
    * Output: (doc_id, text_dedup, n_kept, n_total). */
  def cdcDedupCut(docs: DataFrame, w: Int = 4, maskBits: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ch = cdcRows(docs, w, maskBits)
    val firstOcc = min(struct(col("doc_id"), col("chunk_idx")))
      .over(Window.partitionBy(col("h")))
    ch
      .withColumn("w", firstOcc)
      .withColumn("kept",
        col("doc_id") === col("w.doc_id") && col("chunk_idx") === col("w.chunk_idx"))
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(when(col("kept"),
              struct(col("chunk_idx"), col("chunk"))))),
            s => s.getField("chunk")),
          " ").as("text_dedup"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        count(lit(1)).as("n_total"))
  }

  /** Cross-document sharing report over [[cdcChunks]] — the CDC dedup
    * decision table: per document, how many of its content-defined chunks
    * also appear (identical text) in at least one OTHER document. The
    * shift-invariant twin of [[spanDuplication]]'s gram scoring at chunk
    * granularity: one distinct (doc, h) projection, one map-side-combined
    * doc-frequency aggregate over 8-byte hashes, one doc-keyed fold —
    * chunk TEXT never shuffles. Output: (doc_id, n_chunks, n_shared,
    * shared_bp — basis points of chunk occurrences whose text is
    * cross-document). */
  def cdcDedupStats(docs: DataFrame, w: Int = 4, maskBits: Int = 4): DataFrame = {
    val ch = cdcChunks(docs, w, maskBits)
    val ddf = ch.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("__ddf"))
    ch.join(ddf, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__ddf") >= 2L, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_bp", expr("n_shared * 10000 div n_chunks"))
  }

  /** The shared segment decomposition: docs → (doc_id, n_total, seg_idx,
    * seg, h) rows — `segWords`-token windows with the 60-bit portable
    * segment hash. Single source for [[segmentDedup]] and the
    * paragraph-Bloom screen ([[Curation]]'s BFF shape); a segmentation or
    * hash tweak must not drift between them. */
  def segmentRows(docs: DataFrame, segWords: Int): DataFrame = {
    val k = segWords
    docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .select(col("doc_id"),
        expr(s"CAST((size(t) + ${k - 1}) div $k AS BIGINT)").as("n_total"),
        posexplode(expr(
          s"transform(sequence(1, (size(t) + ${k - 1}) div $k), " +
            s"i -> array_join(slice(t, (i - 1) * $k + 1, $k), ' '))"))
          .as(Seq("seg_idx", "seg")))
      .select(col("doc_id"), col("n_total"),
        col("seg_idx").cast("long").as("seg_idx"), col("seg"),
        (graft.functions.GraftColumns.polyHash(col("seg")) +
          graft.functions.GraftColumns.polyHash(reverse(col("seg"))) * lit(1L << 30))
          .as("h"))
  }

  /** Corpus-wide SEGMENT-level exact dedup (the CCNet/RefinedWeb line-dedup
    * shape, with fixed `segWords`-token windows standing in for lines in a
    * corpus without line structure): a segment occurrence survives iff it
    * is the FIRST occurrence of that segment text in the whole corpus under
    * the (doc_id, seg_idx) total order; each document's text is then
    * re-assembled from its surviving segments in order.
    *
    * Unlike [[spanDuplication]] (which only SCORES cross-doc duplication),
    * this is the transform that removes it. Segment identity is the wide
    * 60-bit portable hash (polyHash | polyHash∘reverse << 30 — the shingle
    * convention). Plan shape: ONE hash-shuffle of (h, doc_id, idx, seg)
    * rows with a min-struct count window — the same single-exchange
    * discipline as spanDuplication; the rebuild groupBy(doc_id) is the
    * second, doc-keyed exchange. Docs whose every segment was seen earlier
    * emit an empty `text_dedup` (n_kept = 0), keeping one output row per
    * input doc.
    *
    * Output: (doc_id, text_dedup, n_kept, n_total). */
  def segmentDedup(docs: DataFrame, segWords: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val segs = segmentRows(docs, segWords)
    val firstOcc = min(struct(col("doc_id"), col("seg_idx")))
      .over(Window.partitionBy(col("h")))
    segs
      .withColumn("w", firstOcc)
      .withColumn("kept",
        col("doc_id") === col("w.doc_id") && col("seg_idx") === col("w.seg_idx"))
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(when(col("kept"),
              struct(col("seg_idx"), col("seg"))))),
            s => s.getField("seg")),
          " ").as("text_dedup"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        first(col("n_total")).as("n_total"))
  }

  val SimhashBits = 60 // two 30-bit poly hashes: h(tok) | h(reverse(tok)) << 30

  /** SimHash signatures: per-doc 60-bit fingerprint from token hashes.
    * One 30-bit poly hash is too few bits to discriminate at 100k+ docs
    * (measured: 41M Hamming≤3 collision pairs at 100k synthetic docs), so
    * the token hash is widened with a second independent 30-bit hash of the
    * REVERSED token in the high bits — still fully portable to the SQL
    * oracle (`reverse()` exists there too). Bit j is set when
    * Σ_tokens (2·bit_j(h) − 1) > 0, computed by the single-buffer
    * [[graft.functions.SimHashAgg]] (one shuffled row per doc instead of a
    * 60× bits cross join). */
  def simhash(docs: DataFrame): DataFrame =
    // One generated-code call per row ([[graft.functions.SimHashTextExpr]];
    // bit-identical to the token-explode + SimHashAgg pipeline, which stays
    // as the SQL-callable aggregate surface) — no token shuffle at all.
    docs.select(
      col("doc_id"),
      graft.functions.GraftColumns.simhashText(col("text"), SimhashBits).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, found by
    * chunk banding: the 60-bit signature splits into maxHamming+1 chunks,
    * and any pair within the distance budget must agree EXACTLY on at least
    * one chunk (pigeonhole) — so the chunk-equality join has full recall,
    * not probabilistic recall, and the output equals the all-pairs result
    * the oracle computes. Join space is Σ per-(chunk,value) bucket². */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingPairs(simhash(docs).withColumnRenamed("simhash", "sig"),
      SimhashBits, maxHamming)

  /** Hamming-≤k pairs over ANY 64-bit-or-narrower signature column — the
    * pigeonhole chunk-banding core of [[simhashPairs]], factored out so
    * perceptual image hashes ([[Multimodal.imageDhash]]) and any future
    * bit-signature ride the same exact-recall machinery. Input: (doc_id,
    * sig) with the signature in the low `bits` bits; maxHamming+1 chunks
    * guarantee any within-budget pair agrees exactly on ≥ 1 chunk, so the
    * output EQUALS the all-pairs result (full recall, not probabilistic).
    * Join space is Σ per-(chunk,value) bucket². Signed-bit safety: chunk
    * extraction masks after the shift, and `bit_count(xor)` is
    * sign-agnostic, so `bits = 64` signatures with the sign bit set band
    * correctly. */
  def hammingPairs(sig: DataFrame, bits: Int, maxHamming: Int): DataFrame = {
    // EVEN width distribution (bits/nChunks, the first bits%nChunks chunks
    // one wider) — a ceil-width layout degenerates when
    // ceil(bits/n)·(n−1) ≥ bits: the trailing chunk is ZERO bits wide,
    // masks to v=0 for every row, and that one bucket silently turns the
    // banding join into the full n² cross product (the Σ bucket² hazard
    // this operator exists to avoid). Every even chunk is ≥ 1 bit for any
    // nChunks ≤ bits, and for the 60/3 and 64/4 gate combos the layout is
    // unchanged. Review finding (r6).
    val (widths, offsets) = chunkLayout(bits, maxHamming)
    // Cached, never unpersisted here: the signature frame feeds both sides
    // of the banding join and the caller may score survivors against it.
    // This is a documented per-operator cache-leak site (same convention as
    // simhashPairs / the globalRank barrier — Bench's clearCache() is the
    // isolation boundary); note m8 invokes hammingPairs twice per query
    // (image + audio), so two cached frames accumulate per run.
    val sigs = sig.select(col("doc_id"), col("sig")).cache()
    val chunks = hammingChunks(sigs, widths, offsets)
    val a = chunks.select(col("c"), col("v"), col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = chunks.select(col("c"), col("v"), col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    // Force a SHUFFLED join: the join's cost is its Σ bucket² OUTPUT, so
    // parallelism must come from partitioning the bucket space. Left to
    // AQE, the input (100k small rows from a narrow per-row projection)
    // looks broadcastable and the whole pair explosion then runs in the
    // handful of stream-side partitions (measured 117 s vs 5.7 s at 100k
    // docs for identical values).
    a.hint("shuffle_hash").join(b.hint("shuffle_hash"), Seq("c", "v"))
      .filter(col("doc_a") < col("doc_b"))
      .select(
        col("doc_a"), col("doc_b"),
        expr("bit_count(sig_a ^ sig_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** EVEN chunk-width layout for pigeonhole banding (see [[hammingPairs]]
    * for why ceil-width degenerates): bits/nChunks, the first bits%nChunks
    * chunks one wider. Returns (widths, bit offsets). */
  private def chunkLayout(bits: Int, maxHamming: Int): (Seq[Int], Seq[Int]) = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")
    val nChunks = maxHamming + 1
    require(nChunks <= bits, s"maxHamming $maxHamming needs more chunks than $bits bits")
    val widths = (0 until nChunks).map(c => bits / nChunks + (if (c < bits % nChunks) 1 else 0))
    (widths, widths.scanLeft(0)(_ + _))
  }

  /** Chunk-row explosion shared by [[hammingPairs]] and
    * [[incrementalHammingPairs]]: (doc_id, sig) → one row per (doc, chunk)
    * carrying (doc_id, sig, c, v). Masks AFTER the arithmetic shift so a
    * set sign bit can't smear into the chunk value; a full-width chunk
    * needs the -1 mask (1L << 64 wraps). */
  private def hammingChunks(sigs: DataFrame, widths: Seq[Int],
      offsets: Seq[Int]): DataFrame =
    sigs.select(
      col("doc_id"),
      col("sig"),
      explode(array(widths.indices.map { c =>
        val width = widths(c)
        val mask = if (width >= 64) -1L else (1L << width) - 1L
        struct(
          lit(c).as("c"),
          shiftright(col("sig"), offsets(c)).bitwiseAND(lit(mask)).as("v"))
      }: _*)).as("ch"))
      .select(col("doc_id"), col("sig"), col("ch.c"), col("ch.v"))

  /** Incremental Hamming near-dup detection against a persisted signature
    * store — [[incrementalMinhashPairs]]'s growing-corpus pattern for
    * FIXED-WIDTH bit signatures (image dHash, audio fingerprints, SimHash):
    * each run takes only the NEW batch's (doc_id, sig) rows, pairs them
    * against everything seen so far via the [[hammingPairs]] pigeonhole
    * banding (full recall at ≤ maxHamming), and appends them to the store.
    * Old↔old pairs are never re-emitted, so runs in arrival order ≡ one
    * batch run (spec-asserted). A multimodal corpus keeps one store per
    * modality — signatures from different extractors are not comparable,
    * which is exactly what `formatTag` guards.
    *
    * Store rows are 16 bytes/doc (doc_id, sig) regardless of payload size —
    * the image/audio bytes never enter the store; a run's cost is the new
    * batch's banding neighborhood, not corpus history.
    *
    * The store is a [[graft.etl.BatchStore]]; re-ingest of stored doc_ids
    * is anti-joined out (idempotent replay). The format marker is
    * `_format-<formatTag>`: callers name the signature scheme (e.g.
    * "dhash-8x8-v1", "audiofp-win31-v1") and a store written under any
    * other scheme fails loudly instead of silently scoring garbage —
    * the tokenizer-version guard generalized to arbitrary extractors.
    *
    * Output: (doc_a, doc_b, hamming) for new↔old and new↔new pairs at
    * Hamming ≤ maxHamming, canonicalized doc_a < doc_b.
    *
    * `replayDeterministic` trades the default exactly-once pair emission
    * (a re-ingested batch emits NOTHING — its docs anti-join away) for
    * replay DETERMINISM: the batch pairs against store-minus-batch plus
    * itself, so re-running the same batch recomputes the SAME pairs frame
    * whether or not the previous attempt's store append survived. The
    * append side stays anti-joined (never duplicates signatures) either
    * way. Streaming foreachBatch ingest REQUIRES this mode: a crash after
    * the store append but before the sink write would otherwise replay to
    * an EMPTY pairs frame, and the overwrite sink would destroy the pairs
    * forever (across distinct batches, pairs are still emitted once —
    * overlap only arises on replay, where the recomputed frame is
    * content-identical). Batch callers appending pairs downstream keep
    * the default. */
  def incrementalHammingPairs(
      newSigs: DataFrame,
      storePath: String,
      bits: Int,
      maxHamming: Int,
      formatTag: String,
      replayDeterministic: Boolean = false): DataFrame = {
    require(formatTag.nonEmpty && formatTag.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '.' || c == '_'),
      s"formatTag must be a plain file-name token, got '$formatTag'")
    val (widths, offsets) = chunkLayout(bits, maxHamming)
    val spark = newSigs.sparkSession
    graft.etl.BatchStore.open(spark, storePath, "signature store",
      s"_format-$formatTag", "signatures from a different extractor are " +
        "not comparable") { store =>
      val hasStore = store.hasBatches
      val rawNew0 = newSigs.select(col("doc_id"), col("sig"))
      // Under replayDeterministic the raw batch is consumed twice (pair
      // side + history anti-join) — materialize it once.
      val rawNew =
        if (replayDeterministic) rawNew0.localCheckpoint(true) else rawNew0
      val oldSigs = store.snapshot(rawNew.schema)
      // Idempotent re-ingest + lineage severed from the store path (eager
      // localCheckpoint) so the append below can't recompute this frame.
      val (newArr, nNewArr) = graft.etl.BatchStore.checkpointCounted(
        if (hasStore) rawNew.join(oldSigs.select("doc_id"), Seq("doc_id"), "left_anti")
        else rawNew)
      // Pair sides (see the scaladoc): default = new-only vs full store;
      // replayDeterministic = full batch vs store-minus-batch, so a
      // replayed batch recomputes its exact pairs instead of none.
      val sideNew = if (replayDeterministic) rawNew else newArr
      val sideOld =
        if (replayDeterministic && hasStore)
          oldSigs.join(rawNew.select("doc_id"), Seq("doc_id"), "left_anti")
        else oldSigs
      val newChunks = hammingChunks(sideNew, widths, offsets)
      val allChunks = hammingChunks(sideOld, widths, offsets)
        .unionByName(newChunks)
      // New-side × everything on (chunk, value): new↔new from both
      // orientations collapses under least/greatest + distinct; old↔old
      // never appears (left side is new-only). Both sides pin shuffle_hash
      // — Σ bucket² output cost, the hammingPairs AQE lesson.
      val pairs = newChunks
        .select(col("c"), col("v"), col("doc_id").as("doc_n"), col("sig").as("sig_n"))
        .hint("shuffle_hash")
        .join(allChunks
          .select(col("c"), col("v"), col("doc_id").as("doc_o"), col("sig").as("sig_o"))
          .hint("shuffle_hash"), Seq("c", "v"))
        .filter(col("doc_n") =!= col("doc_o"))
        .select(
          least(col("doc_n"), col("doc_o")).as("doc_a"),
          greatest(col("doc_n"), col("doc_o")).as("doc_b"),
          expr("bit_count(sig_n ^ sig_o)").cast("long").as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .distinct()
        // Eager checkpoint BEFORE the append: a merely-cached result would
        // recompute against the just-appended store and double-count.
        .localCheckpoint(true)
      store.publish(newArr, nNewArr)
      org.apache.spark.sql.graftbridge.DatasetBridge.unpersistCheckpoint(newArr)
      if (replayDeterministic)
        org.apache.spark.sql.graftbridge.DatasetBridge.unpersistCheckpoint(rawNew)
      pairs
    }
  }

  /** Incremental SEMANTIC (embedding-cosine) near-dup against a persisted
    * vector store — the growing-corpus pattern for the fifth pillar: each
    * run takes the NEW batch's (vec_id, embedding) rows, finds
    * cosine-≥ threshold pairs against everything seen so far via the
    * centered-hyperplane LSH in-bucket scorer
    * ([[Similarity.lshNeighborsCentered]] with old↔old suppressed), and
    * appends the new vectors. Old↔old pairs are never re-emitted, so
    * `runs in arrival order ≡ one flagged-batch run over the union under
    * the SAME center` (spec-asserted).
    *
    * The centering basis is PINNED at store creation: the first ingest
    * persists its quantized-integer sums (`_center`), and every later run
    * rebuilds the identical mean from them — re-deriving the center per
    * run would move bucket boundaries between arrivals and silently
    * change which pairs are candidates (the LSH analog of mutating a
    * trained quantizer in place; re-center by rebuilding the store, the
    * optimizeIndex convention). As the corpus drifts from the pinned
    * center, bucket balance degrades gracefully — recall within a bucket
    * is unaffected; rebuild when drift is material.
    *
    * The store is a [[graft.etl.BatchStore]] (the center is a sidecar
    * written before the first batch's rename; re-ingest is anti-joined);
    * marker `_format-semlsh-b<nBits>-v1` pins the bucket
    * width. Store rows are (vec_id, embedding) — raw vectors, needed for
    * exact cosine verification (dim·4 bytes/vec).
    *
    * Output: (vec_a, vec_b, cosine) for new↔old and new↔new pairs at
    * cosine ≥ threshold within shared buckets, canonicalized
    * vec_a < vec_b, cosine rounded to 7 dp. */
  def incrementalSemanticPairs(
      newEmb: DataFrame,
      storePath: String,
      threshold: Double = 0.3,
      nBits: Int = 8,
      replayDeterministic: Boolean = false): DataFrame = {
    val spark = newEmb.sparkSession
    graft.etl.BatchStore.open(spark, storePath, "vector store",
      s"_format-semlsh-b$nBits-v1", "bucket assignments at another width " +
        "are not comparable") { store =>
      val hasStore = store.hasBatches
      val rawNew0 = newEmb.select(col("vec_id"), col("embedding"))
      // replayDeterministic: shared contract with incrementalHammingPairs
      // (full batch vs store-minus-batch → a crash-replayed micro-batch
      // recomputes the SAME pairs under the already-pinned center).
      val rawNew =
        if (replayDeterministic) rawNew0.localCheckpoint(true) else rawNew0
      val oldVecs = store.snapshot(rawNew.schema)
      val (newVecs, nNewVecs) = graft.etl.BatchStore.checkpointCounted(
        if (hasStore) rawNew.join(oldVecs.select("vec_id").distinct(),
          Seq("vec_id"), "left_anti")
        else rawNew)
      // Pinned center: first ingest derives + persists it; later runs
      // REQUIRE it (a store with batches but no center is corrupt — a
      // silently re-derived center would move every bucket boundary).
      val (qsum, n) =
        if (!hasStore) {
          val s = Similarity.quantizedSums(newVecs)
          require(s._2 > 0, "incrementalSemanticPairs: empty first batch " +
            "cannot pin a centering basis")
          s
        } else {
          val txt = new String(store.readSidecar(CenterFile).getOrElse(
            throw new IllegalStateException(
              s"vector store at $storePath has batches but no $CenterFile — " +
                "the pinned basis is lost; rebuild the store")), "UTF-8")
          val lines = txt.trim.split('\n')
          (lines(1).split(',').map(_.trim.toLong).toSeq, lines(0).trim.toLong)
        }
      val meanDf = Similarity.meanDfFromQuantized(spark, qsum, n)
      val sideNew = if (replayDeterministic) rawNew else newVecs
      val sideOld =
        if (replayDeterministic && hasStore)
          oldVecs.join(rawNew.select("vec_id").distinct(),
            Seq("vec_id"), "left_anti")
        else oldVecs
      val flagged = sideOld.withColumn("is_new", lit(false))
        .unionByName(sideNew.withColumn("is_new", lit(true)))
      val pairs = Similarity
        .lshNeighborsCentered(flagged, meanDf, nBits, threshold)
        // Eager checkpoint BEFORE the append (see incrementalMinhashPairs).
        .localCheckpoint(true)
      // Center rides beforeRename (the marker-ordering rationale: a crash
      // in between leaves metadata with no visible batches — harmless;
      // the reverse strands a valid store unreadable).
      store.publish(newVecs, nNewVecs, () =>
        if (!hasStore)
          store.writeSidecar(CenterFile, s"$n\n${qsum.mkString(",")}\n".getBytes("UTF-8")))
      org.apache.spark.sql.graftbridge.DatasetBridge.unpersistCheckpoint(newVecs)
      if (replayDeterministic)
        org.apache.spark.sql.graftbridge.DatasetBridge.unpersistCheckpoint(rawNew)
      pairs
    }
  }

  /** Compaction for a persisted signature/anchor store — the
    * many-small-batches answer: every incremental run reads the WHOLE
    * store listing (one parquet footer + file-index entry per batch dir),
    * so a store built from thousands of small ingests (streaming
    * micro-batches especially) pays a per-run fixed cost linear in batch
    * COUNT even when row count is modest. Merges every batch into one
    * through [[graft.etl.BatchStore.compact]] (merge first, under the
    * same writer lease as ingest; scheme-agnostic, the format marker is
    * untouched). Returns (batches merged, rows in the compacted batch); a
    * store with ≤ 1 batch is a no-op. */
  def compactStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String): (Long, Long) =
    graft.etl.BatchStore.existing(spark, storePath, "signature store")(_.compact())
      .getOrElse((0L, 0L))

  /** Key erasure over a persisted signature store — the right-to-be-
    * forgotten obligation EXTENDS to derived signatures: deleting a
    * document's rows from the data lake ([[graft.etl.Erasure.eraseKeys]])
    * while its shingle sets / dHashes stay in a store means future ingests
    * still pair against the erased content. Works on any store layout this
    * file writes (minhash or Hamming batches) — only `keyCol` is touched,
    * the signature payload schema is opaque to the rewrite.
    *
    * Mechanics: [[graft.etl.BatchStore.erase]] under the same writer lease
    * as ingest (an erase racing an ingest would otherwise resurrect keys
    * from the ingest's pre-erase snapshot) — clean batches stay byte-
    * identical, hit batches are rewritten erase-first, and the key set is
    * size-adaptive ([[graft.etl.Erasure.LiteralKeyMax]]). Re-ingesting an
    * erased doc_id later is deliberately possible (the anti-join no longer
    * sees it): erasure forgets; it does not blocklist. `keyCol` names the
    * store's id column — `doc_id` for the minhash/Hamming/anchor/frame
    * stores, `vec_id` for the [[incrementalSemanticPairs]] vector store.
    * Returns the number of signature rows erased. */
  def eraseFromStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String, keys: DataFrame, keyCol: String = "doc_id"): Long =
    graft.etl.BatchStore.existing(spark, storePath, "signature store")(
      _.erase(keys, keyCol)).getOrElse(0L)

  /** Connected components over a near-dup pair list → the dedup decision a
    * training pipeline actually needs: every document labeled with its
    * cluster's canonical id (the minimum doc_id in its component), so "keep
    * one per cluster" is `filter(is_canonical = 1)`. Near-dup relations are
    * not transitive, so pairs alone under-merge: A~B and B~C must collapse
    * into one cluster even when A~C was never emitted.
    *
    * Algorithm: iterative min-label propagation — each step every node takes
    * the minimum label among itself and its neighbors; converges in
    * O(component diameter) rounds. Near-dup components are tiny, dense
    * clusters (bounded diameter), so this beats the O(log n) large-star/
    * small-star machinery in both rounds and constant factors here; on an
    * adversarial path-shaped graph you'd swap the loop body for star
    * contraction. Scale posture: each round is ONE shuffle join of the edge
    * list (2 longs per edge) against the label map (2 longs per node) — both
    * are near-dup-pair-sized, orders of magnitude smaller than the corpus;
    * the corpus itself is touched once, at the final left join.
    * `localCheckpoint` cuts the growing lineage so round N's plan does not
    * re-execute rounds 1..N−1. */
  def clusters(docs: DataFrame, pairs: DataFrame): DataFrame =
    clustersBounded(docs, pairs, Int.MaxValue).get

  /** [[clusters]] ∪ [[clustersLogStar]], adaptively: run the cheap
    * min-label propagation under a round BUDGET (shallow near-dup graphs
    * converge in 2-3 rounds at ~1/4 the per-round cost of a star round);
    * when a chain-shaped input blows the budget — propagation rounds
    * track component DIAMETER, measured 80 s for one 600-link chain —
    * escalate to the O(log n) star contraction. Labels are identical on
    * every input (both are component-min), so the only cost of a wrong
    * guess is the budgeted cheap rounds. The escalation hook
    * [[incrementalClusters]] serves every store-backed ingest through. */
  def clustersAdaptive(docs: DataFrame, pairs: DataFrame,
      cheapRounds: Int = 5): DataFrame =
    clustersBounded(docs, pairs, cheapRounds)
      .getOrElse(clustersLogStar(docs, pairs))

  /** Closure round-state materialization, conf-gated between the two
    * checkpoint flavors (r13, verdict #1/#6 of the first optimization
    * round): `localCheckpoint` blocks are executor-local and UNREPLICATED
    * — at 100 TB an executor loss kills the whole closure job instead of
    * recomputing ("lineage truncated" is exactly that exposure). With
    * `spark.graft.closure.reliableCheckpoint=true` (default off at gate
    * scale, where the extra file round-trip is pure overhead) every
    * closure round state goes through a RELIABLE `checkpoint()` into the
    * session's checkpoint dir instead — the caller must have called
    * `sparkContext.setCheckpointDir`. Both flavors yield a LogicalRDD, so
    * the bridge's partitioning restore and unpersist paths are unchanged
    * (PlanGuardSpec pins the reliable path restoring HashPartitioning). */
  private def cpDurable(df: DataFrame): DataFrame =
    if (df.sparkSession.conf
        .getOption("spark.graft.closure.reliableCheckpoint").contains("true"))
      df.checkpoint()
    else df.localCheckpoint()

  /** [[clusters]]' body under a round budget: Some(labels) when min-label
    * propagation converged within `maxRounds`, None (all round state
    * released) when it did not. */
  private def clustersBounded(docs: DataFrame, pairs: DataFrame,
      maxRounds: Int): Option[DataFrame] = {
    val bridge = org.apache.spark.sql.graftbridge.DatasetBridge
    // The edge list is materialized ONCE as a constraint-free LOCAL
    // CHECKPOINT, not a cache (r12 optimization): a cache keeps the full
    // pair-pipeline lineage in the logical plan, so every round's job
    // re-analyzes/re-optimizes the whole LSH/banding tree (driver-side
    // Catalyst cost per round, growing with pipeline complexity — m8
    // unions two banding pipelines; probed 3.55 → 2.08 s on m8's
    // closure). The edge count rides the materialization via observe()
    // (zero extra actions) and sizes the SECOND step below. The
    // constraint-strip is the d12/star convention — the frame is a union,
    // and downstream plans must not trip UnionBase.rewriteConstraints.
    val edgeObs = org.apache.spark.sql.Observation()
    val preCp = bridge.dropCheckpointConstraints(cpDurable(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .observe(edgeObs, count(lit(1)).as("n"))))
    val nEdges = edgeObs.get.get("n") match {
      case Some(v: Long) => v
      case _ => 0L
    }
    // Hash-partition the materialized edges by the per-round join key
    // ONCE (guide §2.4 "operations keyed the same way share one
    // exchange"): every round joins edges on dst, and a checkpoint that
    // carries HashPartitioning(dst) lets Catalyst skip the E-sized
    // exchange per round — only the V-sized label side moves per round.
    // Probed at 4M nodes / 3.5M path edges (7 rounds, labels too big to
    // broadcast): total shuffle 1856 → 1400 MB, stages 42 → 36, labels
    // bit-identical (CCScaleProbe). The partition count must be EXPLICIT
    // (AQE-coalesced repartitions report UnknownPartitioning through a
    // checkpoint — probed, the reuse was lost at 1945 MB) and is sized
    // from the observed edge count: ~128k edges per partition ramps tiny
    // gate graphs to ONE partition (no 32-empty-task rounds) and anything
    // ≥ cap·128k to the session's conf-parameterized shuffle partitions —
    // the cluster-sized knob, which binds at every real scale. (A
    // 64 MB-per-partition byte target starved CPU parallelism instead:
    // 4M-node rounds on 2 partitions of a 32-core host ran 2× slower —
    // the rounds are compute-bound joins, not scans.) The explicit
    // exchange's HashPartitioning(dst, n) survives into the checkpoint's
    // LogicalRDD (bridge-restored — AQE hides it) and every round reuses
    // it.
    val nParts = math.max(1L, math.min(
      (nEdges + 131071L) / 131072L,
      pairs.sparkSession.sessionState.conf.numShufflePartitions.toLong)).toInt
    val edgesCp = bridge.checkpointedWithHashPartitioning(
      cpDurable(preCp.repartition(nParts, col("dst"))), "dst")
    bridge.unpersistCheckpoint(preCp)
    // Round 1 fused into the init: label = min(self ∪ neighbors). For the
    // shallow near-dup graphs this operator serves (quads/cliques), that
    // init IS the fixpoint and the loop only confirms it — one fewer
    // shuffle round than the init-to-self form, identical labels (it's
    // exactly one propagation step, and min-label propagation is
    // monotone). groupBy(src) covers every node because edges carry both
    // directions.
    var labels = cpDurable(edgesCp
      .groupBy(col("src").as("doc_id"))
      .agg(min(col("dst")).as("nbr_min"))
      .select(col("doc_id"),
        least(col("doc_id"), col("nbr_min")).as("cluster_id")))
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      rounds += 1
      val nbrMin = edgesCp
        .join(labels.select(col("doc_id").as("dst"), col("cluster_id").as("nbr")), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("nbr")).as("nbr_min"))
      // Convergence check folded into the checkpoint job via observe():
      // the eager localCheckpoint materializes the plan, which fires the
      // CollectMetrics accumulator — no separate per-round isEmpty scan
      // (probed: observe + localCheckpoint(eager) delivers the metric).
      // An empty frame observes sum = NULL → 0 changes → converged.
      val obs = org.apache.spark.sql.Observation()
      val updated = cpDurable(labels
        .join(nbrMin, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id"))).as("cluster_id"),
          (col("nbr_min") < col("cluster_id")).as("chg"))
        .observe(obs, sum(when(col("chg"), 1L).otherwise(0L)).as("changes")))
      converged = obs.get.get("changes").forall(v => v == null || v == 0L)
      // The new checkpoint is materialized (localCheckpoint is eager), so
      // the previous round's labels RDD is dead weight — release it, or a
      // high-diameter graph accumulates one cached RDD per round.
      org.apache.spark.sql.graftbridge.DatasetBridge.unpersistCheckpoint(labels)
      labels = updated.drop("chg")
    }
    org.apache.spark.sql.graftbridge.DatasetBridge.unpersistCheckpoint(edgesCp)
    if (!converged) {
      // Budget blown (chain-shaped input): release the partial labels —
      // they are NOT component minima yet — and let the caller escalate.
      org.apache.spark.sql.graftbridge.DatasetBridge.unpersistCheckpoint(labels)
      None
    } else Some(docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", (col("cluster_id") === col("doc_id")).cast("long")))
  }

  /** LSH recall audit — the measure-don't-guess harness for the banding
    * knobs: joins the EXACT Jaccard pair relation ([[jaccardPairs]])
    * against what MinHash+LSH ([[minhashPairs]]) actually found, bucketed
    * by Jaccard decile, so the output is the empirical recall S-curve
    * (`1-(1-J^R)^(K/R)` made observable). Near-threshold buckets are
    * where bands miss; the planted high-J dups should read ~10000
    * permyriad. False positives cannot appear by construction —
    * [[minhashPairs]] exact-verifies its candidates — so the audit is
    * recall-only, and `n_found ≤ n_exact` per bucket is an invariant.
    *
    * The exact side is the O(shared-shingle²) baseline twin (the d2
    * convention): at corpus scale this operator runs on a bounded SAMPLE
    * of the corpus — recall is a property of the banding scheme and the
    * similarity distribution, not of corpus size, so a sample estimates
    * it; the bucket floor goes through `floor()` on the rounded jaccard
    * so both engines integralize identically (the x4/t14 cast rule).
    *
    * Output: (bucket = ⌊10·J⌋, n_exact, n_found, recall_permyriad). */
  def lshRecallEval(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.5, bandRows: Int = BandR): DataFrame = {
    val exact = jaccardPairs(docs, n, threshold)
    val found = minhashPairs(docs, n, threshold, bandRows)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("found"))
    exact
      .join(found, Seq("doc_a", "doc_b"), "left")
      .select(
        floor(col("jaccard") * 10).cast("long").as("bucket"),
        coalesce(col("found"), lit(0L)).as("found"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_exact"),
        sum(col("found")).as("n_found"))
      .select(col("bucket"), col("n_exact"), col("n_found"),
        expr("n_found * 10000 div n_exact").as("recall_permyriad"))
  }

  /** Incremental near-dup CLUSTER maintenance — the missing closure over
    * the incremental-pair stores: [[incrementalMinhashPairs]] /
    * [[incrementalHammingPairs]] / [[incrementalFrameRuns]] emit each
    * run's NEW pairs, but dedup decisions need LABELS, and recomputing
    * them needs every pair ever emitted. This operator instead persists
    * the label table itself and merges each new batch into it:
    *
    *  - history is re-entered as STAR EDGES (doc_id → cluster_id of the
    *    stored snapshot): a label snapshot is a star forest, so those
    *    |corpus| edges carry ALL historical connectivity — no stored
    *    pair list, no unbounded pair history;
    *  - the union (star edges ∪ new pairs) runs through
    *    [[clustersAdaptive]]: history is pre-flattened to depth 1 by the
    *    stars, so the cheap min-propagation usually converges within its
    *    round budget — but the NEW batch's pairs can chain arbitrarily
    *    (near-threshold dup chains A~B~C~…), and an ingest whose closure
    *    rounds track batch DIAMETER would stall on one pathological
    *    batch (measured 80 s for one 600-link chain vs ~5 s through the
    *    O(log n) star escalation; labels identical — both component-min,
    *    spec-asserted for d12);
    *  - labels are min-reachable-id, and min is associative over
    *    component unions, so `runs in arrival order ≡ one-shot
    *    clusters(all docs, all pairs)` holds EXACTLY (spec + m14 gate
    *    row, which replays the one-shot oracle) — including the case
    *    where a late pair merges two long-established clusters (both
    *    sides relabel to the joint minimum).
    *
    * Durability: the label table is a corpus-sized SNAPSHOT, not an
    * append log — each run publishes a new run-stamped `labels-NNNNNN`
    * dir via hidden `.staging-*` + atomic rename (the immutable-once-
    * written convention of the stored IVF-PQ index), then prunes older
    * snapshots (crash between publish and prune leaves extra dirs —
    * harmless, healed by the next run). Readers take the max-numbered
    * dir; read errors propagate; writers serialize through the `_lock`
    * lease; `_format-labels-v1` marks the layout. Re-ingest is
    * idempotent (doc-set union is distinct; duplicate edges are CC
    * no-ops). Rewriting the snapshot per run is the honest cost of a
    * complete membership table (16 bytes/doc — the compactStore cost
    * class), and what makes every run's output a self-contained answer.
    *
    * Input: `newDocs` = this batch's doc_ids (singletons included —
    * membership is part of the answer), `newPairs` = (doc_a, doc_b)
    * from any pair source over any modality (the m8 union-of-evidence
    * pattern composes upstream). Output: the FULL updated
    * (doc_id, cluster_id, is_canonical) table. */
  def incrementalClusters(
      newDocs: DataFrame,
      newPairs: DataFrame,
      storePath: String): DataFrame = {
    val spark = newDocs.sparkSession
    val dir = new org.apache.hadoop.fs.Path(storePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.etl.WriterLease.withLock(fs, dir, "label store") {
      val snapshots =
        if (fs.exists(dir))
          fs.listStatus(dir).map(_.getPath.getName)
            .filter(_.startsWith("labels-"))
            .sortBy(_.stripPrefix("labels-").toLong)
        else Array.empty[String]
      val marker = new org.apache.hadoop.fs.Path(dir, "_format-labels-v1")
      if (snapshots.nonEmpty && !fs.exists(marker))
        throw new IllegalStateException(
          s"label store at $storePath has snapshots but no " +
            "_format-labels-v1 marker; layout unknown — rebuild the store")
      val oldLabels =
        if (snapshots.nonEmpty)
          spark.read.parquet(s"$storePath/${snapshots.last}")
            .select(col("doc_id"), col("cluster_id"))
        else {
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("cluster_id",
              org.apache.spark.sql.types.LongType)))
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        }
      val allDocs = oldLabels.select(col("doc_id"))
        .unionByName(newDocs.select(col("doc_id"))).distinct()
      val starEdges = oldLabels.filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
      val merged = clustersAdaptive(allDocs,
        newPairs.select(col("doc_a"), col("doc_b")).unionByName(starEdges))
        // Sever lineage from the store path before republishing over it —
        // a lazy plan reading labels-N while writing labels-N+1 is fine,
        // but callers may hold the frame past the prune below.
        .localCheckpoint(true)
      publishLabelSnapshot(fs, dir, merged, snapshots)
      merged
    }
  }

  /** Staged-rename publish + prune for the label store's run-stamped
    * snapshot layout — shared by [[incrementalClusters]] and
    * [[eraseFromLabelStore]]. `labels` must already be materialized
    * (checkpointed) with lineage severed from the store path. A crash
    * between rename and prune leaves extra older snapshots — harmless
    * (readers take the max), healed by the next publish. */
  private def publishLabelSnapshot(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      labels: DataFrame,
      snapshots: Array[String]): Unit = {
    val marker = new org.apache.hadoop.fs.Path(dir, "_format-labels-v1")
    // `snapshots` is NUMERICALLY sorted by both callers — a lexicographic
    // sort breaks at rollover ("labels-1000000" < "labels-999999" as
    // strings), where a crash-leftover snapshot pair would make this
    // max+1 target an EXISTING dir and the publish rename would nest the
    // staging dir inside it, corrupting the snapshot every reader trusts.
    val seq = snapshots.lastOption
      .map(_.stripPrefix("labels-").toLong + 1).getOrElse(0L)
    val next = f"labels-$seq%06d"
    val staging = new org.apache.hadoop.fs.Path(dir, s".staging-$next")
    graft.etl.BatchStore.sized(labels.select(col("doc_id"), col("cluster_id")),
      labels.count()).write.mode("overwrite").parquet(staging.toString)
    if (!fs.exists(marker)) {
      val out = fs.create(marker, true)
      out.close()
    }
    if (!fs.rename(staging, new org.apache.hadoop.fs.Path(dir, next)))
      throw new IllegalStateException(
        s"failed to publish label snapshot $staging -> $next")
    snapshots.foreach { old =>
      if (!fs.delete(new org.apache.hadoop.fs.Path(dir, old), true))
        throw new IllegalStateException(
          s"failed to prune label snapshot $old under $dir")
    }
  }

  /** Right-to-be-forgotten for the LABEL store — the composition the
    * erasure obligation actually requires: removing a document's rows from
    * the data dirs and signature stores ([[graft.etl.Erasure.eraseKeysEverywhere]])
    * still leaves its doc_id in the label snapshot, BOTH as a member row
    * and — when it was its cluster's minimum — as the `cluster_id` VALUE
    * on every other member's row. This operator deletes the member rows
    * and relabels survivors to the new per-cluster minimum (one
    * map-side-combining aggregate + join over the snapshot — the same
    * cost class as the snapshot rewrite itself), so the erased id appears
    * in NEITHER column afterwards. Cluster membership among survivors is
    * unchanged: erasing a node never splits a component here, because the
    * snapshot records component identity, not the pair evidence.
    * Re-publish is the same staged-rename + prune path as ingest, under
    * the same lease. Returns the number of member rows erased. */
  def eraseFromLabelStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String, keys: DataFrame): Long = {
    val dir = new org.apache.hadoop.fs.Path(storePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0L
    // the size-adaptive key set every erase shares (Erasure.withKeySet)
    graft.etl.Erasure.withKeySet(keys, org.apache.spark.sql.types.LongType) { ks =>
      if (ks.isEmpty) 0L
      else graft.etl.WriterLease.withLock(fs, dir, "label store") {
        val snapshots = fs.listStatus(dir).map(_.getPath.getName)
          .filter(_.startsWith("labels-"))
          .sortBy(_.stripPrefix("labels-").toLong)
        if (snapshots.isEmpty) 0L
        else {
          val labels = spark.read.parquet(s"$storePath/${snapshots.last}")
            .select(col("doc_id"), col("cluster_id"))
          val survivors = ks.surviving(labels, "doc_id")
          val relabeled = survivors
            .join(
              survivors.groupBy(col("cluster_id"))
                .agg(min(col("doc_id")).as("__new_label")),
              Seq("cluster_id"))
            .select(col("doc_id"), col("__new_label").as("cluster_id"))
            .localCheckpoint(true)
          try {
            val erased = labels.count() - relabeled.count()
            if (erased > 0L) publishLabelSnapshot(fs, dir, relabeled, snapshots)
            erased
          } finally org.apache.spark.sql.graftbridge.DatasetBridge
            .unpersistCheckpoint(relabeled) // SCALING #38's cache-leak class
        }
      }
    }
  }

  /** Connected components via alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the O(log n)-round twin of [[clusters]]'s min-label propagation,
    * which needs O(diameter) rounds. Near-dup clusters are usually
    * shallow, so [[clusters]] is fine there; chain-shaped graphs (citation
    * trails, conversation threads, linked-page chains) have diameter
    * O(n), where label propagation at 100 TB means thousands of shuffle
    * rounds and this operator needs ~log₂ n.
    *
    *  - large-star: every node u points its LARGER neighbors at
    *    m(u) = min(N(u) ∪ u) — strictly decreases large-endpoint height.
    *  - small-star: u points its smaller-or-equal neighbors (and itself)
    *    at m(u) — flattens the remaining short chains into stars.
    * Both emit only (node, smaller-node) edges, so the edge set is
    * monotone toward the star forest; convergence = a round leaves the
    * edge SET unchanged. Each round shuffles the edge list twice (the
    * neighborhood min + the re-emit) — same per-round cost class as one
    * label-propagation round, exponentially fewer rounds on deep graphs.
    *
    * Output schema ≡ [[clusters]] (doc_id, cluster_id, is_canonical) and
    * the labels are identical: both converge to min-reachable-id.
    * `maxRounds` is a loud backstop (the round count is ~log₂ of the
    * largest component; 40 covers any component that fits in BIGINT ids). */
  def clustersLogStar(docs: DataFrame, pairs: DataFrame, maxRounds: Int = 40): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.DatasetBridge
    // r13 optimization (guide §2.4, the clustersBounded discipline extended
    // to the star rounds): round state is the SYMMETRIC edge set,
    // checkpointed with an explicit-count HashPartitioning(src, n) that the
    // bridge re-asserts through AQE. Each round's groupBy(src) AND
    // half ⋈ mins join then reuse the checkpoint's exchange — per star call
    // the only shuffle left is the one explicit repartition feeding the
    // distinct (CCScaleProbe star case: 834.6 → see OPTIMIZATION_r13.md MB,
    // 85 stages down, labels bit-identical).
    //
    // Equivalence to the directed formulation: star(e) only ever reads
    // bothDirs(e) and distincts its output, so each round is a function of
    // the symmetric edge SET — with E_n the directed rounds' edge sets and
    // S_n = sym(E_n) these rounds, S_{n+1} = sym-round(S_n) holds by
    // induction. Convergence on symmetric sets can fire at most one round
    // EARLIER than the directed check (sym(E_{n+1}) = sym(E_n) with
    // E_{n+1} ≠ E_n ⇒ the directed loop's next round reproduces E_{n+1}
    // exactly, since rounds depend only on the sym set) — and the labels
    // read bothDirs(final) in both forms, so they are identical.
    //
    // Every round snapshot stays a CONSTRAINT-FREE checkpoint (the bridge
    // helpers strip origin constraints/stats): star rounds are self-joins
    // over self-unions, and constraint-bearing checkpoints trip Catalyst's
    // UnionBase.rewriteConstraints ("key not found: src#N") —
    // incrementalClusters' first ingest was the reproducer.
    def symClose(dir: DataFrame, nParts: Int): DataFrame =
      dir.union(dir.select(col("dst").as("src"), col("src").as("dst")))
        // ONE explicit-count exchange; the distinct aggregate runs in place
        // (HashPartitioning(src) satisfies ClusteredDistribution(src, dst))
        // and preserves the layout the bridge re-asserts — the
        // checkpointedWithHashPartitioning soundness contract.
        .repartition(nParts, col("src"))
        .distinct()
    def cpPart(df: DataFrame): DataFrame =
      bridge.checkpointedWithHashPartitioning(cpDurable(df), "src")
    // star round over the symmetric neighborhood view: m(u) = min over
    // N(u) ∪ {u}; emit (v, m) for the selected half of each neighborhood.
    // Zero exchanges until the closing symClose: mins' groupBy and the
    // half ⋈ mins join both run on the checkpoint's src-partitioning (the
    // shuffle_hash pin keeps the planner off a sort-merge's per-round
    // partition sorts; the V-sized mins side is the build).
    def star(nbrs: DataFrame, large: Boolean, nParts: Int): DataFrame = {
      val mins = nbrs.groupBy(col("src")).agg(min(col("dst")).as("__mn"))
        .select(col("src"), least(col("__mn"), col("src")).as("m"))
      val half =
        if (large) nbrs.filter(col("dst") > col("src"))
        else nbrs.filter(col("dst") <= col("src"))
      val emitted = half.join(mins.hint("shuffle_hash"), Seq("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
      val self =
        if (large) emitted
        // small-star also links u itself to m(u), keeping u in its star
        else emitted.union(mins.select(col("src"), col("m").as("dst")))
      symClose(self.filter(col("src") =!= col("dst")), nParts)
    }
    // Init: materialize the raw symmetric union once (its count rides the
    // checkpoint via observe — zero extra actions) to size the explicit
    // partition count, then establish the partitioned distinct state.
    // ~128k edges/partition ramps gate graphs to ONE partition; the cap is
    // the session's conf-parameterized shuffle partitions (the cluster
    // knob) — the clustersBounded sizing rationale verbatim.
    val rawObs = org.apache.spark.sql.Observation()
    val dir0 = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .filter(col("src") =!= col("dst"))
    val pre = bridge.dropCheckpointConstraints(cpDurable(
      dir0.union(dir0.select(col("dst").as("src"), col("src").as("dst")))
        .observe(rawObs, count(lit(1)).as("n"))))
    val nRaw = rawObs.get.get("n") match {
      case Some(v: Long) => v
      case _ => 0L
    }
    val nParts = math.max(1L, math.min(
      (nRaw + 131071L) / 131072L,
      pairs.sparkSession.sessionState.conf.numShufflePartitions.toLong)).toInt
    val initObs = org.apache.spark.sql.Observation()
    var edges = cpPart(
      pre.repartition(nParts, col("src")).distinct()
        .observe(initObs, count(lit(1)).as("n")))
    var nPrev = initObs.get.get("n") match {
      case Some(v: Long) => v
      case _ => 0L
    }
    bridge.unpersistCheckpoint(pre)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      // The large-star result is materialized before the small star:
      // nesting the two lets one round's plan carry 4 correlated copies
      // of the input; the barrier keeps round plans input-independent.
      // Edge-sized, released below.
      val mid = cpPart(star(edges, large = true, nParts))
      val obsN = org.apache.spark.sql.Observation()
      val next = cpPart(
        star(mid, large = false, nParts).observe(obsN, count(lit(1)).as("n")))
      bridge.unpersistCheckpoint(mid)
      val nNext = obsN.get.get("n") match {
        case Some(v: Long) => v
        case _ => 0L
      }
      // Set equality on distinct sets = equal cardinality + empty one-sided
      // difference. The count rides the checkpoint (free), so rounds whose
      // edge counts differ pay NOTHING for the check (the exceptAll this
      // replaces re-shuffled ~4E rows every round); only count-tie rounds
      // (usually just the converged one) run the anti-join. Symmetric sets
      // are equal iff their canonical dst>src halves are, which halves the
      // join input; the (src, dst) keys still exchange both halves —
      // requireAllClusterKeysForCoPartition (default true) declines the
      // subset-key co-partitioning joins would need, unlike aggregates.
      converged = nNext == nPrev &&
        next.filter(col("dst") > col("src"))
          .join(edges.filter(col("dst") > col("src")).hint("shuffle_hash"),
            Seq("src", "dst"), "left_anti").isEmpty
      bridge.unpersistCheckpoint(edges)
      edges = next
      nPrev = nNext
      rounds += 1
    }
    require(converged, s"large/small-star did not converge in $maxRounds rounds")
    // Converged edge set is a star forest pointing at component minima;
    // it is already symmetric AND src-partitioned, so the label aggregate
    // runs in place.
    val labels = edges
      .groupBy(col("src").as("doc_id"))
      .agg(min(col("dst")).as("__mn"))
      .select(col("doc_id"), least(col("__mn"), col("doc_id")).as("cluster_id"))
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", (col("cluster_id") === col("doc_id")).cast("long"))
  }

  /** Cluster-representative selection — the "which copy do we keep?" policy
    * on top of [[clusters]]: within every near-dup cluster keep the
    * HIGHEST-QUALITY member (composite score of
    * [[TextAnalysis.qualityScores]]), not the arbitrary minimum id — the
    * policy real curation pipelines want, since the canonical-min-id copy may
    * be the boilerplate-ridden one. Ties break on the smaller doc_id, so the
    * choice is a total order and replays identically in the SQL oracle.
    *
    * Plan shape: the corpus-sized (doc_id, cluster_id, quality) frame
    * aggregates ONCE on cluster_id — the lexicographic max over
    * (quality, -doc_id) structs picks the argmax with map-side partial
    * aggregation, no per-cluster window sort and no second shuffle. */
  def clusterReps(docs: DataFrame): DataFrame =
    clusterReps(docs, minhashPairs(docs))

  /** [[clusterReps]] over a precomputed pair list — curation flows that
    * already ran [[minhashPairs]] (or any other pair source: SimHash,
    * embedding-cosine) should pass it in rather than paying the LSH
    * pipeline again. */
  def clusterReps(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val labeled = clusters(docs, pairs)
    val quality = TextAnalysis.qualityScores(docs).select(col("doc_id"), col("quality_score"))
    labeled.join(quality, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(col("quality_score").as("q"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(
        col("cluster_id"),
        (-col("best.neg_id")).as("rep_doc_id"),
        col("best.q").as("rep_quality"),
        col("n_members"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): embedding-cosine
    * near-dup pairs from the LSH-pruned scale path
    * ([[Similarity.lshNeighbors]]) resolved into connected components by
    * [[clusters]] — every vector labeled with its semantic cluster's
    * canonical id, so "keep one document per semantic cluster" is
    * `filter(is_canonical = 1)`. The pieces are the two 100 TB paths
    * composed: candidate generation never leaves LSH buckets, component
    * resolution shuffles only the pair-sized edge/label frames. */
  def semanticClusters(emb: DataFrame, threshold: Double = 0.3, nBits: Int = 8): DataFrame = {
    val pairs = Similarity.lshNeighbors(emb, nBits, threshold)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    clusters(emb.select(col("vec_id").as("doc_id")), pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id"), col("is_canonical"))
  }

  /** Embedding-cosine near-dup pairs (exact, all-pairs — the verification
    * path; [[Similarity.lshNeighbors]] is the LSH-pruned scale path). */
  def embeddingPairs(emb: DataFrame, threshold: Double = 0.45): DataFrame = {
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      VectorMath.norm2(col("embedding")).as("nrm"))
    val a = withNorm.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = withNorm.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cosine", VectorMath.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 7).as("cosine"))
  }
}
