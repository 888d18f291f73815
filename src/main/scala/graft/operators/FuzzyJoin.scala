package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Typo-tolerant string self-join (edit distance ≤ 1) by DELETION
  * NEIGHBORHOODS — the SymSpell decomposition: two strings within one
  * edit (substitution, insertion, or deletion) always share a common
  * member of their {self} ∪ {single-deletion variants} sets, so an
  * equi-join on variants has FULL recall at distance 1 — unlike LSH, no
  * probabilistic miss — and the O(n²) pair space collapses to
  * Σ per-variant-bucket². An exact `levenshtein` recheck on the
  * candidates removes the false positives (distinct strings sharing a
  * variant can be distance 2), so the neighborhood stage is
  * output-invisible — the sketch-then-verify pattern of
  * `bloomContamination` and `heavyHitters`.
  *
  * Scale shape: (len+1) variant rows per string (generated per-row with
  * a higher-order `transform` — no UDF), one hash-shuffle on the variant
  * string, candidate pairs are bucket-bounded, and the exact recheck
  * runs only on candidates. The verify join fetches each side's full
  * string by id — two narrow joins against the input, never an n² pair
  * frame of raw strings.
  *
  * Output: (name_a, name_b, dist) with name_a < name_b, dist ≤ 1
  * (0 = exact duplicates of distinct ids). */
object FuzzyJoin {

  def selfJoin(strs: DataFrame, idCol: String = "id", strCol: String = "s"): DataFrame = {
    val base = strs.select(col(idCol).as("__id"), col(strCol).as("__s"))
    // {self} ∪ single-deletion variants ([[variantArr]]).
    val variants = base.select(
      col("__id"), explode(variantArr(col("__s"))).as("__v"))
    // shuffle_hash pinned on both sides (CLAUDE.md bucket-join rule): the
    // variant frame is input-sized, so AQE would broadcast it and
    // serialize the Σ bucket² candidate explosion into the probe tasks.
    val cands = variants.as("a").hint("shuffle_hash")
      .join(variants.as("b").hint("shuffle_hash"),
        col("a.__v") === col("b.__v") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("__ida"), col("b.__id").as("__idb"))
      .distinct()
    cands
      .join(base.select(col("__id").as("__ida"), col("__s").as("name_a")), Seq("__ida"))
      .join(base.select(col("__id").as("__idb"), col("__s").as("name_b")), Seq("__idb"))
      // one O(len²) distance per candidate (filter + output read the column)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= 1)
      .select(
        least(col("name_a"), col("name_b")).as("name_a"),
        greatest(col("name_a"), col("name_b")).as("name_b"),
        col("dist"))
  }

  /** The {self} ∪ single-deletion-variant array for one string column —
    * the SymSpell neighborhood both the one-shot joins and the
    * incremental store pair on. Deduplicated per row (repeated characters
    * produce identical deletions). */
  private def variantArr(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_distinct(concat(
      array(s),
      transform(sequence(lit(1), length(s)),
        i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s))))))

  /** Deletion neighborhood to `depth` edits: depth 1 = [[variantArr]];
    * depth 2 applies it to every depth-1 member (closed under ≤, since
    * the self string is a member). Two strings within Levenshtein
    * distance d always share a depth-d member (delete each edited
    * position from its own side — the SymSpell guarantee), so the
    * equi-join keeps FULL recall at distance d. Size grows to
    * ~(len+1)²/2 distinct members at depth 2 — the price of the wider
    * radius; the exact `levenshtein` recheck stays output-invisible. */
  private def variantArrN(s: org.apache.spark.sql.Column,
      depth: Int): org.apache.spark.sql.Column = {
    require(depth == 1 || depth == 2,
      s"deletion-neighborhood depth must be 1 or 2, got $depth")
    if (depth == 1) variantArr(s)
    else array_distinct(flatten(transform(variantArr(s), v => variantArr(v))))
  }

  /** Incremental-store format marker token. d1 = distance-1 deletion
    * neighborhoods over the raw string (no normalization). Bump whenever
    * the neighborhood construction changes — stored variant sets from an
    * older scheme would silently miss cross-batch candidates. */
  val FuzzyStoreFormat = "_format-symspell-d1-v1"

  /** Incremental fuzzy-key pairing against a persisted NEIGHBORHOOD store —
    * the growing-corpus pattern ([[Dedup.incrementalMinhashPairs]]) applied
    * to entity resolution: each ingest computes the NEW batch's deletion
    * neighborhoods, equi-joins them against the stored history
    * neighborhoods plus its own (new↔old and new↔new — old↔old is
    * structurally absent because the probe side is new-only, never
    * re-paired and never post-filtered), exact-rechecks the candidates
    * with `levenshtein`, and appends (id, s, variants) to the store. Per-
    * ingest join cost is the new batch's neighborhood buckets, not the
    * corpus²: history is touched only as the hash-join build stream and
    * by two narrow id lookups, so ingest cost tracks batch size
    * (the `fuzzy_incr_*` rows of
    * `git show d600ca6:src/main/scala/graft/IncrementalProbe.scala`).
    *
    * The store is a [[graft.etl.BatchStore]]; re-ingest is anti-joined
    * to stay idempotent. Store rows are (doc_id, s, vs) — the string is
    * kept for the exact recheck of later batches' candidates;
    * ~(len+1)·len bytes per record.
    *
    * `replayDeterministic` follows [[Dedup.incrementalHammingPairs]]'s
    * contract: pair the FULL batch against store-minus-batch, so a
    * crash-replayed micro-batch recomputes the SAME pairs instead of an
    * empty frame (required by every streaming wrapper).
    *
    * Output: (id_a < id_b, dist ≤ 1) — [[selfJoinIds]]'s shape; the union
    * of per-batch outputs over any arrival order equals the one-shot
    * [[selfJoinIds]] over the union corpus (spec-asserted). */
  def incrementalPairs(
      newRecs: DataFrame,
      storePath: String,
      idCol: String = "id",
      strCol: String = "s",
      replayDeterministic: Boolean = false): DataFrame = {
    val spark = newRecs.sparkSession
    graft.etl.BatchStore.open(spark, storePath, "fuzzy neighborhood store",
      FuzzyStoreFormat, "variant sets from another neighborhood scheme " +
        "would silently miss cross-batch candidates") { store =>
      val hasStore = store.hasBatches
      val rawNew0 = newRecs.select(
        col(idCol).as("doc_id"), col(strCol).as("s"), variantArr(col(strCol)).as("vs"))
      // Under replayDeterministic the raw batch feeds the pair side AND two
      // anti-joins — materialize the neighborhood computation once.
      val rawNew =
        if (replayDeterministic) rawNew0.localCheckpoint(true) else rawNew0
      val oldArr = store.snapshot(rawNew.schema)
      // Idempotent re-ingest + lineage severed from the store path (eager
      // localCheckpoint) so the append below can't recompute this frame.
      val (newArr, newCount) = graft.etl.BatchStore.checkpointCounted(
        if (hasStore) rawNew.join(oldArr.select("doc_id"), Seq("doc_id"), "left_anti")
        else rawNew)
      val sideNew = if (replayDeterministic) rawNew else newArr
      val sideOld =
        if (replayDeterministic && hasStore)
          oldArr.join(rawNew.select("doc_id"), Seq("doc_id"), "left_anti")
        else oldArr
      def varsOf(arr: DataFrame) =
        arr.select(col("doc_id"), explode(col("vs")).as("__v"))
      val newVars = varsOf(sideNew)
      val allVars = varsOf(sideOld).unionByName(newVars)
      // New-side × everything on the variant key: new↔new appears from both
      // orientations and collapses under least/greatest + distinct; old↔old
      // never appears (the probe side is new-only). Both sides pin
      // shuffle_hash — the candidate cost is Σ per-variant bucket² OUTPUT,
      // which an input-sized broadcast would serialize (CLAUDE.md lesson).
      val cands = newVars.select(col("doc_id").as("doc_n"), col("__v"))
        .hint("shuffle_hash")
        .join(allVars.select(col("doc_id").as("doc_o"), col("__v"))
          .hint("shuffle_hash"), Seq("__v"))
        .filter(col("doc_n") =!= col("doc_o"))
        .select(
          least(col("doc_n"), col("doc_o")).as("__ida"),
          greatest(col("doc_n"), col("doc_o")).as("__idb"))
        .distinct()
      // Exact recheck: fetch each side's string by id — two narrow joins
      // against batch ∪ history, never an n² frame of raw strings. Eager
      // checkpoint BEFORE the append: a merely-cached result would
      // recompute against the just-appended store and double-count.
      val strings = sideNew.unionByName(sideOld).select(col("doc_id"), col("s"))
      val pairs = cands
        .join(strings.select(col("doc_id").as("__ida"), col("s").as("__sa")), Seq("__ida"))
        .join(strings.select(col("doc_id").as("__idb"), col("s").as("__sb")), Seq("__idb"))
        .withColumn("dist", levenshtein(col("__sa"), col("__sb")).cast("long"))
        .filter(col("dist") <= 1)
        .select(col("__ida").as("id_a"), col("__idb").as("id_b"), col("dist"))
        .localCheckpoint(true)
      store.publish(newArr, newCount)
      org.apache.spark.sql.graftbridge.DatasetBridge.unpersistCheckpoint(newArr)
      if (replayDeterministic)
        org.apache.spark.sql.graftbridge.DatasetBridge.unpersistCheckpoint(rawNew)
      pairs
    }
  }

  /** Cluster-SUFFICIENT fuzzy edge set — the hot-name-safe form of
    * [[selfJoinIds]] for entity resolution. selfJoinIds emits EVERY
    * matched id pair, which is C(D,2) rows for a name carried by D
    * records: quadratic in name POPULARITY, and popularity grows with
    * the corpus (a web-scale "john smith" is one variant bucket whose
    * Σ bucket² lands in one task and whose pair output alone is
    * billions of rows). But the ER consumer is a connected-components
    * closure ([[Dedup.clusters]]), and a closure only needs a SPANNING
    * subset of edges per similarity class:
    *
    *  - collapse identical strings to their min-id representative first
    *    (one exact hash group-by — D-independent star edges rep→member
    *    carry the membership);
    *  - run the deletion-neighborhood join over DISTINCT strings only,
    *    emitting rep-level edges.
    *
    * Closure over (star ∪ rep edges) equals closure over the full
    * selfJoinIds pair set — identical strings are connected through
    * their star, cross-string matches through their reps
    * (spec-asserted) — while variant bucket depth drops from record
    * popularity to DISTINCT-string neighborhood size (bounded by
    * alphabet × length, not by corpus). Output: (id_a < id_b) edges,
    * un-scored (pairs needing the dist column are verification-grade —
    * use [[selfJoinIds]] on a bounded slice). */
  def selfJoinEdges(strs: DataFrame, idCol: String = "id",
      strCol: String = "s", maxDist: Int = 1): DataFrame = {
    val base = strs.select(col(idCol).as("__id"), col(strCol).as("__s"))
    val reps = base.groupBy(col("__s")).agg(min(col("__id")).as("__rep"))
    // rep is the group min, so rep < member canonicalizes for free
    val star = base.join(reps, Seq("__s"))
      .filter(col("__id") =!= col("__rep"))
      .select(col("__rep").as("id_a"), col("__id").as("id_b"))
    val repPairs = selfJoinIds(
        reps.select(col("__rep").as("id"), col("__s").as("s")),
        maxDist = maxDist)
      .select(col("id_a"), col("id_b"))
    star.unionByName(repPairs)
  }

  /** Popularity-linear SCORED edges under Jaro-Winkler —
    * [[selfJoinEdges]]'s exact-dup collapse composed with
    * [[jaroRescoredPairs]]' scorer, for hot-name corpora where the full
    * rescored pair set is C(D,2)-quadratic in name popularity. Scores
    * depend only on the STRINGS, so identical records contribute
    * D-linear star edges at the metric's identity (jw = 1.0 ≥ any
    * threshold) and every cross-string pair's score equals its
    * rep-level edge's score — closure over (star ∪ rep edges) at a
    * threshold equals closure over the full rescored pair set at the
    * same threshold (spec-asserted, the [[selfJoinEdges]] argument
    * verbatim). Candidate bucket depth drops from record popularity to
    * DISTINCT-string neighborhood size. Output: (id_a < id_b, jw). */
  def jaroRescoredEdges(strs: DataFrame, idCol: String = "id",
      strCol: String = "s", threshold: Double = 0.94,
      maxDist: Int = 2): DataFrame = {
    val base = strs.select(col(idCol).as("__id"), col(strCol).as("__s"))
    val reps = base.groupBy(col("__s")).agg(min(col("__id")).as("__rep"))
    val star = base.join(reps, Seq("__s"))
      .filter(col("__id") =!= col("__rep"))
      .select(col("__rep").as("id_a"), col("__id").as("id_b"),
        lit(1.0d).as("jw"))
    star.unionByName(jaroRescoredPairs(
      reps.select(col("__rep").as("id"), col("__s").as("s")),
      threshold = threshold, maxDist = maxDist))
  }

  /** [[jaroRescoredEdges]]' Damerau-Levenshtein sibling: D-linear star
    * edges at the identity distance (0 — within any radius) plus
    * [[damerauPairs]] over DISTINCT strings. Closure-equal to the full
    * damerauPairs set at the same radius. Output: (id_a < id_b, dist). */
  def damerauEdges(strs: DataFrame, idCol: String = "id",
      strCol: String = "s", maxDist: Int = 2): DataFrame = {
    val base = strs.select(col(idCol).as("__id"), col(strCol).as("__s"))
    val reps = base.groupBy(col("__s")).agg(min(col("__id")).as("__rep"))
    val star = base.join(reps, Seq("__s"))
      .filter(col("__id") =!= col("__rep"))
      .select(col("__rep").as("id_a"), col("__id").as("id_b"),
        lit(0L).as("dist"))
    star.unionByName(damerauPairs(
      reps.select(col("__rep").as("id"), col("__s").as("s")),
      maxDist = maxDist))
  }

  /** Jaro-Winkler-RESCORED fuzzy pairs — the production record-linkage
    * composition: candidates from the exact deletion-neighborhood join
    * at lev ≤ `maxDist` (full recall within the radius), scored with the
    * prefix-weighted Jaro-Winkler similarity
    * ([[graft.functions.GraftColumns.jaroWinkler]] — DuckDB-conformant,
    * codegen), kept at jw ≥ `threshold`. The output relation is EXACTLY
    * {(a, b) : lev ≤ maxDist ∧ jw ≥ threshold} — the edit radius is part
    * of the contract (JW-similar pairs beyond it, e.g. long shared
    * prefixes with divergent tails, need a different candidate
    * generator); within it, the scorer re-ranks what edit distance
    * treats as equal (a leading-character typo scores well below a
    * trailing one at the same distance — the property linkage systems
    * rank on). Output: (id_a < id_b, jw rounded 7). */
  def jaroRescoredPairs(strs: DataFrame, idCol: String = "id",
      strCol: String = "s", threshold: Double = 0.94,
      maxDist: Int = 2): DataFrame = {
    import graft.functions.GraftColumns
    val base = strs.select(col(idCol).as("__id"), col(strCol).as("__s"))
    selfJoinIds(strs, idCol, strCol, maxDist)
      .join(base.select(col("__id").as("id_a"), col("__s").as("__sa")), Seq("id_a"))
      .join(base.select(col("__id").as("id_b"), col("__s").as("__sb")), Seq("id_b"))
      .withColumn("__jw", GraftColumns.jaroWinkler(col("__sa"), col("__sb")))
      .filter(col("__jw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__jw"), 7).as("jw"))
  }

  /** ID-level variant of [[selfJoin]]: the matched pairs as
    * (id_a < id_b, dist) rows — the edge list an entity-resolution
    * clustering ([[Dedup.clusters]]) consumes. Same neighborhood + exact
    * recheck machinery; only the projection differs. Emits EVERY matched
    * pair — C(D,2) rows for a name with D records; ER pipelines on
    * popularity-skewed corpora should feed [[selfJoinEdges]] to the
    * closure instead.
    *
    * `maxDist` widens the radius to Levenshtein ≤ 2 through depth-2
    * deletion neighborhoods ([[variantArrN]] — full recall holds at
    * every depth by the SymSpell property; the exact recheck keeps the
    * wider candidate set output-invisible). Cost is the neighborhood
    * size, ~(len+1)²/2 variant rows per string at depth 2 — quadratic in
    * string length, which is why d ≤ 2 is where deletion-neighborhood
    * ER conventionally stops. */
  def selfJoinIds(strs: DataFrame, idCol: String = "id", strCol: String = "s",
      maxDist: Int = 1): DataFrame =
    neighborhoodPairs(strs, idCol, strCol, maxDist,
      (a, b) => levenshtein(a, b).cast("long"))

  /** [[selfJoinIds]] under TRUE Damerau-Levenshtein (adjacent
    * transpositions cost 1 — 'marhta' is one edit from 'martha', where
    * plain Levenshtein charges 2): the same depth-`maxDist` deletion
    * neighborhoods keep full recall (every Damerau op — substitution,
    * insertion, deletion, transposition — is neutralized by at most one
    * deletion on EACH side, so distance-d strings share a depth-d
    * variant), and the exact recheck is the DuckDB-conformant
    * [[graft.functions.GraftColumns.damerauLevenshtein]] codegen
    * expression. Output: (id_a < id_b, dist ≤ maxDist). */
  def damerauPairs(strs: DataFrame, idCol: String = "id", strCol: String = "s",
      maxDist: Int = 2): DataFrame =
    neighborhoodPairs(strs, idCol, strCol, maxDist,
      (a, b) => graft.functions.GraftColumns.damerauLevenshtein(a, b))

  /** The shared deletion-neighborhood candidate machinery: depth-`maxDist`
    * variant equi-join (shuffle_hash pinned — Σ bucket² output cost),
    * exact `dist` recheck with the caller's metric, canonical
    * (id_a < id_b) projection. */
  private def neighborhoodPairs(strs: DataFrame, idCol: String, strCol: String,
      maxDist: Int,
      dist: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column): DataFrame = {
    val base = strs.select(col(idCol).as("__id"), col(strCol).as("__s"))
    candidateIdPairs(base, maxDist)
      .join(base.select(col("__id").as("__ida"), col("__s").as("__sa")), Seq("__ida"))
      .join(base.select(col("__id").as("__idb"), col("__s").as("__sb")), Seq("__idb"))
      .withColumn("dist", dist(col("__sa"), col("__sb")))
      .filter(col("dist") <= maxDist)
      .select(col("__ida").as("id_a"), col("__idb").as("id_b"), col("dist"))
  }

  /** The blocked candidate pair ids (pre-recheck): distinct
    * variant-equi-join pairs over depth-`maxDist` deletion neighborhoods,
    * shuffle_hash pinned (Σ bucket² output — CLAUDE.md bucket-join rule).
    * `base` must carry (__id, __s). */
  private def candidateIdPairs(base: DataFrame, maxDist: Int): DataFrame = {
    val variants = base.select(
      col("__id"), explode(variantArrN(col("__s"), maxDist)).as("__v"))
    variants.as("a").hint("shuffle_hash")
      .join(variants.as("b").hint("shuffle_hash"),
        col("a.__v") === col("b.__v") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("__ida"), col("b.__id").as("__idb"))
      .distinct()
  }

  /** Blocking-quality audit — the ER analog of d14's LSH recall eval:
    * MEASURE the blocker's two claims on a verification-grade slice
    * instead of trusting the theorem. Pair completeness (recall of the
    * blocked-then-rechecked pairs vs brute-force truth — the SymSpell
    * guarantee says 10000 bp, and this row makes that an empirical,
    * hash-checked statement) and reduction ratio (how much of the C(n,2)
    * pair space the blocker never materializes — the entire point of
    * blocking). The brute-force truth join is O(n²) BY DESIGN — callers
    * cap the slice at a fixed ABSOLUTE size (er1's convention) so the
    * audit's cost is SF-invariant; the blocker itself runs uncapped in
    * production paths. One row: (n_records, n_possible, n_cand,
    * n_verified, n_truth, recall_bp, reduction_bp) — all BIGINT. */
  def blockingAudit(strs: DataFrame, idCol: String = "id",
      strCol: String = "s", maxDist: Int = 1): DataFrame = {
    val base = strs.select(col(idCol).as("__id"), col(strCol).as("__s"))
    val cands = candidateIdPairs(base, maxDist)
    val nCand = cands.groupBy().agg(count(lit(1)).as("n_cand"))
    val nVerified = cands
      .join(base.select(col("__id").as("__ida"), col("__s").as("__sa")), Seq("__ida"))
      .join(base.select(col("__id").as("__idb"), col("__s").as("__sb")), Seq("__idb"))
      .filter(levenshtein(col("__sa"), col("__sb")) <= maxDist)
      .groupBy().agg(count(lit(1)).as("n_verified"))
    val nTruth = base.as("a")
      .join(base.as("b"), col("a.__id") < col("b.__id"))
      .filter(levenshtein(col("a.__s"), col("b.__s")) <= maxDist)
      .groupBy().agg(count(lit(1)).as("n_truth"))
    val nRec = base.groupBy().agg(count(lit(1)).as("n_records"))
    broadcast(nRec).crossJoin(broadcast(nCand))
      .crossJoin(broadcast(nVerified)).crossJoin(broadcast(nTruth))
      .withColumn("n_possible", expr("n_records * (n_records - 1L) div 2L"))
      .select(col("n_records"), col("n_possible"), col("n_cand"),
        col("n_verified"), col("n_truth"),
        expr("CASE WHEN n_truth = 0L THEN 10000L " +
          "ELSE n_verified * 10000L div n_truth END").as("recall_bp"),
        expr("10000L - n_cand * 10000L div n_possible").as("reduction_bp"))
  }
}
