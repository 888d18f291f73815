package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextHash

/** Corpus-curation operators for a pretraining pipeline: benchmark
  * decontamination, deterministic train/val/test splits, and stratified
  * sampling. Everything is keyed by the engine-portable
  * [[TextHash.polyHash]] so the DuckDB oracle replays identical decisions —
  * reproducibility of WHICH documents landed in a split/sample is itself a
  * pipeline requirement (re-running the job must not reshuffle the split).
  */
object Curation {

  /** Benchmark decontamination: for every training document, the number of
    * distinct word n-grams it shares with an evaluation set. Training docs
    * overlapping an eval benchmark leak test answers into pretraining, so
    * real pipelines drop or scrub every doc with n_overlap > 0 (the
    * WebText/GPT-2 13-gram rule, scaled to this fixture's short docs).
    *
    * Scale posture: grams are the 60-bit hashes of [[Dedup.shingleHashes]]
    * (8-byte keys, never raw text). The eval side collapses to DISTINCT
    * hashes — benchmark suites are tiny relative to the corpus, so it
    * broadcasts and the corpus-sized side never shuffles; with a
    * corpus-scale eval set, drop the hint and the same plan becomes a
    * shuffle join on uniform hashes. Output keeps n_overlap = 0 rows: the
    * contract is a per-document contamination score, not just the flagged
    * subset. */
  def contamination(docs: DataFrame, isEval: Column, n: Int = 5): DataFrame = {
    // Two filtered scans, not one scan + a corpus self-join to attach the
    // eval flag: the predicate pushes into both reads and the corpus-sized
    // side stays a single pass. Per-document gram sets come from the
    // per-row [[graft.functions.ShingleHashesExpr]] (already distinct
    // within a doc), so the train side never pays a corpus-wide DISTINCT
    // shuffle; the only cross-doc distinct is the tiny eval side.
    val train = docs.filter(!isEval)
    val evalGrams = docs.filter(isEval)
      .select(explode(graft.functions.GraftColumns.shingleHashes(col("text"), n)).as("h"))
      .distinct()
    val hits = train
      .select(col("doc_id"),
        explode(graft.functions.GraftColumns.shingleHashes(col("text"), n)).as("h"))
      .join(broadcast(evalGrams), Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
    train.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
  }

  /** Semantic decontamination — the embedding-space sibling of
    * [[contamination]] (the screen Phi/FineWeb-style pipelines run beside
    * exact n-gram overlap: a paraphrased benchmark question shares no
    * 5-gram but sits next to the eval item in embedding space). Every
    * training vector is scored against EVERY eval vector with the exact
    * left-to-right cosine ([[graft.functions.VectorMath]] — the engine-
    * portable fold); matches at or above `threshold` aggregate to one row
    * per contaminated training vector: match count plus the best-matching
    * eval item under the (cosine DESC, eval_id ASC) total order, picked by
    * one lexicographic struct-max (no per-vector window sort).
    *
    * Scale posture: benchmark suites are tiny relative to the corpus, so
    * the eval side BROADCASTS and the corpus side is one shuffle-free
    * pass — exact screening (no LSH recall loss where a miss means a
    * leaked eval item) at |corpus|·|eval| dot products, embarrassingly
    * parallel. If the eval side ever outgrows a broadcast, bucket both
    * sides with [[Similarity.lshNeighbors]]'s hyperplanes and probe
    * matching buckets — recall becomes explicit at that point. */
  def semanticContamination(emb: DataFrame, isEval: Column,
      threshold: Double = 0.3): DataFrame = {
    import graft.functions.VectorMath
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      VectorMath.norm2(col("embedding")).as("nrm"), isEval.as("__is_eval"))
    val evalSide = withNorm.filter(col("__is_eval"))
      .select(col("vec_id").as("eval_id"), col("embedding").as("ee"),
        col("nrm").as("ne"))
    val trainSide = withNorm.filter(!col("__is_eval"))
      .select(col("vec_id"), col("embedding").as("et"), col("nrm").as("nt"))
    trainSide.crossJoin(broadcast(evalSide))
      .withColumn("cosine",
        VectorMath.dot(col("et"), col("ee")) / (col("nt") * col("ne")))
      .filter(col("cosine") >= threshold)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_matches"),
        max(struct(col("cosine"), (-col("eval_id")).as("neg_id"))).as("best"))
      .select(col("vec_id"), col("n_matches"),
        (-col("best.neg_id")).as("best_eval_id"),
        round(col("best.cosine"), 7).as("best_cosine"))
  }

  /** [[contamination]] with a Bloom-filter prefilter — the 100 TB shape of
    * benchmark decontamination. The exact path must eventually join every
    * corpus-side gram against the eval-gram set; this variant first folds
    * the eval grams into ONE compact Bloom sketch (a distributed
    * `BloomFilterAggregate`, partials merged bitwise-OR — 1 MB at the
    * default sizing, vs an exact distinct-hash frame that grows with the
    * benchmark suite), ships the sketch to every task as a literal, and
    * drops the corpus grams that cannot match BEFORE any join. Only the
    * surviving sliver pays the exact semi-join that removes Bloom false
    * positives — so the output is EXACTLY the exact computation's flagged
    * set (Bloom has no false negatives), and the sketch stage is
    * output-invisible the same way q24's salt is. Output: contaminated
    * docs only, (doc_id, n_overlap ≥ 1).
    *
    * Driver cost: one `head()` of the 1-row sketch. The sketch size is fixed
    * at build time (`numBits`), not data-dependent; for a real 10⁸-gram
    * benchmark suite ~8 bits/gram ≈ 100 MB still ships task-side, where an
    * exact set would not. */
  def bloomContamination(docs: DataFrame, isEval: Column, n: Int = 5,
      estimatedGrams: Long = 1L << 20, numBits: Long = 1L << 23): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    val train = docs.filter(!isEval)
    val evalGrams = docs.filter(isEval)
      .select(explode(graft.functions.GraftColumns.shingleHashes(col("text"), n)).as("h"))
      .distinct()
      .cache() // two consumers: the sketch build and the exact verify join
    val sketch = evalGrams.agg(ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(col("h")),
        ColumnBridge.expression(lit(estimatedGrams)),
        ColumnBridge.expression(lit(numBits))).toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    val trainGrams = train.select(col("doc_id"),
      explode(graft.functions.GraftColumns.shingleHashes(col("text"), n)).as("h"))
    val maybe =
      if (sketch == null) trainGrams.limit(0) // empty eval set → nothing matches
      else trainGrams.filter(ColumnBridge.column(
        new BloomFilterMightContain(
          Literal.create(sketch, BinaryType),
          ColumnBridge.expression(col("h")))))
    // Exact recheck: kills false positives; no broadcast hint — AQE picks
    // (the eval side is benchmark-sized here but candidate-derived frames
    // must never be force-broadcast).
    // The gram cache is NOT unpersisted here: the returned plan still
    // reads it lazily (an in-function unpersist would defeat the cache,
    // and an eager checkpoint would hide the plan shape PlanGuardSpec
    // pins). The leak is bounded — one benchmark-suite-sized gram frame
    // per invocation, evicted LRU — and acceptable for an operator whose
    // sketch build already runs a driver action (review finding: noted).
    maybe
      .join(evalGrams, Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Build a PERSISTENT decontamination store from an eval/benchmark set:
    * the distinct n-gram hashes as parquet (the exact registry) plus a
    * serialized Bloom sketch over them (the prefilter) and a format
    * marker. Once written, every future training batch is screened
    * against the STORE — the benchmark corpora themselves never need to
    * be re-scanned, re-shipped, or even retained; new benchmarks append
    * a new store version. The same store/accelerator split as the
    * incremental MinHash signature store: the sketch only prunes, the
    * parquet grams make the output exact. */
  def writeDecontamStore(evalDocs: DataFrame, storeDir: String, n: Int = 5,
      estimatedGrams: Long = 1L << 20, numBits: Long = 1L << 23): Unit = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val grams = evalDocs
      .select(explode(graft.functions.GraftColumns.shingleHashes(col("text"), n)).as("h"))
      .distinct()
      .cache()
    grams.write.mode("overwrite").parquet(s"$storeDir/grams")
    val sketch = grams.agg(ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(col("h")),
        ColumnBridge.expression(lit(estimatedGrams)),
        ColumnBridge.expression(lit(numBits))).toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    grams.unpersist()
    // empty eval set → no sketch row; store an empty marker file instead
    val bfPath = java.nio.file.Paths.get(storeDir, "bloom.bin")
    java.nio.file.Files.write(bfPath,
      if (sketch == null) Array.empty[Byte] else sketch)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(storeDir, s"_format-ngram$n"), Array.empty[Byte])
  }

  /** Screen a training batch against a [[writeDecontamStore]] store:
    * per-doc distinct-shared-n-gram counts, identical output to
    * [[contamination]] on the original eval docs (the Bloom prefilter is
    * output-invisible — exact semi-join recheck on the stored grams).
    * Fails loudly on an n-gram order mismatch: grams hashed with a
    * different n would silently match nothing. */
  def decontamAgainstStore(train: DataFrame, storeDir: String, n: Int = 5): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    require(java.nio.file.Files.exists(
      java.nio.file.Paths.get(storeDir, s"_format-ngram$n")),
      s"decontam store at $storeDir was not built with n=$n grams " +
        "(missing _format marker) — rebuild with writeDecontamStore")
    val spark = train.sparkSession
    val sketch = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(storeDir, "bloom.bin"))
    val grams = spark.read.parquet(s"$storeDir/grams")
    val trainGrams = train.select(col("doc_id"),
      explode(graft.functions.GraftColumns.shingleHashes(col("text"), n)).as("h"))
    val maybe =
      if (sketch.isEmpty) trainGrams.limit(0) // empty store → no overlap
      else trainGrams.filter(ColumnBridge.column(
        new BloomFilterMightContain(
          Literal.create(sketch, BinaryType),
          ColumnBridge.expression(col("h")))))
    maybe
      .join(grams, Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** [[ngramNovelty]] against a PERSISTED gram store
    * ([[writeDecontamStore]]'s layout verbatim — grams registry + Bloom
    * sketch + format marker): the incremental-crawl shape, where the
    * reference corpus was ingested once and every new batch is scored
    * without re-scanning it. The Bloom prefilter splits each document's
    * grams into definitely-novel (sketch miss — no false negatives) and
    * maybe-seen; only the maybe slice pays the exact registry join, so
    * the store sketch is output-invisible and the result equals
    * [[ngramNovelty]] on the original reference docs bit-for-bit.
    * Output: (doc_id, n_grams, n_novel, novelty_bp). */
  def noveltyAgainstStore(train: DataFrame, storeDir: String,
      n: Int = 5): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    require(java.nio.file.Files.exists(
      java.nio.file.Paths.get(storeDir, s"_format-ngram$n")),
      s"gram store at $storeDir was not built with n=$n grams " +
        "(missing _format marker) — rebuild with writeDecontamStore")
    val spark = train.sparkSession
    val sketch = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(storeDir, "bloom.bin"))
    val grams = spark.read.parquet(s"$storeDir/grams")
    // cache: TWO consumers read the exploded gram stream (the totals
    // aggregate and the Bloom→registry branch) — without it the batch is
    // tokenized and poly-hashed twice (review finding; the
    // bloomContamination bounded-leak convention, batch-gram-sized)
    val docGrams = train.select(col("doc_id"), explode(
      graft.functions.GraftColumns.shingleHashes(col("text"), n)).as("h"))
      .cache()
    val totals = docGrams.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    val maybe =
      if (sketch.isEmpty) docGrams.limit(0) // empty store → all novel
      else docGrams.filter(ColumnBridge.column(
        new BloomFilterMightContain(
          Literal.create(sketch, BinaryType),
          ColumnBridge.expression(col("h")))))
    val seen = maybe.join(grams, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("__n_seen"))
    totals.join(seen, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        (col("n_grams") - coalesce(col("__n_seen"), lit(0L))).as("n_novel"))
      .withColumn("novelty_bp", expr("n_novel * 10000L div n_grams"))
  }

  /** Marker for the INCREMENTAL gram store: pins the n-gram order AND the
    * Bloom creation parameters (merge requires identical bit width and
    * hash count — both derive from these), so an incompatible ingest fails
    * loudly instead of silently corrupting the sketch. */
  private def incrMarkerName(n: Int, estimatedGrams: Long, numBits: Long) =
    s"_format-ngram$n-e$estimatedGrams-b$numBits-incr-v1"

  /** Score a crawl batch's novelty against the INCREMENTAL gram store and
    * fold its new grams in — [[noveltyAgainstStore]]'s write-once store
    * given the signature-store lifecycle (the t42 gap): the store is a
    * [[graft.etl.BatchStore]] (lease, staged publish, crash recovery,
    * format marker pinning the n-gram order and Bloom parameters),
    * re-ingest is content-anti-joined (idempotent). The reference corpus
    * GROWS per accepted crawl; per-crawl cost tracks the BATCH (its grams
    * are Bloom-prefiltered against the root sketch, and the exact
    * registry join touches only the maybe-slice).
    *
    * Store rows are (h, src_id = the min contributing doc id): a gram is
    * stored ONCE, by its first batch, which is what makes
    * `replayDeterministic` exact — a crash-replayed batch excludes store
    * rows whose src_id is one of its own docs and recovers the ORIGINAL
    * reference set bit-for-bit (the incrementalMinhashPairs
    * full-batch-vs-store-minus-batch contract, one level down). The
    * default new-only mode scores against the snapshot as-is.
    *
    * Bloom maintenance is crash-ordered for correctness, not freshness:
    * the merged sketch is a sidecar swapped in BEFORE the batch rename
    * (over-coverage is harmless — the exact join decides; under-coverage
    * would be silent false negatives). A missing sketch degrades to
    * exact-join-everything, never to wrong output, and the next publish
    * rebuilds it over the whole store, not over its own batch alone.
    *
    * Output (localCheckpointed BEFORE the append — the store write would
    * invalidate path-dependent caches): (doc_id, n_grams, n_novel,
    * novelty_bp) for batch docs with ≥ 1 gram, identical to
    * [[ngramNovelty]] with the store's prior content as reference
    * (spec-asserted).
    *
    * `replayDeterministic = true` assumes doc_ids are unique across the
    * store's LIFETIME: the crash-replay exclusion anti-joins store rows
    * by src_id alone (rows carry no batch provenance), so a re-used
    * doc_id in a later batch would silently remove an earlier batch's
    * contribution from the reference and its grams would score novel
    * again. Callers feeding re-crawls must mint fresh doc_ids
    * (see [[graft.streaming.StreamingStoreIngest.runNovelty]]). */
  def noveltyIngest(batch: DataFrame, storeDir: String, n: Int = 5,
      estimatedGrams: Long = 1L << 20, numBits: Long = 1L << 23,
      replayDeterministic: Boolean = false): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types._
    val spark = batch.sparkSession
    graft.etl.BatchStore.open(spark, storeDir, GramStore,
      incrMarkerName(n, estimatedGrams, numBits), "grams hashed with other " +
        "n-gram/Bloom parameters would silently match nothing") { store =>
      val docGrams = batch.select(col("doc_id"), explode(
          graft.functions.GraftColumns.shingleHashes(col("text"), n)).as("h"))
        .localCheckpoint(true) // 3 consumers + must survive the append
      val storeGrams = store.snapshot(StructType(Seq(
        StructField("h", LongType), StructField("src_id", StringType))))
      val reference =
        if (!replayDeterministic) storeGrams
        else storeGrams.join(
          batch.select(col("doc_id").cast("string").as("src_id")).distinct(),
          Seq("src_id"), "left_anti")
      // ABSENT sketch = no prefilter (exact join over everything — slower,
      // never wrong); contrast writeDecontamStore, where empty means an
      // empty store.
      val sketch = store.readSidecar(BloomFile)
      val maybe = sketch.fold(docGrams)(bytes => docGrams.filter(ColumnBridge.column(
        new BloomFilterMightContain(
          Literal.create(bytes, BinaryType),
          ColumnBridge.expression(col("h"))))))
      val seen = maybe.join(reference.select(col("h")), Seq("h"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("__n_seen"))
      val scores = docGrams.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"))
        .join(seen, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          (col("n_grams") - coalesce(col("__n_seen"), lit(0L))).as("n_novel"))
        .withColumn("novelty_bp", expr("n_novel * 10000L div n_grams"))
        .localCheckpoint(true)
      // fold in: new grams only (anti-join vs the FULL snapshot — a
      // re-ingested batch adds nothing, the idempotence contract)
      val (newGrams, nNew) = graft.etl.BatchStore.checkpointCounted(docGrams
        .groupBy(col("h"))
        .agg(min(col("doc_id").cast("string")).as("src_id"))
        .join(storeGrams.select(col("h")), Seq("h"), "left_anti"))
      // merged sketch BEFORE the batch rename (see scaladoc); a store that
      // lost its sketch gets one over all of its grams
      store.publish(newGrams, nNew, () => store.writeSidecar(BloomFile,
        (sketch, store.hasBatches) match {
          case (Some(old), _) =>
            val merged = org.apache.spark.util.sketch.BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(old))
            merged.mergeInPlace(org.apache.spark.util.sketch.BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(bloomOf(newGrams, estimatedGrams, numBits))))
            val bos = new java.io.ByteArrayOutputStream()
            merged.writeTo(bos)
            bos.toByteArray
          case (None, true) =>
            bloomOf(storeGrams.select(col("h")).union(newGrams.select(col("h"))),
              estimatedGrams, numBits)
          case (None, false) => bloomOf(newGrams, estimatedGrams, numBits)
        }))
      org.apache.spark.sql.graftbridge.DatasetBridge.unpersistCheckpoint(docGrams)
      org.apache.spark.sql.graftbridge.DatasetBridge.unpersistCheckpoint(newGrams)
      scores
    }
  }

  private val GramStore = "novelty gram store"
  /** The gram store's Bloom sketch over every stored `h`. '_'-prefixed so
    * the recursiveFileLookup parquet read of the batches never parses it. */
  private val BloomFile = "_bloom.bin"

  /** The serialized Bloom filter of `grams`' `h` column. */
  private def bloomOf(grams: DataFrame, estimatedGrams: Long, numBits: Long): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    grams.agg(ColumnBridge.column(new BloomFilterAggregate(
        ColumnBridge.expression(col("h")),
        ColumnBridge.expression(lit(estimatedGrams)),
        ColumnBridge.expression(lit(numBits))).toAggregateExpression())
      .as("bf")).head().getAs[Array[Byte]](0)
  }

  /** Right-to-be-forgotten over the INCREMENTAL gram store — the erasure
    * obligation extends to derived n-gram hashes exactly as it does to
    * MinHash signatures ([[graft.operators.Dedup.eraseFromStore]]): both
    * go through [[graft.etl.BatchStore.erase]] (erase-first, clean
    * batches byte-identical, size-adaptive key set). Deleting a document
    * from the lake while its gram hashes stay in the store means future
    * crawls are still scored against erased content. Erasure is
    * CONSERVATIVE by construction: a gram is stored once under its FIRST
    * contributor's src_id, so dropping rows with src_id ∈ keys may also
    * forget grams that retained documents share — those score "novel"
    * again on their next sighting (a score shift, never retained
    * erased-derived data).
    *
    * The root `_bloom.bin` accelerator is REBUILT from the survivors
    * whenever keys were offered (not only when rows died — so an
    * interrupted erase completes on re-run): erased hashes must not
    * survive in the sketch either. Bloom creation parameters are
    * recovered from the format marker's name; a store erased empty drops
    * marker and sketch with its last batch. Returns gram rows erased. */
  def eraseFromGramStore(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, keys: DataFrame): Long =
    graft.etl.BatchStore.existing(spark, storeDir, GramStore) { store =>
      if (!store.hasBatches) 0L
      else {
        val markerRe = "_format-ngram(\\d+)-e(\\d+)-b(\\d+)-incr-v1".r
        val markers = store.markers.collect { case m @ markerRe(_, _, _) => m }
        // multiple markers = a corrupted parameter history (a batch-less
        // store drops its markers, so this should be unreachable) — an
        // arbitrary pick could rebuild the sketch with the WRONG hash
        // parameters, a silent-false-negative generator; fail loudly instead.
        if (markers.length > 1)
          throw new IllegalStateException(
            s"gram store at $storeDir carries ${markers.length} format " +
              s"markers (${markers.mkString(", ")}) — parameter history " +
              "corrupted; rebuild the store")
        val (estimatedGrams, numBits) = markers.headOption
          .map { case markerRe(_, e, b) => (e.toLong, b.toLong) }
          .getOrElse(throw new IllegalStateException(
            s"gram store at $storeDir has no incremental format marker — " +
              "cannot recover Bloom parameters; nothing erased"))
        store.erase(keys, "src_id", () => store.writeSidecar(BloomFile,
          bloomOf(spark.read.parquet(store.batches.map(_.toString): _*),
            estimatedGrams, numBits)))

      }
    }.getOrElse(0L)

  /** Spark's Bloom FP model: `BloomFilterImpl` picks
    * k = max(1, round(m/n_est·ln 2)) hash functions from the CREATION-time
    * estimate; after inserting `nItems` distinct values into `numBits`
    * bits the false-positive probability is (1 − e^(−k·n/m))^k. Exposed so
    * Bloom-DEDUP callers can account for the paragraphs the filter will
    * WRONGLY drop (see [[paragraphBloomScreen]] — dedup FPs delete real
    * data, unlike decontam FPs which only cost an exact recheck). */
  def expectedBloomFpRate(nItems: Long, estimatedItems: Long,
      numBits: Long): Double = {
    if (nItems <= 0L || numBits <= 0L) return 0.0
    val k = math.max(1L,
      math.round(numBits.toDouble / estimatedItems * math.log(2.0))).toDouble
    math.pow(1.0 - math.exp(-k * nItems / numBits), k)
  }

  /** Build a BFF/Dolma-shape PARAGRAPH-dedup store: ONLY a Bloom sketch
    * over the corpus's distinct segment hashes ([[Dedup.segmentRows]] —
    * `segWords`-token windows standing in for paragraphs, t17's
    * convention) plus a format marker and the inserted count. Unlike the
    * decontamination store ([[writeDecontamStore]]), there is NO exact
    * gram registry: a paragraph-dedup registry is CORPUS-sized (every
    * paragraph ever seen), and the whole point of the BFF shape is that
    * the state stays O(numBits) no matter how many batches stream
    * through. The price is stated in [[paragraphBloomScreen]]'s contract.
    * Returns the number of distinct paragraphs inserted. */
  def writeParagraphBloomStore(docs: DataFrame, storeDir: String,
      segWords: Int = 10, estimatedParas: Long = 1L << 20,
      numBits: Long = 1L << 23): Long = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val segs = Dedup.segmentRows(docs, segWords).select(col("h")).distinct().cache()
    val sketch = segs.agg(ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(col("h")),
        ColumnBridge.expression(lit(estimatedParas)),
        ColumnBridge.expression(lit(numBits))).toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    val n = segs.count()
    segs.unpersist()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(storeDir))
    // Publish each artifact via hidden-temp + ATOMIC_MOVE (the signature
    // store's staging discipline): a rebuild over a live store must never
    // let a concurrent screen read a torn bloom.bin behind a still-valid
    // format marker — readers see either the complete old sketch or the
    // complete new one. The marker is written LAST, after the sketch it
    // gates. Review finding (r6).
    def publish(name: String, bytes: Array[Byte]): Unit = {
      val tmp = java.nio.file.Paths.get(storeDir, s".staging-$name")
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(storeDir, name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    publish("bloom.bin", if (sketch == null) Array.empty[Byte] else sketch)
    publish("n_items", n.toString.getBytes("UTF-8"))
    publish(s"_format-seg$segWords", Array.empty[Byte])
    n
  }

  /** Screen a training batch's paragraphs against a
    * [[writeParagraphBloomStore]] store — the Bloom-Filter-Filter dedup
    * decision, per segment: (doc_id, n_total, seg_idx, seg, h,
    * dropped = sketch-might-contain). THE CONTRACT DIFFERENCE from every
    * other Bloom use in this repo: there is no exact recheck, so a false
    * positive DROPS A REAL, NEVER-SEEN paragraph — at
    * [[expectedBloomFpRate]] of the unique paragraphs, permanently.
    * Bloom's no-false-negative side means every truly-seen paragraph IS
    * dropped (exactness in the dedup direction). Budget `numBits` to the
    * loss you can take: ~14 bits/paragraph ≈ 1e-4, the Dolma production
    * sizing. Fails loudly on a segWords mismatch (differently-segmented
    * hashes would silently match nothing). */
  def paragraphBloomScreen(train: DataFrame, storeDir: String,
      segWords: Int = 10): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    require(java.nio.file.Files.exists(
      java.nio.file.Paths.get(storeDir, s"_format-seg$segWords")),
      s"paragraph store at $storeDir was not built with segWords=$segWords " +
        "(missing _format marker) — rebuild with writeParagraphBloomStore")
    val sketch = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(storeDir, "bloom.bin"))
    val segs = Dedup.segmentRows(train, segWords)
    if (sketch.isEmpty) segs.withColumn("dropped", lit(false)) // empty store
    else segs.withColumn("dropped", ColumnBridge.column(
      new BloomFilterMightContain(
        Literal.create(sketch, BinaryType),
        ColumnBridge.expression(col("h")))))
  }

  /** [[paragraphBloomScreen]] closed into the transform: drop the flagged
    * paragraphs, rebuild each doc from its survivors in order — the same
    * output contract as [[Dedup.segmentDedup]] (doc_id, text_dedup,
    * n_kept, n_total), but deduping against the PERSISTENT cross-batch
    * store instead of within-corpus first-occurrence. */
  def paragraphBloomDedup(train: DataFrame, storeDir: String,
      segWords: Int = 10): DataFrame =
    paragraphBloomScreen(train, storeDir, segWords)
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(when(!col("dropped"),
              struct(col("seg_idx"), col("seg"))))),
            s => s.getField("seg")),
          " ").as("text_dedup"),
        sum(when(!col("dropped"), 1L).otherwise(0L)).as("n_kept"),
        first(col("n_total")).as("n_total"))

  /** The whole curation flow as one operator — the decision table a
    * pretraining data pipeline materializes per document: quality gate
    * (composite score from [[TextAnalysis.qualityScores]]), near-dup
    * cluster resolution (keep the canonical doc per
    * [[Dedup.clusters]] component), benchmark decontamination
    * ([[contamination]]), and the deterministic split assignment. `kept = 1`
    * is the final training-corpus membership; every intermediate signal is
    * kept as a column so downstream audits can ask WHY a document fell out.
    *
    * Plan shape: three doc-keyed narrow joins (score, cluster label,
    * contamination count) onto a single corpus scan — each side carries a
    * handful of longs per doc, never text. */
  def pipeline(docs: DataFrame, isEval: Column, qualityMin: Double = 0.6): DataFrame =
    pipeline(docs, isEval, qualityMin, Dedup.clusters(docs, Dedup.minhashPairs(docs)))

  /** [[pipeline]] over precomputed cluster labels — flows that already
    * resolved near-dup components (or want a different pair source) pass
    * them in instead of re-running MinHash+LSH+closure. `clusters` must
    * carry (doc_id, cluster_id, is_canonical). */
  def pipeline(docs: DataFrame, isEval: Column, qualityMin: Double,
      clusters: DataFrame): DataFrame =
    pipelineFromSignals(docs, isEval, qualityMin, clusters,
      contamination(docs, isEval))

  /** [[pipeline]] with BOTH derived signals precomputed — the assembly
    * stage of an INCREMENTAL curation run, where cluster labels come from
    * the label store ([[Dedup.incrementalClusters]]) and overlaps from the
    * stored benchmark ([[decontamAgainstStore]]) instead of being
    * recomputed from scratch. `overlaps` must carry (doc_id, n_overlap);
    * docs absent from it coalesce to 0 (eval docs, no-hit docs). The
    * quality gate and split assignment are stateless per-row and are
    * computed inline as always. */
  def pipelineFromSignals(docs: DataFrame, isEval: Column, qualityMin: Double,
      clusters: DataFrame, overlaps: DataFrame): DataFrame = {
    val quality = TextAnalysis.qualityScores(docs)
      .select(col("doc_id"), col("quality_score"))
    val contam = overlaps
    docs
      .select(
        col("doc_id"),
        isEval.cast("long").as("is_eval"),
        splitName(splitBucket(col("doc_id"))).as("split"))
      .join(quality, Seq("doc_id"))
      .join(clusters, Seq("doc_id"))
      .join(contam, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("is_eval"),
        (col("quality_score") >= qualityMin).cast("long").as("passed_quality"),
        col("cluster_id"),
        col("is_canonical"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        col("split"),
        (col("is_eval") === 0L && col("quality_score") >= qualityMin &&
          col("is_canonical") === 1L && coalesce(col("n_overlap"), lit(0L)) === 0L)
          .cast("long").as("kept"))
  }

  /** Split-assignment expression: portable hash of a salted key → bucket in
    * [0, 100) → named split. Hash-based (not random, not modulo-id) so the
    * assignment is stable under corpus growth/reordering and uncorrelated
    * with doc_id locality. */
  def splitBucket(key: Column): Column =
    TextHash.sampleKey(concat(lit("split:"), key.cast("string"))) % 100

  def splitName(bucket: Column, trainPct: Int = 90, valPct: Int = 5): Column =
    when(bucket < trainPct, lit("train"))
      .when(bucket < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))

  /** Deterministic train/val/test split summary: per-split doc and char
    * counts. One map-side-combined aggregation; the per-doc assignment is
    * [[splitBucket]]/[[splitName]] and can be attached as a column instead
    * when the consumer wants the labeled corpus. */
  /** Weighted (probability-proportional-to-size) corpus sampling —
    * Poisson πps, the quality/length-weighted draw real mixing recipes
    * use ("sample long/high-quality documents more often"). Inclusion is
    * per-document Bernoulli with π_i = min(1, target·w_i / Σw), decided
    * by the deterministic sampling key: keep iff
    * `(sampleKey mod S) · Σw < target · w_i · S` — ALL-BIGINT
    * cross-multiplied arithmetic (no division, no doubles), so the oracle
    * replays it exactly and E[kept] ≈ `target` with each document's
    * inclusion probability exactly proportional to its weight (capped at
    * 1). One aggregate for Σw rides a 1-row broadcast; no shuffle
    * touches the corpus beyond its scan.
    *
    * Overflow bounds: key mod S < 10⁶, Σw ≤ ~10¹² and target·w·S ≤ ~10¹⁸
    * keep every product inside BIGINT for any realistic corpus slice; at
    * 100 TB shard the draw (the formula is per-row and shard-local).
    *
    * Determinism contract: the key uses [[TextHash.sampleKey]] (squared
    * mix) — raw polyHash residues would gate all-or-nothing id blocks
    * (CLAUDE.md invariant). */
  def weightedSample(docs: DataFrame, weight: Column, target: Long): DataFrame = {
    val S = 1000000L
    val tot = docs.agg(sum(weight.cast("long")).as("__totw"))
    docs
      .withColumn("__w", weight.cast("long"))
      .crossJoin(broadcast(tot))
      .withColumn("__key",
        TextHash.sampleKey(concat(lit("wsamp:"), col("doc_id").cast("string"))) % S)
      .filter(col("__key") * col("__totw") < lit(target) * col("__w") * lit(S))
      .select(col("doc_id"), col("__w").as("weight"))
  }

  /** Importance-based data selection (the DSIR shape, Xie et al. 2023):
    * score every candidate document by how much its hashed-token feature
    * profile resembles a target distribution, then keep the top-k. The
    * target here is the corpus's own `isTarget` slice (e.g. a trusted
    * high-quality subset); candidates are the rest.
    *
    * DSIR proper weights features by log(p_target/p_source); a log is
    * transcendental and engine-divergent in the last ulp, so this uses the
    * integer-quantized RATIO r_f = ((n_tgt_f + 1)·10⁶) div (n_src_f + 1)
    * (add-1 smoothing, micro-units) — same ordering intent, exact BIGINT
    * arithmetic end to end, so the selected set is bit-reproducible and
    * oracle-checkable (the t18/x2 determinism discipline). Feature buckets
    * come from [[TextHash.sampleKey]] mod `nFeatures` (routing decisions
    * never use the raw lattice-prone polyHash — CLAUDE.md invariant).
    *
    * Plan shape: one tokenize pass builds (doc, tgt, f); the per-feature
    * ratio table is `nFeatures` rows and rides a broadcast; scores are one
    * doc-keyed aggregate; the final top-k is `TakeOrderedAndProject`
    * (bounded per-partition heaps, no global sort). Overflow headroom:
    * r_f ≤ (n_tgt_f+1)·10⁶, so Σ x·r stays under 2⁶³ while target-slice
    * token counts stay under ~9·10¹² per bucket — beyond that, drop the
    * micro-unit scale a decade. */
  def importanceSelect(
      docs: DataFrame,
      isTarget: Column,
      nFeatures: Int = 64,
      topK: Int = 200): DataFrame = {
    val S = 1000000L
    val tk = docs
      .select(col("doc_id"), isTarget.as("tgt"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("tgt"),
        (TextHash.sampleKey(col("tok")) % nFeatures).as("f"))
      // Lazily cached: the ratio pass and the candidate-score pass both
      // read it; left persisted for the same bounded-leak reason as the
      // contamination gram cache above (the returned plan reads it lazily).
      .cache()
    val ratios = tk.groupBy(col("f"))
      .agg(
        sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
        sum(when(col("tgt"), 0L).otherwise(1L)).as("cs"))
      .select(col("f"), expr(s"((ct + 1) * ${S}L) div (cs + 1)").as("r"))
    tk.filter(!col("tgt"))
      .groupBy(col("doc_id"), col("f"))
      .agg(count(lit(1)).as("x"))
      .join(broadcast(ratios), Seq("f"))
      .groupBy(col("doc_id"))
      .agg(sum(col("x") * col("r")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
      .select(col("doc_id"), col("score"))
  }

  def hashSplit(docs: DataFrame): DataFrame =
    docs
      .select(
        splitName(splitBucket(col("doc_id"))).as("split"),
        col("n_chars"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))

  /** Sequence packing: assign documents to fixed-token-budget bins (the
    * pre-tokenization step that turns a corpus into training context
    * windows). Documents are packed greedily in doc_id order by EXCLUSIVE
    * running token count — a document whose prefix sum crosses the budget
    * starts the next bin. Packing is per-shard (hash of doc_id), not
    * global: a single global running sum would serialize into one window
    * partition, while shards pack independently and in parallel — the
    * standard way real pipelines shard this. Output: one row per
    * (shard, bin) with doc/token counts. */
  def packBins(docs: DataFrame, tokenBudget: Long = 4096L, nShards: Int = 32): DataFrame = {
    val shard = TextHash.sampleKey(concat(lit("shard:"), col("doc_id").cast("string"))) % nShards
    val toks = TextAnalysis.tokens(col("text"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .select(shard.as("shard"), col("doc_id"), size(toks).cast("long").as("n_tok"))
      .withColumn("prev_tok", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      // Integral `div`, not `/`: Spark `/` on BIGINT routes through a DOUBLE
      // Divide before the cast, while the DuckDB oracle uses integer `//` —
      // keep the whole pipeline in one integer domain on both engines.
      .withColumn("bin", expr(s"prev_tok div ${tokenBudget}L"))
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
  }

  /** The per-document boundary MANIFEST of [[packBins]]'s packing — what a
    * trainer's attention mask / sequence-boundary logic actually consumes:
    * for every packed document, its bin, its token offset within the bin,
    * and its position in the bin's document order. Same shard/window
    * machinery as packBins (a doc belongs to the bin its START lands in),
    * so the manifest and the bin stats describe the same packing.
    * Output: (shard, bin, doc_id, start_offset, n_tok, position). */
  def packManifest(docs: DataFrame, tokenBudget: Long = 4096L,
      nShards: Int = 32): DataFrame = {
    val shard = TextHash.sampleKey(concat(lit("shard:"), col("doc_id").cast("string"))) % nShards
    val toks = TextAnalysis.tokens(col("text"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"), col("bin")).orderBy(col("doc_id"))
    docs
      .select(shard.as("shard"), col("doc_id"), size(toks).cast("long").as("n_tok"))
      .withColumn("prev_tok", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("bin", expr(s"prev_tok div ${tokenBudget}L"))
      .withColumn("start_offset", expr(s"prev_tok - bin * ${tokenBudget}L"))
      .withColumn("position", row_number().over(wPos).cast("long"))
      .select(col("shard"), col("bin"), col("doc_id"), col("start_offset"),
        col("n_tok"), col("position"))
  }

  /** Context-window chunking: split each document's token stream into
    * overlapping windows of `sizeTokens` tokens advancing by
    * `sizeTokens - overlap` — the step that turns curated documents into
    * model-context-sized training/retrieval units. Chunk count is pure
    * integer math (`div`, portable to the SQL oracle); a document shorter
    * than one window yields exactly one chunk. Per-row generate+explode —
    * no shuffle at all; the fingerprint column gives downstream exact-dedup
    * a chunk-level key without rehashing. */
  def chunk(docs: DataFrame, sizeTokens: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < sizeTokens,
      s"overlap must be in [0, sizeTokens), got $overlap of $sizeTokens")
    val stride = sizeTokens - overlap
    docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      .withColumn(
        "k",
        when(col("n") <= sizeTokens, lit(1L))
          .otherwise(expr(s"(n - $sizeTokens + ${stride - 1}) div $stride + 1")))
      .select(
        col("doc_id"), col("t"),
        explode(sequence(lit(0L), col("k") - 1L)).as("chunk_idx"))
      .withColumn("s", (col("chunk_idx") * stride + 1L).cast("int"))
      .select(
        col("doc_id"), col("chunk_idx"),
        concat_ws(" ", slice(col("t"), col("s"), lit(sizeTokens))).as("chunk_text"),
        size(slice(col("t"), col("s"), lit(sizeTokens))).cast("long").as("n_tok"))
      .withColumn("chunk_fp", TextHash.polyHash(col("chunk_text")))
  }

  /** Deterministic corpus shuffle + sharding — the "global shuffle" step a
    * training run needs so epoch order is decorrelated from crawl/ingest
    * order, without `rand()` (must be reproducible) and without a global
    * sort (must not serialize). Every doc gets a pseudorandom key
    * ([[TextHash.sampleKey]] — nonlinear, so sequential ids scatter), its
    * shard is `key % nShards`, and its training position within the shard
    * is the rank of (key, doc_id) — a total order. The per-shard windows
    * run in parallel (one shuffle on shard); no single-partition global
    * ROW_NUMBER anywhere. Readers consume shards round-robin, which is
    * exactly how sharded training data is laid out on disk. */
  /** Token-balanced shard assignment — snake (boustrophedon) placement
    * over the global token-count order: docs ranked by (n_tokens DESC,
    * doc_id), rank r lands on shard `(r−1) mod 2N` reflected into [0, N).
    * The deterministic LPT-style balancer a training job wants when
    * shards must finish together: consecutive heavy docs go to DIFFERENT
    * shards and each pass hands every shard exactly one doc from a
    * contiguous size band, so shard totals track the mean to within one
    * document — unlike hash spreading ([[corpusShuffle]]), which is
    * balanced only in expectation.
    *
    * Scale shape: the global order comes from [[Ranking.globalRank]]
    * (range shuffle + per-range window — no single-task global sort);
    * everything after is per-row arithmetic and one shard-keyed
    * aggregate. Output: (shard, n_docs, tokens_total). */
  def balancedShards(docs: DataFrame, nShards: Int = 8): DataFrame = {
    require(nShards >= 1, s"nShards must be positive, got $nShards")
    val toks = docs.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    val ranked = Ranking.globalRank(toks,
      Seq(col("n_tokens").desc, col("doc_id")), "rnk")
    val m = 2L * nShards
    val r0 = (col("rnk") - 1) % m
    val shard = when(r0 < nShards, r0).otherwise(lit(m - 1) - r0)
    ranked
      .select(shard.cast("long").as("shard"), col("n_tokens"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens_total"))
  }

  def corpusShuffle(docs: DataFrame, nShards: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("key"), col("doc_id"))
    docs
      .select(col("doc_id"),
        TextHash.sampleKey(concat(lit("shuf:"), col("doc_id").cast("string"))).as("key"))
      .withColumn("shard", col("key") % nShards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** URL-host curation statistics — the RefinedWeb-style "judge the source,
    * not just the page" step: extract the host from each document's URL and
    * aggregate per-host document counts and quality mass, the evidence
    * behind host-level allow/deny decisions (a host whose mean quality is
    * low gets blocked wholesale, which is both cheaper and more robust than
    * per-page filtering at crawl scale).
    *
    * Quality mass is summed as a QUANTIZED BIGINT (`round(q·10^7)`) so the
    * per-host sum is order-independent (a double sum would flake the
    * cross-engine hash); the mean divides once at the end — a fixed
    * two-division expression, deterministic in IEEE. Plan: per-row regex
    * host extraction, one doc-keyed join, one host aggregation with
    * map-side combine. Host cardinality ≪ corpus, so the shuffle is tiny. */
  def hostStats(docs: DataFrame): DataFrame = {
    val q = TextAnalysis.qualityScores(docs).select(col("doc_id"), col("quality_score"))
    docs
      .select(col("doc_id"), regexp_extract(col("url"), "^https?://([^/]+)/", 1).as("host"))
      // regexp_extract returns "" (not NULL) on no match, so malformed URLs
      // would otherwise all merge into one phantom host="" group feeding
      // allow/deny decisions (review finding). Drop them here; recover them
      // upstream with `filter(NOT url rlike ...)` when they need surfacing.
      .filter(length(col("host")) > 0)
      .join(q, Seq("doc_id"))
      .groupBy("host")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(round(col("quality_score") * 1e7d, 0).cast("long")).as("qsum_scaled"))
      .withColumn(
        "mean_quality",
        round(col("qsum_scaled").cast("double") / 1e7d / col("n_docs").cast("double"), 7))
  }

  /** Tracking-param prefixes stripped by [[canonicalUrl]] — the common
    * analytics/click-id noise (`utm_*`, Google/Facebook click ids, `ref`)
    * that makes one page present as thousands of distinct URLs in a
    * crawl frontier. */
  val TrackingParamPrefixes: Seq[String] =
    Seq("utm_", "gclid=", "fbclid=", "ref=")

  /** Canonical URL form — the stage-0 identity every web-crawl pipeline
    * computes BEFORE any content hashing (ref: crawl-frontier dedup;
    * extends `hostStats`' host extraction to a full-URL identity):
    *
    *  - scheme and host lowercase (path/query stay case-sensitive per
    *    RFC 3986 §6.2.2.1);
    *  - default port stripped (`:80` for http, `:443` for https);
    *  - empty path → `/`; one trailing slash stripped from non-root paths;
    *  - fragment dropped;
    *  - tracking params ([[TrackingParamPrefixes]]) and empty params
    *    dropped, survivors SORTED — param order is presentation noise.
    *
    * Everything is portable string builtins (regexp_extract /
    * regexp_replace / split / filter / sort / join), so the DuckDB oracle
    * replays the identity bit-for-bit; per-row map-only work, no shuffle.
    * Malformed URLs (no `scheme://`) canonicalize to `"://…"` fragments
    * rather than null — screen them upstream like `hostStats` does. */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val rawPath = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val noSlash = regexp_replace(rawPath, "/$", "")
    val path = when(noSlash === "", lit("/")).otherwise(noSlash)
    val q = regexp_extract(url, "\\?([^#]*)", 1)
    val kept = array_join(
      sort_array(filter(split(q, "&"), p =>
        p =!= "" && TrackingParamPrefixes
          .map(pre => !p.startsWith(pre)).reduce(_ && _))),
      "&")
    concat(scheme, lit("://"), host, path,
      when(kept === "", lit("")).otherwise(concat(lit("?"), kept)))
  }

  /** Exact URL dedup on the canonical identity: per canonical URL, the
    * kept representative (min id — deterministic) and the collapse count.
    * One hash group-by on the canonical string — the cheapest dedup in
    * the whole pipeline, which is why crawls run it first: at 100 TB the
    * tracking-param/case/port variants it collapses never reach the
    * content-hash stages at all. Join `keep_id` back to the corpus for
    * the surviving-rows form. */
  def urlDedup(docs: DataFrame, urlCol: String = "url",
      idCol: String = "doc_id"): DataFrame =
    docs
      .select(canonicalUrl(col(urlCol)).as("canonical_url"), col(idCol))
      .groupBy("canonical_url")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Per-language sampling rates (per mille) for [[stratifiedSample]]:
    * downsample the over-represented head language hard, keep mid languages
    * at a third, keep the tail whole — the standard rebalancing move when
    * assembling a multilingual pretraining mix. */
  val StrataPerMille: Map[String, Int] = Map("en" -> 200, "de" -> 333, "fr" -> 333)
  val DefaultPerMille: Int = 1000

  /** Temperature-based domain rebalancing (α = 0.5): keep rate per source
    * r_s = sqrt(minN / N_s), so the smallest domain is kept whole and a
    * domain 100× larger is downsampled 10× — flattening the source mix the
    * way multilingual/multi-domain pretraining recipes temper their
    * sampling distribution (weight ∝ N^α). Selection is the same portable
    * hash predicate as [[stratifiedSample]] — [[TextHash.sampleKey]]
    * against a per-source integer threshold `floor(r_s · P)` computed from
    * exact counts (sqrt is IEEE exactly-rounded, so the threshold — and
    * therefore every kept doc — is bit-identical cross-engine). Plan: one
    * count aggregate, a
    * genuinely-tiny (#domains rows) broadcast back onto the corpus, a pure
    * per-row predicate. Output is the per-source evidence. */
  def domainSample(docs: DataFrame, domainCol: String = "source"): DataFrame = {
    val dom = col(domainCol).as("domain")
    val counts = docs.select(dom).groupBy(col("domain")).agg(count(lit(1)).as("n_total"))
    val minN = counts.agg(min(col("n_total")).as("min_n"))
    val rates = counts.crossJoin(broadcast(minN))
      .withColumn("keep_scaled",
        floor(sqrt(col("min_n").cast("double") / col("n_total").cast("double")) *
          lit(TextHash.Prime.toDouble)).cast("long"))
      .select(col("domain"), col("n_total"), col("keep_scaled"))
    val h = TextHash.sampleKey(concat(lit("dom:"), col("doc_id").cast("string")))
    docs.select(dom, col("doc_id"))
      .join(broadcast(rates), Seq("domain"))
      .select(col("domain"), col("n_total"), col("keep_scaled"),
        (h < col("keep_scaled")).cast("long").as("kept"))
      .groupBy(col("domain"), col("n_total"), col("keep_scaled"))
      .agg(sum(col("kept")).as("n_kept"))
      .select(col("domain"), col("n_total"), col("n_kept"), col("keep_scaled"))
  }

  /** Token-budget mixture sampling — the pretraining data-MIXING step: draw
    * from each source (language here) until that source's share of a total
    * token budget is exhausted, under a deterministic document order. Every
    * mixture recipe ("40% en, 15% each of the rest, B tokens total") is
    * this operation; rate-based sampling (p2/p5) controls PROBABILITY,
    * this controls the token MASS each source contributes.
    *
    * Semantics: within each source, documents are ordered by the nonlinear
    * [[TextHash.sampleKey]] (a deterministic shuffle), and a document is
    * kept iff the EXCLUSIVE prefix-sum of tokens before it is still under
    * the source's budget — so the budget line lands inside at most one
    * document per source (bounded overshoot, the standard cut). All
    * arithmetic is BIGINT: budget_s = (total·pct) div 100 with the total
    * derived from the corpus itself, so the same recipe scales with the
    * data on both engines.
    *
    * Plan shape: one token-count aggregate (1-row broadcast), a tiny
    * weight-table broadcast, one per-source window prefix-sum — the only
    * sort is source-partitioned, never global. */
  def tokenBudgetMix(docs: DataFrame,
      weights: Seq[(String, Int)] = Seq("en" -> 40, "fr" -> 15, "de" -> 15, "es" -> 15, "zh" -> 15),
      budgetDen: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(
      col("doc_id"), col("lang"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
      TextHash.sampleKey(concat(lit("mix:"), col("doc_id").cast("string"))).as("__key"))
    val totalRow = base.agg(sum(col("n_tokens")).as("__total"))
      .select(expr(s"__total div $budgetDen").as("__budget"))
    val wDf = docs.sparkSession.createDataFrame(weights).toDF("lang", "__pct")
    val w = Window.partitionBy(col("lang")).orderBy(col("__key"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .join(broadcast(wDf), Seq("lang"))
      .crossJoin(broadcast(totalRow))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("cum_before") < expr("(__budget * __pct) div 100"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_before"))
  }

  /** Deterministic stratified sample: keep a document iff the portable hash
    * of its salted id falls under its language's per-mille rate. Output is
    * the per-stratum evidence (population, sample size, realized rate);
    * selection is a pure per-row predicate — no shuffle beyond the summary
    * aggregation, stable across runs and cluster layouts. */
  def stratifiedSample(docs: DataFrame): DataFrame = {
    val perMille = StrataPerMille.foldLeft(lit(DefaultPerMille)) {
      case (acc, (lang, rate)) => when(col("lang") === lang, lit(rate)).otherwise(acc)
    }
    val h = TextHash.sampleKey(concat(lit("samp:"), col("doc_id").cast("string"))) % 1000
    docs
      .select(col("lang"), (h < perMille).cast("long").as("sampled"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("sampled")).as("n_sampled"))
      .withColumn(
        "realized_rate",
        round(col("n_sampled").cast("double") / col("n_docs").cast("double"), 7))
  }

  /** Curriculum ordering over the CCNet-bucketed corpus — the training
    * schedule a curriculum-learning run consumes: kept documents ordered
    * easy-first by LM bucket (head → middle → sampled tail), SHUFFLED
    * within each bucket by the deterministic sample key (a raw doc_id
    * order inside a bucket would correlate difficulty with crawl order),
    * then cut into fixed-size training shards by global position. The
    * rank comes from [[Ranking.globalRank]]'s range shuffle — no
    * single-partition sort at any corpus size.
    *
    * Output: (doc_id, bucket, pos 1..n, shard). */
  def curriculumOrder(docs: DataFrame, shardSize: Long = 100L): DataFrame = {
    require(shardSize >= 1)
    val kept = ccnetBuckets(docs).filter(col("kept") === 1)
      .withColumn("__k",
        TextHash.sampleKey(concat(lit("cur:"), col("doc_id").cast("string"))))
    Ranking.globalRank(kept, Seq(col("bucket"), col("__k"), col("doc_id")), "pos")
      .select(col("doc_id"), col("bucket"), col("pos"),
        expr(s"(pos - 1) div ${shardSize}L").as("shard"))
  }

  /** Deterministic negative sampling for contrastive / link-prediction
    * training (the word2vec/two-tower shape): for every user in the
    * positive interaction set, `k` pseudo-random items drawn uniformly
    * from the item universe, with ACCIDENTAL positives removed by an
    * anti-join — a sampled "negative" the user actually interacted with
    * would be a mislabeled training pair.
    *
    * Draw j for user u is item-index `sampleKey("neg:u:j") mod n` — the
    * squared-then-mod key (a keep/route decision; raw polyHash's base-31
    * lattice over sequential ids would make draws collide in blocks), so
    * the sample is reproducible run-over-run and replayable by the oracle.
    * Items are addressed through a rank index ([[Ranking.globalRank]]
    * over the distinct item table) rather than assuming dense ids.
    *
    * Plan: one distinct + rank of the ITEM table (items ≪ interactions),
    * a |users|·k draw frame joined on the uniform idx key, and one
    * anti-join against the positives on (user, item) — every shuffle is
    * on small or uniform keys; nothing is ever |users|·|items|. Output:
    * (u_key, draw, neg_item); users lose a draw only to the accidental-
    * positive filter (standard; regenerate with a different salt if exact
    * counts matter). */
  def negativeSample(pos: DataFrame, userCol: String, itemCol: String,
      k: Int = 3): DataFrame = {
    val posPairs = pos.select(
      col(userCol).cast("long").as("u_key"), col(itemCol).cast("long").as("item"))
    val items = posPairs.select(col("item")).distinct()
    val ranked = Ranking.globalRank(items, Seq(col("item")), "idx")
    val n = ranked.count()
    val draws = posPairs.select(col("u_key")).distinct()
      .select(col("u_key"), explode(sequence(lit(1L), lit(k.toLong))).as("draw"))
      .withColumn("idx",
        TextHash.sampleKey(concat(
          lit("neg:"), col("u_key").cast("string"),
          lit(":"), col("draw").cast("string"))) % n + 1L)
    draws.join(ranked, Seq("idx"))
      .select(col("u_key"), col("draw"), col("item").as("neg_item"))
      .join(posPairs.withColumnRenamed("item", "neg_item"),
        Seq("u_key", "neg_item"), "left_anti")
      .select(col("u_key"), col("draw"), col("neg_item"))
  }

  /** CCNet-style perplexity bucketing + tail sampling — the composition
    * CCNet actually runs: score each document with the corpus LM
    * ([[TextAnalysis.lmScore]]), split the scoreable corpus into
    * head/middle/tail TERCILES by score, keep head+middle and a small
    * deterministic sample of the tail (the low-probability gibberish/
    * boilerplate end that still carries some diversity signal).
    *
    * Buckets are RANK terciles, not interpolated-quantile fences: CCNet
    * partitions by cumulative fraction, and `bucket = ((rank−1)·3) div n`
    * reproduces that with pure BIGINT arithmetic — no interpolated double
    * fence to FP-compare against (the x9 winsorize hazard class never
    * arises). The per-doc score is the BIGINT `lm_scaled div n_bigrams`
    * (2^20-scaled mean bigram probability); the rank comes from
    * [[Ranking.globalRank]]'s range shuffle — no single-partition global
    * window at any corpus size. Tail keeps ride [[TextHash.sampleKey]]
    * (squared-then-mod; raw polyHash residues form the base-31 lattice).
    *
    * Output: (doc_id, lm_avg_scaled, bucket 0|1|2, kept 0|1) over the
    * scoreable (≥ 2-token) documents. */
  def ccnetBuckets(docs: DataFrame, tailKeepPct: Int = 10): DataFrame = {
    val scored = TextAnalysis.lmScore(docs)
      .select(col("doc_id"), expr("lm_scaled div n_bigrams").as("lm_avg_scaled"))
    val ranked = Ranking.globalRank(
      scored, Seq(col("lm_avg_scaled").desc, col("doc_id")), "rnk")
    // count reads the barrier cache globalRank already pinned — no extra
    // scan of the scoring pipeline.
    val n = ranked.count()
    val keepTail =
      TextHash.sampleKey(concat(lit("ccnet:"), col("doc_id").cast("string"))) % 100 <
        lit(tailKeepPct.toLong)
    ranked
      .withColumn("bucket", expr(s"((rnk - 1) * 3) div ${n}L"))
      .select(
        col("doc_id"), col("lm_avg_scaled"), col("bucket"),
        (col("bucket") < 2 || keepTail).cast("long").as("kept"))
  }

  /** Per-document n-gram NOVELTY against a reference corpus — the
    * memorization/freshness screen run when a new crawl lands: what
    * fraction of each candidate document's word n-grams has the corpus
    * already seen? Low novelty ⇒ near-copy of existing data (wasted
    * tokens, memorization amplification); decontamination (c1) answers
    * "does it overlap the BENCHMARKS", this answers "does it add anything
    * over the CORPUS". Gram hashes are the decontam convention
    * ([[graft.functions.GraftColumns.shingleHashes]], DISTINCT per doc),
    * so the oracle replays them through the same polyHash fragment.
    *
    * Scale shape: two gram streams shuffled on the gram hash (the
    * vocabulary-keyed join every dedup pass already pays), one per-doc
    * count aggregate; the reference gram set is corpus-sized so the join
    * stays a shuffled hash join — never broadcast (the candidate-derived
    * frame rule). Output: (doc_id, n_grams, n_novel, novelty_bp) for
    * candidate docs with ≥ 1 gram. */
  def ngramNovelty(docs: DataFrame, isRef: Column, n: Int = 5): DataFrame = {
    val refGrams = docs.filter(isRef)
      .select(explode(
        graft.functions.GraftColumns.shingleHashes(col("text"), n)).as("h"))
      .distinct()
      .withColumn("__seen", lit(1L))
    // shingleHashes is already the per-doc DISTINCT gram set — no
    // corpus-wide (doc_id, h) distinct shuffle needed.
    val docGrams = docs.filter(!isRef)
      .select(col("doc_id"), explode(
        graft.functions.GraftColumns.shingleHashes(col("text"), n)).as("h"))
    docGrams.join(refGrams, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_bp", expr("n_novel * 10000L div n_grams"))
  }

  /** Length-bucketed batching audit — the padding-waste profile a
    * training/inference stack consults before fixing batch composition:
    * documents ranked by token length into `nBuckets` EXACT equal-rank
    * buckets (the x27 decile shape over [[Ranking.globalRank]]'s total
    * order — never a single-task ntile window), each bucket padded to its
    * own max length, waste = padded − real tokens in basis points. The
    * global unbucketed waste (pad everything to the corpus max) is what
    * the bucketing saves; emitting per-bucket waste makes the trade
    * hash-checkable. All-BIGINT; the doc count folds in-plan (one-row
    * broadcast attach — zero construct-time jobs beyond the rank
    * barrier's own). Output: (bucket, n_docs, max_len, sum_len,
    * waste_bp). */
  def lengthBuckets(docs: DataFrame, nBuckets: Int = 10): DataFrame = {
    val lens = docs.select(col("doc_id"),
      size(split(trim(col("text")), " +")).cast("long").as("len"))
    val ranked = Ranking.globalRank(
      lens, Seq(col("len").asc, col("doc_id")), "rnk")
    val n = ranked.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(n))
      .select(expr(s"(rnk - 1) * $nBuckets div __n").as("bucket"), col("len"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("len")).as("max_len"),
        sum(col("len")).as("sum_len"))
      .withColumn("waste_bp",
        expr("(max_len * n_docs - sum_len) * 10000L div (max_len * n_docs)"))
  }
}
