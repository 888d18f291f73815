package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Dedup

/** Streaming ingest INTO the durable signature store — the unification of
  * the two near-dup worlds (r4 verdict #3): [[StreamingNearDup]] keeps LSH
  * bucket membership in the streaming STATE STORE (fast, but private to
  * one query's checkpoint), while [[Dedup.incrementalMinhashPairs]] owns
  * the durable batch store with the writer lease. A production pipeline
  * runs ONE corpus history: each micro-batch of documents is ingested into
  * the SAME durable store batch jobs use, through the same
  * [[graft.etl.BatchStore]] writer lease — so stream-vs-batch, whoever
  * arrives first, the cross pairs are emitted exactly once and a
  * concurrent batch writer fails loudly instead of silently losing pairs.
  *
  * Semantics inherited from [[Dedup.incrementalMinhashPairs]] (all
  * spec-asserted there): arrival-order runs ≡ one batch run, idempotent
  * store append (anti-join), staged atomic publish, loud lease conflict.
  * What foreachBatch adds is exactly-once OUTPUT, and that REQUIRES the
  * ingest's `replayDeterministic` mode: a replayed micro-batch (restart
  * anywhere between the store append and the checkpoint commit) re-enters
  * the ingest with the same doc_ids — the store anti-join keeps the
  * append a no-op, the pair computation recomputes the SAME pairs frame
  * (batch vs store-minus-batch, not new-only vs store — the default
  * new-only mode would replay to an EMPTY frame and the overwrite sink
  * below would destroy the previous attempt's pairs forever), and the
  * pairs sink writes to a PER-BATCH directory with overwrite, so the
  * replay overwrites its own previous attempt with identical content.
  *
  * Each micro-batch pays one store snapshot read (pruned to candidate
  * docs by the semi-join inside the ingest), so trigger intervals should
  * be sized to amortize it — this is a minutes-cadence ingest pipeline,
  * not a millisecond-latency one; for the latter, front it with
  * [[StreamingNearDup]] state and reconcile into the store on a timer.
  */
object StreamingStoreIngest {

  /** Start the ingest: `docs` is a streaming frame of (doc_id, text).
    * Pairs land under `pairsOut/ingest_batch=<id>/` (overwrite-idempotent
    * per micro-batch); signatures land in the durable store at
    * `storePath`. */
  def run(docs: DataFrame, storePath: String, pairsOut: String,
      checkpoint: String, trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // The lease (inside incrementalMinhashPairs) serializes this
        // micro-batch against any concurrent BATCH ingest of the same
        // store; a held lock fails the stream loudly (StreamingQuery
        // terminates with the holder's identity) rather than dropping
        // cross-batch pairs.
        val pairs = Dedup.incrementalMinhashPairs(batch, storePath,
          replayDeterministic = true)
        pairs.write.mode("overwrite")
          .parquet(s"$pairsOut/ingest_batch=$batchId")
        ()
      }
      .start()

  /** The multimodal sibling: streaming ingest of FIXED-WIDTH Hamming
    * signatures (image dHash / audio fingerprints — computed upstream on
    * the codec seam, e.g. `Multimodal.imageDhash` over a payload stream)
    * into the durable [[Dedup.incrementalHammingPairs]] store. `sigs` is a
    * streaming frame of (doc_id, sig). Same exactly-once contract as
    * [[run]]: per-batch overwrite-idempotent pairs output, anti-joined
    * store append, loud lease conflict; `formatTag` must match the store's
    * extractor scheme or every micro-batch fails loudly (by design — a
    * stream quietly pairing incomparable signatures is the worst outcome). */
  def runHamming(sigs: DataFrame, storePath: String, pairsOut: String,
      checkpoint: String, bits: Int, maxHamming: Int, formatTag: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    sigs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val pairs = Dedup.incrementalHammingPairs(
          batch, storePath, bits, maxHamming, formatTag,
          replayDeterministic = true)
        pairs.write.mode("overwrite")
          .parquet(s"$pairsOut/ingest_batch=$batchId")
        ()
      }
      .start()

  /** [[runHamming]] with LABEL maintenance folded into each micro-batch:
    * after the pair emit, the batch's docs and new pairs fold into the
    * persisted label snapshot ([[Dedup.incrementalClusters]]), so the
    * store always holds the CURRENT dedup decision for the whole corpus
    * seen so far — a reader never has to replay the pairs log. Replayed
    * micro-batches are label-idempotent AT ANY crash point (the
    * `replayDeterministic` ingest recomputes the same pairs even when the
    * crashed attempt's store append survived): the doc set unions
    * distinct, duplicate edges are CC no-ops, and the republished
    * snapshot is content-equal to the one the crashed attempt produced. The
    * pairs frame is consumed twice (sink + edges) but is eagerly
    * checkpointed inside the ingest, so the banding join runs once. */
  def runHammingWithLabels(sigs: DataFrame, storePath: String,
      labelStorePath: String, pairsOut: String, checkpoint: String,
      bits: Int, maxHamming: Int, formatTag: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    sigs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions.col
        val pairs = Dedup.incrementalHammingPairs(
          batch, storePath, bits, maxHamming, formatTag,
          replayDeterministic = true)
        pairs.write.mode("overwrite")
          .parquet(s"$pairsOut/ingest_batch=$batchId")
        Dedup.incrementalClusters(
          batch.select(col("doc_id")), pairs, labelStorePath)
        ()
      }
      .start()

  /** The cross-crawl substring sibling: streaming ingest of (doc_id,
    * text) documents into the durable positional-anchor store
    * ([[Dedup.incrementalDuplicatedSpans]]) — the Lee et al. use case on
    * a stream: each micro-batch's exact duplicated spans against every
    * previous crawl land under `spansOut/ingest_batch=<id>` (columns
    * doc_a, doc_b, a_start, b_start, len_tokens), and its anchors append
    * to the store. Same exactly-once contract as [[run]], including the
    * `replayDeterministic` crash-window guarantee; `_format-spans-k<k>-v2`
    * pins the anchor width — a stream at a different k fails loudly. */
  def runSubstring(docs: DataFrame, storePath: String, spansOut: String,
      checkpoint: String, minTokens: Int = 10, k: Int = 5,
      maxAnchorDf: Int = 0,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spans = Dedup.incrementalDuplicatedSpans(
          batch, storePath, minTokens, k, maxAnchorDf,
          replayDeterministic = true)
        spans.write.mode("overwrite")
          .parquet(s"$spansOut/ingest_batch=$batchId")
        ()
      }
      .start()

  /** The video sibling: streaming ingest of per-frame perceptual hashes
    * (doc_id, pos, h — computed upstream on the codec seam, e.g.
    * `Multimodal.frameDhash` over demuxed payloads) into the durable
    * frame-hash store ([[Dedup.incrementalFrameRuns]]). Each micro-batch's
    * temporally-aligned runs against stored history land under
    * `runsOut/ingest_batch=<id>` (doc_a, doc_b, a_start, b_start,
    * len_frames). Same exactly-once contract as [[run]]; `formatTag` pins
    * the frame-signature scheme. */
  def runFrames(frameHashes: DataFrame, storePath: String, runsOut: String,
      checkpoint: String, minRun: Int = 4,
      formatTag: String = "frames-dhash8x7-v1", maxFrameDf: Int = 0,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    frameHashes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val runs = Dedup.incrementalFrameRuns(
          batch, storePath, minRun, formatTag, maxFrameDf,
          replayDeterministic = true)
        runs.write.mode("overwrite")
          .parquet(s"$runsOut/ingest_batch=$batchId")
        ()
      }
      .start()

  /** The semantic sibling: streaming ingest of (vec_id, embedding) rows
    * into the pinned-center vector store
    * ([[Dedup.incrementalSemanticPairs]]). The FIRST micro-batch pins the
    * centering basis for the store's whole lifetime — start the stream on
    * a representative initial batch, or pre-seed the store with one batch
    * ingest before streaming. Same exactly-once contract as [[run]]. */
  def runSemantic(vecs: DataFrame, storePath: String, pairsOut: String,
      checkpoint: String, threshold: Double = 0.3, nBits: Int = 8,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    vecs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val pairs = Dedup.incrementalSemanticPairs(
          batch, storePath, threshold, nBits,
          replayDeterministic = true)
        pairs.write.mode("overwrite")
          .parquet(s"$pairsOut/ingest_batch=$batchId")
        ()
      }
      .start()

  /** STREAMING entity resolution through the durable stores — the live
    * takedown-compliant entity registry: records arrive as (doc_id, s)
    * micro-batches, each pairs ONLY against the persisted deletion-
    * neighborhood store ([[graft.operators.FuzzyJoin.incrementalPairs]] —
    * history↔history is structurally never re-joined) and folds into the
    * label snapshot, so the label store always holds the CURRENT entity
    * decision for every record seen so far. Same exactly-once contract
    * as [[runHammingWithLabels]] verbatim: per-batch overwrite-idempotent
    * pairs output, anti-joined store append, `replayDeterministic`
    * crash-window recompute, loud lease conflict, label-idempotent
    * replays at any crash point. */
  /** Streaming novelty scoring against the GROWING gram store
    * ([[graft.operators.Curation.noveltyIngest]]): each micro-batch of
    * crawled documents is scored against everything accepted BEFORE it,
    * then its new grams fold into the same durable store batch jobs use.
    * Same exactly-once contract as [[run]] verbatim: per-batch
    * overwrite-idempotent scores output, content-anti-joined store
    * append, loud lease conflict — and `replayDeterministic = true` is
    * LOAD-BEARING: a micro-batch replayed after a crash between the store
    * append and the checkpoint commit would otherwise score against a
    * store already holding its own grams (all-zero novelty) and the
    * overwrite sink would destroy the real scores forever (the CLAUDE.md
    * streaming-wrapper rule; here the replay excludes store rows whose
    * src_id is one of the batch's docs and recovers the original
    * reference set exactly).
    *
    * CONTRACT — doc_ids must be unique ACROSS the stream's lifetime (the
    * same assumption [[graft.operators.Dedup.incrementalMinhashPairs]]
    * documents): the replay exclusion above is keyed on src_id alone
    * (store rows carry no batch provenance), so a legitimately re-crawled
    * doc_id arriving in a LATER batch would anti-join the EARLIER batch's
    * rows carrying that src_id out of the reference and previously-seen
    * grams would silently score novel again. Re-crawls must arrive under
    * a fresh doc_id (e.g. id = hash(url, crawl_ts)); the store keeps
    * first-contributor attribution either way. */
  def runNovelty(docs: DataFrame, storePath: String, scoresOut: String,
      checkpoint: String, n: Int = 5,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Curation.noveltyIngest(batch, storePath, n = n,
            replayDeterministic = true)
          .write.mode("overwrite")
          .parquet(s"$scoresOut/ingest_batch=$batchId")
        ()
      }
      .start()

  def runFuzzyEr(recs: DataFrame, storePath: String, labelStorePath: String,
      pairsOut: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    recs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions.col
        val pairs = graft.operators.FuzzyJoin.incrementalPairs(
          batch, storePath, "doc_id", "s", replayDeterministic = true)
        pairs.write.mode("overwrite")
          .parquet(s"$pairsOut/ingest_batch=$batchId")
        graft.operators.Dedup.incrementalClusters(
          batch.select(col("doc_id")),
          pairs.select(col("id_a").as("doc_a"), col("id_b").as("doc_b")),
          labelStorePath)
        ()
      }
      .start()
}
