package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types._

import graft.operators.Dedup
import graft.streaming.StreamingStoreIngest

/** [[graft.streaming.StreamingStoreIngest]] — streaming micro-batches
  * ingest into the SAME durable signature store batch jobs use (r4 verdict
  * #3): pair totals ≡ the batch pipeline, the store stays usable by a
  * subsequent batch ingest, a held writer lease fails the stream LOUDLY,
  * and a post-failure restart replays idempotently.
  */
class StreamingStoreIngestSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  // Near-dup clusters deliberately SPLIT across micro-batches: {0,1,5} and
  // {2,6} only pair if the store carries history between batches.
  private val allDocs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog today"),
    (1L, "the quick brown fox jumps over the lazy cat today"),
    (2L, "pack my box with five dozen liquor jugs right now"),
    (3L, "completely different words entirely here this time"),
    (4L, "sphinx of black quartz judge my vow said nobody ever"),
    (5L, "the quick brown fox jumps over the lazy dog tonight"),
    (6L, "pack my box with five dozen liquor jugs right away"),
    (7L, "unrelated filler content that matches nothing else at all"))

  private def writeBatches(srcDir: String): Unit = {
    allDocs.filter(_._1 <= 2L).toDF("doc_id", "text").write.parquet(s"$srcDir/b0")
    allDocs.filter(d => d._1 >= 3L && d._1 <= 5L).toDF("doc_id", "text").write.parquet(s"$srcDir/b1")
    allDocs.filter(_._1 >= 6L).toDF("doc_id", "text").write.parquet(s"$srcDir/b2")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_a", "doc_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("streamed micro-batch ingest ≡ one-shot batch pairs; store usable by batch afterwards") {
    val srcDir = Files.createTempDirectory("graft_ssi_src").toString
    val store = Files.createTempDirectory("graft_ssi_store").toString + "/store"
    val pairsOut = Files.createTempDirectory("graft_ssi_pairs").toString
    val ckpt = Files.createTempDirectory("graft_ssi_ckpt").toString
    writeBatches(srcDir)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*")
    val q = StreamingStoreIngest.run(stream, store, pairsOut, ckpt)
    try q.processAllAvailable() finally q.stop()

    val streamed = pairSet(spark.read.parquet(pairsOut))
    val oneShot = pairSet(Dedup.minhashPairs(allDocs.toDF("doc_id", "text")))
    assert(streamed === oneShot && streamed.nonEmpty)
    // Cross-micro-batch evidence: 5 (batch 1) pairs 0 and 1 (batch 0);
    // 6 (batch 2) pairs 2 (batch 0) — only durable history can know.
    val ids = streamed.map(p => (p._1, p._2))
    assert(ids.contains((0L, 5L)) && ids.contains((1L, 5L)) && ids.contains((2L, 6L)))

    // The SAME store now serves a batch ingest: a new near-dup of doc 3
    // pairs against the stream-ingested history through the batch API.
    val late = Seq((100L, "completely different words entirely here this month"))
      .toDF("doc_id", "text")
    val batchPairs = pairSet(Dedup.incrementalMinhashPairs(late, store))
    assert(batchPairs.map(p => (p._1, p._2)).contains((3L, 100L)))
  }

  test("streamed novelty ingest: per-micro-batch scores ≡ sequential grown-store twins") {
    val srcDir = Files.createTempDirectory("graft_ssn_src").toString
    val store = Files.createTempDirectory("graft_ssn_store").toString + "/store"
    val scoresOut = Files.createTempDirectory("graft_ssn_scores").toString
    val ckpt = Files.createTempDirectory("graft_ssn_ckpt").toString
    writeBatches(srcDir) // b0: docs 0-2, b1: 3-5, b2: 6-7 (file order = batch order)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*")
    val q = StreamingStoreIngest.runNovelty(stream, store, scoresOut, ckpt, n = 3)
    try q.processAllAvailable() finally q.stop()
    def scoreSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_grams", "n_novel", "novelty_bp")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // ground truth follows the stream's ACTUAL arrival order (the file
    // source does not promise directory order, and novelty scores are
    // order-DEPENDENT — each batch scores against what arrived before it);
    // every doc must have been scored exactly once across the batches.
    val docsDf = allDocs.toDF("doc_id", "text")
    val batchDirs = new java.io.File(scoresOut).listFiles()
      .map(_.getName).filter(_.startsWith("ingest_batch="))
      .sortBy(_.stripPrefix("ingest_batch=").toLong)
    var seenIds = Set.empty[Long]
    var scoredIds = Set.empty[Long]
    batchDirs.foreach { bd =>
      val got = scoreSet(spark.read.parquet(s"$scoresOut/$bd"))
      val batchIds = got.map(_._1)
      val batchDocs = docsDf.filter(col("doc_id").isin(batchIds.toSeq: _*))
      val expected =
        if (seenIds.isEmpty)
          scoreSet(batchDocs
            .select(col("doc_id"),
              size(graft.functions.GraftColumns.shingleHashes(col("text"), 3))
                .cast("long").as("n_grams"))
            .select(col("doc_id"), col("n_grams"),
              col("n_grams").as("n_novel"), lit(10000L).as("novelty_bp")))
        else scoreSet(graft.operators.Curation.ngramNovelty(
          docsDf.filter(col("doc_id").isin(seenIds.toSeq: _*))
            .withColumn("ref", lit(true))
            .unionByName(batchDocs.withColumn("ref", lit(false))),
          col("ref"), n = 3))
      assert(got === expected, s"batch $bd scores must equal the grown-store twin")
      seenIds ++= batchIds
      scoredIds ++= batchIds
    }
    assert(scoredIds === allDocs.map(_._1).toSet, "every doc scored exactly once")
    // the grown store then serves a BATCH ingest: doc 5's text near-dups
    // docs 0/1, so a copy of it scores near-zero novelty
    val late = Seq((200L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val lateScore = graft.operators.Curation.noveltyIngest(late, store, n = 3)
      .collect().head
    assert(lateScore.getAs[Long]("novelty_bp") == 0L,
      "an exact copy of streamed history must score zero novelty")
  }

  test("streamed Hamming-signature ingest ≡ one-shot pairs; store usable by batch afterwards") {
    val srcDir = Files.createTempDirectory("graft_ssh_src").toString
    val store = Files.createTempDirectory("graft_ssh_store").toString + "/store"
    val pairsOut = Files.createTempDirectory("graft_ssh_pairs").toString
    val ckpt = Files.createTempDirectory("graft_ssh_ckpt").toString
    // image-dHash signatures of the pattern-PNG quads, split across three
    // micro-batch files so every quad straddles batch boundaries
    val sigs = graft.operators.Multimodal.imageDhash(
      graft.operators.Multimodal.synthesizePatternPngs((0L until 12L).toDF("doc_id")))
      .withColumnRenamed("dhash", "sig")
    sigs.filter($"doc_id" < 4L).write.parquet(s"$srcDir/b0")
    sigs.filter($"doc_id" >= 4L && $"doc_id" < 8L).write.parquet(s"$srcDir/b1")
    sigs.filter($"doc_id" >= 8L).write.parquet(s"$srcDir/b2")
    val sigSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("sig", LongType)))
    val q = StreamingStoreIngest.runHamming(
      spark.readStream.schema(sigSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*"),
      store, pairsOut, ckpt, bits = 64, maxHamming = 4, formatTag = "dhash-8x8-v1")
    try q.processAllAvailable() finally q.stop()
    def hamSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "hamming")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = hamSet(spark.read.parquet(pairsOut))
    val oneShot = hamSet(Dedup.hammingPairs(sigs, 64, 4))
    assert(streamed === oneShot && streamed.nonEmpty)
    // the same store then serves a BATCH ingest: a re-upload of image 0's
    // exact signature pairs against the stream-ingested history
    val sig0 = sigs.filter($"doc_id" === 0L).collect().head.getLong(1)
    val late = Seq((100L, sig0)).toDF("doc_id", "sig")
    val batchPairs = hamSet(Dedup.incrementalHammingPairs(
      late, store, 64, 4, "dhash-8x8-v1"))
    assert(batchPairs.map(p => (p._1, p._2)).contains((0L, 100L)))
  }

  test("streamed ingest with label maintenance: final snapshot ≡ one-shot clusters") {
    val srcDir = Files.createTempDirectory("graft_ssl_src").toString
    val store = Files.createTempDirectory("graft_ssl_store").toString + "/store"
    val lstore = Files.createTempDirectory("graft_ssl_lb").toString + "/store"
    val pairsOut = Files.createTempDirectory("graft_ssl_pairs").toString
    val ckpt = Files.createTempDirectory("graft_ssl_ckpt").toString
    val sigs = graft.operators.Multimodal.imageDhash(
      graft.operators.Multimodal.synthesizePatternPngs((0L until 12L).toDF("doc_id")))
      .withColumnRenamed("dhash", "sig")
    sigs.filter($"doc_id" < 4L).write.parquet(s"$srcDir/b0")
    sigs.filter($"doc_id" >= 4L && $"doc_id" < 8L).write.parquet(s"$srcDir/b1")
    sigs.filter($"doc_id" >= 8L).write.parquet(s"$srcDir/b2")
    val sigSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("sig", LongType)))
    val q = StreamingStoreIngest.runHammingWithLabels(
      spark.readStream.schema(sigSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*"),
      store, lstore, pairsOut, ckpt,
      bits = 64, maxHamming = 4, formatTag = "dhash-8x8-v1")
    try q.processAllAvailable() finally q.stop()
    val snaps = new java.io.File(lstore).listFiles()
      .map(_.getName).filter(_.startsWith("labels-")).sorted
    assert(snaps.length === 1) // pruned to the latest snapshot
    val streamedLabels = spark.read.parquet(s"$lstore/${snaps.head}")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oneShot = Dedup.clusters(
      sigs.select($"doc_id"), Dedup.hammingPairs(sigs, 64, 4))
      .select("doc_id", "cluster_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamedLabels === oneShot && streamedLabels.size === 12)
    assert(streamedLabels.values.toSet.size < 12) // real clusters formed
  }

  test("streamed semantic-vector ingest ≡ flagged batch under the first micro-batch's center") {
    val srcDir = Files.createTempDirectory("graft_ssv_src").toString
    val store = Files.createTempDirectory("graft_ssv_store").toString + "/store"
    val pairsOut = Files.createTempDirectory("graft_ssv_pairs").toString
    val ckpt = Files.createTempDirectory("graft_ssv_ckpt").toString
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val b1 = emb.filter($"vec_id" % 2 === 0)
    // ONE part file per batch dir: maxFilesPerTrigger=1 makes each FILE a
    // micro-batch, and the center must be pinned by ALL of batch 1
    b1.coalesce(1).write.parquet(s"$srcDir/b0")
    emb.filter($"vec_id" % 2 === 1).coalesce(1).write.parquet(s"$srcDir/b1")
    val q = StreamingStoreIngest.runSemantic(
      spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*"),
      store, pairsOut, ckpt)
    try q.processAllAvailable() finally q.stop()
    def cosSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b", "cosine")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = cosSet(spark.read.parquet(pairsOut))
    // batch twin: same pinned center (the first micro-batch's sums)
    val (qs, n) = graft.operators.Similarity.quantizedSums(b1)
    val oneShot = cosSet(graft.operators.Similarity.lshNeighborsCentered(
      emb.withColumn("is_new", org.apache.spark.sql.functions.lit(true)),
      graft.operators.Similarity.meanDfFromQuantized(spark, qs, n)))
    assert(streamed === oneShot && streamed.nonEmpty)
  }

  test("held writer lease fails the stream loudly; lease release + restart replays idempotently") {
    val srcDir = Files.createTempDirectory("graft_ssi2_src").toString
    val storeRoot = Files.createTempDirectory("graft_ssi2_store").toString
    val store = storeRoot + "/store"
    val pairsOut = Files.createTempDirectory("graft_ssi2_pairs").toString
    val ckpt = Files.createTempDirectory("graft_ssi2_ckpt").toString
    writeBatches(srcDir)
    // A concurrent batch writer holds the lease.
    Files.createDirectories(java.nio.file.Paths.get(store))
    Files.writeString(java.nio.file.Paths.get(store, graft.etl.WriterLease.LockFile),
      "batch-writer@test")

    def startStream() = StreamingStoreIngest.run(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*"),
      store, pairsOut, ckpt)

    val q1 = startStream()
    val e = intercept[StreamingQueryException] { q1.awaitTermination() }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    assert(chain(e).exists(m => m != null && m.contains("locked by a concurrent writer")),
      s"expected the lease-conflict message, got: ${chain(e).mkString(" | ")}")

    // Operator releases the dead writer's lease; the restarted query
    // replays the failed micro-batch from the checkpoint and the rest of
    // the files, converging to the exact batch totals (anti-join makes a
    // half-applied attempt idempotent).
    Files.delete(java.nio.file.Paths.get(store, graft.etl.WriterLease.LockFile))
    val q2 = startStream()
    try q2.processAllAvailable() finally q2.stop()
    val streamed = pairSet(spark.read.parquet(pairsOut))
    val oneShot = pairSet(Dedup.minhashPairs(allDocs.toDF("doc_id", "text")))
    assert(streamed === oneShot)
  }

  test("crash between store append and sink write: the restarted stream reproduces the lost pairs and labels") {
    val srcDir = Files.createTempDirectory("graft_sscr_src").toString
    val store = Files.createTempDirectory("graft_sscr_store").toString + "/store"
    val lstore = Files.createTempDirectory("graft_sscr_lb").toString + "/store"
    val pairsOut = Files.createTempDirectory("graft_sscr_pairs").toString
    val ckpt = Files.createTempDirectory("graft_sscr_ckpt").toString
    val sigs = graft.operators.Multimodal.imageDhash(
      graft.operators.Multimodal.synthesizePatternPngs((0L until 12L).toDF("doc_id")))
      .withColumnRenamed("dhash", "sig")
    sigs.coalesce(1).write.parquet(s"$srcDir/b0")
    // The "crashed attempt": the store append committed, but the crash hit
    // before the pairs sink write and before the checkpoint commit — the
    // exact window the replayDeterministic ingest mode exists for (the
    // default new-only mode would replay this batch to an EMPTY pairs
    // frame, and the overwrite sink would destroy the pairs forever).
    Dedup.incrementalHammingPairs(
      sigs, store, 64, 4, "dhash-8x8-v1", replayDeterministic = true).count()
    // Restart from an uncommitted checkpoint: micro-batch 0 replays the
    // same doc_ids against a store that already holds them.
    val sigSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("sig", LongType)))
    val q = StreamingStoreIngest.runHammingWithLabels(
      spark.readStream.schema(sigSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*"),
      store, lstore, pairsOut, ckpt,
      bits = 64, maxHamming = 4, formatTag = "dhash-8x8-v1")
    try q.processAllAvailable() finally q.stop()
    def hamSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "hamming")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = hamSet(spark.read.parquet(pairsOut))
    val oneShot = hamSet(Dedup.hammingPairs(sigs, 64, 4))
    assert(streamed === oneShot && streamed.nonEmpty)
    // no duplicated signatures despite the double ingest
    assert(spark.read.option("recursiveFileLookup", "true").parquet(store).count() === 12L)
    // and the label snapshot holds the full one-shot clustering
    val snaps = new java.io.File(lstore).listFiles()
      .map(_.getName).filter(_.startsWith("labels-")).sorted
    val streamedLabels = spark.read.parquet(s"$lstore/${snaps.last}")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oneShotLabels = Dedup.clusters(
      sigs.select($"doc_id"), Dedup.hammingPairs(sigs, 64, 4))
      .select("doc_id", "cluster_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamedLabels === oneShotLabels && streamedLabels.size === 12)
  }


  test("streamed substring ingest ≡ one-shot duplicatedSpans over the union corpus") {
    val srcDir = Files.createTempDirectory("graft_sss_src").toString
    val store = Files.createTempDirectory("graft_sss_store").toString + "/store"
    val spansOut = Files.createTempDirectory("graft_sss_spans").toString
    val ckpt = Files.createTempDirectory("graft_sss_ckpt").toString
    val passage = (1 to 12).map(i => s"dup$i").mkString(" ")
    val all = Seq(
      (0L, s"alpha beta $passage gamma delta"),
      (1L, s"$passage x y z"),
      (2L, "lone text with no duplication here at all today"),
      (5L, s"p q r s t u $passage v"), // cross-crawl copy, later batch
      (6L, s"$passage x y z extended"))
    all.filter(_._1 <= 2L).toDF("doc_id", "text").write.parquet(s"$srcDir/b0")
    all.filter(_._1 > 2L).toDF("doc_id", "text").write.parquet(s"$srcDir/b1")
    val q = StreamingStoreIngest.runSubstring(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*"),
      store, spansOut, ckpt, minTokens = 10, k = 5)
    try q.processAllAvailable() finally q.stop()
    def spanSet(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_a", "doc_b", "a_start", "b_start", "len_tokens")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    val streamed = spanSet(spark.read.parquet(spansOut))
    val oneShot = spanSet(Dedup.duplicatedSpans(all.toDF("doc_id", "text"), 10, 5))
    assert(streamed === oneShot && streamed.nonEmpty)
    // cross-micro-batch evidence: doc 5 (batch 1) spans against doc 0 (batch 0)
    assert(streamed.exists(p => p._1 === 0L && p._2 === 5L))
  }

  test("streamed frame-hash ingest ≡ one-shot frameAlignedRuns") {
    val srcDir = Files.createTempDirectory("graft_ssf_src").toString
    val store = Files.createTempDirectory("graft_ssf_store").toString + "/store"
    val runsOut = Files.createTempDirectory("graft_ssf_runs").toString
    val ckpt = Files.createTempDirectory("graft_ssf_ckpt").toString
    val fh = graft.operators.Multimodal.frameDhash(
      graft.operators.Multimodal.videoFrames(
        graft.operators.Multimodal.synthesizeVideos((0L until 12L).toDF("doc_id"))))
      .select($"doc_id", $"frame_idx".cast("long").as("pos"), $"dhash".as("h"))
    // parity split: every 3-member family straddles the batch boundary
    fh.filter($"doc_id" % 2 === 0).coalesce(1).write.parquet(s"$srcDir/b0")
    fh.filter($"doc_id" % 2 === 1).coalesce(1).write.parquet(s"$srcDir/b1")
    val fhSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("pos", LongType),
      StructField("h", LongType)))
    val q = StreamingStoreIngest.runFrames(
      spark.readStream.schema(fhSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*"),
      store, runsOut, ckpt, minRun = 4)
    try q.processAllAvailable() finally q.stop()
    def runSet(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_a", "doc_b", "a_start", "b_start", "len_frames")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    val streamed = runSet(spark.read.parquet(runsOut))
    val oneShot = runSet(Dedup.frameAlignedRuns(fh, minRun = 4))
    assert(streamed === oneShot && streamed.nonEmpty)
  }

  test("streamed fuzzy-ER ingest: pairs ≡ one-shot selfJoinIds; final labels ≡ one-shot entities") {
    val srcDir = Files.createTempDirectory("graft_sfe_src").toString
    val store = Files.createTempDirectory("graft_sfe_store").toString + "/store"
    val lstore = Files.createTempDirectory("graft_sfe_lb").toString + "/store"
    val pairsOut = Files.createTempDirectory("graft_sfe_pairs").toString
    val ckpt = Files.createTempDirectory("graft_sfe_ckpt").toString
    // entities deliberately SPLIT across micro-batches: {anna, anne, ann}
    // and the {bob, bob} exact pair only resolve through store history
    val recs = Seq((1L, "anna"), (2L, "bob"), (3L, "zed"),
      (4L, "anne"), (5L, "bob"), (6L, "ann"), (7L, "kim"))
      .toDF("doc_id", "s")
    recs.filter($"doc_id" <= 3L).write.parquet(s"$srcDir/b0")
    recs.filter($"doc_id" > 3L).write.parquet(s"$srcDir/b1")
    val recSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("s", StringType)))
    val q = StreamingStoreIngest.runFuzzyEr(
      spark.readStream.schema(recSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*"),
      store, lstore, pairsOut, ckpt)
    try q.processAllAvailable() finally q.stop()
    // union of per-batch pair outputs ≡ the one-shot all-pairs join
    def ps(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "dist")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ps(spark.read.parquet(pairsOut)) ===
      ps(graft.operators.FuzzyJoin.selfJoinIds(recs, "doc_id", "s")))
    // final label snapshot ≡ one-shot entity resolution over everything
    val snaps = new java.io.File(lstore).listFiles()
      .map(_.getName).filter(_.startsWith("labels-")).sorted
    assert(snaps.length === 1)
    val streamed = spark.read.parquet(s"$lstore/${snaps.head}")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oneShot = Dedup.clusters(
      recs.select($"doc_id"),
      graft.operators.FuzzyJoin.selfJoinIds(recs, "doc_id", "s")
        .select($"id_a".as("doc_a"), $"id_b".as("doc_b")))
      .select("doc_id", "cluster_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === oneShot && streamed.size === 7)
    assert(streamed(1L) === streamed(4L) && streamed(4L) === streamed(6L),
      "the anna/anne/ann entity must merge across micro-batches")
    assert(streamed(2L) === streamed(5L), "exact-dup bobs must merge")
  }
}
