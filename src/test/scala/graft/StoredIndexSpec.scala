package graft

import org.apache.spark.sql.functions._

import graft.operators.Clustering

/** The persisted IVF-PQ serve path ([[Clustering.ivfPqWriteIndex]] /
  * [[Clustering.ivfPqSearchStored]]): results ≡ the in-session search,
  * the codes read is PARTITION-PRUNED to the probed cells (plan-asserted
  * PartitionFilters — the 100 TB "read nProbe/2^cellBits of the index"
  * claim), the byte footprint audit agrees, and the zone-map id-range
  * slice prunes files within cells without changing results.
  */
class StoredIndexSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(sf("embeddings")).cache()
  private lazy val queries = emb.filter(col("vec_id") % 100 === 0)
  private lazy val indexDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_spec").toString
    Clustering.ivfPqWriteIndex(Clustering.ivfPqIndex(emb), dir)
    dir
  }

  test("stored search ≡ in-session search (parquet round-trip is value-preserving)") {
    val live = Clustering.ivfPqTopK(queries, emb)
    val stored = Clustering.ivfPqSearchStored(queries, indexDir)
    assert(stored.count() > 0)
    assert(live.except(stored).isEmpty && stored.except(live).isEmpty)
  }

  test("codes scan carries the probed cells as PartitionFilters — file-index pruning") {
    val p = Clustering.ivfPqSearchStored(queries, indexDir)
      .queryExecution.executedPlan.toString
    val scan = p.linesIterator
      .filter(l => l.contains("PartitionFilters") && l.contains("/codes"))
      .mkString("\n")
    assert(
      "PartitionFilters: \\[cell#\\d+ (INSET|IN)".r.findFirstIn(scan).isDefined,
      s"codes scan must partition-prune on the probed cells:\n$p")
  }

  test("footprint audit: probed-cell bytes < total index bytes, both positive") {
    // A small batch probes 8 of the populated cells; its file bytes must
    // be a strict subset of the index on this fixture.
    val index = Clustering.ivfPqLoadIndex(spark, indexDir)
    val someQueries = emb.filter(col("vec_id") % 500 === 0)
    val cells = Clustering.probedCellsOf(someQueries, index.centroids)
    val (probedBytes, totalBytes) = Clustering.storedCodesFootprint(spark, indexDir, cells)
    assert(probedBytes > 0 && totalBytes > 0)
    assert(probedBytes < totalBytes,
      s"probed=$probedBytes total=$totalBytes — pruning must skip bytes on this fixture")
  }

  test("stored residual search ≡ in-session residual search") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_res").toString
    Clustering.ivfPqWriteIndex(Clustering.ivfPqResidualIndex(emb), dir)
    val live = Clustering.ivfPqResidualTopK(queries, emb)
    val stored = Clustering.ivfPqResidualSearchStored(queries, dir)
    assert(stored.count() > 0)
    assert(live.except(stored).isEmpty && stored.except(live).isEmpty)
  }

  test("index versioning: run-stamped publish + latest-resolution (TimeTravel composition)") {
    // The immutability contract: never mutate a published indexDir — write
    // a NEW run-stamped dir and resolve 'latest' at read time. Two
    // publishes (the second over a corpus slice) must coexist; readers of
    // the old stamp stay correct.
    val base = java.nio.file.Files.createTempDirectory("graft_idx_runs").toString
    val t0 = java.time.Instant.parse("2026-01-01T00:00:00Z")
    val r1 = graft.etl.Sink.runRoot(base, t0)
    val r2 = graft.etl.Sink.runRoot(base, t0.plusSeconds(60))
    Clustering.ivfPqWriteIndex(Clustering.ivfPqIndex(emb), s"$r1/ivfpq")
    Clustering.ivfPqWriteIndex(
      Clustering.ivfPqIndex(emb.filter(col("vec_id") % 2 === 0)), s"$r2/ivfpq")
    val runs = graft.etl.TimeTravel.listRuns(base, hadoopConf)
    assert(runs.size === 2)
    val latest = s"$base/${runs.last}/ivfpq"
    val older = s"$base/${runs.head}/ivfpq"
    // Latest serves the new corpus; the old stamp still serves the old one.
    assert(Clustering.ivfPqSearchStored(queries, latest)
      .filter(col("vec_id") % 2 =!= 0).count() === 0)
    val oldRes = Clustering.ivfPqSearchStored(queries, older)
    val liveOld = Clustering.ivfPqTopK(queries, emb)
    assert(oldRes.except(liveOld).isEmpty && liveOld.except(oldRes).isEmpty)
  }

  test("incremental append: frozen-codebook encode, search sees old+new, idempotent, manifest consistent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_app").toString
    val oldHalf = emb.filter(col("vec_id") % 2 === 0)
    val newHalf = emb.filter(col("vec_id") % 2 =!= 0)
    Clustering.ivfPqWriteIndex(Clustering.ivfPqIndex(oldHalf), dir)
    val n1 = Clustering.ivfPqAppendStored(newHalf, dir)
    assert(n1 === newHalf.count())
    // Oracle: the appended index ≡ old codes ∪ frozen-encode(new) against
    // the OLD codebook/centroids (append never retrains).
    val oldIdx = Clustering.ivfPqIndex(oldHalf)
    val frozenNew = Clustering.pqEncodeFrozen(newHalf, oldIdx.codebook)
      .join(newHalf.select(col("vec_id"),
        graft.functions.GraftColumns.hyperBucket(col("embedding"), 6).as("cell")),
        Seq("vec_id"))
    val expected = Clustering.ivfPqSearch(queries,
      Clustering.IvfPqIndex(oldIdx.codes.unionByName(frozenNew),
        oldIdx.codebook, oldIdx.centroids))
    val got = Clustering.ivfPqSearchStored(queries, dir)
    assert(got.count() > 0)
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
    // Replay is a no-op; the search result is unchanged.
    assert(Clustering.ivfPqAppendStored(newHalf, dir) === 0L)
    assert(Clustering.ivfPqSearchStored(queries, dir)
      .except(expected).isEmpty)
    // Manifest stayed consistent: the idRange path (which trusts it and
    // staleness-checks the file set) still serves.
    val maxId = emb.agg(max(col("vec_id"))).head.getLong(0)
    assert(Clustering.ivfPqSearchStored(queries, dir,
      idRange = Some((0L, maxId))).count() > 0)
    // Param mismatch is caught loudly, not silently mis-encoded.
    intercept[IllegalArgumentException](
      Clustering.ivfPqAppendStored(newHalf, dir, m = 2, subDim = 32))
  }

  test("streaming vector ingest appends micro-batches through the lease; searches converge") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_stream").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_idx_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_idx_ckpt").toString
    val oldHalf = emb.filter(col("vec_id") % 4 === 0)
    Clustering.ivfPqWriteIndex(Clustering.ivfPqIndex(oldHalf), dir)
    // Two micro-batch files of new vectors.
    emb.filter(col("vec_id") % 4 === 1).write.parquet(s"$srcDir/b0")
    emb.filter(col("vec_id") % 4 === 2).write.parquet(s"$srcDir/b1")
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    val q = graft.streaming.StreamingIndexIngest.run(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$srcDir/*").select(col("vec_id"), col("embedding")),
      dir, ckpt)
    try q.processAllAvailable() finally q.stop()
    // Everything streamed is now searchable; batch append of the SAME
    // vectors is a no-op (one history, shared with batch maintenance).
    val indexedIds = Clustering.ivfPqLoadIndex(spark, dir)
      .codes.select("vec_id").collect().map(_.getLong(0)).toSet
    val wantIds = emb.filter(col("vec_id") % 4 <= 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(indexedIds === wantIds)
    assert(Clustering.ivfPqAppendStored(
      emb.filter(col("vec_id") % 4 === 2), dir) === 0L)
  }

  test("optimizeIndex: retrain restores recall after distribution shift; drifted run untouched") {
    val root = java.nio.file.Files.createTempDirectory("graft_idx_opt").toString
    val t0 = java.time.Instant.parse("2026-01-01T00:00:00Z")
    // Shifted population: the corpus negated under fresh ids — lands in
    // complementary coarse cells whose stored centroids/codebooks were
    // learned from the ORIGINAL vectors only.
    val shifted = emb.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), v => -v).as("embedding"))
    val run1 = Clustering.optimizeIndex(emb, root, at = t0)
    assert(run1 === s"$root/2026-01-01-00-00-00")
    assert(Clustering.ivfPqAppendStored(shifted, run1) === emb.count())
    def runFiles(dir: String) = {
      import scala.jdk.CollectionConverters._
      val base = java.nio.file.Paths.get(dir)
      val st = java.nio.file.Files.walk(base)
      try st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => (base.relativize(p).toString, java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)).toSet
      finally st.close()
    }
    val run1Files = runFiles(run1)

    // exact cosine top-5 over the full corpus, driver-side (fixture-sized)
    val qs = shifted.filter(col("vec_id") % 50 === 0)
    val full = emb.select(col("vec_id"), col("embedding")).unionByName(shifted)
    val all = full.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val qArr = qs.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray)
    val exact = qArr.map { case (qid, qv) =>
      qid -> all.map { case (vid, v) => (cos(qv, v), vid) }
        .sortBy { case (c, vid) => (-c, vid) }.take(5).map(_._2).toSet
    }.toMap
    def recallOf(dir: String): Double = {
      val approx = Clustering.ivfPqSearchStored(qs, dir).collect()
        .groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
      exact.map { case (q, truth) =>
        approx.getOrElse(q, Set.empty[Long]).count(truth).toDouble / truth.size
      }.sum / exact.size
    }
    val before = recallOf(run1)
    val run2 = Clustering.optimizeIndex(full, root, at = t0.plusSeconds(60))
    val after = recallOf(run2)
    assert(Clustering.latestIndexRun(spark, root) === run2)
    info(f"recall@5 on shifted queries: drifted=$before%.3f retrained=$after%.3f")
    assert(after > before,
      s"retrain must restore recall: before=$before after=$after")
    // the drifted run is never mutated by the retrain — byte-identical
    assert(runFiles(run1) === run1Files)
    // a stamp collision is refused, never silently overwritten
    intercept[IllegalArgumentException](
      Clustering.optimizeIndex(full, root, at = t0))
  }

  test("tombstones: erased ids vanish pre-ranking, index bytes untouched, idempotent; retrain folds clean") {
    // own dir — tombstones must not leak into the shared index other
    // tests serve from
    val root = java.nio.file.Files.createTempDirectory("graft_idx_tomb").toString
    val dir = s"$root/idx"
    Clustering.ivfPqWriteIndex(Clustering.ivfPqIndex(emb), dir)
    def codesFiles = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/codes"))
        .map(f => f.getPath -> f.length()).sortBy(_._1)
    }
    val before = codesFiles
    val erased = emb.filter(col("vec_id") % 10 === 3).select(col("vec_id"))
    assert(Clustering.ivfPqTombstoneStored(erased, dir) > 0)
    val served = Clustering.ivfPqSearchStored(queries, dir).cache()
    // erased ids absent everywhere; ranks re-closed (dense 1..k per query)
    assert(served.filter(col("vec_id") % 10 === 3).count() === 0)
    val ranks = served.groupBy(col("q_id"))
      .agg(max(col("rank")).as("mx"), count(lit(1)).as("n"))
      .filter(col("mx") =!= col("n")).count()
    assert(ranks === 0, "ranks must re-close over survivors, not gap")
    // oracle: the untombstoned search with erased ids dropped BEFORE the cut
    val full = Clustering.ivfPqSearchStored(queries, indexDir, topK = 100000)
      .filter(col("vec_id") % 10 =!= 3)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    val rr = full.withColumn("r2", row_number().over(w)).filter(col("r2") <= 5)
      .select(col("q_id"), col("vec_id"), col("score"))
    val sl = served.select(col("q_id"), col("vec_id"), col("score"))
    assert(sl.count() > 0 && sl.except(rr).isEmpty && rr.except(sl).isEmpty)
    // codes bytes untouched; re-applying the request is a no-op on results
    assert(codesFiles === before)
    Clustering.ivfPqTombstoneStored(erased, dir)
    val again = Clustering.ivfPqSearchStored(queries, dir)
      .select(col("q_id"), col("vec_id"), col("score"))
    assert(again.except(sl).isEmpty && sl.except(again).isEmpty)
    served.unpersist()
    // retrain folds: new run trains on the surviving corpus and starts
    // with NO sidecar — takedown is physical there
    val newRun = Clustering.optimizeIndex(
      emb.filter(col("vec_id") % 10 =!= 3), s"$root/runs")
    assert(!new java.io.File(s"$newRun/deletes").exists())
    assert(Clustering.ivfPqSearchStored(queries, newRun)
      .filter(col("vec_id") % 10 === 3).count() === 0)
  }

  test("id-range slice: results ≡ post-filtered unsliced search candidates, fewer files") {
    val maxId = emb.agg(max(col("vec_id"))).head.getLong(0)
    val lo = 0L
    val hi = maxId / 2
    val sliced = Clustering.ivfPqSearchStored(queries, indexDir, idRange = Some((lo, hi)))
    // Oracle: search an index built over ONLY the slice — same corpus the
    // sliced read exposes (top-k over identical candidates ⇒ identical
    // output, because codes/centroids/codebook come from the same stored
    // artifact in both cases — only the candidate row set differs).
    val full = Clustering.ivfPqSearchStored(queries, indexDir, topK = 100000)
      .filter(col("vec_id") >= lo && col("vec_id") <= hi)
    // ranks differ (full ranks before slicing), so compare the per-query
    // top-5 id/score sets after re-ranking the filtered full result.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    val rr = full.withColumn("r2", row_number().over(w)).filter(col("r2") <= 5)
      .select(col("q_id"), col("vec_id"), col("score"))
    val sl = sliced.select(col("q_id"), col("vec_id"), col("score"))
    assert(sl.count() > 0)
    assert(sl.except(rr).isEmpty && rr.except(sl).isEmpty)
  }

  test("a hot cell larger than AQE's advisory size splits across files; every vec_id kept") {
    // One cell holds every code row. The split needs several map outputs,
    // so the codes come in 8 splits.
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_hot").toString
    val codes = spark.range(0, 40000, 1, 8)
      .select(col("id").as("vec_id"), lit(7L).as("cell"), array(col("id") % 256).as("code"))
    val side = spark.range(1).select(lit(7L).as("cell"))
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "1k")
    try Clustering.ivfPqWriteIndex(Clustering.IvfPqIndex(codes, side, side), dir)
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val files = new java.io.File(s"$dir/codes/cell=7").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files >= 2, s"hot cell must split across files, got $files")
    val stored = spark.read.parquet(s"$dir/codes")
    assert(stored.count() === 40000L)
    assert(stored.select("vec_id").distinct().count() === 40000L)
  }
}
