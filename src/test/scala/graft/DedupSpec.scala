package graft

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "completely different words entirely here now"),
    (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (4L, "tiny doc") // < 3 tokens → no shingles
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts and keeps the min id") {
    val out = Dedup.exact(docs).collect()
    assert(out.length === 4)
    val dupGroup = out.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dupGroup.getAs[Long]("keep_id") === 0L)
  }

  test("shingles: distinct word 3-grams; short docs yield none") {
    val sh = Dedup.shingles(docs)
    assert(sh.filter($"doc_id" === 4L).count() === 0)
    val first = sh.filter($"doc_id" === 0L).collect().map(_.getString(1)).toSet
    assert(first.contains("the quick brown"))
    assert(first.contains("the lazy dog"))
    assert(first.size === 7) // 9 tokens → 7 shingles, all distinct
  }

  test("jaccard pairs find the planted near-dup and exact dup") {
    val pairs = Dedup.jaccardPairs(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 3L))) // exact: jaccard 1.0
    assert(keys.contains((0L, 1L))) // near: 6/8
    assert(pairs.find(p => (p._1, p._2) == (0L, 3L)).get._3 === 1.0)
    assert(pairs.find(p => (p._1, p._2) == (0L, 1L)).get._3 === 0.75)
    assert(!keys.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("ppjoinPairs ≡ jaccardPairs (exact output, full recall) at several thresholds") {
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    for (t <- Seq(0.3, 0.5, 0.7)) {
      val exact = Dedup.jaccardPairs(corpus, threshold = t)
      val pp = Dedup.ppjoinPairs(corpus, threshold = t)
      assert(pp.except(exact).isEmpty && exact.except(pp).isEmpty,
        s"ppjoin != all-pairs at t=$t")
      assert(pp.count() > 0, s"vacuous fixture at t=$t")
    }
  }

  test("clustersLogStar ≡ clusters on real near-dup pairs") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val pairs = Dedup.minhashPairs(docs)
    val a = Dedup.clusters(docs, pairs)
    val b = Dedup.clustersLogStar(docs, pairs)
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("clustersLogStar: 1024-node path converges in O(log n) rounds (propagation would need 1023)") {
    import org.apache.spark.sql.functions.col
    // A path graph is the adversarial diameter case: min-label propagation
    // moves the min ONE hop per round. The star rounds must collapse it
    // within the maxRounds backstop (~log2(1024)=10, with slack).
    val n = 1024
    val path = spark.range(n - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val nodes = spark.range(n).select(col("id").as("doc_id"))
    val out = Dedup.clustersLogStar(nodes.toDF(), path.toDF(), maxRounds = 15)
    val labels = out.select("cluster_id").distinct().collect().map(_.getLong(0))
    assert(labels.toSeq === Seq(0L), "path must collapse to one component labeled 0")
    assert(out.filter(col("is_canonical") === 1L).count() === 1L)
  }

  test("clustersAdaptive: cheap path on shallow graphs, star escalation on chains — labels identical") {
    import org.apache.spark.sql.functions.col
    // shallow (quads): within the round budget → the cheap propagation
    val quads = spark.range(400)
      .select((col("id") - col("id") % 4).as("doc_a"), col("id").as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    val qNodes = spark.range(400).select(col("id").as("doc_id"))
    val aQ = Dedup.clustersAdaptive(qNodes.toDF(), quads.toDF())
    val cQ = Dedup.clusters(qNodes.toDF(), quads.toDF())
    assert(aQ.except(cQ).isEmpty && cQ.except(aQ).isEmpty)
    // chain (diameter 599): blows the budget → star escalation, same labels
    val n = 600
    val chain = spark.range(n - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val nodes = spark.range(n).select(col("id").as("doc_id"))
    val out = Dedup.clustersAdaptive(nodes.toDF(), chain.toDF())
    assert(out.select("cluster_id").distinct().count() === 1L)
    assert(out.filter(col("is_canonical") === 1L).count() === 1L)
    assert(out.count() === n.toLong)
  }

  test("containmentPairs: directed near-subset semantics on a hand fixture") {
    // B's tokens are a prefix of A's -> every B-shingle is an A-shingle:
    // C(B,A) = 3/3 = 1.0 emitted; C(A,B) = 3/5 = 0.6 < 0.8 suppressed.
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7"), // 5 shingles
      (2L, "w1 w2 w3 w4 w5"),       // 3 shingles, all in doc 1
      (3L, "x1 x2 x3 x4 x5 x6")     // unrelated
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out.keySet === Set((2L, 1L)))
    assert(out((2L, 1L)) === ((3L, 3L, 1.0d)))
  }

  test("absorbSubsets: excerpts die into their source, identicals keep min id, chains bounded") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7"), // the source: survives
      (2L, "w1 w2 w3 w4 w5"),       // contained in 1, smaller → absorbed by 1
      (3L, "x1 x2 x3 x4 x5"),       // identical pair with 4 → min id survives
      (4L, "x1 x2 x3 x4 x5"),
      (5L, "z1 z2 z3 z4")           // unrelated: survives
    ).toDF("doc_id", "text")
    val out = Dedup.absorbSubsets(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map(
      1L -> ((0L, -1L)), 2L -> ((1L, 1L)),
      3L -> ((0L, -1L)), 4L -> ((1L, 3L)),
      5L -> ((0L, -1L))))
  }

  test("containmentPairs ≡ brute force (full recall through prefix/size/positional pruning)") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    // Plant excerpts so the containment set is non-trivial (same recipe as
    // the d11 gate row), then compare against the unpruned formulation.
    val excerpts = corpus.filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        org.apache.spark.sql.functions.expr(
          "concat_ws(' ', slice(split(trim(text), ' +'), 1, " +
          "greatest(3L, (size(split(trim(text), ' +')) * 3L) div 5)))").as("text"))
    val docs = corpus.select(col("doc_id"), col("text")).unionByName(excerpts)
    val pruned = Dedup.containmentPairs(docs)
    val sh = Dedup.shingleHashes(docs)
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n_a"))
    val brute = sh.select(col("doc_id").as("doc_a"), col("h"))
      .join(sh.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
      .join(cnt.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"))
      .filter(col("n_inter") * 5 >= col("n_a") * 4)
      .withColumn("containment",
        org.apache.spark.sql.functions.round(
          col("n_inter").cast("double") / col("n_a").cast("double"), 7))
      .select("doc_a", "doc_b", "n_inter", "n_a", "containment")
    assert(pruned.except(brute).isEmpty && brute.except(pruned).isEmpty)
    assert(pruned.count() > 0, "vacuous containment fixture")
  }

  test("ppjoin prefix filter prunes: candidate pairs strictly fewer than h-sharing pairs") {
    import org.apache.spark.sql.functions.{col, count, lit, ceil, row_number}
    import org.apache.spark.sql.expressions.Window
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val t = 0.5
    val sh = Dedup.shingleHashes(corpus)
    val allSharing = sh.select(col("doc_id").as("a"), col("h"))
      .join(sh.select(col("doc_id").as("b"), col("h")), Seq("h"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val dfreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val prefix = sh.join(dfreq, Seq("h")).join(cnt, Seq("doc_id"))
      .withColumn("p", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))))
      .filter(col("p") <= col("n") - ceil(lit(t) * col("n")).cast("long") + 1)
    val candidates = prefix.select(col("doc_id").as("a"), col("h"))
      .join(prefix.select(col("doc_id").as("b"), col("h")), Seq("h"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    assert(candidates < allSharing,
      s"prefix filter pruned nothing: $candidates vs $allSharing")
  }

  test("per-row shingle/minhash expressions equal the aggregate pipeline") {
    import org.apache.spark.sql.functions.{col, size}
    val perRowSh = docs
      .select(col("doc_id"), graft.functions.GraftColumns.shingleHashes(col("text"), 3).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val aggSh = Dedup.shingleHashes(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    docs.select("doc_id").collect().map(_.getLong(0)).foreach { id =>
      assert(perRowSh.getOrElse(id, Set.empty) === aggSh.getOrElse(id, Set.empty), s"doc $id")
    }
    val perRowMh = docs
      .select(col("doc_id"), graft.functions.GraftColumns.shingleHashes(col("text"), 3).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), graft.functions.GraftColumns.minhashArr(col("hs"), Dedup.MinhashK).as("mh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val aggMh = Dedup.minhashSignatures(Dedup.shingleHashes(docs)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(perRowMh === aggMh)
    // SimHash: per-row expression vs the token-explode + SimHashAgg pipeline.
    import org.apache.spark.sql.functions.{explode, lit, reverse}
    val aggSim = docs
      .select(col("doc_id"), explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        (graft.functions.TextHash.polyHash(col("tok")) +
          graft.functions.TextHash.polyHash(reverse(col("tok"))) * lit(1L << 30)).as("h"))
      .groupBy("doc_id")
      .agg(graft.functions.SimHashAgg.simhash(col("h"), Dedup.SimhashBits).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val perRowSim = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perRowSim === aggSim)
  }

  test("minhash LSH pairs match exact jaccard pairs on planted dups") {
    val exact = Dedup.jaccardPairs(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact)
  }

  test("bandingFor: knobs derived from (threshold, recall) — pinned choices, S-curve honored, unattainable throws") {
    // the hand-chosen default (16 bands × 2 rows) is exactly what the
    // derivation picks for its design point — the folklore knob, derived
    assert(Dedup.bandingFor(0.5, 0.95) === ((16, 2)))
    // higher threshold → steeper curve affordable → more rows per band
    assert(Dedup.bandingFor(0.8, 0.95) === ((8, 4)))
    assert(Dedup.bandingFor(0.9, 0.95) === ((5, 6)))
    // every choice meets its target and is the MOST selective that does
    Seq((0.5, 0.95), (0.8, 0.95), (0.9, 0.99), (0.3, 0.9)).foreach {
      case (t, rec) =>
        val (b, r) = Dedup.bandingFor(t, rec)
        assert(Dedup.bandingProbability(t, b, r) >= rec, s"t=$t rec=$rec")
        if (r < Dedup.MinhashK) {
          val (b2, r2) = (Dedup.MinhashK / (r + 1), r + 1)
          assert(Dedup.bandingProbability(t, b2, r2) < rec,
            s"a more selective banding also met the target at t=$t rec=$rec")
        }
    }
    // a target even (r=1, b=k) cannot reach fails loudly
    val ex = intercept[IllegalArgumentException] {
      Dedup.bandingFor(0.01, 0.999)
    }
    assert(ex.getMessage.contains("increase k"))
  }

  test("minhashPairs at bandingFor(0.8) knobs: full recall on the planted ≥0.8 pairs") {
    val (_, r) = Dedup.bandingFor(0.8, 0.95)
    val exact = Dedup.jaccardPairs(docs, threshold = 0.8)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(docs, threshold = 0.8, bandRows = r)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(exact.nonEmpty && lsh === exact)
  }

  test("simhash: identical texts share a signature; signatures fit in 60 bits") {
    val sig = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(0L) === sig(3L))
    assert(sig.values.forall(v => v >= 0 && v < (1L << 60)))
    assert(sig(0L) !== sig(2L))
  }

  test("simhash pairs: exact dup at hamming 0; chunk banding keeps full recall") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((0L, 3L)) === 0L) // identical texts → identical signatures
    // banding must equal brute force at the same threshold
    val sig = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = for {
      a <- sig.keys; b <- sig.keys if a < b
      h = java.lang.Long.bitCount(sig(a) ^ sig(b)) if h <= 3
    } yield (a, b)
    assert(pairs.keySet === brute.toSet)
  }

  test("span duplication: partial copy-paste scores high, unique text zero") {
    // Doc 2 copies half of doc 1 (8 words of its 12): whole-doc Jaccard is
    // low but the copied span's 5-grams all collide. Doc 3 shares nothing.
    // Doc 4 has < 5 words → no grams → no output row.
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta completely different tail here"),
      (3L, "one two three four five six seven eight nine ten eleven twelve"),
      (4L, "too short here")).toDF("doc_id", "text")
    val out = Dedup.spanDuplication(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L)._1 === 8L) // 12 words → 8 distinct 5-grams
    assert(out(1L)._2 === 4L) // the 4 grams inside the copied 8-word span
    assert(out(2L) === ((8L, 4L, 0.5)))
    assert(out(3L) === ((8L, 0L, 0.0)))
  }

  test("clusters: min-label propagation merges chains; singletons stay canonical") {
    // Path component 10–11–12 (10~12 never emitted as a pair — transitivity
    // must come from propagation, and the path shape needs >1 round), a
    // 2-cycle 20–21, and untouched singleton 30.
    val allDocs = Seq(10L, 11L, 12L, 20L, 21L, 30L).map((_, "t")).toDF("doc_id", "text")
    val pairs = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val out = Dedup.clusters(allDocs, pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(10L) === ((10L, 1L)))
    assert(out(11L) === ((10L, 0L)))
    assert(out(12L) === ((10L, 0L))) // reached 10 only through 11
    assert(out(20L) === ((20L, 1L)))
    assert(out(21L) === ((20L, 0L)))
    assert(out(30L) === ((30L, 1L))) // not in any pair → own cluster
  }

  test("clusters: empty pair list leaves every doc canonical") {
    val allDocs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val out = Dedup.clusters(allDocs, pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out === Map(1L -> ((1L, 1L)), 2L -> ((2L, 1L))))
  }

  test("incremental minhash: runs in arrival order equal one batch run") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_store").toString + "/store"
    val batch1 = docs.filter($"doc_id" <= 2L) // 0, 1 near-dups; 2 distinct
    val batch2 = docs.filter($"doc_id" > 2L)  // 3 = exact dup of 0; 4 tiny
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val run1 = pairsOf(Dedup.incrementalMinhashPairs(batch1, dir))
    val run2 = pairsOf(Dedup.incrementalMinhashPairs(batch2, dir))
    val batch = pairsOf(Dedup.minhashPairs(docs))
    assert(run1.intersect(run2).isEmpty) // no pair reported twice
    assert(run1.union(run2) === batch)
    assert(run2.map(p => (p._1, p._2)).contains((0L, 3L))) // new doc paired against stored corpus
  }

  test("incremental store: torn staging write is invisible; re-ingest is idempotent") {
    val root = java.nio.file.Files.createTempDirectory("graft_mh_store2")
    val dir = root.toString + "/store"
    val batch1 = docs.filter($"doc_id" <= 2L)
    val batch2 = docs.filter($"doc_id" > 2L)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val run1 = pairsOf(Dedup.incrementalMinhashPairs(batch1, dir))
    // Simulate a writer killed mid-append: an orphaned hidden staging
    // directory with a half-written file. Readers must never see it.
    val torn = new java.io.File(dir, ".staging-dead")
    assert(torn.mkdirs())
    java.nio.file.Files.write(
      torn.toPath.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    val run2 = pairsOf(Dedup.incrementalMinhashPairs(batch2, dir))
    assert(run1.union(run2) === pairsOf(Dedup.minhashPairs(docs)))
    // Re-ingesting an already-stored batch: no pairs re-emitted, no
    // double-counted signatures in the store.
    val storedBefore = spark.read.option("recursiveFileLookup", "true").parquet(dir).count()
    val rerun = pairsOf(Dedup.incrementalMinhashPairs(batch2, dir))
    assert(rerun.isEmpty)
    val storedAfter = spark.read.option("recursiveFileLookup", "true").parquet(dir).count()
    assert(storedAfter === storedBefore)
  }

  test("incremental store: a store without the format marker is rejected") {
    // A store written before the space-only-trim tokenizer change holds
    // shingle sets this code can't reproduce — comparing against them
    // silently under-scores exact dups. Publishing writes the marker;
    // deleting it simulates the stale pre-v2 layout.
    val root = java.nio.file.Files.createTempDirectory("graft_mh_store4")
    val dir = root.toString + "/store"
    Dedup.incrementalMinhashPairs(docs.filter($"doc_id" <= 2L), dir).collect()
    val marker = new java.io.File(dir, Dedup.StoreFormatMarker)
    assert(marker.exists())
    assert(marker.delete())
    val ex = intercept[IllegalStateException] {
      Dedup.incrementalMinhashPairs(docs.filter($"doc_id" > 2L), dir)
    }
    assert(ex.getMessage.contains("tokenizer"))
  }

  test("incremental store: writer lease serializes interleaved writers — no silent cross-batch pair loss") {
    // The lost-pair scenario: writer A and writer B ingest concurrently;
    // each snapshots a store that excludes the other's batch, both publish,
    // and the A↔B cross-pair is never emitted by anyone. The lease makes
    // that impossible by bracketing snapshot→publish: B arriving while A
    // holds the lock FAILS LOUDLY (with A's identity), and B's retry after
    // A's release snapshots a store that includes A's batch — emitting the
    // cross-pair. Interleaving is simulated by planting A's lock file at
    // B's arrival (deterministic, exactly the window the lease guards).
    val root = java.nio.file.Files.createTempDirectory("graft_mh_store5")
    val dir = root.toString + "/store"
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // Writer A publishes batch1 (docs 0-2, containing near-dup pair 0-1).
    pairsOf(Dedup.incrementalMinhashPairs(docs.filter($"doc_id" <= 2L), dir))
    // Lease released after a successful run.
    assert(!new java.io.File(dir, graft.etl.WriterLease.LockFile).exists())
    // Writer A (simulated) holds the lock mid-ingest when writer B arrives.
    val lock = new java.io.File(dir, graft.etl.WriterLease.LockFile)
    java.nio.file.Files.write(lock.toPath,
      "writerA@12345".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val ex = intercept[IllegalStateException] {
      Dedup.incrementalMinhashPairs(docs.filter($"doc_id" > 2L), dir).collect()
    }
    assert(ex.getMessage.contains("writerA@12345"), ex.getMessage)
    // The failed attempt must not have published anything or eaten A's lock.
    assert(lock.exists())
    // After A releases, B's retry sees A's batch: the cross-batch pair
    // (0 = stored by A, 3 = B's exact dup of it) is emitted.
    assert(lock.delete())
    val run2 = pairsOf(Dedup.incrementalMinhashPairs(docs.filter($"doc_id" > 2L), dir))
    assert(run2.map(p => (p._1, p._2)).contains((0L, 3L)))
  }

  test("incremental store: a read failure propagates instead of emptying the corpus") {
    // A storePath that exists but is unreadable as parquet must throw —
    // treating it as "no store yet" would drop every new-vs-old pair while
    // still appending, silently corrupting all later runs.
    val root = java.nio.file.Files.createTempDirectory("graft_mh_store3")
    val dir = root.toString + "/store"
    new java.io.File(dir).mkdirs()
    // The format marker must be PRESENT so the failure exercised is the
    // parquet read itself, not the earlier tokenizer-version guard.
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(dir, Dedup.StoreFormatMarker))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "batch-garbage"), Array[Byte](9, 9, 9))
    val ex = intercept[Exception] {
      Dedup.incrementalMinhashPairs(docs, dir).collect()
    }
    assert(!ex.getMessage.contains("tokenizer"), ex.getMessage)
  }

  test("incremental hamming store: runs in arrival order equal one batch run") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ham_store").toString + "/store"
    // planted: 1~2 (ham 1), 5 ≡ 3 (ham 0), 4~2 (ham 1) and 4~1 (ham 2);
    // 3 is far from 1/2/4
    val all = Seq((1L, 0L), (2L, 1L), (3L, 0x00F0_F0F0_F0F0_F0F0L),
      (4L, 3L), (5L, 0x00F0_F0F0_F0F0_F0F0L)).toDF("doc_id", "sig")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val run1 = pairsOf(Dedup.incrementalHammingPairs(
      all.filter($"doc_id" <= 3L), dir, 64, 2, "test-v1"))
    val run2 = pairsOf(Dedup.incrementalHammingPairs(
      all.filter($"doc_id" > 3L), dir, 64, 2, "test-v1"))
    val oneShot = pairsOf(Dedup.hammingPairs(all, 64, 2))
    assert(run1.intersect(run2).isEmpty) // no pair reported twice
    assert(run1.union(run2) === oneShot)
    assert(run2.contains((3L, 5L, 0L))) // new doc paired against stored corpus
    // idempotent replay: no pairs re-emitted, no double-stored signatures
    val storedBefore = spark.read.option("recursiveFileLookup", "true").parquet(dir).count()
    assert(pairsOf(Dedup.incrementalHammingPairs(
      all.filter($"doc_id" > 3L), dir, 64, 2, "test-v1")).isEmpty)
    assert(spark.read.option("recursiveFileLookup", "true").parquet(dir).count()
      === storedBefore)
    // a different extractor scheme against the same store fails loudly
    val ex = intercept[IllegalStateException] {
      Dedup.incrementalHammingPairs(all, dir, 64, 2, "other-v9")
    }
    assert(ex.getMessage.contains("other-v9"))
  }

  test("incremental hamming store: cross-batch image dHash pairing (the m10 shape)") {
    // Real modality end-to-end: pattern-PNG quads split across two ingest
    // runs by parity, so every quad straddles the batch boundary and every
    // within-quad pair requires new↔old pairing against the store.
    val dir = java.nio.file.Files.createTempDirectory("graft_ham_store2").toString + "/store"
    val ids = (0L until 16L).toDF("doc_id")
    val sigs = graft.operators.Multimodal.imageDhash(
      graft.operators.Multimodal.synthesizePatternPngs(ids))
      .withColumnRenamed("dhash", "sig")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val run1 = pairsOf(Dedup.incrementalHammingPairs(
      sigs.filter($"doc_id" % 2 === 0), dir, 64, 4, "dhash-8x8-v1"))
    val run2 = pairsOf(Dedup.incrementalHammingPairs(
      sigs.filter($"doc_id" % 2 === 1), dir, 64, 4, "dhash-8x8-v1"))
    assert(run1.intersect(run2).isEmpty)
    assert(run1.union(run2) === pairsOf(Dedup.hammingPairs(sigs, 64, 4)))
    // the base↔variant-1 edge of quad 0 is a cross-batch (odd vs stored
    // even) pair and must come from run2
    assert(run2.exists(p => p._1 == 0L && p._2 == 1L))
  }

  test("eraseFromStore: erased ids never pair again; clean batches stay byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ham_erase").toString + "/store"
    // batch 1: 1~2 at ham 1; batch 2: 3 ≡ 1 (ham 0), 4 far away
    val b1 = Seq((1L, 0L), (2L, 1L)).toDF("doc_id", "sig")
    val b2 = Seq((3L, 0L), (4L, 0x0F0F_0F0F_0F0FL)).toDF("doc_id", "sig")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    pairsOf(Dedup.incrementalHammingPairs(b1, dir, 64, 2, "test-v1"))
    pairsOf(Dedup.incrementalHammingPairs(b2, dir, 64, 2, "test-v1"))
    // snapshot batch-2's files (no hits for key 1 — must stay byte-identical)
    val store = new java.io.File(dir)
    def filesOf(batch: java.io.File): Map[String, Long] =
      batch.listFiles().map(f => f.getName -> f.lastModified()).toMap
    val batchDirs = store.listFiles().filter(_.getName.startsWith("batch-"))
    val hit = batchDirs.filter { b =>
      spark.read.parquet(b.toString).filter($"doc_id" === 1L).count() > 0 }
    assert(hit.length === 1)
    val clean = batchDirs.filterNot(b => hit.contains(b)).head
    val cleanBefore = filesOf(clean)
    // erase doc 1 (a member of two pairs)
    val erased = Dedup.eraseFromStore(spark, dir,
      Seq(1L).toDF("doc_id"))
    assert(erased === 1L)
    val storedIds = spark.read.option("recursiveFileLookup", "true")
      .parquet(dir).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(storedIds === Set(2L, 3L, 4L)) // 1 is gone, everyone else survives
    assert(filesOf(clean) === cleanBefore) // untouched batch: same files
    assert(!store.listFiles().exists(_.getName.startsWith(".retired")))
    // a NEW ingest with 1's exact signature pairs against the surviving
    // docs (3 at ham 0, 2 at ham 1) but never against the erased 1
    val run3 = pairsOf(Dedup.incrementalHammingPairs(
      Seq((9L, 0L)).toDF("doc_id", "sig"), dir, 64, 2, "test-v1"))
    assert(run3.map(p => (p._1, p._2)) === Set((2L, 9L), (3L, 9L)))
    // erasing EVERY remaining id retires all batches without poisoning the
    // store: the next ingest sees an empty corpus and emits nothing
    Dedup.eraseFromStore(spark, dir, Seq(2L, 3L, 4L, 9L).toDF("doc_id"))
    val run4 = pairsOf(Dedup.incrementalHammingPairs(
      Seq((10L, 0L)).toDF("doc_id", "sig"), dir, 64, 2, "test-v1"))
    assert(run4.isEmpty)
    // the lease guards erase like ingest: a held lock fails loudly
    java.nio.file.Files.write(new java.io.File(dir, graft.etl.WriterLease.LockFile).toPath,
      "writerZ@1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val ex = intercept[IllegalStateException] {
      Dedup.eraseFromStore(spark, dir, Seq(10L).toDF("doc_id"))
    }
    assert(ex.getMessage.contains("writerZ@1"))
  }

  test("eraseFromStore: a null-keyed store row survives under BOTH key representations") {
    import org.apache.spark.sql.functions.col
    // a store batch whose id column carries a null (schema-opaque rewrite
    // must not let `NOT isin`'s three-valued logic silently drop it while
    // the frame path's left_anti keeps it — the same request would then
    // erase different data depending on its SIZE)
    def mkStore(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_null_row").toString + "/store"
      Seq((java.lang.Long.valueOf(1L), 10L), (null.asInstanceOf[java.lang.Long], 20L),
          (java.lang.Long.valueOf(3L), 30L))
        .toDF("doc_id", "sig")
        .write.parquet(s"$dir/batch-seed")
      dir
    }
    def survivors(dir: String) = spark.read
      .option("recursiveFileLookup", "true").parquet(dir)
      .select("sig").collect().map(_.getLong(0)).toSet
    // literal path (3 keys)
    val d1 = mkStore()
    assert(Dedup.eraseFromStore(spark, d1, Seq(1L).toDF("doc_id")) === 1L)
    assert(survivors(d1) === Set(20L, 30L),
      "literal path: the null-keyed row must survive an unrelated takedown")
    // frame path (> LiteralKeyMax keys, same single hit)
    val d2 = mkStore()
    val bigKeys = spark.range(0, graft.etl.Erasure.LiteralKeyMax + 5L)
      .select((col("id") + 1000000L).as("doc_id"))
      .union(Seq(1L).toDF("doc_id"))
    assert(Dedup.eraseFromStore(spark, d2, bigKeys) === 1L)
    assert(survivors(d2) === Set(20L, 30L),
      "frame path: identical outcome for the identical takedown")
  }

  test("eraseFromStore: a 100k-key takedown runs through the frame path (no giant isin literal)") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft_big_erase").toString + "/store"
    // store: docs 0..999 at distinct signatures (no pairs — irrelevant here)
    val b1 = spark.range(0, 1000).select(col("id").as("doc_id"),
      (col("id") * 1024L).as("sig"))
    Dedup.incrementalHammingPairs(b1, dir, 64, 2, "test-v1")
    // request: 100_001 distinct keys (over LiteralKeyMax → frame path),
    // of which 500 are present (evens under 1000), plus a null (dropped)
    assert(graft.etl.Erasure.LiteralKeyMax < 100001)
    val keys = spark.range(0, 200002).select(
      org.apache.spark.sql.functions.when(col("id") % 2 === 0, col("id") / 2)
        .cast("long").as("doc_id"))
    val erased = Dedup.eraseFromStore(spark, dir, keys)
    assert(erased === 1000L,
      "keys 0..100000 cover every stored doc 0..999") // all stored docs hit
    // store is fully retired — a fresh ingest sees an empty corpus
    val run2 = Dedup.incrementalHammingPairs(
      Seq((5000L, 0L)).toDF("doc_id", "sig"), dir, 64, 2, "test-v1")
    assert(run2.count() === 0L)
    // label-store twin: same frame path, survivors relabeled
    val ldir = java.nio.file.Files.createTempDirectory("graft_big_lerase").toString + "/labels"
    val docs = spark.range(0, 1000).select(col("id").as("doc_id"))
    val pairs = spark.range(0, 999).select(col("id").as("src"), (col("id") + 1).as("dst"))
    Dedup.incrementalClusters(docs, pairs.select(
      col("src").as("doc_a"), col("dst").as("doc_b")), ldir)
    val lkeys = spark.range(0, 150000).select(col("id").as("doc_id"))
      .filter(col("doc_id") < 100 || col("doc_id") >= 1000)
    val lerased = Dedup.eraseFromLabelStore(spark, ldir, lkeys)
    assert(lerased === 100L)
    val left = spark.read.parquet(
      new java.io.File(ldir).listFiles().filter(_.getName.startsWith("labels-"))
        .head.toString)
    assert(left.count() === 900L)
    // survivors relabeled to the new minimum (100) — the erased old
    // minimum (0) appears in neither column
    assert(left.agg(org.apache.spark.sql.functions.min(col("cluster_id")))
      .head().getLong(0) === 100L)
  }

  test("incremental semantic pairs: arrival-order runs ≡ flagged batch under the pinned center") {
    import org.apache.spark.sql.functions.lit
    val dir = java.nio.file.Files.createTempDirectory("graft_sem_store").toString + "/store"
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val b1 = emb.filter($"vec_id" % 2 === 0)
    val b2 = emb.filter($"vec_id" % 2 === 1)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val run1 = pairsOf(Dedup.incrementalSemanticPairs(b1, dir))
    val run2 = pairsOf(Dedup.incrementalSemanticPairs(b2, dir))
    // the batch twin under the SAME pinned center (batch 1's quantized
    // sums) — scoring the whole union with every row flagged new
    val (qs, n) = graft.operators.Similarity.quantizedSums(b1)
    val oneShot = pairsOf(graft.operators.Similarity.lshNeighborsCentered(
      emb.withColumn("is_new", lit(true)),
      graft.operators.Similarity.meanDfFromQuantized(spark, qs, n)))
    assert(run1.intersect(run2).isEmpty)
    assert(run1.union(run2) === oneShot && oneShot.nonEmpty)
    // cross-batch evidence: at least one pair spans the parity split
    assert(run2.exists(p => p._1 % 2 == 0 && p._2 % 2 == 1
      || p._1 % 2 == 1 && p._2 % 2 == 0))
    // idempotent replay, no double-stored vectors
    val storedBefore = spark.read.option("recursiveFileLookup", "true").parquet(dir).count()
    assert(pairsOf(Dedup.incrementalSemanticPairs(b2, dir)).isEmpty)
    assert(spark.read.option("recursiveFileLookup", "true").parquet(dir).count()
      === storedBefore)
    // bucket-width mismatch is loud
    val ex = intercept[IllegalStateException] {
      Dedup.incrementalSemanticPairs(b2, dir, nBits = 6)
    }
    assert(ex.getMessage.contains("semlsh-b6"))
    // erasure composes with the vector store through keyCol = vec_id: an
    // erased vector never pairs again even if its exact twin re-arrives
    val victim = run2.head._1
    assert(Dedup.eraseFromStore(spark, dir,
      Seq(victim).toDF("vec_id"), keyCol = "vec_id") >= 1L)
    val reRun = pairsOf(Dedup.incrementalSemanticPairs(
      emb.filter($"vec_id" === victim)
        .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"), dir))
    assert(!reRun.exists(p => p._1 == victim || p._2 == victim))
    // a lost center is loud, never silently re-derived
    assert(new java.io.File(dir, "_center").delete())
    val ex2 = intercept[IllegalStateException] {
      Dedup.incrementalSemanticPairs(b2, dir)
    }
    assert(ex2.getMessage.contains("_center"))
  }

  test("compactStore: many batches become one, pairing and erasure unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/store"
    val all = Seq((1L, 0L), (2L, 1L), (3L, 0x0F0F_0F0FL), (4L, 0x0F0F_0F0EL),
      (5L, 0x7070_7070L)).toDF("doc_id", "sig")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // five single-doc ingests → five batch dirs
    (1L to 5L).foreach { i =>
      Dedup.incrementalHammingPairs(all.filter($"doc_id" === i),
        dir, 64, 2, "test-v1").collect()
    }
    val store = new java.io.File(dir)
    def batchDirs = store.listFiles().count(_.getName.startsWith("batch-"))
    assert(batchDirs === 5)
    val (merged, rows) = Dedup.compactStore(spark, dir)
    assert((merged, rows) === ((5L, 5L)))
    assert(batchDirs === 1)
    // compaction is invisible to pairing: a new ingest still sees the
    // full history (1~2 stored, 9 ≡ 1 → pairs 1 and 2)
    val run = pairsOf(Dedup.incrementalHammingPairs(
      Seq((9L, 0L)).toDF("doc_id", "sig"), dir, 64, 2, "test-v1"))
    assert(run.map(p => (p._1, p._2)) === Set((1L, 9L), (2L, 9L)))
    // idempotent: compacting twice more is stable (2 batches → 1 → no-op)
    assert(Dedup.compactStore(spark, dir)._1 === 2L)
    assert(Dedup.compactStore(spark, dir) === ((0L, 0L)))
    // erasure still works on the compacted layout
    Dedup.eraseFromStore(spark, dir, Seq(1L).toDF("doc_id"))
    val run2 = pairsOf(Dedup.incrementalHammingPairs(
      Seq((10L, 0L)).toDF("doc_id", "sig"), dir, 64, 2, "test-v1"))
    assert(!run2.exists(p => p._1 == 1L || p._2 == 1L))
    // the format marker survives compaction
    assert(new java.io.File(dir, "_format-test-v1").exists())
  }

  test("eraseFromStore erases from the minhash store too (schema-opaque rewrite)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_erase").toString + "/store"
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    pairsOf(Dedup.incrementalMinhashPairs(docs.filter($"doc_id" <= 2L), dir))
    // doc 0 is the stored near-dup target of batch-2's exact dup (doc 3)
    assert(Dedup.eraseFromStore(spark, dir, Seq(0L).toDF("doc_id")) === 1L)
    val run2 = pairsOf(Dedup.incrementalMinhashPairs(docs.filter($"doc_id" > 2L), dir))
    // without erasure this run emits (0, 3) — see the arrival-order test
    assert(!run2.exists(p => p._1 == 0L || p._2 == 0L))
  }

  test("clusters: worst-case path graph converges without cached-RDD creep") {
    // A 14-node path needs ~13 propagation rounds (min label moves one hop
    // per round) — the adversarial diameter case. Superseded per-round
    // checkpoints must be released, not accumulated for the job's lifetime.
    val n = 14
    val allDocs = (0L until n.toLong).map((_, "t")).toDF("doc_id", "text")
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val out = Dedup.clusters(allDocs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === (0L until n.toLong).map(_ -> 0L).toMap)
    val persistedAfter = spark.sparkContext.getPersistentRDDs.size
    // Only the final labels checkpoint may remain, not one RDD per round.
    assert(persistedAfter - persistedBefore <= 2,
      s"cached RDDs grew by ${persistedAfter - persistedBefore} over ~$n rounds")
  }

  test("JVM tokenization matches SQL trim semantics on control whitespace") {
    // Java String.trim strips every char <= U+0020; SQL TRIM (Spark and
    // DuckDB) strips only ' '. Docs with leading/trailing \n and \t must
    // tokenize identically in the per-row JVM expressions and the
    // split(trim(text), ' +') SQL path the oracles replay.
    import org.apache.spark.sql.functions.{col, explode, lit, reverse, size}
    val tricky = Seq(
      (0L, "\nthe quick brown fox jumps over the lazy dog\t"),
      (1L, "  spaced run with trailing newline body here\n"),
      (2L, "\t\ttabs lead these perfectly ordinary seven tokens"),
      (3L, "mixed \n internal breaks stay intact between tokens "),
      (4L, "\r\n")
    ).toDF("doc_id", "text")
    // token count: JVM repStats.n_tokens vs SQL size(split(trim(text), ' +'))
    val jvmTok = tricky
      .select(col("doc_id"), graft.functions.GraftColumns.repStats(col("text")).getField("n_tokens").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sqlTok = tricky
      .select(col("doc_id"), size(graft.operators.TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(jvmTok === sqlTok)
    // shingles: per-row expression vs the SQL explode/trim aggregate path
    val perRowSh = tricky
      .select(col("doc_id"), graft.functions.GraftColumns.shingleHashes(col("text"), 3).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val aggSh = Dedup.shingleHashes(tricky).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    tricky.select("doc_id").collect().map(_.getLong(0)).foreach { id =>
      assert(perRowSh.getOrElse(id, Set.empty) === aggSh.getOrElse(id, Set.empty), s"doc $id")
    }
    // simhash: per-row expression vs the token-explode aggregate path
    val perRowSim = tricky
      .select(col("doc_id"), graft.functions.GraftColumns.simhashText(col("text"), Dedup.SimhashBits).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val aggSim = tricky
      .select(col("doc_id"), explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        (graft.functions.TextHash.polyHash(col("tok")) +
          graft.functions.TextHash.polyHash(reverse(col("tok"))) * lit(1L << 30)).as("h"))
      .groupBy("doc_id")
      .agg(graft.functions.SimHashAgg.simhash(col("h"), Dedup.SimhashBits).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perRowSim === aggSim)
  }

  test("embedding near-dup pairs flag identical vectors") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(emb, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq === Seq((0L, 1L, 1.0)))
  }

  test("semantic dedup clusters near-identical embeddings, keeps min-id canonical") {
    // Two semantic groups (scaled copies share direction → cosine 1) and
    // one isolated vector; LSH buckets by direction so group members meet.
    val emb = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f)),
      (1L, Array(2.0f, 4.0f, 6.0f)),   // same direction as 0
      (5L, Array(1.0f, 2.0f, 3.01f)),  // near-identical to 0 → same cluster
      (7L, Array(-3.0f, 1.0f, -2.0f)),
      (8L, Array(-6.0f, 2.0f, -4.0f)), // same direction as 7
      (9L, Array(3.0f, -5.0f, 1.0f))   // isolated
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticClusters(emb, threshold = 0.99)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) === ((0L, 1L)))
    assert(out(1L) === ((0L, 0L)))
    assert(out(5L) === ((0L, 0L)))
    assert(out(7L) === ((7L, 1L)))
    assert(out(8L) === ((7L, 0L)))
    assert(out(9L) === ((9L, 1L)))
  }

  test("clusterReps keeps the highest-quality member, not the min id") {
    val base = "the quick brown fox jumps over the lazy dog today"
    val docs = Seq(
      // Near-dup pair: 10 is the min id but digit-ridden (lower quality);
      // 11 is the clean copy — the representative must be 11.
      (10L, base + " 99999 11111 22222"),
      (11L, base),
      (30L, "a completely different clean document about something else entirely")
    ).toDF("doc_id", "text")
    val out = Dedup.clusterReps(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(out.keySet === Set(10L, 30L)) // cluster labels stay min-id
    val (rep, repQ, members) = out(10L)
    assert(rep === 11L, s"expected the clean copy to represent the cluster, got $rep")
    assert(members === 2L)
    val (rep30, _, members30) = out(30L)
    assert(rep30 === 30L && members30 === 1L)
    // The chosen rep's quality is the cluster max.
    val q = graft.operators.TextAnalysis.qualityScores(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("quality_score")).toMap
    assert(repQ === math.max(q(10L), q(11L)))
    assert(q(11L) > q(10L)) // the fixture actually exercises the policy
  }

  test("cdcChunks: chunks partition the token stream; boundaries are content-defined") {
    val text = (1 to 80).map(i => s"tok${i * 7 % 101}").mkString(" ")
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(d).orderBy("chunk_idx")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // contiguous, gap-free cover of all 80 tokens
    assert(ch.head._2 === 0L && ch.map(_._3).sum === 80L)
    ch.sliding(2).foreach {
      case Array((_, s1, n1), (_, s2, _)) => assert(s2 === s1 + n1)
      case _ => ()
    }
    assert(ch.length > 1, "the fixture should produce several chunks")
  }

  test("CDC dedup is shift-invariant where fixed segments are not") {
    val base = (1 to 60).map(i => s"w${i * 13 % 97}").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, "junk0 junk1 junk2 junk3 junk4 junk5 junk6 " + base), // 7-token prefix
      (3L, "entirely different content " + (1 to 40).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val cdc = Dedup.cdcDedupStats(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the shared suffix re-aligns at the first content boundary: most of
    // doc 1's chunks reappear verbatim inside doc 2
    assert(cdc(1L)._2 >= cdc(1L)._1 - 1,
      s"all but the boundary-straddling first chunk must be shared: $cdc")
    assert(cdc(3L)._2 === 0L)
    // the fixed-window twin misses the alignment entirely: doc 1's
    // segments never reappear in the shifted doc 2
    val segs = Dedup.segmentRows(docs, 10)
      .select($"doc_id", $"h").distinct()
    val seg1 = segs.filter($"doc_id" === 1L).select("h")
    val shared12 = segs.filter($"doc_id" === 2L)
      .join(seg1, Seq("h"), "left_semi").count()
    assert(shared12 === 0L,
      "fixed 10-token segments must misalign under a 7-token shift")
  }

  test("cdcDedupCut: shifted near-copy loses its re-aligned chunks; one row per doc; rebuild ordered") {
    val base = (1 to 60).map(i => s"w${i * 13 % 97}").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, "junk0 junk1 junk2 junk3 junk4 junk5 junk6 " + base),
      (3L, "entirely different content " + (1 to 40).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.cdcDedupCut(docs)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.size === 3)
    // doc 1 (the min-id copy) keeps everything, rebuilt verbatim
    assert(out(1L)._1 === base && out(1L)._2 === out(1L)._3)
    // doc 2 keeps its junk prefix region but loses the re-aligned chunks
    val (t2, kept2, total2) = out(2L)
    assert(kept2 < total2, s"shifted copy must lose chunks: $out")
    assert(t2.startsWith("junk0"), s"the unshared prefix survives: $t2")
    assert(!t2.endsWith(base.takeRight(40)), "the shared tail must be cut")
    // unrelated doc untouched
    assert(out(3L)._2 === out(3L)._3)
  }

  test("segmentDedup: first corpus occurrence survives, later copies are cut, docs rebuilt in order") {
    import spark.implicits._
    // 3-word segments. Doc 0 owns segments A B; doc 1 repeats A (cut) and
    // adds C; doc 2 is entirely copies (kept empty); doc 3 repeats its OWN
    // first segment (also cut — identity is corpus-global, not per-doc).
    val segA = "a b c"; val segB = "d e f"; val segC = "g h i"
    val docs = Seq(
      (0L, s"$segA $segB"),
      (1L, s"$segA $segC"),
      (2L, s"$segB $segA"),
      (3L, s"$segC $segC")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.segmentDedup(docs, segWords = 3)
    val rows = out.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows(0L) === (s"$segA $segB", 2L, 2L))
    assert(rows(1L) === (segC, 1L, 2L)) // A cut (doc 0 owns it), C kept
    assert(rows(2L) === ("", 0L, 2L))   // both segments seen earlier
    assert(rows(3L) === ("", 0L, 2L))   // C owned by doc 1; self-repeat cut too
    assert(out.except(graft.operators.Dedup.segmentDedup(docs, segWords = 3)).isEmpty)
    // ragged tail: a 4-token doc at segWords=3 has 2 segments (3 + 1)
    val ragged = graft.operators.Dedup.segmentDedup(
      Seq((9L, "p q r s")).toDF("doc_id", "text"), segWords = 3).head()
    assert(ragged.getString(1) === "p q r s" && ragged.getLong(3) === 2L)
  }

  /** Maximal cross-doc equal-token runs ≥ minTokens by direct scan — the
    * brute-force oracle for duplicatedSpans. */
  private def bruteSpans(docs: Seq[(Long, String)],
      minTokens: Int): Set[(Long, Long, Long, Long, Long)] = {
    val toks = docs.map { case (id, t) => id -> t.trim.split(" +").toSeq }
    (for {
      (ia, ta) <- toks; (ib, tb) <- toks if ia < ib
      i <- ta.indices; j <- tb.indices
      if ta(i) == tb(j) && (i == 0 || j == 0 || ta(i - 1) != tb(j - 1))
      m = Iterator.from(0)
        .takeWhile(o => i + o < ta.length && j + o < tb.length && ta(i + o) == tb(j + o))
        .size
      if m >= minTokens
    } yield (ia, ib, i.toLong, j.toLong, m.toLong)).toSet
  }

  test("duplicatedSpans: planted passages at arbitrary offsets, maximal, ≡ brute force") {
    val passage = (1 to 12).map(i => s"dup$i").mkString(" ") // 12 shared tokens
    val short = (1 to 9).map(i => s"nine$i").mkString(" ")   // 9 < minTokens
    val docs = Seq(
      (0L, s"alpha beta $passage gamma delta"),         // passage at pos 2
      (1L, s"$passage x y z"),                          // passage at pos 0
      (2L, s"p q r s t u $passage v $passage"),         // TWICE: pos 6 and 19
      (3L, s"one two $short three"),                    // 9-token twin — dropped
      (4L, s"five six $short seven"),
      (5L, "lone text with no duplication at all here"))
    val out = Dedup.duplicatedSpans(docs.toDF("doc_id", "text"), minTokens = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSet === bruteSpans(docs, 10))
    // the planted structure, explicitly: 0↔1 at (2,0), 0↔2 at (2,6) and
    // (2,19), 1↔2 likewise, all of length exactly 12 (maximal — the
    // surrounding tokens differ); the 9-token twin pair is absent
    assert(out.toSet.contains((0L, 1L, 2L, 0L, 12L)))
    assert(out.toSet.contains((0L, 2L, 2L, 6L, 12L)))
    assert(out.toSet.contains((0L, 2L, 2L, 19L, 12L)))
    assert(!out.exists { case (a, b, _, _, _) => Set(a, b) == Set(3L, 4L) })
    // identical docs → one full-length span at (0, 0)
    val twin = Seq((7L, passage + " tail one two"), (8L, passage + " tail one two"))
    val t = Dedup.duplicatedSpans(twin.toDF("doc_id", "text"), 10, 5).collect()
    assert(t.map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSeq === Seq((0L, 0L, 15L)))
    // fixture corpus ≡ brute force (first 100 docs — arbitrary offsets,
    // chance 5-gram collisions included)
    val fix = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(org.apache.spark.sql.functions.col("doc_id") < 100)
    val fixDocs = fix.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = Dedup.duplicatedSpans(fix, minTokens = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got === bruteSpans(fixDocs, 10))
    assert(got.nonEmpty, "vacuous fixture: no duplicated passages found")
  }

  test("duplicatedSpans anchor-df cap: boilerplate bounded, rare runs kept, huge cap ≡ exact") {
    val passage = (1 to 12).map(i => s"rare$i").mkString(" ")
    val boiler = (1 to 12).map(i => s"boil$i").mkString(" ")
    // the boilerplate passage appears in 20 docs; the rare one in 2
    val docs = ((0L until 20L).map(i => (i, s"u$i $boiler v$i")) ++
      Seq((100L, s"a b $passage"), (101L, s"$passage c d"))).toDF("doc_id", "text")
    val exact = Dedup.duplicatedSpans(docs, 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size === 20 * 19 / 2 + 1) // all boiler pairs + the rare pair
    // cap 5: boiler anchors (df = 20) dropped, the rare run (df = 2) kept
    val capped = Dedup.duplicatedSpans(docs, 10, 5, maxAnchorDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((100L, 101L)))
    // a cap above every df is output-identical to the exact default
    val loose = Dedup.duplicatedSpans(docs, 10, 5, maxAnchorDf = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose === exact)
  }

  test("incremental substring dedup: arrival-order runs ≡ one batch over the union corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft_span_store").toString + "/store"
    val passage = (1 to 12).map(i => s"dup$i").mkString(" ")
    val all = Seq(
      (0L, s"alpha beta $passage gamma delta"),  // batch 1: passage at pos 2
      (1L, s"$passage x y z"),                   // batch 1: at pos 0
      (2L, "lone text with no duplication here at all today"), // batch 1
      (5L, s"p q r s t u $passage v"),           // batch 2: cross-crawl copy
      (6L, s"$passage x y z extended"))          // batch 2: near-copy of 1
    val df = all.toDF("doc_id", "text")
    def spansOf(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val run1 = spansOf(Dedup.incrementalDuplicatedSpans(
      df.filter($"doc_id" <= 2L), dir, 10, 5))
    val run2 = spansOf(Dedup.incrementalDuplicatedSpans(
      df.filter($"doc_id" > 2L), dir, 10, 5))
    val batch = spansOf(Dedup.duplicatedSpans(df, 10, 5))
    assert(run1.intersect(run2).isEmpty) // no span reported twice
    assert(run1.union(run2) === batch)
    // the cross-crawl span (stored doc 0 vs new doc 5) comes from run 2
    assert(run2.contains((0L, 5L, 2L, 6L, 12L)))
    // replay idempotence: re-ingesting batch 2 emits nothing and appends
    // no anchors
    val storedBefore = spark.read.option("recursiveFileLookup", "true").parquet(dir).count()
    assert(spansOf(Dedup.incrementalDuplicatedSpans(
      df.filter($"doc_id" > 2L), dir, 10, 5)).isEmpty)
    assert(spark.read.option("recursiveFileLookup", "true").parquet(dir).count()
      === storedBefore)
    // a run at a different anchor width fails loudly (stored k-grams are
    // not comparable across k)
    val ex = intercept[IllegalStateException] {
      Dedup.incrementalDuplicatedSpans(df.filter($"doc_id" > 2L), dir, 10, 4)
    }
    assert(ex.getMessage.contains("spans-k4-v2"))
    // store erasure composes: forget doc 0, then a re-submitted copy of it
    // pairs against the OTHER surviving holders but never against 0
    Dedup.eraseFromStore(spark, dir, Seq(0L).toDF("doc_id"))
    val run3 = spansOf(Dedup.incrementalDuplicatedSpans(
      Seq((9L, s"alpha beta $passage gamma delta")).toDF("doc_id", "text"), dir, 10, 5))
    assert(run3.nonEmpty)
    assert(!run3.exists(s => s._1 == 0L || s._2 == 0L))
  }

  test("substringDedupCut: later occurrences cut, min-doc survives, overlaps union") {
    val passage = (1 to 12).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      (0L, s"alpha beta $passage gamma"),   // first occurrence — survives
      (1L, s"$passage x y z"),              // later — passage cut
      (2L, s"p q $passage $passage"))       // later, TWICE — both cut
      .toDF("doc_id", "text")
    val out = Dedup.substringDedupCut(docs, minTokens = 10, k = 5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(0L) === ((s"alpha beta $passage gamma", 0L, 15L)))
    assert(out(1L) === (("x y z", 12L, 15L)))
    // doc 2: the doubled passage spans tokens 2..25 — all cut (the two
    // cross-doc span alignments cover both copies), survivors "p q"
    assert(out(2L) === (("p q", 24L, 26L)))
    // untouched corpus: no spans → every doc intact
    val clean = Seq((5L, "totally unique words here")).toDF("doc_id", "text")
    assert(Dedup.substringDedupCut(clean, 10, 5).head.getString(1)
      === "totally unique words here")
  }

  test("replayDeterministic ingest: a replayed batch recomputes the SAME pairs; append stays a no-op") {
    // The streaming foreachBatch crash window: batch 2's store append
    // survived a crash, the pairs sink write did not — the replay must
    // reproduce the pairs (content-identical), not an empty frame, while
    // never duplicating stored signatures.
    val dir = java.nio.file.Files.createTempDirectory("graft_ham_replay").toString + "/store"
    val all = Seq((1L, 0L), (2L, 1L), (3L, 0x00F0_F0F0_F0F0_F0F0L),
      (4L, 3L), (5L, 0x00F0_F0F0_F0F0_F0F0L)).toDF("doc_id", "sig")
    def hp(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val run1 = hp(Dedup.incrementalHammingPairs(
      all.filter($"doc_id" <= 3L), dir, 64, 2, "test-v1", replayDeterministic = true))
    val run2 = hp(Dedup.incrementalHammingPairs(
      all.filter($"doc_id" > 3L), dir, 64, 2, "test-v1", replayDeterministic = true))
    // across DISTINCT batches the mode changes nothing
    assert(run1.intersect(run2).isEmpty)
    assert(run1.union(run2) === hp(Dedup.hammingPairs(all, 64, 2)))
    val storedBefore = spark.read.option("recursiveFileLookup", "true").parquet(dir).count()
    val replay = hp(Dedup.incrementalHammingPairs(
      all.filter($"doc_id" > 3L), dir, 64, 2, "test-v1", replayDeterministic = true))
    assert(replay === run2 && replay.nonEmpty)
    assert(spark.read.option("recursiveFileLookup", "true").parquet(dir).count()
      === storedBefore)
    // the default mode on the same store keeps exactly-once emission
    assert(hp(Dedup.incrementalHammingPairs(
      all.filter($"doc_id" > 3L), dir, 64, 2, "test-v1")).isEmpty)

    // MinHash: the same shared contract
    val mdir = java.nio.file.Files.createTempDirectory("graft_mh_replay").toString + "/store"
    def mp(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val m2first = {
      mp(Dedup.incrementalMinhashPairs(docs.filter($"doc_id" <= 2L), mdir,
        replayDeterministic = true))
      mp(Dedup.incrementalMinhashPairs(docs.filter($"doc_id" > 2L), mdir,
        replayDeterministic = true))
    }
    val mStored = spark.read.option("recursiveFileLookup", "true").parquet(mdir).count()
    val mReplay = mp(Dedup.incrementalMinhashPairs(docs.filter($"doc_id" > 2L), mdir,
      replayDeterministic = true))
    assert(mReplay === m2first && mReplay.nonEmpty)
    assert(spark.read.option("recursiveFileLookup", "true").parquet(mdir).count()
      === mStored)

    // Semantic: replay under the already-pinned center
    val sdir = java.nio.file.Files.createTempDirectory("graft_sem_replay").toString + "/store"
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def sp(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    sp(Dedup.incrementalSemanticPairs(emb.filter($"vec_id" % 2 === 0), sdir,
      replayDeterministic = true))
    val s2 = sp(Dedup.incrementalSemanticPairs(emb.filter($"vec_id" % 2 === 1), sdir,
      replayDeterministic = true))
    val sReplay = sp(Dedup.incrementalSemanticPairs(emb.filter($"vec_id" % 2 === 1), sdir,
      replayDeterministic = true))
    assert(sReplay === s2 && sReplay.nonEmpty)
  }


  test("replayDeterministic spans/frames: a replayed batch recomputes the SAME spans") {
    val dir = java.nio.file.Files.createTempDirectory("graft_span_replay").toString + "/store"
    val passage = (1 to 12).map(i => s"dup$i").mkString(" ")
    val all = Seq(
      (0L, s"alpha beta $passage gamma delta"),
      (1L, s"$passage x y z"),
      (2L, "lone text with no duplication here at all today"),
      (5L, s"p q r s t u $passage v"),
      (6L, s"$passage x y z extended"))
    val df = all.toDF("doc_id", "text")
    def spansOf(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val r1 = spansOf(Dedup.incrementalDuplicatedSpans(
      df.filter($"doc_id" <= 2L), dir, 10, 5, replayDeterministic = true))
    val r2 = spansOf(Dedup.incrementalDuplicatedSpans(
      df.filter($"doc_id" > 2L), dir, 10, 5, replayDeterministic = true))
    assert(r1.union(r2) === spansOf(Dedup.duplicatedSpans(df, 10, 5)))
    val storedBefore = spark.read.option("recursiveFileLookup", "true").parquet(dir).count()
    val rr = spansOf(Dedup.incrementalDuplicatedSpans(
      df.filter($"doc_id" > 2L), dir, 10, 5, replayDeterministic = true))
    assert(rr === r2 && rr.nonEmpty)
    assert(spark.read.option("recursiveFileLookup", "true").parquet(dir).count()
      === storedBefore)

    // frame store: doc 1's frames 0..3 replay doc 0's frames 2..5
    val fdir = java.nio.file.Files.createTempDirectory("graft_frame_replay").toString + "/store"
    val fh = Seq(
      (0L, 0L, 10L), (0L, 1L, 11L), (0L, 2L, 12L), (0L, 3L, 13L),
      (0L, 4L, 14L), (0L, 5L, 15L),
      (1L, 0L, 12L), (1L, 1L, 13L), (1L, 2L, 14L), (1L, 3L, 15L),
      (1L, 4L, 99L), (1L, 5L, 98L)).toDF("doc_id", "pos", "h")
    Dedup.incrementalFrameRuns(fh.filter($"doc_id" === 0L), fdir,
      minRun = 4, replayDeterministic = true).collect()
    val f2 = spansOf(Dedup.incrementalFrameRuns(fh.filter($"doc_id" === 1L), fdir,
      minRun = 4, replayDeterministic = true))
    val fr = spansOf(Dedup.incrementalFrameRuns(fh.filter($"doc_id" === 1L), fdir,
      minRun = 4, replayDeterministic = true))
    assert(fr === f2 && fr === Set((0L, 1L, 2L, 0L, 4L)))
  }

}
