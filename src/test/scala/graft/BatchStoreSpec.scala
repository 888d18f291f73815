package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, FuzzyJoin}

/** The `batch-*` store protocol ([[graft.etl.BatchStore]]): a crash at
  * every step of publish, erase and compact, the recovery rule, the
  * format gate of a store erased empty, and every store on `file:` URIs. */
class BatchStoreSpec extends SparkSpec {
  import spark.implicits._

  hadoopConf.set("fs.crash.impl", classOf[CrashFs].getName)

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** Every parquet file under `dir`, hidden directories included. */
  private def parquetFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) parquetFiles(f)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }

  /** The rows a plain reader of the store sees, sorted. */
  private def visible(dir: String): Seq[String] =
    if (!new File(dir).listFiles().exists(f => f.isDirectory && !f.getName.startsWith(".")))
      Nil
    else spark.read.option("recursiveFileLookup", "true").parquet(dir)
      .collect().map(_.toString).toSeq.sorted

  private def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(f => copyTree(f, new File(to, f.getName)))
    } else Files.copy(from.toPath, to.toPath)

  private def leftovers(dir: String): Seq[String] = new File(dir).list().toSeq
    .filter(n => n.startsWith(".staging-") || n.startsWith(".retired-") ||
      n.startsWith("_compact-") || n == graft.etl.WriterLease.LockFile)

  /** Run `op` on a copy of the store `seeded` fails at each of its steps
    * under the store dir in turn. At every step: what a reader sees passes
    * `readerOk(before, seen, after)`; once the dead writer's lease is
    * removed the next lease-holding call (a replay of `op`) recovers the
    * store to the uncrashed `after` rows with no leftover; a second replay
    * changes nothing; `check` holds of the recovered dir. Returns the step
    * count. */
  private def crashMatrix(seeded: String, op: String => Unit,
      readerOk: (Seq[String], Seq[String], Seq[String]) => Boolean,
      check: String => Unit = _ => ()): Int = {
    val before = visible(seeded)
    val dry = tmp("graft_crash_dry") + "/store"
    copyTree(new File(seeded), new File(dry))
    CrashFs.arm(dry)
    val steps = try { op(s"crash://$dry"); CrashFs.disarm() } finally CrashFs.disarm()
    val after = visible(dry)
    assert(steps >= 3, s"expected the lease and at least one mutation step, got $steps")
    (1 to steps).foreach { k =>
      val dir = tmp(s"graft_crash_$k") + "/store"
      copyTree(new File(seeded), new File(dir))
      CrashFs.arm(dir, k)
      val crashed = try { op(s"crash://$dir"); None } catch { case e: Exception => Some(e) }
      CrashFs.disarm()
      assert(crashed.nonEmpty, s"step $k of $steps did not crash")
      val seen = visible(dir)
      assert(readerOk(before, seen, after), s"step $k of $steps: reader saw $seen")
      new File(dir, graft.etl.WriterLease.LockFile).delete()
      op(s"crash://$dir")
      assert(visible(dir) === after, s"step $k of $steps: recovery")
      assert(leftovers(dir).isEmpty, s"step $k of $steps: ${leftovers(dir)}")
      op(s"crash://$dir")
      assert(visible(dir) === after, s"step $k of $steps: replay")
      check(dir)
    }
    steps
  }

  private val exactlyBeforeOrAfter =
    (before: Seq[String], seen: Seq[String], after: Seq[String]) =>
      seen == before || seen == after

  private def sigs(ids: Long*): DataFrame =
    ids.map(i => (i, i * 7919L)).toDF("doc_id", "sig")

  private def hammingIngest(df: DataFrame, dir: String, tag: String = "test-v1") =
    Dedup.incrementalHammingPairs(df, dir, 64, 2, tag).collect()

  private def crawl(ids: Long*): DataFrame =
    ids.map(i => (i, s"w$i a$i b$i c$i d$i e$i common shared words")).toDF("doc_id", "text")

  test("crash at every publish step, beforeRename sidecar included: readers see before or after; recovery and replay converge") {
    // first publish (marker created) and a later one (sketch merged)
    val empty = tmp("graft_crash_pub0") + "/store"
    new File(empty).mkdirs()
    val n0 = crashMatrix(empty, d => Curation.noveltyIngest(crawl(1L, 2L), d).collect(),
      exactlyBeforeOrAfter)
    val seeded = tmp("graft_crash_pub1") + "/store"
    Curation.noveltyIngest(crawl(1L, 2L), seeded).collect()
    val n1 = crashMatrix(seeded, d => Curation.noveltyIngest(crawl(3L, 4L), d).collect(),
      exactlyBeforeOrAfter, { d =>
        // the recovered sketch covers every stored gram (a lost sketch is
        // rebuilt over the store, not over the new batch alone)
        val bloom = org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.FileInputStream(new File(d, "_bloom.bin")))
        val hs = spark.read.option("recursiveFileLookup", "true").parquet(d)
          .select("h").as[Long].collect()
        assert(hs.nonEmpty && hs.forall(h => bloom.mightContainLong(h)))
      })
    // lease, sidecar staging, [old sketch drop,] sketch rename, marker on
    // the first publish only, batch rename, lease release
    assert((n0, n1) === ((6, 6)))
  }

  test("crash at every erase step: no reader sees an erased row come back or a row invented; recovery forgets every key on disk") {
    val seeded = tmp("graft_crash_erase") + "/store"
    hammingIngest(sigs(1L, 2L), seeded)
    hammingIngest(sigs(3L, 4L), seeded)
    hammingIngest(sigs(5L), seeded)
    val erased = Set(1L, 3L, 4L)
    def noErasedKeyOnDisk(d: String): Unit = parquetFiles(new File(d)).foreach { f =>
      val ids = spark.read.parquet(f.toString).select("doc_id").as[Long].collect()
      assert(!ids.exists(erased), s"erased key left in $f")
    }
    // erase-first: a reader may miss the survivors of the batch in flight,
    // never sees a row that was not there before
    val n = crashMatrix(seeded,
      d => Dedup.eraseFromStore(spark, d, erased.toSeq.toDF("doc_id")),
      (before, seen, _) => seen.diff(before).isEmpty, noErasedKeyOnDisk)
    // lease; batch {1,2}: retire, publish survivors, drop retired; batch
    // {3,4}: retire, drop retired; lease release
    assert(n === 7)

    // the gram store: the sketch is rebuilt from the survivors after the erase
    val grams = tmp("graft_crash_gerase") + "/store"
    Curation.noveltyIngest(crawl(1L, 2L), grams).collect()
    Curation.noveltyIngest(crawl(3L), grams).collect()
    crashMatrix(grams,
      d => Curation.eraseFromGramStore(spark, d, Seq(1L, 3L).toDF("doc_id")),
      (before, seen, _) => seen.diff(before).isEmpty, { d =>
        val srcs = parquetFiles(new File(d)).flatMap(f =>
          spark.read.parquet(f.toString).select("src_id").as[String].collect())
        assert(srcs.nonEmpty && !srcs.exists(Set("1", "3")))
      })
  }

  test("crash at every compact step: readers never lose a row; recovery leaves one copy of each") {
    val seeded = tmp("graft_crash_compact") + "/store"
    Seq(Seq(1L, 2L), Seq(3L), Seq(4L)).foreach(ids => hammingIngest(sigs(ids: _*), seeded))
    // merge first: between the publish and the last delete a reader sees
    // some rows twice, never fewer rows and never a new one
    val n = crashMatrix(seeded, d => Dedup.compactStore(spark, d),
      (before, seen, _) => seen.distinct.sorted == before, { d =>
        assert(new File(d).list().count(_.startsWith("batch-")) === 1)
      })
    // lease, record, publish, three deletes, record drop, lease release
    assert(n === 8)
  }

  test("a store erased empty drops its marker: an ingest under another tag, then one under the old tag fails loudly") {
    val dir = tmp("graft_stale_marker") + "/store"
    hammingIngest(sigs(1L, 2L), dir, "tag-a")
    assert(Dedup.eraseFromStore(spark, dir, Seq(1L, 2L).toDF("doc_id")) === 2L)
    hammingIngest(sigs(3L), dir, "tag-b")
    val ex = intercept[IllegalStateException](hammingIngest(sigs(4L), dir, "tag-a"))
    assert(ex.getMessage.contains("_format-tag-a"), ex.getMessage)
  }

  test("a crash after an erase retired a batch: the next lease-holding call publishes the survivors and no erased doc_id stays on disk") {
    val dir = tmp("graft_retired") + "/store"
    hammingIngest(sigs(1L, 2L), dir)
    // the erase of doc 1 staged the survivor and retired the batch, then died
    val batch = new File(dir).listFiles().filter(_.getName.startsWith("batch-")).head
    spark.read.parquet(batch.toString).filter($"doc_id" =!= 1L)
      .write.parquet(s"$dir/.staging-x1")
    assert(batch.renameTo(new File(dir, ".retired-x1")))
    hammingIngest(sigs(3L), dir)
    assert(visible(dir) === (sigs(2L, 3L).collect().map(_.toString).toSeq.sorted))
    assert(leftovers(dir).isEmpty)
    val ids = parquetFiles(new File(dir)).flatMap(f =>
      spark.read.parquet(f.toString).select("doc_id").as[Long].collect())
    assert(ids.sorted === Seq(2L, 3L))
  }

  test("every store ingests, erases and compacts on file: URIs") {
    def uri(prefix: String) = s"file:${tmp(prefix)}/store"
    def rows(dir: String) = spark.read.option("recursiveFileLookup", "true").parquet(dir)
    def batches(dir: String) =
      new File(new java.net.URI(dir).getPath).list().count(_.startsWith("batch-"))
    def cycle(dir: String, ingest1: => Unit, ingest2: => Unit, keyCol: String,
        erase: => Long): Unit = {
      ingest1
      ingest2
      val total = rows(dir).count()
      assert(batches(dir) === 2)
      assert(Dedup.compactStore(spark, dir) === ((2L, total)))
      assert(batches(dir) === 1)
      assert(erase === 1L)
      assert(rows(dir).count() === total - 1L, keyCol)
    }
    val text = Seq((1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")

    val mh = uri("graft_uri_mh")
    cycle(mh, Dedup.incrementalMinhashPairs(text.filter($"doc_id" === 1L), mh).collect(),
      Dedup.incrementalMinhashPairs(text.filter($"doc_id" === 2L), mh).collect(),
      "doc_id", Dedup.eraseFromStore(spark, mh, Seq(1L).toDF("doc_id")))

    val ham = uri("graft_uri_ham")
    cycle(ham, hammingIngest(sigs(1L), ham), hammingIngest(sigs(2L), ham),
      "doc_id", Dedup.eraseFromStore(spark, ham, Seq(2L).toDF("doc_id")))

    // anchor stores: the erase takes every anchor row of one doc
    val spans = uri("graft_uri_spans")
    Dedup.incrementalDuplicatedSpans(text.filter($"doc_id" === 1L), spans).collect()
    assert(Dedup.incrementalDuplicatedSpans(text.filter($"doc_id" === 2L), spans)
      .count() > 0L)
    assert(Dedup.compactStore(spark, spans)._1 === 2L)
    val anchors = rows(spans).count()
    assert(Dedup.eraseFromStore(spark, spans, Seq(1L).toDF("doc_id")) === anchors / 2)

    val frames = uri("graft_uri_frames")
    val fh = (for (d <- 1L to 2L; p <- 0L until 6L) yield (d, p, 100L + p))
      .toDF("doc_id", "pos", "h")
    Dedup.incrementalFrameRuns(fh.filter($"doc_id" === 1L), frames).collect()
    assert(Dedup.incrementalFrameRuns(fh.filter($"doc_id" === 2L), frames).count() > 0L)
    assert(Dedup.compactStore(spark, frames) === ((2L, 12L)))
    assert(Dedup.eraseFromStore(spark, frames, Seq(2L).toDF("doc_id")) === 6L)

    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter($"vec_id" < 6L)
    val sem = uri("graft_uri_sem")
    cycle(sem, Dedup.incrementalSemanticPairs(emb.filter($"vec_id" % 2 === 0), sem).collect(),
      Dedup.incrementalSemanticPairs(emb.filter($"vec_id" % 2 === 1), sem).collect(),
      "vec_id", Dedup.eraseFromStore(spark, sem, Seq(0L).toDF("vec_id"), keyCol = "vec_id"))

    val fz = uri("graft_uri_fuzzy")
    val strs = Seq((1L, "anna"), (2L, "anne")).toDF("id", "s")
    cycle(fz, FuzzyJoin.incrementalPairs(strs.filter($"id" === 1L), fz).collect(),
      assert(FuzzyJoin.incrementalPairs(strs.filter($"id" === 2L), fz).count() === 1L),
      "doc_id", Dedup.eraseFromStore(spark, fz, Seq(1L).toDF("doc_id")))

    val gs = uri("graft_uri_grams")
    Curation.noveltyIngest(crawl(1L), gs).collect()
    Curation.noveltyIngest(crawl(2L), gs).collect()
    assert(Dedup.compactStore(spark, gs)._1 === 2L)
    val grams = rows(gs).count()
    assert(Curation.eraseFromGramStore(spark, gs, Seq(2L).toDF("doc_id")) > 0L)
    assert(rows(gs).count() < grams)
    assert(new File(new java.net.URI(gs).getPath, "_bloom.bin").exists())
  }
}
