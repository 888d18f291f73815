package graft

import graft.operators.HourlyRollup
import graft.sources.Tables

/** Benchmark main. Runs the headline queries on SPARK_GRAFT_SF_DIR and the
  * ETL-pipeline analog of the reference's published 564.64 s run
  * (BASELINE.md): partitioned read → hourly rollup → partitioned snappy
  * write. Prints ONE JSON line.
  */
object Bench {

  /** The queries that map most directly to BASELINE.md's workload + one per
    * extension family — the curated subset for plan audits (PlanDump). */
  val headline: Seq[String] = Seq(
    "q1_total_distinct", "q2_count_by_group", "q3_topk_per_group",
    "q4_hourly_rollup", "q5_filter_project", "q7_global_topk",
    "q11_agg_suite", "q12_semi_join", "q19_star_join",
    "a2_asof_native", "r1_range_join",
    "t2_quality", "t4_fingerprint", "t7_winnow",
    "d1_dedup_exact", "d3_minhash_lsh", "d4_simhash", "d6_simhash_pairs",
    "d7_dedup_clusters", "c1_decontam", "c2_curation_pipeline",
    "t8_repetition", "t10_tfidf",
    "s1_ann_topk", "s2_ann_lsh", "s3_ann_ivf",
    // round-4/5 families, so plan audits cover the newer operators too
    "s9_ivf_pq", "s14_ivf_pq_stored", "x1_percentile", "x9_winsorize",
    "u1_merge_upsert", "q34_global_rank", "p9_weighted_sample",
    // round-6 families: image/audio/cross-modal near-dup, exact substring
    // dedup, BFF Bloom
    "m5_image_pairs", "m6_image_dedup", "m7_audio_dedup",
    "m8_multimodal_dedup", "t28_substring_dedup", "t29_substring_cut",
    "c5_bloom_paragraph_dedup",
    // round-7 families: video near-dup, incremental multimodal stores,
    // end-to-end incremental curation, late interaction, CLIP-shape
    // alignment, lerp gap fill
    "m9_video_dedup", "m12_store_video", "c7_incremental_curation",
    "s18_maxsim", "m15_image_text_align", "x17_interp_fill",
    // round-8 families: incremental/store-backed ER, derived banding,
    // label-propagation communities, stored-index append, CDC dedup,
    // distance-2 fuzzy
    "er2_incremental_er", "d17_auto_banding", "g7_label_prop",
    "s22_stored_append", "t33_cdc_dedup", "t34_cdc_cut", "f2_fuzzy_join2",
    "p14_data_card")

  /** Every registered query, name-sorted — the bench times ALL of them so
    * round-over-round regressions are visible everywhere, not just on the
    * headline subset. */
  def allQueries: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.cores(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }

    val qs = SparkEntry.queries
    // Untimed warmup pass: JIT + whole-stage-codegen compilation dominate
    // first execution in a fresh JVM (measured 3-5× inflation); steady-state
    // throughput is the meaningful engine number.
    allQueries.foreach { name =>
      try qs(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      // Several operators intentionally leave a bounded cache behind
      // (bm25's tf, the globalRank/Quantiles barriers — including
      // Quantiles' second offsets cache on the distributed path — and
      // hammingPairs' signature frame, which m8 builds TWICE per run:
      // image + audio); across 160+ queries × multiple passes those leaks
      // compound into real executor memory pressure that taxes LATER
      // queries (measured: the streaming rows ran 2.6× slower at the end
      // of the suite than standalone). Isolate each measurement: a query
      // still builds and uses its own caches within its run.
      spark.catalog.clearCache()
    }
    // Single-run timings on sub-2s queries are ±10% noisy — enough to mask
    // real regressions as the suite grows. Fast queries run 3× and report
    // the MEDIAN (with min/max spread). Queries ≥ 2 s used to stay
    // single-run for budget — which let a single driver-machine load
    // spike land unfiltered in the round artifact (r7: j2 read 20× slow
    // on untouched code, min==median==max betrayed the single sample).
    // ALL queries ≥ 2 s now run TWICE and report the MIN — the
    // spike-robust statistic for a deterministic workload. The former
    // ">10 s stays single-run" budget carve-out let c7's one-shot 14.6 s
    // driver spike land unfiltered in BENCH_r09 (min==median==max — the
    // r7 j2 pattern one band higher); the band is gone: no row is ever a
    // single sample, and the extra cost is one re-run of the handful of
    // slowest rows.
    // Spike filter on top: when the samples disagree by >2× AND by a
    // real absolute gap (>0.3 s), or by >3× at any size (an ambient
    // driver-machine spike — r10's committed artifact carried a 6.7×
    // max/min on c7 purely from one), ONE extra sample is taken and the
    // single largest is dropped from the stored spread, with a
    // `spiked:true` marker so a wide committed spread is always
    // explained. INVARIANT: a stored row with max/min > 3 always carries
    // the marker (the >3 arm triggers unconditionally). The gap floor
    // exists because sub-second rows show 1.5-2× three-sample jitter
    // routinely — a 1.5× ratio-only trigger marked 157 of 277 rows, and
    // a marker that fires on half the suite explains nothing.
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val spreads = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    val spiked = scala.collection.mutable.LinkedHashSet[String]()
    def bench(name: String)(f: => Unit): Unit =
      try {
        val first = time(f)
        val base =
          if (first < 2.0) Seq(first, time(f), time(f))
          else Seq(first, time(f))
        val runs =
          if (base.min > 0 &&
              ((base.max / base.min > 2.0 && base.max - base.min > 0.3) ||
                base.max / base.min > 3.0)) {
            spiked += name
            (base :+ time(f)).sorted.dropRight(1)
          } else base.sorted
        results(name) = if (runs.size == 2) runs.head else runs(runs.size / 2)
        spreads(name) = (runs.head, runs.last)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name: $e")
          results(name) = -1.0 // kept: the total only sums successes
      }
    allQueries.foreach { name =>
      spark.catalog.clearCache() // per-query cache isolation (see warmup)
      bench(name)(qs(name)(spark, sfDir).write.format("noop").mode("overwrite").save())
    }
    // ETL analog: read events → hourly rollup → snappy parquet, partitioned
    // by event_type (stands in for the reference's upgrade=/state= layout).
    val outDir = java.nio.file.Files.createTempDirectory("graft_bench_etl").toString
    def etlOnce(dest: String): Unit =
      HourlyRollup(Tables.events(spark, sfDir), "ts", "user_id")
        .write.mode("overwrite")
        .option("compression", "snappy")
        .partitionBy("event_type_min")
        .parquet(dest)
    try {
      etlOnce(s"$outDir/warmup")
      bench("etl_pipeline")(etlOnce(s"$outDir/rollup"))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] etl_pipeline: $e")
        results("etl_pipeline") = -1.0 // the JSON line must still print
    }

    // Output contract: COMPACT lines, and the driver's capture keeps the
    // TAIL — so anything bulky prints FIRST and the one-line total prints
    // LAST (r4's legacy mega-line-at-the-end pushed the per-query lines
    // out of the tail window; r3's mega-line-with-spreads cut the total).
    // Order: legacy full-map line (old-format consumers) → one compact
    // line per query → compact total, last. The complete per-query map
    // (medians + spreads + total) is ALSO written to BENCH_LOCAL.json in
    // the repo root so every workload is diffable regardless of how much
    // of stdout survives.
    val total = results.values.filter(_ >= 0).sum
    val qJson = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qJson,"sf":"$sfDir"}""")
    results.foreach { case (k, v) =>
      val spread = spreads.get(k).map { case (lo, hi) =>
        f""","min":$lo%.3f,"max":$hi%.3f"""
      }.getOrElse("")
      val mark = if (spiked(k)) ""","spiked":true""" else ""
      println(f"""{"metric":"$k","value":$v%.3f,"unit":"sec"$spread$mark}""")
    }
    val localJson = new StringBuilder()
    localJson.append(f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir",%n  "queries":{%n""")
    localJson.append(results.map { case (k, v) =>
      val (lo, hi) = spreads.getOrElse(k, (v, v))
      val mark = if (spiked(k)) ""","spiked":true""" else ""
      f"""    "$k":{"median":$v%.3f,"min":$lo%.3f,"max":$hi%.3f$mark}"""
    }.mkString(",\n"))
    localJson.append("\n  }\n}\n")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LOCAL.json"), localJson.toString)
    catch { case e: Throwable => System.err.println(s"[bench] BENCH_LOCAL.json: $e") }
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir"}""")
    spark.stop()
  }
}
