package graft

import org.apache.spark.sql.SparkSession

/** The one place a local session of this project is configured. Every main
  * and the test session start from [[builder]], so a setting that results
  * or timings depend on cannot differ between the correctness dump, the
  * bench and the specs. A caller adds only what is its own (an app name, a
  * warehouse dir, a wider shuffle) onto the returned builder.
  */
object GraftSession {

  /** The settings [[builder]] applies for `cores` local cores. */
  def conf(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    // Grouped bounded aggregates (TopKAgg) on high-cardinality keys: the
    // default 128-key limit silently falls back to sort-based aggregation,
    // re-sorting every candidate row.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    "spark.sql.session.timeZone" -> "UTC",
    // events.parquet may carry TIMESTAMP(NANOS); see sources.Tables.events.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder().master(s"local[$cores]").config(conf(cores))

  /** Local cores for Bench, BenchProbe and Verify: `SPARK_GRAFT_CPUS`,
    * else `default`. The other tools run at fixed widths. */
  def cores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)
}
