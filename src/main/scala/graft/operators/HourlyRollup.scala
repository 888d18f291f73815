package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.functions.RoundedMeansAgg

/** The reference's core ETL transform (SURVEY.md §2.4 A1–A5): floor the
  * timestamp column to the hour, hash-group by (timestamp, building id),
  * aggregate EVERY column with dtype-driven rules (floating → mean, anything
  * else → min — reference `worker.py:110-122`), name the aggregate outputs
  * `{col}_{fn}` (the pyarrow suffix contract, `worker.py:113-126`; the saved
  * SQL joins on `bldg_id_min`, `sql/saved-queries.sql:14`), and round every
  * float aggregate to 7 decimal places (`worker.py:14,127-135`).
  *
  * Spark-first design notes (100 TB posture):
  *  - The single shuffle is on (hour, id) — high-cardinality and uniform,
  *    so no skew. Partial aggregation (map-side combine) runs for every
  *    aggregate, so the shuffle carries one row per (hour, id) per input
  *    partition, not per 15-minute reading.
  *  - Every floating column's rounded mean comes out of ONE
  *    [[graft.functions.RoundedMeansAgg]], not one `round(avg(c), 7)` per
  *    column. A ComStock-width file has ~100 floating columns; 100 `avg`s
  *    carry 200 buffer fields, past `spark.sql.codegen.maxFields`, so the
  *    aggregate left whole-stage codegen anyway and ran through generated
  *    buffer projections with hundreds of slots, which a cold run spends
  *    most of its CPU compiling (Janino, then the JIT). The one imperative
  *    aggregate keeps the same fixed-width (sum, count) buffer slots in the
  *    Tungsten map and folds them in two plain loops; its results are
  *    bit for bit those of `round(avg(c), 7)` (RoundedMeansAggSpec).
  *  - The agg-rule synthesis is plan construction over `df.schema` (ordinary
  *    Scala), not a runtime UDF.
  */
object HourlyRollup {

  val DecimalPlaces = 7 // reference worker.py:14

  /** The rolled-up array of rounded means, before [[apply]] projects it to
    * one `{col}_mean` column per floating column. */
  private val MeansCol = "__rounded_means"

  /** Floor `tsCol` to the hour in the session time zone (UTC — the reference
    * computes the floor in epoch-ms UTC space, `worker.py:76-97`). */
  def floorToHour(df: DataFrame, tsCol: String = "timestamp"): DataFrame =
    df.withColumn(tsCol, date_trunc("hour", col(tsCol)))

  private def isFloating(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt == DoubleType || dt == FloatType

  /** Full rollup. Group keys = (tsCol, idCol) when idCol is present, else
    * just tsCol (reference fallback `worker.py:105-109`). Output schema:
    * unsuffixed group keys first, then `{col}_{min|mean}` for every input
    * column (keys included — the reference aggregates keys too).
    *
    * `passThrough` names columns that ride along as extra group keys but are
    * NOT aggregated — Hive partition columns (`upgrade`/`state`/`county`).
    * In the reference these travel on the object key, not in the file
    * (`worker.py:201-210`); Spark's partition discovery materializes them as
    * columns, so they must stay unsuffixed group keys for the partitioned
    * write to re-partition by them.
    */
  def apply(
      df: DataFrame,
      tsCol: String = "timestamp",
      idCol: String = "bldg_id",
      passThrough: Seq[String] = Nil): DataFrame = {
    val floored = floorToHour(df, tsCol)
    val pt = passThrough.filter(df.columns.contains)
    val keys: Seq[String] =
      (if (df.columns.contains(idCol)) Seq(tsCol, idCol) else Seq(tsCol)) ++ pt

    val fields = floored.schema.fields.toSeq.filterNot(f => pt.contains(f.name))
    val (meanFields, minFields) = fields.partition(f => isFloating(f.dataType))
    val aggs: Seq[Column] =
      minFields.map(f => min(col(f.name)).as(s"${f.name}_min")) ++
        (if (meanFields.isEmpty) Nil
         else Seq(RoundedMeansAgg.roundedMeans(meanFields.map(f => col(f.name)), DecimalPlaces)
           .as(MeansCol)))
    val meanAt = meanFields.map(_.name).zipWithIndex.toMap
    floored
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(keys.map(col) ++ fields.map { f =>
        meanAt.get(f.name) match {
          case Some(i) => col(MeansCol).getItem(i).as(s"${f.name}_mean")
          case None => col(s"${f.name}_min")
        }
      }: _*)
  }

  // ---------------------------------------------------------------------
  // Incremental rollup: the production shape of [[apply]] at 100 TB.
  // Recomputing the full rollup per arriving batch re-reads the whole
  // corpus; keeping a PARTIAL-aggregate snapshot — (sum, count) per
  // floating column, min otherwise, all mergeable — turns each new batch
  // into: roll the batch to partials (batch-sized scan), one key-join-
  // shaped merge against the snapshot, done. finalize() projects the
  // exact [[apply]] schema, so incremental ≡ batch is a checkable
  // invariant (gate u4 proves it against the q4 oracle).
  // ---------------------------------------------------------------------

  private val PSum = "__psum"
  private val PCnt = "__pcnt"
  private val PMin = "__pmin"
  private def isPartialCol(c: String) =
    c.endsWith(PSum) || c.endsWith(PCnt) || c.endsWith(PMin)

  /** Roll one batch down to mergeable per-(hour, id) partials. */
  def partials(
      df: DataFrame,
      tsCol: String = "timestamp",
      idCol: String = "bldg_id"): DataFrame = {
    val floored = floorToHour(df, tsCol)
    val keys: Seq[String] =
      if (df.columns.contains(idCol)) Seq(tsCol, idCol) else Seq(tsCol)
    val aggs: Seq[Column] = floored.schema.fields.toSeq.flatMap { f =>
      if (isFloating(f.dataType))
        // avg = sum(non-null) / count(non-null), kept unreduced
        Seq(
          sum(col(f.name)).as(s"${f.name}$PSum"),
          count(col(f.name)).as(s"${f.name}$PCnt"))
      else Seq(min(col(f.name)).as(s"${f.name}$PMin"))
    }
    floored.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge two partial snapshots (commutative + associative: sums add,
    * counts add, mins min — arrival order can never change the result). */
  def mergePartials(a: DataFrame, b: DataFrame): DataFrame = {
    require(a.columns.sameElements(b.columns),
      s"partial schemas differ: ${a.columns.mkString(",")} vs ${b.columns.mkString(",")}")
    val keys = a.columns.filterNot(isPartialCol).toSeq
    val aggs: Seq[Column] = a.columns.filter(isPartialCol).toSeq.map { c =>
      if (c.endsWith(PMin)) min(col(c)).as(c) else sum(col(c)).as(c)
    }
    a.unionByName(b).groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Project a partial snapshot to [[apply]]'s exact output schema. */
  def finalizePartials(p: DataFrame): DataFrame = {
    val keys = p.columns.filterNot(isPartialCol).toSeq
    val outs: Seq[Column] = p.columns.toSeq.collect {
      case c if c.endsWith(PSum) =>
        val base = c.stripSuffix(PSum)
        round(col(c) / col(s"$base$PCnt"), DecimalPlaces).as(s"${base}_mean")
      case c if c.endsWith(PMin) =>
        col(c).as(s"${c.stripSuffix(PMin)}_min")
    }
    p.select(keys.map(col) ++ outs: _*)
  }
}
