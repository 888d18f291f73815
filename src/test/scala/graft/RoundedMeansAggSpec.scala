package graft

import java.lang.Double.doubleToRawLongBits

import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.RoundedMeansAgg
import graft.operators.HourlyRollup

/** RoundedMeansAgg against Spark's own `round(avg(c), 7)`, bit for bit. Each
  * group's rows sit in at most two input partitions, so a group merges at
  * most two partial sums — an order-free addition — and both sides see the
  * same folds. */
class RoundedMeansAggSpec extends SparkSpec {

  private def bits(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(doubleToRawLongBits(r.getDouble(i)))

  /** Per group key (column 0), the raw bits of every other column. */
  private def rawByKey(df: DataFrame): Map[Any, Seq[Option[Long]]] =
    df.collect().map(r => r.get(0) -> (1 until r.length).map(bits(r, _))).toMap

  private def assertSameBits(ours: DataFrame, spark: DataFrame): Unit = {
    assert(ours.schema === spark.schema)
    val (o, s) = (rawByKey(ours), rawByKey(spark))
    assert(o.keySet === s.keySet)
    for ((k, sv) <- s; (b, i) <- sv.zipWithIndex)
      assert(o(k)(i) === b, s"group $k, column ${spark.columns(i + 1)}: " +
        s"${o(k)(i).map(java.lang.Double.longBitsToDouble)} vs ${b.map(java.lang.Double.longBitsToDouble)}")
  }

  private val Inf = Double.PositiveInfinity
  private val edgeGroups: Seq[(Int, Seq[Option[Double]])] = Seq(
    1 -> Seq(Some(0.0)),
    2 -> Seq(Some(-0.0)),
    3 -> Seq(Some(-0.0), Some(-0.0)),
    4 -> Seq(Some(Double.NaN), Some(1.0)),
    5 -> Seq(Some(Inf), Some(1.0)),
    6 -> Seq(Some(-Inf)),
    7 -> Seq(Some(Inf), Some(-Inf)),
    8 -> Seq(None, Some(2.0), None, Some(4.0)),
    9 -> Seq(None, None), // all-null group: NULL mean
    10 -> Seq(Some(0.12345675)), // HALF_UP tie → 0.1234568
    11 -> Seq(Some(-0.12345675)), // away from zero → -0.1234568
    12 -> Seq(Some(1.7e308), Some(1.7e308)), // sum overflows to +Inf
    13 -> Seq(Some(-1.7e308), Some(-1.7e308)),
    14 -> Seq(Some(1.0), Some(2.0), Some(2.0)),
    15 -> Seq(Some(-1e-9)), // rounds to zero
    16 -> Seq(Some(0.1), Some(0.2), Some(0.3)),
    17 -> Seq(Some(Double.MinPositiveValue), None),
    18 -> Seq(Some(0.12345665)), // a tie HALF_EVEN would round down → 0.1234567
    19 -> Seq(Some(-2.00000005)))

  private def edgeFrame: DataFrame = {
    val rows = for ((g, vs) <- edgeGroups; v <- vs)
      yield Row(g, v.orNull, v.map(_.toFloat).orNull)
    val schema = StructType(Seq(StructField("g", IntegerType),
      StructField("v", DoubleType), StructField("f", FloatType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  test("edge values: ±0.0, NaN, ±Inf, nulls, all-null, HALF_UP ties, overflow, FLOAT — same bits as round(avg(c), 7)") {
    val df = edgeFrame
    val reference = df.groupBy("g").agg(
      round(avg("v"), 7).as("v"), round(avg("f"), 7).as("f"))
    val ours = df.groupBy("g")
      .agg(RoundedMeansAgg.roundedMeans(Seq(col("v"), col("f")), 7).as("m"))
      .select(col("g"), col("m").getItem(0).as("v"), col("m").getItem(1).as("f"))
    assertSameBits(ours, reference)

    val got = ours.collect().map(r => r.getInt(0) -> r).toMap
    assert(got(9).isNullAt(1) && got(9).isNullAt(2))
    assert(got(10).getDouble(1) === 0.1234568)
    assert(got(11).getDouble(1) === -0.1234568)
    assert(got(18).getDouble(1) === 0.1234567)
    assert(got(19).getDouble(1) === -2.0000001)
    assert(got(12).getDouble(1) === Double.PositiveInfinity)
    assert(got(7).getDouble(1).isNaN)
    assert(doubleToRawLongBits(got(2).getDouble(1)) === doubleToRawLongBits(0.0))
    assert(got(14).getDouble(1) === 1.6666667)
  }

  test("a computed (non-column) child takes the generic path with the same bits") {
    val df = edgeFrame.repartition(2)
    val e = col("v") * 3.0
    val reference = df.groupBy("g").agg(round(avg(e), 7).as("m"))
    val ours = df.groupBy("g").agg(RoundedMeansAgg.roundedMeans(Seq(e), 7).getItem(0).as("m"))
    assertSameBits(ours, reference)
  }

  test("non-floating inputs are rejected at analysis") {
    intercept[AnalysisException] {
      spark.range(3).agg(RoundedMeansAgg.roundedMeans(Seq(col("id")), 7)).collect()
    }
  }

  test("120-column rollup (past spark.sql.codegen.maxFields) ≡ per-column round(avg(c), 7), column by column") {
    val width = 120
    val base = spark.range(0, 2000, 1, 2)
    val values = (0 until width).map { i =>
      val v = (col("id") * (i + 1)).cast(DoubleType) / 7.0 - 1000.0
      // nulls, a NaN and an Inf in some columns, and a FLOAT column
      val withEdges =
        if (i % 10 == 3) when(col("id") % 5 === 0, lit(null).cast(DoubleType)).otherwise(v)
        else if (i == 7) when(col("id") === 11, lit(Double.NaN)).otherwise(v)
        else if (i == 8) when(col("id") === 13, lit(Inf)).otherwise(v)
        else v
      (if (i == 9) withEdges.cast(FloatType) else withEdges).as(s"c$i")
    }
    val df = base.select(Seq(
      // 7 buildings × 6 readings per hour; a group spans at most two partitions
      timestamp_seconds(floor(col("id") / 7) * 600).as("timestamp"), (col("id") % 7).as("bldg_id"),
      col("id").cast(IntegerType).as("n")) ++ values: _*)

    val rolled = HourlyRollup(df)
    val floored = HourlyRollup.floorToHour(df)
    val reference = floored.groupBy(col("timestamp"), col("bldg_id")).agg(
      min(col("timestamp")).as("timestamp_min"),
      Seq(min(col("bldg_id")).as("bldg_id_min"), min(col("n")).as("n_min")) ++
        (0 until width).map(i => round(avg(col(s"c$i")), 7).as(s"c${i}_mean")): _*)
    assert(rolled.schema === reference.schema)

    def keyed(d: DataFrame) = d.collect().map(r =>
      (r.getTimestamp(0), r.getLong(1)) -> r).toMap
    val (o, s) = (keyed(rolled), keyed(reference))
    assert(o.size === s.size && o.size > 100)
    for ((k, sr) <- s; c <- 0 until width) {
      val i = sr.fieldIndex(s"c${c}_mean")
      assert(bits(o(k), i) === bits(sr, i), s"key $k, column c$c")
    }
  }
}
