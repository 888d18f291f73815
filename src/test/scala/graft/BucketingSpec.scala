package graft

import org.apache.spark.sql.functions._

import graft.etl.Sink

class BucketingSpec extends SparkSpec {

  private def Tables = graft.sources.Tables

  test("co-bucketed join and aggregate run with ZERO exchanges; results unchanged") {
    val dir = "/root/testdata/sf0.001"
    val orders = Tables.orders(spark, dir)
    val customer = Tables.customer(spark, dir)
    Sink.writeBucketed(orders, "b_orders", "o_custkey", 8)
    Sink.writeBucketed(
      customer.withColumnRenamed("c_custkey", "o_custkey"), "b_customer", "o_custkey", 8)
    val bo = spark.table("b_orders")
    val bc = spark.table("b_customer")

    // Force the sort-merge path: a broadcast join would dodge the shuffle
    // for the wrong reason and prove nothing about the layout.
    val joined = bo.hint("merge").join(bc, Seq("o_custkey"))
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")

    // and the result equals the plain (shuffling) formulation
    val expect = orders.join(
        customer.withColumnRenamed("c_custkey", "o_custkey"), Seq("o_custkey"))
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    assert(joined.except(expect).isEmpty && expect.except(joined).isEmpty)
  }

  test("writeData bounds files per partition dir; plain write scatters by task") {
    val dir = "/root/testdata/sf0.001"
    // event_type as the partition column writeData knows
    val events = Tables.events(spark, dir).withColumnRenamed("event_type", "county")
      .repartition(8) // simulate many input splits
    def filesPerDir(root: String): Map[String, Int] = {
      val base = new java.io.File(root)
      base.listFiles().filter(_.isDirectory).map { d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_sized").toString
    // plain dynamic-partition write: up to one file per (task × value)
    events.write.mode("overwrite").partitionBy("county").parquet(s"$tmp/plain")
    val plain = filesPerDir(s"$tmp/plain")
    assert(plain.values.max > 1, s"fixture must reproduce the scatter: $plain")
    // clustered write: one task per partition value → 1 file each
    val out = Sink.writeData(events, tmp, "sized")
    val sized = filesPerDir(out)
    assert(sized.values.forall(_ == 1), s"one file per dir expected: $sized")
    // a directory larger than AQE's advisory size splits across tasks; the
    // split needs several map outputs, so the input comes in 8 splits
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "1k")
    val out2 =
      try Sink.writeData(spark.range(0, 40000, 1, 8).select(col("id"),
        (col("id") % 2).cast("string").as("county")), tmp, "sized_split")
      finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val split = filesPerDir(out2)
    assert(split.size === 2 && split.values.forall(_ >= 2), s"oversized dirs split: $split")
    // rows survive both layouts
    assert(spark.read.parquet(out).count() === events.count())
    assert(spark.read.parquet(out2).count() === 40000L)
    assert(spark.read.parquet(out2).distinct().count() === 40000L)
  }

  test("mismatched bucket counts fall back to a correct (shuffling) join") {
    val dir = "/root/testdata/sf0.001"
    Sink.writeBucketed(Tables.orders(spark, dir), "b_orders4", "o_custkey", 4)
    Sink.writeBucketed(
      Tables.customer(spark, dir).withColumnRenamed("c_custkey", "o_custkey"),
      "b_customer8", "o_custkey", 8)
    val bo4 = spark.table("b_orders4")
    val bc8 = spark.table("b_customer8")
    val joined = bo4.hint("merge").join(bc8, Seq("o_custkey"))
    // one side must re-shuffle (or both coalesce) — correctness over layout
    assert(joined.count() === Tables.orders(spark, dir).join(
      Tables.customer(spark, dir).withColumnRenamed("c_custkey", "o_custkey"),
      Seq("o_custkey")).count())
  }
}
