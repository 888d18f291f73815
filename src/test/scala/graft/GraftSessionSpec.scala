package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The specs run on the session settings the mains run on: one factory
  * ([[GraftSession]]) configures every session, and no other builder may
  * appear in the sources. */
class GraftSessionSpec extends SparkSpec {

  test("the test session carries every GraftSession setting, the aggregate fallback pin included") {
    // Literal: a spec session without the pin would time and plan TopKAgg
    // rows on the sort-based fallback the mains never take.
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") === "65536")
    GraftSession.conf(4).foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, s"$k")
    }
    assert(spark.sparkContext.master === "local[4]")
  }

  test("no session builder outside GraftSession") {
    val needle = "SparkSession" + ".builder"
    def sources(root: String): Seq[Path] = {
      val dir = Paths.get(root)
      assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
      val stream = Files.walk(dir)
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally stream.close()
    }
    val all = sources("src/main") ++ sources("src/test")
    val offenders = all
      .filter(p => p.getFileName.toString != "GraftSession.scala")
      .filter(p => Files.readString(p).contains(needle))
    assert(offenders.isEmpty,
      s"build sessions through GraftSession.builder, not $needle: ${offenders.mkString(", ")}")
  }
}
