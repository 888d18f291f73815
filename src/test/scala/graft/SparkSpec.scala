package graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  def hadoopConf: Configuration = spark.sparkContext.hadoopConfiguration

  def sf(name: String): String = s"/root/testdata/sf0.001/$name.parquet"
}

object SparkSpec {
  lazy val session: SparkSession = {
    // A fixed 4 cores, not SPARK_GRAFT_CPUS: the specs' figures assume 4.
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
