package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The Spark catalog replaces Glue DB + crawlers (SURVEY.md §2.1 S9):
  * schemas are known at write time, so a data table is registered with the
  * schema its write used — no inference phase, no "last job hogs the
  * schema" drift (`README.md:501`).
  *
  * Table naming preserves the reference's convention so its saved SQL
  * rewrites cleanly (`stack.ts:64-69`, `README.md:503`): per-state data
  * tables `{prefix}_state_{s}` and one metadata table `{prefix}_parquet`
  * per run, over every job's copied metadata files, as the reference's
  * one crawler over all states builds it.
  */
object CatalogRegistry {

  def dataTableName(prefix: String, state: String): String =
    s"${prefix}_state_${state.toLowerCase}"

  def metadataTableName(prefix: String): String = s"${prefix}_parquet"

  /** Register one written data directory. Without `schema` the schema is
    * read from one footer. */
  def registerData(spark: SparkSession, path: String, prefix: String, state: String,
      schema: Option[StructType] = None): String =
    registerData(spark, Seq(path), prefix, state, schema)

  /** Register one state's table over the data directories of every job of
    * that state. Each directory is its own partition root, and Spark reads
    * one root per relation, so the table is their union. */
  def registerData(spark: SparkSession, paths: Seq[String], prefix: String, state: String,
      schema: Option[StructType]): String = {
    val name = dataTableName(prefix, state)
    def read(path: String) =
      schema.fold(spark.read)(spark.read.schema(_)).option("basePath", path).parquet(path)
    paths.map(read).reduce(_ unionByName _).createOrReplaceTempView(name)
    name
  }

  def registerMetadata(spark: SparkSession, path: String, prefix: String): String =
    registerMetadata(spark, Seq(path), prefix)

  /** Register the metadata table over `entries`: metadata files, or
    * directories of part files. Entries come from different layout
    * versions and releases, so their footers are merged. */
  def registerMetadata(spark: SparkSession, entries: Seq[String], prefix: String): String = {
    val name = metadataTableName(prefix)
    spark.read.option("mergeSchema", "true").parquet(entries: _*).createOrReplaceTempView(name)
    name
  }
}
