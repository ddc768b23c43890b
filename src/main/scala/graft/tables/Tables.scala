package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Mirrors the reference's scan surface (SURVEY.md §2.1 S1-S3,S6):
  * table scans with pushed predicates happen at the caller via
  * `.filter`/`.select` on the returned DataFrame — Catalyst pushes
  * them into the parquet scan (PushedFilters / ReadSchema).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    fixupEvents(name, {
      // events.ts is parquet TIMESTAMP(NANOS) which Spark rejects by
      // default; read nanos as long and rebuild a TimestampType at
      // microsecond precision (truncation — same as DuckDB epoch_us).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$dir/$name.parquet")
    })

  /** S1's production branch (SparkUtils.java:36-43 switches mock temp
    * tables ↔ Hive tables behind one flag): read from the session
    * catalog / metastore instead of a file path. Partition pruning,
    * stats, and bucketing metadata come from the catalog; everything
    * downstream is identical to the file branch. */
  def catalog(spark: SparkSession, name: String): DataFrame =
    fixupEvents(name.split('.').last, spark.table(name))

  /** Register the parquet files as EXTERNAL catalog tables (no data
    * copy — `CREATE TABLE ... USING parquet LOCATION`), so
    * `spark.table` / SQL-text / catalog-stats paths all work against
    * the same files the file branch reads. Idempotent. */
  def createCatalogTables(spark: SparkSession, dir: String,
      database: String = "default"): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $database")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    names.foreach { n =>
      spark.sql(s"""CREATE TABLE IF NOT EXISTS $database.$n
                   |USING parquet LOCATION '$dir/$n.parquet'""".stripMargin)
    }
  }

  /** Normalize events.ts to session-tz TimestampType regardless of the
    * physical parquet encoding, shared by both source branches. A real
    * lakehouse sees mixed writers; the three encodings observed from
    * the driver's generator so far:
    *   - TIMESTAMP(NANOS)          → LongType under nanosAsLong
    *   - TIMESTAMP(MICROS) no-tz   → TimestampNTZType
    *   - TIMESTAMP(MICROS) utc-adj → TimestampType (no-op)
    * The NTZ→TimestampType cast is value-preserving because every
    * entry point (Verify, Bench, Explain, ScaleProbe, specs) pins the
    * session timezone to UTC. */
  private def fixupEvents(name: String, df: DataFrame): DataFrame =
    if (name != "events") df
    else df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
}
