package graft.tables

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Mirrors the reference's scan surface (SURVEY.md §2.1 S1-S3,S6):
  * table scans with pushed predicates happen at the caller via
  * `.filter`/`.select` on the returned DataFrame — Catalyst pushes
  * them into the parquet scan (PushedFilters / ReadSchema).
  *
  * Each (session, path) schema is resolved once. Inferring a parquet
  * schema runs a Spark job (a footer read) on every
  * `spark.read.parquet`; `apply` instead keeps the schema it inferred
  * together with the path's file listing (names, sizes, modification
  * times, read on the driver with no job) and reads through it with
  * `spark.read.schema(s).parquet(path)`. A rewritten table lists
  * differently and resolves again. Every call still builds a fresh
  * relation, so a self-join of two frames of one table keeps distinct
  * attribute ids. A session setting that changes parquet schema
  * inference is seen by a path only when it next resolves, that is,
  * after the table is rewritten.
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
      val path = s"$dir/$name.parquet"
      spark.read.schema(schemaOf(spark, path)).parquet(path)
    })

  /** A file listing: (path, length, modification time) per file. */
  private type Listing = Vector[(String, Long, Long)]

  /** Per session (weakly held, so a stopped session is collected):
    * path → the listing a schema was inferred under, and that schema. */
  private val resolved =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, (Listing, StructType)]]

  /** The schema of the parquet table at `path`, inferred again only
    * when the path lists differently from the last inference in this
    * session. The listing is taken before the inference, so a rewrite
    * racing it at worst resolves once more. A missing path lists
    * empty, is never kept, and fails in `spark.read.parquet` with
    * Spark's own error. */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val bySession = resolved.synchronized {
      resolved.computeIfAbsent(spark, _ => new ConcurrentHashMap())
    }
    val files = listing(spark, path)
    Option(bySession.get(path)) match {
      case Some((seen, schema)) if seen == files => schema
      case _ =>
        val schema = spark.read.parquet(path).schema
        bySession.put(path, (files, schema))
        schema
    }
  }

  /** Every file under `path`, recursively, read on the driver. Only
    * length and modification time are asked of each status: on the
    * local filesystem, permission or owner would fork `ls` per file. */
  private def listing(spark: SparkSession, path: String): Listing = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(q: Path): Listing =
      fs.listStatus(q).toVector.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else Vector((st.getPath.toString, st.getLen, st.getModificationTime))
      }
    try walk(p).sorted catch { case _: java.io.FileNotFoundException => Vector.empty }
  }

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
