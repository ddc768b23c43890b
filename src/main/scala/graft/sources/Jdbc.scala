package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S4 / S9 — the JDBC dimension source and batch result sink.
  *
  * Reference: `city_info` loaded via `format("jdbc")`
  * (AreaTop3ProductSpark.java:176-218) and result tables written by
  * hand-rolled per-partition DAO batches. Spark-first both ways: the
  * built-in JDBC source (predicate pushdown into the remote DB) and
  * `df.write.jdbc` (batched executor-side inserts). Streaming upsert
  * semantics live in graft.sink.KeyedStore instead (§1.3).
  */
object Jdbc {

  private def props(extra: Map[String, String]): Properties = {
    val p = new Properties()
    extra.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  /** Dimension-table read (whole table; dimension-sized). */
  def read(spark: SparkSession, url: String, table: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.jdbc(url, table, props(options))

  /** Batch append sink (S9's insert tables): executor-side batched
    * INSERTs, `batchsize` rows per round trip. */
  def append(df: DataFrame, url: String, table: String,
      options: Map[String, String] = Map.empty): Unit =
    df.write.mode("append").jdbc(url, table, props(options))
}
