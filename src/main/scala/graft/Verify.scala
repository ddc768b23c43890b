package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * An optional third arg (comma-separated query names) restricts the
  * dump, and the oracles written with it, to those queries — dev
  * iteration on one query without the full pass; the 2-arg
  * invocation dumps every query. */
object Verify {

  /** Run every query, dumping each result to `outDir/<name>` parquet.
    * Returns name→message for the queries that threw. Failures must be
    * loud in the round artifacts: a swallowed exception here is a query
    * silently MISSING from CORRECTNESS (exactly how 16 queries vanished
    * in r04), so main() writes the returned map as `_failed.json` and
    * VerifyContractSpec pins outputs ∪ failed == attempted. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        failed(name) = msg.linesIterator.take(3).mkString(" | ").take(500)
      }
    }
    failed.toMap
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def writeJson(path: String, kv: Iterable[(String, String)]): Unit =
    Files.writeString(Paths.get(path),
      kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSet else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // collect_set/collect_list aggregates (bounded per-group sets:
      // <=25 nation tokens, <=5 event types, fixed-width minhash sigs)
      // otherwise fall back to sort-based aggregation after only 128
      // distinct groups per task -- a full sort of the fact table.
      // 256k in-memory groups x ~100 B of set payload stays well under
      // executor memory at 32 tasks while keeping the agg hash-based.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 262144)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val attempted = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
    val failed = run(spark, sfDir, outDir, attempted)
    writeJson(s"$outDir/oracle_sql.json",
      SparkEntry.oracleSql.filter { case (name, _) => attempted.contains(name) })
    writeJson(s"$outDir/_failed.json", failed)
    spark.stop()
  }
}
