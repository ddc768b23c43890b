package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's join surface as reusable combinators (SURVEY §2.3).
  *
  * J1/J2 (shuffle vs broadcast inner) are expressed at call sites via
  * `broadcast()`; J3/J4 (salting/expansion skew joins) are obsolete
  * under AQE (spark.sql.adaptive.skewJoin, default on) — the engine
  * carries no salting code by design (SURVEY §4). What remains worth
  * naming:
  */
object Joins {

  /** J6: keep left rows whose key appears in `keys` (the reference
    * emulated this with a pair join that discards the value). */
  def semi(left: DataFrame, keys: DataFrame, on: Seq[String]): DataFrame =
    left.join(keys, on, "left_semi")

  /** J9: stream/batch anti-join — drop left rows whose key appears in
    * `blacklist` (reference: leftOuterJoin + isPresent filter,
    * AdClickRealTimeStatSpark.java:234-314). */
  def anti(left: DataFrame, blacklist: DataFrame, on: Seq[String]): DataFrame =
    left.join(blacklist, on, "left_anti")

  /** Bloom runtime-filter audit — the row-level sibling of q279's
    * per-FILE bloom pruning, and the shape behind every engine's
    * runtime filter / DPP: instead of shuffling the fact table into a
    * semi-join, broadcast a `mBits`-bit bloom of the build side's key
    * set and drop fact rows map-side; the (tiny) false-positive tail
    * rides into the real join, which stays correct. This op measures
    * what that buys ON THIS DATA: fact rows passed by the bloom vs
    * the exact semi-join, the false-positive rate over the true
    * negatives, and the selectivity — the numbers that justify (or
    * kill) the filter before anyone flips the conf.
    *
    * The bloom is a REAL broadcast bitmap, not a bit-row join: the
    * build side's 2 md5 20-bit hashes (q279's convention — no false
    * negatives by construction) land in a (word, bits) aggregate
    * (m/64 longs), collect into ONE array row, broadcast, and the
    * fact pass tests both bits with shifts — a codegen'd map stage,
    * zero fact shuffles for the bloom path. The exact semi-join runs
    * beside it as the truth.
    *
    * One row: n_fact, n_build_keys, n_bloom_pass, n_exact,
    * false_pos_rows, fp_rate_bp (over true negatives),
    * exact_selectivity_bp.
    *
    * Scale shape: build side collapses to distinct keys then to
    * ≤m/64 bitmap words (metadata); the fact side is ONE map pass
    * plus the exact semi (the thing being audited — at 100 TB you'd
    * sample the fact side for the audit and trust the bloom path). */
  def bloomSemiAudit(fact: DataFrame, build: DataFrame,
      factKey: String, buildKey: String,
      mBits: Long = 131072L): DataFrame = {
    require(mBits >= 64L && mBits <= (1L << 20) && mBits % 64 == 0,
      "mBits in [64, 2^20], multiple of 64")
    def h(start: Int, column: String) = expr(
      s"CAST(conv(substring(md5(CAST($column AS STRING)), $start, 5)," +
        s" 16, 10) AS BIGINT) % ${mBits}L")
    val keys = build.filter(col(buildKey).isNotNull)
      .select(col(buildKey).as("k")).distinct()
      .persist()
    val words = keys
      .select(explode(array(h(1, "k"), h(6, "k"))).as("bit"))
      .select(expr("bit div 64").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))").as("m"))
      .groupBy(col("w")).agg(bit_or(col("m")).as("word"))
    // dense m/64-long bitmap (absent words are zero) as ONE array row
    val bitmap = words
      .agg(sort_array(collect_list(struct(col("w"), col("word")))).as("a"))
      .select(expr(
        s"""transform(sequence(0L, ${mBits / 64 - 1}L), i ->
           |  coalesce(element_at(map_from_arrays(
           |    transform(a, x -> x.w), transform(a, x -> x.word)), i), 0L))"""
          .stripMargin).as("bm"))
    // both the bloom map pass and the exact semi read the projected
    // fact keys — persist so the fact parquet is scanned once, not
    // twice (the audit is the one consumer that inherently needs two
    // full passes over the keys; the SCAN doesn't have to repeat)
    val f = fact.filter(col(factKey).isNotNull)
      .select(col(factKey).as("fk"))
      .persist()
    val tested = f.crossJoin(broadcast(bitmap))
      .withColumn("h1", h(1, "fk")).withColumn("h2", h(6, "fk"))
      .withColumn("pass", (
        expr("(bm[CAST(h1 div 64 AS INT)] >> CAST(h1 % 64 AS INT)) & 1") === 1L &&
        expr("(bm[CAST(h2 div 64 AS INT)] >> CAST(h2 % 64 AS INT)) & 1") === 1L
      ).cast("long"))
    val bloomSide = tested.agg(count(lit(1)).as("n_fact"),
      sum(col("pass")).as("n_bloom_pass"))
    val exactSide = f.join(keys, col("fk") === col("k"), "left_semi")
      .agg(count(lit(1)).as("n_exact"))
    val nKeys = keys.agg(count(lit(1)).as("n_build_keys"))
    bloomSide.crossJoin(broadcast(exactSide)).crossJoin(broadcast(nKeys))
      .select(col("n_fact"), col("n_build_keys"), col("n_bloom_pass"),
        col("n_exact"),
        (col("n_bloom_pass") - col("n_exact")).as("false_pos_rows"),
        when(col("n_fact") === col("n_exact"), lit(null).cast("long"))
          .otherwise(floor(lit(10000.0) *
            (col("n_bloom_pass") - col("n_exact")) /
            (col("n_fact") - col("n_exact"))).cast("long")).as("fp_rate_bp"),
        floor(lit(10000.0) * col("n_exact") / col("n_fact")).cast("long")
          .as("exact_selectivity_bp"))
  }
}

/** U1: period-over-period delta via the reference's +1/−1 union trick
  * (UserActiveDegreeAnalyze.scala:92-123). Both periods are scanned
  * once, unioned with a sign column, and one aggregation computes the
  * delta — no self-join, single shuffle on the group key.
  */
object PeriodDelta {

  /** Sum `valueCol` per `key` in period A minus period B.
    * Periods are [start, end) predicates on `ts`. */
  def apply(df: DataFrame, key: String, valueCol: String,
      periodA: Column, periodB: Column): DataFrame = {
    val a = df.filter(periodA).withColumn("sign", lit(1L))
    val b = df.filter(periodB).withColumn("sign", lit(-1L))
    a.unionByName(b)
      .groupBy(col(key))
      .agg(
        // house money convention: per-row floor(x*100) cents, BIGINT
        // sum — bit-identical across engines (no decimal rounding)
        sum(col("sign") * floor(col(valueCol) * lit(100.0)))
          .as("value_delta_cents"),
        sum(col("sign")).as("count_delta"))
  }
}
