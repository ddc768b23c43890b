package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.StructType

import graft.tables.Tables

/** `Tables` resolves each (session, path) schema once, keyed on the
  * path's file listing, and reads through it: a repeated call starts
  * no job, a rewritten table resolves again, and every call is a
  * fresh relation. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft-tables").toString

  private def writeOrders(dir: String, n: Int): Unit =
    (1 to n).map(i => (i.toLong, (i % 3).toLong)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

  test("a second call on an unchanged path starts no job") {
    val dir = tempDir()
    writeOrders(dir, 6)
    val first = Tables(spark, dir, "orders").schema
    val (again, jobs) = withJobCount(Tables(spark, dir, "orders"))
    assert(jobs == 0, s"resolving an unchanged table again started $jobs jobs")
    assert(again.schema == first)
    assert(again.count() == 6L)
  }

  test("an in-place rewrite that adds a column resolves the new schema") {
    val dir = tempDir()
    writeOrders(dir, 4)
    assert(Tables(spark, dir, "orders").columns.toSeq == Seq("o_orderkey", "o_custkey"))
    Seq((7L, 1L, "1-URGENT")).toDF("o_orderkey", "o_custkey", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val df = Tables(spark, dir, "orders")
    assert(df.columns.toSeq == Seq("o_orderkey", "o_custkey", "o_orderpriority"))
    assert(df.as[(Long, Long, String)].collect().toSeq == Seq((7L, 1L, "1-URGENT")))
  }

  test("a self-join of two frames of one table keeps distinct attribute ids") {
    val dir = tempDir()
    writeOrders(dir, 6)
    val a = Tables(spark, dir, "orders")
    val b = Tables(spark, dir, "orders")
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    // custkeys 0, 1, 2 hold two orders each: 3 · 2 · 2 pairs
    assert(a.join(b, a("o_custkey") === b("o_custkey")).count() == 12L)
  }

  test("two threads making the first call at once both get the right schema") {
    val dir = tempDir()
    writeOrders(dir, 3)
    val want = StructType.fromDDL("o_orderkey BIGINT, o_custkey BIGINT")
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val go = new CountDownLatch(1)
      val calls = Seq.fill(2)(Future {
        go.await(60, TimeUnit.SECONDS)
        val df = Tables(spark, dir, "orders")
        (df.schema, df.count())
      })
      go.countDown()
      Await.result(Future.sequence(calls), Duration(120, TimeUnit.SECONDS)).foreach {
        case (schema, n) =>
          assert(schema == want)
          assert(n == 3L)
      }
    } finally pool.shutdown()
  }

  test("a missing path fails with Spark's error, and resolves once it exists") {
    val dir = tempDir()
    val e = intercept[AnalysisException](Tables(spark, dir, "orders"))
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
    writeOrders(dir, 2)
    assert(Tables(spark, dir, "orders").count() == 2L)
  }
}
