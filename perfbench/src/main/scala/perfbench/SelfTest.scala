package perfbench

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** JVM-side harness checks, run by perfbench/test_harness.py: the digest
  * ignores row order and partitioning but sees a changed or duplicated
  * row, a query that throws is recorded as a failed operation without a
  * timing while the rest of the pass still runs, and an operation that
  * throws records no heap peak. Exits 1 on the first failed check. */
object SelfTest {
  private def expect(ok: Boolean, what: String): Unit =
    if (!ok) { System.err.println(s"FAIL $what"); sys.exit(1) }
    else println(s"ok $what")

  def main(args: Array[String]): Unit = {
    val work = Files.createTempDirectory("perfbench-selftest")
    val r = new Run("selftest", 1, 1, trace = false, work, Map.empty)
    try {
      val spark = r.startSession()
      val df = spark.range(0, 500).select(col("id"),
        (col("id") % 7).as("k"), concat(lit("v"), col("id").cast("string")).as("s"),
        current_timestamp().as("processed_at"))
      val d = Digest(df, Set("processed_at"))
      expect(Digest(df.orderBy(desc("id")), Set("processed_at")) == d,
        "digest ignores row order")
      expect(Digest(df.repartition(7, col("k")), Set("processed_at")) == d,
        "digest ignores partitioning")
      expect(Digest(df.select(df.columns.reverse.toIndexedSeq.map(col): _*),
        Set("processed_at")) == d, "digest ignores column order")
      expect(Digest(df.withColumn("s", when(col("id") === 3, lit("x"))
        .otherwise(col("s"))), Set("processed_at")) != d, "digest sees a changed row")
      expect(Digest(df.union(df.filter(col("id") === 3)), Set("processed_at")) != d,
        "digest sees a duplicated row")

      val passed = RegistryMix.pass(r, Seq("g" -> Seq("no_such_query", "no_such_query_2")),
        work.toString, "selftest", record = true)
      expect(passed.isEmpty && r.ops.size == 2 && r.ops.forall(o => !o.ok && o.ms == 0.0),
        "a throwing query is a failed op with no timing")
      val thrown = try { r.measuringHeap[Unit](sys.error("boom")); false }
        catch { case _: RuntimeException => true }
      r.measuringHeap { spark.range(1000).collect() }
      expect(thrown && r.heapPeaksMb.size == 1 && r.heapPeaksMb.head > 0,
        "only an operation that returns records a heap peak")
    } finally {
      r.stopSession()
      scala.reflect.io.Directory(work.toFile).deleteRecursively()
    }
  }
}
