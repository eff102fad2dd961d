package perfbench

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row}
import graft.SparkEntry

/** `registry_mix`: registry queries over seeded star-schema tables, each
  * built, planned and collected in turn. The first pass in the fresh
  * JVM is the cold pass and counts as set-up; the warm passes after it
  * are measured. */
object RegistryMix {

  /** `--mix group:q1,q2;group:q3` names the queries, by group. */
  def groups(spec: String): Seq[(String, Seq[String])] =
    spec.split(";").toSeq.map { g =>
      val Array(name, qs) = g.split(":", 2)
      name -> qs.split(",").toSeq
    }

  /** Warm passes measured per run. A fixed count keeps every run at the
    * same point of the JIT warm-up. */
  val MeasuredPasses = 2
  /** Unmeasured passes between the cold pass and the measured ones: the
    * pass right after the cold one reads up to 18% slower than the next. */
  val UnmeasuredPasses = 1

  final case class Timed(buildMs: Double, planMs: Double, execMs: Double,
                         rows: Array[Row], df: DataFrame)

  /** Build, plan and collect one query, each phase in its own span. */
  def once(r: Run, name: String, data: String): Timed = {
    val t = r.tracer
    val fn = SparkEntry.queries(name)
    val b0 = r.nowMs
    val df = t.span("queries.build", name) { fn(r.spark, data) }
    val p0 = r.nowMs
    t.span("spark.plan", name) { df.queryExecution.executedPlan }
    val e0 = r.nowMs
    val rows = t.span("queries.exec", name) { df.collect() }
    Timed(p0 - b0, e0 - p0, r.nowMs - e0, rows, df)
  }

  private[perfbench] def pass(r: Run, groups: Seq[(String, Seq[String])], data: String,
                   label: String, record: Boolean): Map[String, Timed] =
    r.tracer.span("mix.pass", label) {
      groups.flatMap { case (group, names) =>
        names.flatMap { q =>
          try {
            val x = r.tracer.span("mix.query", q) { once(r, q, data) }
            if (record) r.ops += Op("query", q, group, ok = true,
              x.buildMs + x.planMs + x.execMs, 1L,
              Map("build_ms" -> x.buildMs, "plan_ms" -> x.planMs,
                "exec_ms" -> x.execMs), "")
            Some(q -> x)
          } catch {
            case NonFatal(e) =>
              System.err.println(s"[perfbench] $label $q failed: $e")
              if (record) r.ops += Op("query", q, group, ok = false, 0.0, 1L,
                Map.empty, String.valueOf(e.getMessage).take(300))
              None
          }
        }
      }.toMap
    }

  def run(r: Run): Unit = {
    val data = r.opts("data")
    val groups = RegistryMix.groups(r.opts("mix"))
    val s0 = r.nowMs
    r.startSession()
    val cold = pass(r, groups, data, "cold", record = false)
    r.setupS += (r.nowMs - s0) / 1e3
    r.extra("cold_ms") = cold.map { case (q, x) =>
      q -> Map("build_ms" -> x.buildMs, "plan_ms" -> x.planMs, "exec_ms" -> x.execMs) }
    (1 to UnmeasuredPasses).foreach(i => pass(r, groups, data, s"unmeasured$i", record = false))

    var k = 0
    var last = Map.empty[String, Timed]
    val passMs = scala.collection.mutable.ArrayBuffer[Double]()
    while (k < MeasuredPasses || passMs.sum < r.seconds * 1000.0) {
      k += 1
      val p0 = r.nowMs
      last = r.measuringHeap { pass(r, groups, data, s"warm$k", record = true) }
      passMs += r.nowMs - p0
    }
    r.extra("pass_ms") = passMs.toList

    // Results of the last warm pass, as parquet for the DuckDB oracle.
    val out = r.dir("mix-results")
    val oracle = SparkEntry.oracleSql
    val dumped = last.toSeq.flatMap { case (q, x) =>
      try {
        r.spark.createDataFrame(x.rows.toList.asJava, x.df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
        Some(q -> s"$out/$q")
      } catch {
        case NonFatal(e) =>
          r.check(s"$q.dump", ok = false, String.valueOf(e))
          None
      }
    }.toMap
    r.extra("results") = dumped
    r.extra("oracle_sql") = oracle.filter { case (q, _) => dumped.contains(q) }
    r.extra("no_oracle") = groups.flatMap(_._2).filterNot(oracle.contains)
  }
}
