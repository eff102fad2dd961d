package graft

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import graft.extensions.GraftExtensions.{Kind, Param, Scalar, Tvf}
import graft.extensions.SqlFunctions

/** The SQL-function spec list: every entry's generated bad-argument
  * paths, driven from the list itself so a new function is covered
  * without a new test. Literals are checked before a body runs, so
  * none of the table-function cases needs a fixture table. */
class SqlFunctionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val tvfs = SqlFunctions.all.collect { case f: Tvf => f }
  private val scalars = SqlFunctions.all.collect { case f: Scalar => f }

  private def literal(p: Param): String = p.kind match {
    case Kind.Table | Kind.Str => "'x'"
    case Kind.Int | Kind.Long => p.min.getOrElse(1L).max(1L).toString
    case Kind.Num => "0.5"
    case Kind.Bool => "true"
  }

  private def failure(sql: String): String =
    intercept[Exception](spark.sql(sql).collect()).getMessage

  test("the spec list holds 56 table and 20 scalar functions, names unique") {
    assert(tvfs.size == 56 && scalars.size == 20)
    assert(SqlFunctions.all.map(_.name).distinct.size == SqlFunctions.all.size)
  }

  test("every table function: one argument too few fails with its generated usage") {
    tvfs.foreach { f =>
      val args = f.params.filterNot(_.optional).dropRight(1).map(literal)
      val msg = failure(s"SELECT * FROM ${f.name}(${args.mkString(", ")})")
      assert(msg.contains(s"usage: ${f.usage}"), s"${f.name}: $msg")
    }
  }

  test("every table function: an integer in its first string parameter is refused by name") {
    tvfs.foreach { f =>
      val req = f.params.filterNot(_.optional)
      val at = req.indexWhere(p => p.kind == Kind.Table || p.kind == Kind.Str)
      assert(at >= 0, s"${f.name} has no string parameter")
      val args = req.map(literal).updated(at, "7")
      val msg = failure(s"SELECT * FROM ${f.name}(${args.mkString(", ")})")
      assert(msg.contains(s"${f.name}: ${req(at).name} must be a string literal"),
        s"${f.name}: $msg")
    }
  }

  test("every scalar function: a wrong arity fails naming the function") {
    scalars.foreach { f =>
      val args = Seq.fill(f.params.size + 1)("1")
      val msg = failure(s"SELECT ${f.name}(${args.mkString(", ")})")
      assert(msg.contains(s"${f.name} expects ("), s"${f.name}: $msg")
    }
  }

  test("cosine_near_dup refuses a 'NaN' threshold at analysis, firing no Spark job") {
    import spark.implicits._
    Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.01)), (3L, Seq(0.0, 1.0)))
      .toDF("id", "vec").createOrReplaceTempView("nan_guard_t")
    val guarded, marker = new AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == "nan-guard"))
          guarded.incrementAndGet()
        else marker.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("nan-guard", "refused cosine_near_dup call")
      val e = try intercept[Exception] {
        spark.sql("SELECT * FROM cosine_near_dup('nan_guard_t', 'id', 'vec', 'NaN', true)")
      } finally sc.clearJobGroup()
      assert(e.getMessage.contains(
        "cosine_near_dup: threshold must be a numeric literal"), e.getMessage)
      // a marker job after the refusal: listener events arrive in
      // order, so once the marker is seen any job the refused call had
      // fired would already have been counted
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (marker.get() < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(marker.get() >= 1, "marker job never observed")
      assert(guarded.get() == 0, s"${guarded.get()} job(s) fired by the refused call")
    } finally {
      sc.removeSparkListener(listener)
      spark.catalog.dropTempView("nan_guard_t")
    }
  }

  test("numeric parameters take decimal, double and integer literals") {
    import spark.implicits._
    Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.01)), (3L, Seq(0.0, 1.0)))
      .toDF("id", "vec").createOrReplaceTempView("num_lit_t")
    try {
      val counts = Seq("0.99", "0.99D", "1").map(t => spark.sql(
        s"SELECT * FROM cosine_near_dup('num_lit_t', 'id', 'vec', $t)").count())
      assert(counts == Seq(1L, 1L, 0L), counts)
    } finally spark.catalog.dropTempView("num_lit_t")
  }

  test("DESCRIBE FUNCTION prints the generated usage") {
    def describe(name: String): String =
      spark.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0)).mkString("\n")
    assert(describe("hits").contains("Usage: hits(edge_table, src_col, dst_col, iters)"),
      describe("hits"))
    assert(describe("cosine_sim").contains("Usage: cosine_sim(a, b)"),
      describe("cosine_sim"))
  }
}
