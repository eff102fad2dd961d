package graft.extensions

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{BooleanType, Decimal, IntegerType, LongType, NumericType, StringType}

/** Engine extension point (the `SparkSessionExtensions` surface):
  * registers graft's native expressions and table functions into the
  * session's function registries, making them first-class in BOTH the
  * SQL dialect (`SELECT cosine_sim(a, b)`) and the DataFrame API
  * (`call_function("cosine_sim", a, b)`), with full Catalyst
  * optimization and whole-stage codegen.
  *
  * Every SQL function is one [[GraftExtensions.SqlFunction]] spec in
  * [[SqlFunctions.all]]; the loop in `apply` is the only registration
  * path. A spec's parameter list generates its arity check, its
  * `usage:` string (also what `DESCRIBE FUNCTION` prints) and the
  * parsing of every literal argument, all before the body runs.
  *
  * Activate with `.config("spark.sql.extensions",
  * "graft.extensions.GraftExtensions")` on the session builder —
  * every graft session factory (GraftSession, Verify, Bench, tests)
  * does.
  */
object GraftExtensions {
  /** Row ceiling above which the quadratic `cosine_near_dup` TVF
    * refuses to plan without an explicit `allow_quadratic` opt-in:
    * 10k rows ≈ 5·10⁷ candidate pairs, the upper edge of what an
    * oracle-tier run should ever touch. */
  val QuadraticTvfRowCeiling: Int = 10000

  /** The literal type a table-function parameter accepts, with the
    * noun its refusal uses. `Table` is a string literal naming a
    * catalog table; the body resolves it through [[Args.table]]. */
  sealed abstract class Kind(val noun: String)
  object Kind {
    case object Table extends Kind("a string literal")
    case object Str extends Kind("a string literal")
    case object Int extends Kind("an integer literal")
    case object Long extends Kind("an integer literal")
    case object Num extends Kind("a numeric literal")
    case object Bool extends Kind("a boolean literal")
  }

  /** One table-function parameter. Optional parameters follow the
    * required ones; `default` is a literal parsed by the same rules as
    * a supplied argument, and an optional parameter without one is
    * simply absent ([[Args.opt]]). `min` is an inclusive lower bound
    * on an integer parameter. */
  final case class Param(name: String, kind: Kind, optional: Boolean = false,
                         default: Option[Literal] = None,
                         min: Option[Long] = None) {
    def opt: Param = copy(optional = true)
    def opt(d: Any): Param = copy(optional = true, default = Some(Literal(d)))
    def atLeast(m: Long): Param = copy(min = Some(m))
  }

  /** The parsed arguments of one table-function call, read back by
    * parameter name with an accessor of the parameter's kind. */
  final class Args private[GraftExtensions] (val fn: String, kinds: Map[String, Kind],
                                             values: Map[String, Any]) {
    lazy val spark: SparkSession = SparkSession.active
    private def get[T](p: String, ks: Kind*): T = {
      require(kinds.get(p).exists(ks.contains), s"$fn declares no ${ks.head} parameter '$p'")
      values.getOrElse(p, throw new IllegalStateException(s"$fn: '$p' has no value"))
        .asInstanceOf[T]
    }
    def str(p: String): String = get[String](p, Kind.Str, Kind.Table)
    def table(p: String): DataFrame = spark.table(get[String](p, Kind.Table))
    def int(p: String): Int = get[Int](p, Kind.Int)
    def long(p: String): Long = get[Long](p, Kind.Long)
    def num(p: String): Double = get[Double](p, Kind.Num)
    def bool(p: String): Boolean = get[Boolean](p, Kind.Bool)
    /** An optional parameter without a default, read with `read` when
      * supplied: `a.opt("rank_col")(a.str)`. */
    def opt[T](p: String)(read: String => T): Option[T] = {
      require(kinds.contains(p), s"$fn declares no parameter '$p'")
      if (values.contains(p)) Some(read(p)) else None
    }
    /** A whitespace-separated term-list literal ('' = no terms). */
    def words(p: String): Seq[String] = str(p).split("\\s+").toSeq.filter(_.nonEmpty)
    /** A comma-separated list literal, items trimmed, empties dropped. */
    def list(p: String): Seq[String] = str(p).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  sealed trait SqlFunction {
    def name: String
    /** Class named by `DESCRIBE FUNCTION` (ExpressionInfo's className). */
    def owner: String
    def signature: String
    final def usage: String = s"$name($signature)"
    final def info: ExpressionInfo =
      new ExpressionInfo(owner, null, name, usage, "", "", "", "", "", "", "")
  }

  /** A table-valued function. The body sees only parsed, type-checked
    * literals; checks that need a table (column existence, row
    * ceilings, index layouts) stay in the body. */
  final class Tvf(val name: String, val owner: String, val params: Seq[Param],
                  body: Args => LogicalPlan) extends SqlFunction {
    private val required = params.count(!_.optional)
    require(params.drop(required).forall(_.optional),
      s"$name: optional parameters must follow the required ones")
    params.foreach(p => p.default.foreach(parse(p, _)))

    def signature: String = {
      val (req, opt) = params.map(_.name).splitAt(required)
      req.mkString(", ") + opt.map(n => s"[, $n").mkString + "]" * opt.size
    }

    private def refuse(msg: String): Nothing =
      throw new IllegalArgumentException(s"$name: $msg")

    private def parse(p: Param, e: Expression): Any = {
      val v: Any = (p.kind, e) match {
        case (Kind.Table | Kind.Str, Literal(s, StringType)) if s != null => s.toString
        case (Kind.Bool, Literal(b: Boolean, BooleanType)) => b
        case (Kind.Int, Literal(i: Int, IntegerType)) => i
        case (Kind.Int, Literal(l: Long, LongType)) =>
          // an unchecked toInt wraps 5000000000L to a negative value —
          // report the real range instead
          val lo = p.min.getOrElse(Int.MinValue.toLong)
          if (l < lo || l > Int.MaxValue) refuse(
            s"${p.name} must be in [$lo, ${Int.MaxValue}], got $l")
          l.toInt
        case (Kind.Long, Literal(i: Int, IntegerType)) => i.toLong
        case (Kind.Long, Literal(l: Long, LongType)) => l
        // numeric-TYPED literals only ('NaN' is a string), and finite
        case (Kind.Num, Literal(n, _: NumericType)) if n != null =>
          val d = n match {
            case x: Decimal => x.toDouble
            case x: java.lang.Number => x.doubleValue
          }
          if (!d.isFinite) refuse(s"${p.name} must be finite, got $d")
          d
        case _ => refuse(s"${p.name} must be ${p.kind.noun}, got $e")
      }
      val whole = v match {
        case i: Int => Some(i.toLong)
        case l: Long => Some(l)
        case _ => None
      }
      for (m <- p.min; n <- whole if n < m) refuse(s"${p.name} must be >= $m, got $n")
      v
    }

    def build(children: Seq[Expression]): LogicalPlan = {
      if (children.size < required || children.size > params.size)
        throw new IllegalArgumentException(s"usage: $usage")
      val values = params.zipWithIndex.flatMap { case (p, i) =>
        children.lift(i).orElse(p.default).map(e => p.name -> parse(p, e))
      }.toMap
      body(new Args(name, params.map(p => p.name -> p.kind).toMap, values))
    }
  }

  /** A scalar function over column expressions: the arity is fixed by
    * `params`, the argument names are documentation. */
  final class Scalar(val name: String, val owner: String, val params: Seq[String],
                     body: Seq[Expression] => Expression) extends SqlFunction {
    def signature: String = params.mkString(", ")
    def build(children: Seq[Expression]): Expression = {
      val n = params.size
      if (children.size != n) throw new IllegalArgumentException(
        s"$name expects ($signature): exactly $n argument${if (n == 1) "" else "s"}, " +
          s"got ${children.size}")
      body(children)
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator tier: the top-k-per-group plan node (ladder (c) —
    // logical node + strategy + physical heaps; see graft.plans) …
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    // … and the optimizer rule that gives the SQL/window idiom
    // (`filter(row_number() over (...) <= k)`) the same bounded-heap
    // plan automatically (VERDICT r4 item 2)
    ext.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
    SqlFunctions.all.foreach {
      case f: Tvf =>
        ext.injectTableFunction((new FunctionIdentifier(f.name), f.info, f.build _))
      case f: Scalar =>
        ext.injectFunction((new FunctionIdentifier(f.name), f.info, f.build _))
    }
  }
}
