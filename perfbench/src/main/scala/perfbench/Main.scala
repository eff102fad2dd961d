package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.util.QueryExecutionListener

/** One measured operation: an ETL run, a micro-batch or a query
  * execution. A failed operation keeps its record but no timing. */
final case class Op(kind: String, name: String, group: String, ok: Boolean,
                    ms: Double, units: Long, parts: Map[String, Double],
                    error: String)

final case class Check(name: String, ok: Boolean, detail: String)

/** Collects the `observe()` counters of every successful action through
  * the public QueryExecutionListener API. */
final class ObservedCapture extends QueryExecutionListener {
  private val got = new ConcurrentHashMap[String, Map[String, Any]]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.observedMetrics.foreach { case (name, row) =>
      got.put(name, row.getValuesMap[Any](row.schema.fieldNames.toIndexedSeq))
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Listener events arrive asynchronously; wait for the named counters. */
  def await(name: String, timeoutMs: Long = 30000): Map[String, Any] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!got.containsKey(name) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    Option(got.get(name)).getOrElse(
      throw new IllegalStateException(s"observed metrics '$name' never arrived"))
  }
}

/** State of one benchmark run: the session, the tracer and what was
  * measured. Everything is kept in memory and written once at the end. */
final class Run(val workload: String, val seed: Int, val seconds: Int,
                val trace: Boolean, val work: Path,
                val opts: Map[String, String]) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val tracer = new Tracer(trace)
  val progress = new ProgressRecorder
  val observedCapture = new ObservedCapture
  val ops = mutable.ArrayBuffer[Op]()
  val checks = mutable.ArrayBuffer[Check]()
  val setupS = mutable.ArrayBuffer[Double]()
  /** Peak heap in use during each measured operation, in MB. */
  val heapPeaksMb = mutable.ArrayBuffer[Double]()
  /** Workload-specific raw values, passed through to the report. */
  val extra = mutable.LinkedHashMap[String, Any]()
  private var recorders = List.empty[JobRecorder]
  private var current: Option[SparkSession] = None

  def spark: SparkSession = current.get
  def nowMs: Double = tracer.nowMs
  def dir(name: String): String = work.resolve(name).toString

  /** The engine's standard local session (the Verify/Bench settings),
    * with Spark's scratch space and warehouse inside the run's work dir. */
  def startSession(n: Int = cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .config("spark.hadoop.hadoop.tmp.dir", dir("hadoop-tmp"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.streams.addListener(progress)
    s.listenerManager.register(observedCapture)
    if (trace) {
      val r = new JobRecorder
      s.sparkContext.addSparkListener(r)
      recorders ::= r
    }
    tracer.attach(s.sparkContext)
    current = Some(s)
    s
  }

  def stopSession(): Unit = current.foreach { s =>
    recorders.headOption.foreach(_.barrier(s))
    tracer.detach()
    s.stop()
    current = None
  }

  def jobs: Seq[JobRec] = recorders.flatMap(_.jobs)
  def stages: Seq[StageRec] = recorders.flatMap(_.stages)
  def listenerMs: Double = recorders.map(_.listenerMs).sum

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toList
    .filter(_.getType == MemoryType.HEAP)

  /** Runs one measured operation and, if it returns, records the heap it
    * needed: the sum of the heap pools' peak usage, reset when the
    * operation starts. */
  def measuringHeap[T](body: => T): T = {
    heapPools.foreach(_.resetPeakUsage())
    val result = body
    heapPeaksMb += heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    result
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    if (!ok) System.err.println(s"[perfbench] check $name FAILED: $detail")
    checks += Check(name, ok, if (ok) "" else detail)
  }
}

object Digest {
  /** Order-insensitive digest of a DataFrame: row count plus the sum of
    * a 64-bit hash of each row's JSON form (columns sorted by name,
    * `exclude` left out). Sums commute, so any row order, partitioning
    * or file layout of the same multiset of rows gives the same digest. */
  def apply(df: DataFrame, exclude: Set[String] = Set.empty): String = {
    val cols = df.columns.filterNot(exclude).sorted.toIndexedSeq.map(col)
    val h = xxhash64(to_json(struct(cols: _*))).cast(DecimalType(38, 0))
    val r = df.agg(count(lit(1)), sum(h)).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }
}

object Main {
  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val run = new Run(a("workload"), a("seed").toInt, a("seconds").toInt,
      a.getOrElse("trace", "0") == "1", work, a)
    val t0 = System.nanoTime()
    var fatal: Option[String] = None
    try run.workload match {
      case "orders_etl" => OrdersEtl.run(run)
      case "registry_mix" => RegistryMix.run(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        fatal = Some(String.valueOf(e))
    } finally run.stopSession()
    val out = Map(
      "workload" -> run.workload, "seed" -> run.seed, "seconds" -> run.seconds,
      "trace" -> run.trace, "cores" -> run.cores,
      "hardware" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
        "spark" -> org.apache.spark.SPARK_VERSION,
        "jdk" -> System.getProperty("java.version")),
      "fatal" -> fatal,
      "total_s" -> (System.nanoTime() - t0) / 1e9,
      "heap_peak_mb" -> run.heapPeaksMb.toList,
      "setup_s" -> run.setupS.toList,
      "ops" -> run.ops.toList,
      "checks" -> run.checks.toList,
      "extra" -> run.extra.toMap,
      "spans" -> run.tracer.spans,
      "jobs" -> run.jobs,
      "stages" -> run.stages,
      "listener_ms" -> run.listenerMs,
      "progress" -> run.progress.all)
    Files.writeString(Paths.get(a("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out))
    sys.exit(if (fatal.isEmpty) 0 else 3)
  }
}
