package perfbench

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import graft.generate.SyntheticOrderSource
import graft.pipeline.OrderPipeline
import graft.streaming.OrderStream

/** The reference's traffic shape: 100-order raw files, staged untimed,
  * drained by `OrderStream.runAvailableNow` with one file per
  * micro-batch. Part of the traced `orders_etl` run. */
object OrdersMicroBatch {
  val OrdersPerFile = 100
  /** Files in the measured drain and in the warm-up drain before it. */
  val DrainFiles = 15
  val WarmFiles = 3

  /** Write `files` raw files of [[OrdersPerFile]] seeded orders each,
    * from the same generator as the batch pipeline, into `dir`. File i
    * gets modification time base + i seconds, so the file source takes
    * them in order. */
  def stage(r: Run, dir: String, files: Int, seed: Int): Unit = {
    val tmp = s"$dir.parts"
    SyntheticOrderSource.corrupt(
      SyntheticOrderSource.orders(r.spark, files.toLong * OrdersPerFile, seed), seed)
      .drop("gid").coalesce(1)
      .write.option("maxRecordsPerFile", OrdersPerFile.toLong).json(tmp)
    val parts = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    Files.createDirectories(Paths.get(dir))
    parts.zipWithIndex.foreach { case (f, i) =>
      val to = Paths.get(dir, f"orders-$i%05d.jsonl")
      Files.move(f.toPath, to)
      Files.setLastModifiedTime(to, FileTime.fromMillis(1700000000000L + i * 1000L))
    }
    scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
  }

  /** Drain `raw` into a fresh output and checkpoint; returns the run ids
    * of the streaming queries it started. */
  def drain(r: Run, raw: String, out: String): Set[String] = {
    val before = r.progress.startedRuns
    r.tracer.span("streaming.run_available_now") {
      OrderStream.runAvailableNow(r.spark, raw, s"$out/data", s"$out/checkpoint",
        maxFilesPerTrigger = 1)
    }
    r.progress.awaitAllTerminated()
    r.progress.startedRuns -- before
  }

  /** The traced run's streaming phase: staging, a warm-up drain, then
    * one measured drain of the staged files, then its correctness checks. */
  def run(r: Run): Unit = {
    val root = r.dir("mb")
    val raw = s"$root/raw"
    val warmRaw = s"$root/warm-raw"
    stage(r, raw, DrainFiles, r.seed)
    stage(r, warmRaw, WarmFiles, r.seed + 1)
    val inputs = new java.io.File(raw).listFiles().filter(_.getName.endsWith(".jsonl"))
    val files = inputs.length
    val lines = inputs.map(f => Files.readAllLines(f.toPath).size.toLong).sum
    r.tracer.span("setup.warmup") { drain(r, warmRaw, s"$root/warm") }
    val out = s"$root/drain"
    val t0 = r.nowMs
    val runs = r.tracer.span("stream.drain") { drain(r, raw, out) }
    val bs = runs.toSeq.flatMap(r.progress.batches).filter(_.inputRows > 0)
    r.extra("drain") = Map("wall_ms" -> (r.nowMs - t0), "batches" -> bs.size,
      "rows" -> bs.map(_.inputRows).sum)

    // Correctness, untimed: one batch per file, every staged row read, and
    // the stream's output equals the batch pipeline over the same files.
    r.check("stream.staged", files == DrainFiles && lines == files.toLong * OrdersPerFile,
      s"$files files, $lines lines staged")
    r.check("stream.batches_eq_files", bs.size == files, s"${bs.size} batches for $files files")
    val rows = bs.map(_.inputRows).sum
    r.check("stream.input_rows", rows == lines, s"$rows rows for $lines staged lines")
    val observed = bs.map(_.observed.getOrElse("total_orders", 0L)).sum
    r.check("stream.observed_total", observed == rows, s"observed $observed of $rows")
    val spark = r.spark
    val batchOut = s"$root/batch-ref"
    OrderPipeline.processOrders(
      OrderPipeline.dropCorrupt(OrderPipeline.readRawJsonl(spark, raw)),
      "perfbench_stream_ref").write.mode("overwrite").json(batchOut)
    val streamDigest = Digest(spark.read.json(s"$out/data"), Set("processed_at"))
    val batchDigest = Digest(spark.read.json(batchOut), Set("processed_at"))
    r.check("stream.equals_batch", streamDigest == batchDigest,
      s"stream $streamDigest, batch $batchDigest")
    r.extra("stream_valid_orders") = bs.map(_.observed.getOrElse("valid_orders", 0L)).sum
    r.extra("stream_files_out") = OrdersEtl.dirFiles(s"$out/data")
  }
}
