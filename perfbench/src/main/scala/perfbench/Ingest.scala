package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.api.{DupGraph, GenDir}

/** Sequential dup-graph ingest: the loop `StreamOps.dupGraphIngestStream`
  * runs, driven batch by batch.
  *
  * Set-up builds the artifact with `DupGraph.write(storeDocs = true)`
  * over the documents with `doc_id < base-docs`, then ingests one
  * untimed warm-up batch. The measured region ingests further batches of
  * `batch-docs` consecutive doc ids, each `ingestBatch` then
  * `maintain(64)`, `BatchesPerSecond * --seconds` of them (never read off
  * the clock, so every run takes the same number of samples). The check
  * compares the final edge set with a one-shot `DupGraph.write` over the
  * same union corpus (the equivalence contract).
  */
object Ingest {
  val Tau = 0.5
  val MaintainMaxFiles = 64
  /** About one ingest batch (with its maintain) per three seconds. */
  val BatchesPerSecond = 1.0 / 3
  private val Subtables = Seq("edges", "docs", "bands", "idbloom")

  def run(spark: SparkSession, opt: Map[String, String], trace: Trace,
      res: Main.Result): Double = {
    val docs = spark.read.parquet(s"${opt("data")}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    val base = opt("base-docs").toLong
    val size = opt("batch-docs").toLong
    val path = s"${opt("work")}/dupgraph"
    def batch(k: Long) = docs.filter(col("doc_id") >= base + k * size &&
      col("doc_id") < base + (k + 1) * size)
    val b0 = Trace.nowMs()
    DupGraph.write(docs.filter(col("doc_id") < base), "doc_id", "text", path, Tau,
      storeDocs = true)
    res.detail("dupgraph.build_ms") = Trace.nowMs() - b0
    DupGraph.ingestBatch(batch(0), 0, path, "doc_id", "text")
    DupGraph.maintain(spark, path, MaintainMaxFiles)
    trace.install(spark)
    val start = Trace.nowMs()
    val batches = math.max(1, math.round(opt("seconds").toDouble * BatchesPerSecond).toInt)
    val windows = mutable.ArrayBuffer[(Double, Double)]()
    val split = mutable.ArrayBuffer[(Double, Double)]()
    val guards = mutable.ArrayBuffer[(Double, Double)]()
    var k = 1L
    while (k <= batches && base + (k + 1) * size <= nDocs) {
      res.attempted += 1
      val t0 = Trace.nowMs()
      try {
        trace.span(s"batch-$k") {
          trace.span("ingestBatch")(DupGraph.ingestBatch(batch(k), k, path, "doc_id", "text"))
          val t1 = Trace.nowMs()
          trace.span("maintain")(DupGraph.maintain(spark, path, MaintainMaxFiles))
          split += ((t1 - t0, Trace.nowMs() - t1))
        }
        val t1 = Trace.nowMs()
        res.sample(f"batch-$k%03d", t1 - t0)
        windows += ((t0, t1))
      } catch { case e: Throwable => res.fail(s"batch $k: $e") }
      if (trace.enabled) guards += guardProbe(spark, trace, path, k)
      k += 1
    }
    check(spark, docs, base + k * size, path, res)
    res.detail("batches") = windows.size
    if (trace.enabled) {
      res.layer = trace.layerPerOp(windows.toSeq)
      val lat = windows.map { case (s, e) => e - s }.toSeq
      val q = math.max(1, lat.size / 4)
      res.detail ++= Seq(
        "dupgraph.ingest_ms_p50" -> Main.median(split.map(_._1).toSeq),
        "dupgraph.maintain_ms_p50" -> Main.median(split.map(_._2).toSeq),
        "dupgraph.jobs_per_batch" -> res.layer("spark.jobs_per_op"),
        "dupgraph.guard_ms" -> Main.median(guards.map(_._1).toSeq),
        "dupgraph.guard_scan_mb" -> Main.median(guards.map(_._2).toSeq),
        "dupgraph.subtable_files" -> Subtables.map(s => GenDir.currentFiles(spark, s"$path/$s").size).sum,
        "dupgraph.growth_ratio" ->
          Main.median(lat.takeRight(q)) / math.max(1e-9, Main.median(lat.take(q))))
    }
    start
  }

  /** Time the `batch_id` replay guard on every subtable, as the next
    * replay of batch `k` would run it: (total ms, MB the scans read).
    */
  private def guardProbe(spark: SparkSession, trace: Trace, path: String,
      k: Long): (Double, Double) = {
    val t0 = Trace.nowMs()
    trace.span("guard") {
      Subtables.foreach { s =>
        graft.Util.batchAlreadyApplied(spark, GenDir.currentOrFail(spark, s"$path/$s"), k)
      }
    }
    val t1 = Trace.nowMs()
    val read = trace.stages.asScala.filter(s => s.submitted >= t0 && s.submitted <= t1)
      .map(_.inputBytes).sum
    (t1 - t0, read / 1e6)
  }

  /** Incremental edges == one-shot build over the same corpus. */
  private def check(spark: SparkSession, docs: org.apache.spark.sql.DataFrame, upTo: Long,
      path: String, res: Main.Result): Unit = {
    val oneShot = s"$path-oneshot"
    DupGraph.write(docs.filter(col("doc_id") < upTo), "doc_id", "text", oneShot, Tau)
    val got = DupGraph.readEdges(spark, path, Tau)
    val want = DupGraph.readEdges(spark, oneShot, Tau)
    val missing = want.exceptAll(got).count()
    val extra = got.exceptAll(want).count()
    res.detail("dupgraph.edges") = want.count()
    if (missing + extra > 0)
      res.fail(s"incremental edge set differs from the one-shot build: $missing missing, $extra extra")
  }
}
