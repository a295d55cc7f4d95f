package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.KinesisShapedSource
import graft.streaming.Replicator

/** Open-loop replication through `Replicator.run` over
  * `KinesisShapedSource.fromParquetDir`.
  *
  * `run.py` stages envelope parquet files and a schedule (`manifest.tsv`:
  * file, phase, due offset in ms; evenly spaced). Set-up starts the
  * streaming query (ProcessingTime(0): a batch starts as soon as the last
  * one ends and new files exist) and replicates the `warm` files one batch
  * at a time. Then one generator thread moves each `low`/`high` file into
  * the source directory at its due time and never waits for the system. A file's lag runs from its
  * due time to the commit of the micro-batch that read it (the offset
  * commit that follows the forward, checkpoint-table and metrics writes),
  * read back from the streaming checkpoint after the run.
  *
  * How late the generator ran is reported; `run.py` declares the whole
  * run invalid when that exceeds the bound in `workloads.json`.
  *
  * Checks, after the run: the forward target holds exactly the gated-in
  * input and nothing gated out; each active stream's checkpoint equals
  * its latest parseable commitTimestamp by sequence; the gated-out and
  * malformed counts match the generator's.
  */
object Replicate {

  def run(spark: SparkSession, opt: Map[String, String], trace: Trace,
      res: Main.Result): Double = {
    val data = opt("data")
    val work = opt("work")
    val staged = Paths.get(s"$work/rep_staged")
    val src = Paths.get(s"$work/rep_source")
    Seq(staged, src).foreach(Files.createDirectories(_))
    val manifest = Files.readAllLines(Paths.get(s"$data/manifest.tsv")).asScala.toSeq
      .map(_.split('\t')).map(a => (a(0), a(1), a(2).toDouble))
    manifest.foreach { case (f, _, _) =>
      Files.copy(Paths.get(s"$data/staged/$f"), staged.resolve(f))
    }
    val expect = Files.readAllLines(Paths.get(s"$data/expect.tsv")).asScala
      .map(_.split('\t')).map(a => a(0) -> a(1)).toMap
    val target = s"$work/rep_target"
    val ckptTable = s"$work/rep_ckpt_table"
    val metricsDir = s"$work/rep_metrics"
    val streamCkpt = s"$work/rep_stream_ckpt"
    def move(f: String): Unit =
      Files.move(staged.resolve(f), src.resolve(f), StandardCopyOption.ATOMIC_MOVE)

    // before the start: the stream's batches run on a clone of the session,
    // which copies the SQL listeners registered at that point
    trace.install(spark)
    val s0 = Trace.nowMs()
    val q = Replicator.run(spark, KinesisShapedSource.fromParquetDir(spark, src.toString),
      s"$data/config", "us-east-1", target, ckptTable, metricsDir, streamCkpt,
      Trigger.ProcessingTime(0L))
    manifest.filter(_._2 == "warm").foreach { case (f, _, _) =>
      move(f)
      q.processAllAvailable()
    }
    res.detail("setup.stream_s") = (Trace.nowMs() - s0) / 1000.0
    val timed = manifest.filter(_._2 != "warm")
    val t0 = Trace.nowMs() + 100
    val moved = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
    val gen = new Thread(() => timed.foreach { case (f, _, due) =>
      var wait = t0 + due - Trace.nowMs()
      while (wait > 0) { Thread.sleep(math.max(1L, wait.toLong)); wait = t0 + due - Trace.nowMs() }
      move(f)
      moved.put(f, Trace.nowMs())
    }, "perfbench-generator")
    gen.start()
    gen.join()
    trace.span("drain")(q.processAllAvailable())
    q.stop()

    // lag per file: due time -> commit of the batch that read it
    val batchOf = sourceLog(s"$streamCkpt/sources/0")
    def commitMs(b: Long): Double =
      Files.getLastModifiedTime(Paths.get(s"$streamCkpt/commits/$b"))
        .to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0
    var lateMax = 0.0
    timed.foreach { case (f, phase, due) =>
      res.attempted += 1
      lateMax = math.max(lateMax, moved.get(f) - (t0 + due))
      batchOf.get(f) match {
        case None => res.fail(s"$f was never read by a batch")
        case Some(b) => res.sample(s"$phase/$f", commitMs(b) - (t0 + due))
      }
    }
    res.detail("generator.late_ms_max") = lateMax
    res.detail("batches") = batchOf.values.toSet.size

    check(spark, src.toString, target, ckptTable, expect, res)
    if (trace.enabled) traced(trace, res, batchOf,
      moved.asScala.map { case (f, t) => f -> t.doubleValue }.toMap, target,
      ckptTable, metricsDir)
    t0
  }

  /** file name -> batch id, from the file source's log in the checkpoint. */
  private def sourceLog(dir: String): Map[String, Long] = {
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith(".")) // checksum sidecars
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => m.group(1).split('/').last -> m.group(2).toLong).toMap
  }

  private def check(spark: SparkSession, src: String, target: String, ckptTable: String,
      expect: Map[String, String], res: Main.Result): Unit = {
    val active = expect("active").split(',').toSeq
    val input = spark.read.schema(KinesisShapedSource.schema).parquet(src)
    val cols = Seq("streamName", "partitionKey", "sequenceNumber", "data",
      "approximateArrivalTimestamp").map(col)
    // multiset equality by row count plus two order-independent hash sums
    def digest(df: org.apache.spark.sql.DataFrame) = df.agg(count(lit(1)),
      sum(pmod(xxhash64(cols: _*), lit(1000000007L))), sum(pmod(hash(cols: _*), lit(1000000009L))))
      .head().toSeq
    val fwd = spark.read.parquet(target)
    val want = digest(input.filter(col("streamName").isin(active: _*)))
    val got = digest(fwd)
    if (want != got)
      res.fail(s"forward target differs from the gated-in input: (rows, hashes) $got, want $want")
    val gatedOut = input.count() - got.head.asInstanceOf[Long]
    val malformed = fwd.filter(col("cdc_key").isNull || col("commitTimestamp").isNull).count()
    res.detail("replicator.gated_out") = gatedOut
    res.detail("replicator.malformed") = malformed
    if (gatedOut != expect("gated_out").toLong)
      res.fail(s"gated out $gatedOut records, generator gated out ${expect("gated_out")}")
    if (malformed != expect("malformed").toLong)
      res.fail(s"$malformed malformed records forwarded, generator wrote ${expect("malformed")}")
    // latest parseable commitTimestamp by (length, lexical) sequence order
    val parsed = input.filter(col("streamName").isin(active: _*))
      .withColumn("ts", from_json(col("data").cast("string"), Replicator.payloadSchema)
        .getField("commitTimestamp"))
      .filter(col("ts").isNotNull)
      .groupBy("streamName")
      .agg(max_by(col("ts"), struct(length(col("sequenceNumber")), col("sequenceNumber"))).as("want"))
    val ckpt = spark.read.parquet(ckptTable)
      .select(col("streamName"), col("lastReplicatedCommitTimestamp").as("got"))
    parsed.join(ckpt, Seq("streamName"), "left").collect().foreach { r =>
      val (s, w, g) = (r.getString(0), r.getString(1), Option(r.getString(2)))
      if (!g.contains(w)) res.fail(s"checkpoint of $s is ${g.getOrElse("null")}, want $w")
    }
  }

  /** Per-layer figures of the measured batches, from the listeners. */
  private def traced(trace: Trace, res: Main.Result,
      batchOf: Map[String, Long], moved: Map[String, Double], target: String,
      ckptTable: String, metricsDir: String): Unit = {
    val timedFiles = moved.keySet
    val measured = batchOf.collect { case (f, b) if timedFiles(f) => b }.toSet
    val prog = trace.progress.asScala.toSeq.filter(p => measured(p.batchId))
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val windows = prog.map { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      (s, s + dur(p, "triggerExecution"))
    }
    res.layer = trace.layerPerOp(windows)
    val records = prog.map(_.numInputRows).sum.toDouble
    def inBatches(t: Double) = windows.exists { case (s, e) => t >= s && t <= e }
    def writeMs(dir: String) = Main.median(trace.execs.asScala.toSeq
      .filter(x => x.outputPath.exists(_.endsWith(dir.split('/').last)) && inBatches(x.end))
      .map(_.durMs))
    val forwardStages = trace.stages.asScala.toSeq
      .filter(s => inBatches(s.submitted) && s.recordsWritten > 10)
    // files already moved in when a batch starts but read by it or a later one
    val backlog = prog.map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      batchOf.count { case (f, b) => timedFiles(f) && b >= p.batchId && moved.get(f).exists(_ <= start) }
    }
    val targetFiles = Files.walk(Paths.get(target)).iterator().asScala
      .count(p => p.toString.endsWith(".parquet"))
    res.detail ++= Seq(
      "sources.backlog_files_max" -> (if (backlog.isEmpty) 0 else backlog.max),
      "sources.offset_ms_p50" -> Main.median(prog.map(p => dur(p, "latestOffset") + dur(p, "getBatch"))),
      "streaming.wal_ms_p50" -> Main.median(prog.map(p => dur(p, "walCommit"))),
      "replicator.add_batch_ms_p50" -> Main.median(prog.map(p => dur(p, "addBatch"))),
      "replicator.jobs_per_batch" -> res.layer("spark.jobs_per_op"),
      "replicator.forward_ms_p50" -> writeMs(target),
      "replicator.checkpoint_ms_p50" -> writeMs(ckptTable),
      "replicator.metrics_ms_p50" -> writeMs(metricsDir),
      "replicator.cpu_ms_per_krec" ->
        (if (records == 0) 0.0 else res.layer("spark.task_cpu_ms_per_op") * prog.size / records * 1000),
      "replicator.max_task_share" -> Main.median(forwardStages.map(s => s.maxTaskRecords / s.recordsWritten)),
      "replicator.target_files_per_batch" -> targetFiles.toDouble / math.max(1, batchOf.values.toSet.size),
      "replicator.batches_measured" -> prog.size,
      "replicator.batch_ms" -> prog.map(p => dur(p, "triggerExecution")),
      "replicator.batch_records" -> prog.map(_.numInputRows))
  }
}
