package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in one JVM on `local[cores]`.
  *
  * `run.py` generates the inputs and calls this main; it writes one JSON
  * result file (timed samples per operation, set-up time, peak RSS,
  * operations attempted/failed, per-layer figures when traced) that
  * `run.py` turns into the benchmark's metrics.
  *
  * Usage: perfbench.Main --workload <name> --data <dir> --work <dir>
  *   --seconds <s> --trace <0|1> --cores <n> --out <file> [--queries a,b,...]
  *   [--batch-docs <n>] [--base-docs <n>]
  */
object Main {

  /** What a workload hands back to `run.py`. */
  final class Result {
    val ops = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    var attempted = 0
    val errors = mutable.ArrayBuffer[String]()
    val detail = mutable.LinkedHashMap[String, Any]()
    val outputs = mutable.LinkedHashMap[String, String]()
    var layer: Map[String, Double] = Map.empty

    def sample(op: String, ms: Double): Unit =
      ops.getOrElseUpdate(op, mutable.ArrayBuffer()) += ms
    def fail(msg: String): Unit = errors += msg
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val trace = new Trace(opt("trace") == "1")
    val cores = opt("cores").toInt
    val spark = graft.SparkEntry.configure(SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${opt("work")}/spark-local")
        .config("spark.sql.warehouse.dir", s"${opt("work")}/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val res = new Result
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    res.detail("setup.session_s") = (Trace.nowMs() - jvmStart) / 1000.0
    // each workload returns the epoch ms at which its measured region began
    val measuredFrom = opt("workload") match {
      case "replicate" => Replicate.run(spark, opt, trace, res)
      case "queries_relational" | "queries_pipeline" => Queries.run(spark, opt, trace, res)
      case "dupgraph_ingest" => Ingest.run(spark, opt, trace, res)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    val out = mutable.LinkedHashMap[String, Any](
      "setup_s" -> (measuredFrom - jvmStart) / 1000.0,
      "peak_rss_mb" -> peakRssMb(),
      "attempted" -> res.attempted,
      "errors" -> res.errors,
      "ops" -> res.ops,
      "outputs" -> res.outputs,
      "layer" -> res.layer,
      "detail" -> res.detail)
    if (trace.enabled) out("spans") = trace.spansJson
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new java.io.File(opt("out")), out)
    spark.stop()
  }

  /** High-water resident set size of this JVM, from /proc. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
