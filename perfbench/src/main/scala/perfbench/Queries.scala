package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The two query-mix workloads: a fixed list of `SparkEntry` queries.
  *
  * Set-up runs every query once, untimed, writing its result to parquet
  * for the DuckDB oracle check `run.py` makes afterwards (this pass also
  * warms the JIT and the codegen cache). The measured region then runs
  * `passes(seconds)` whole passes over the list through the noop sink; the
  * count depends on `--seconds` only, never on the clock, so both sides of
  * a comparison take the same number of samples and the same tail
  * percentile. Each query's samples are its wall times. Traced, each
  * query is split into construction (the call that returns the
  * DataFrame, eager jobs included), planning (`queryExecution.executedPlan`)
  * and execution (the noop write).
  */
object Queries {

  /** Nominal seconds of one pass: `--seconds` 20 gives two passes. */
  val PassSeconds = 10.0

  def passes(seconds: Double): Int = math.max(1, math.round(seconds / PassSeconds).toInt)

  def run(spark: SparkSession, opt: Map[String, String], trace: Trace,
      res: Main.Result): Double = {
    val dir = opt("data")
    val names = opt("queries").split(',').toSeq
    val fns = names.map(n => n -> graft.SparkEntry.queries(n))
    val outDir = s"${opt("work")}/out"
    val ok = mutable.LinkedHashSet[String]()
    val coldMs = mutable.LinkedHashMap[String, Double]()
    fns.foreach { case (n, fn) =>
      val c0 = Trace.nowMs()
      try {
        fn(spark, dir).write.mode("overwrite").parquet(s"$outDir/$n")
        coldMs(n) = Trace.nowMs() - c0
        graft.SparkEntry.oracleSql.get(n).foreach(sql => res.outputs(n) = sql)
        ok += n
      } catch { case e: Throwable => res.fail(s"$n: check pass: $e") }
      spark.sharedState.cacheManager.clearCache()
    }
    trace.install(spark)
    val start = Trace.nowMs()
    val passes = Queries.passes(opt("seconds").toDouble)
    val phases = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val windows = mutable.ArrayBuffer[(Double, Double)]()
    val construct = mutable.ArrayBuffer[(Double, Double)]()
    val exec = mutable.ArrayBuffer[(Double, Double)]()
    (1 to passes).foreach { _ =>
      fns.filter { case (n, _) => ok(n) }.foreach { case (n, fn) =>
        res.attempted += 1
        val t0 = Trace.nowMs()
        try {
          trace.span(n) {
            if (!trace.enabled) noop(fn(spark, dir))
            else {
              val c0 = Trace.nowMs()
              val df = trace.span("construct")(fn(spark, dir))
              val c1 = Trace.nowMs()
              trace.span("plan")(df.queryExecution.executedPlan)
              val c2 = Trace.nowMs()
              trace.span("exec")(noop(df))
              val c3 = Trace.nowMs()
              phases.getOrElseUpdate(s"$n/construct", mutable.ArrayBuffer()) += c1 - c0
              phases.getOrElseUpdate(s"$n/plan", mutable.ArrayBuffer()) += c2 - c1
              phases.getOrElseUpdate(s"$n/exec", mutable.ArrayBuffer()) += c3 - c2
              construct += ((c0, c1)); exec += ((c2, c3))
            }
          }
          val t1 = Trace.nowMs()
          res.sample(n, t1 - t0)
          windows += ((t0, t1))
        } catch { case e: Throwable => res.fail(s"$n: timed pass: $e") }
        spark.sharedState.cacheManager.clearCache()
      }
    }
    res.detail("check_pass_ms") = coldMs
    res.detail("passes") = passes
    if (trace.enabled) {
      res.layer = trace.layerPerOp(windows.toSeq)
      def sumMedians(phase: String) =
        ok.toSeq.map(n => Main.median(phases.getOrElse(s"$n/$phase", Nil).toSeq)).sum
      val cons = trace.layerPerOp(construct.toSeq)
      val ex = trace.layerPerOp(exec.toSeq)
      val all = res.layer
      val n = windows.size.toDouble
      res.detail ++= Seq(
        "query.construct_ms" -> sumMedians("construct"),
        "query.plan_ms" -> sumMedians("plan"),
        "query.exec_ms" -> sumMedians("exec"),
        "query.construct_jobs" -> cons("spark.jobs_per_op") * construct.size / passes,
        "query.exec_jobs" -> ex("spark.jobs_per_op") * exec.size / passes,
        "query.tasks_per_stage" -> all("spark.tasks_per_stage"),
        "query.task_cpu_ms" -> all("spark.task_cpu_ms_per_op") * n / passes,
        "query.shuffle_write_mb" -> all("spark.shuffle_write_mb_per_op") * n / passes,
        "query.spill_mb" -> all("spark.spill_mb_per_op") * n / passes,
        "query.gc_ms" -> all("spark.gc_ms_per_op") * n / passes,
        "query.per_query" -> ok.toSeq.map(q => q -> Map(
          "construct_ms" -> Main.median(phases.getOrElse(s"$q/construct", Nil).toSeq),
          "plan_ms" -> Main.median(phases.getOrElse(s"$q/plan", Nil).toSeq),
          "exec_ms" -> Main.median(phases.getOrElse(s"$q/exec", Nil).toSeq))).toMap)
    }
    start
  }

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()
}
