package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark JVM. `run.py` builds it and starts it as
  *
  *   Main --workload <query_sweep|elt_land> --seed <n>
  *        --seconds <s> --trace <0|1> --home <perfbench dir> --work <dir>
  *        [--smoke] [--plant-wrong <query>]
  *
  * It prints a summary (every metric with its unit, failed ops by op and
  * cause) and, as the last line of stdout, one JSON object:
  * `{"correct", "attempted", "failed", "metrics"}` — the end-to-end
  * metrics untraced, the per-layer metrics traced. */
object Main {
  val Workloads = Seq("query_sweep", "elt_land")

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def flag(f: String) = args.contains(s"--$f")
    val workload = a.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val home = Paths.get(a("home"))
    val work = Paths.get(a("work"))
    val cores = java.lang.Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // the session conf of graft's driver contract (graft.Bench)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val ctx = new Ctx(spark, work, home, new Tracer(spark.sparkContext, trace), seed, seconds,
      flag("smoke"), a.get("plant-wrong"))
    val outcome = workload match {
      case "query_sweep" => QuerySweep.run(ctx)
      case "elt_land" => EltLand.run(ctx)
    }
    ctx.phase("timed phase and checks done")
    val metrics = if (trace) perLayer(ctx, outcome) else endToEnd(ctx, outcome)
    val out = home.resolve("out"); Files.createDirectories(out)
    Files.writeString(out.resolve(s"ops-$workload-$seed-${if (trace) 1 else 0}.tsv"),
      ctx.ops.map(o => s"${o.id}\t${o.layer}\t${o.kind}\t${o.ms}\t${o.rows}\t${o.error.getOrElse("ok")}")
        .mkString("id\tlayer\tkind\tms\trows\tstatus\n", "\n", "\n"))
    if (trace) Files.writeString(out.resolve(s"spans-$workload-$seed.jsonl"), ctx.tracer.json)
    spark.stop()
    ctx.phase("session stopped")

    val failed = ctx.ops.filterNot(_.ok)
    val attempted = ctx.ops.size
    println(s"== $workload seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} cores=$cores; " +
      outcome.notes.mkString("; "))
    metrics.foreach { case (k, (v, u)) => println(f"  $k%-34s $v%16.4f $u") }
    if (!trace) println(s"  op_p50_ms and op_p90_ms over ${attempted - failed.size} passed ops")
    println(f"  error_rate ${if (attempted == 0) 0.0 else failed.size.toDouble / attempted}%.4f " +
      s"(${failed.size} of $attempted ops failed)")
    failed.groupBy(o => (o.kind, o.error.get)).toSeq.sortBy(_._1).foreach { case ((k, e), os) =>
      println(s"  FAILED ${os.size}x $k: $e")
    }
    ctx.checkErrors.foreach(e => println(s"  CHECK FAILED: $e"))
    println("  slowest ops: " + ctx.ops.sortBy(-_.ms).take(6)
      .map(o => f"${o.kind} ${o.ms}%.0f ms").mkString(", "))
    val correct = failed.isEmpty && ctx.checkErrors.isEmpty && attempted > 0
    val m = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": ${failed.size}, """ +
      s""""metrics": {${m.mkString(", ")}}}""")
    System.out.flush()
    sys.exit(0)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def runS(ctx: Ctx) = (ctx.timedEndNs - ctx.timedStartNs) / 1e9

  def endToEnd(ctx: Ctx, o: Outcome): Seq[(String, (Double, String))] = {
    val ok = ctx.ops.filter(_.ok)
    val lat = ok.map(_.ms).toSeq
    val run = runS(ctx)
    Seq(
      "setup_s" -> (ctx.setupS, "s"),
      "run_s" -> (run, "s"),
      "ops_per_s" -> (ok.size / run, "1/s"),
      "op_p50_ms" -> (Stats.hdQuantile(lat, 0.5), "ms"),
      "op_p90_ms" -> (Stats.hdQuantile(lat, 0.9), "ms"),
      "rows_per_s" -> (ok.map(_.rows).sum / run, "rows/s"),
      "cpu_s" -> ((ctx.rt1 - ctx.rt0).cpuNs / 1e9, "s"),
      "mem_in_use_mb" -> (JvmStats.memInUseMb(), "MB"),
      "stored_bytes_per_live_byte" -> (o.storedPerLive, "ratio"))
  }

  def perLayer(ctx: Ctx, o: Outcome): Seq[(String, (Double, String))] = {
    val t = ctx.tracer
    val rt = ctx.rt1 - ctx.rt0
    def failed(layer: String) = ctx.ops.count(op => op.layer == layer && !op.ok).toDouble
    def spark(layer: String, names: Seq[String]) = {
      val s = t.layer(layer)
      val all = Map("jobs" -> (s.jobs.toDouble, "count"), "stages" -> (s.stages.toDouble, "count"),
        "tasks" -> (s.tasks.toDouble, "count"), "task_cpu_ms" -> (s.taskCpuMs, "ms"),
        "task_run_ms" -> (s.taskRunMs, "ms"), "sched_delay_ms" -> (s.schedDelayMs, "ms"),
        "shuffle_bytes" -> (s.shuffleBytes.toDouble, "bytes"),
        "spill_bytes" -> (s.spillBytes.toDouble, "bytes"))
      names.map(n => s"$layer.$n" -> all(n))
    }
    def extra(k: String, unit: String) = k -> o.perLayer.getOrElse(k, (0.0, unit))
    val landKinds = Seq("weather", "zips", "games", "stats", "stats_reland")
    Seq(
      "ops.build_ms" -> (t.sumMs("ops", "build"), "ms"),
      "ops.exec_ms" -> (t.sumMs("ops", "exec"), "ms"),
      "ops.plan_ms" -> (t.sumMs("ops", "plan"), "ms")) ++
    spark("ops", Seq("jobs", "stages", "tasks", "task_cpu_ms", "task_run_ms", "sched_delay_ms",
      "shuffle_bytes", "spill_bytes")) ++ Seq(
      "ops.failed" -> (failed("ops"), "count"),
      // sources are called in set-up only (fixture scans, input derivation)
      "sources.load_ms" -> (t.sumMs("sources", "load", all = true), "ms"),
      "sources.calls" -> (t.count("sources", "load", all = true).toDouble, "count"),
      "ingest.build_ms" -> (t.sumMs("ingest", "parse"), "ms"),
      extra("ingest.rows_out", "rows"),
      extra("ingest.bad_rows", "rows"),
      "pipeline.land_ms" -> (landKinds.map(k => t.sumMs("pipeline", s"op:$k")).sum, "ms"),
      "pipeline.upsert_ms" -> (t.sumMs("pipeline", "upsert"), "ms"),
      "pipeline.compact_ms" -> (t.sumMs("pipeline", "compact"), "ms"),
      "pipeline.read_ms" -> (t.sumMs("pipeline", "read"), "ms"),
      "pipeline.cdc_ms" -> (t.sumMs("pipeline", "cdc"), "ms"),
      "pipeline.check_ms" -> (t.sumMs("pipeline", "check"), "ms")) ++
    spark("pipeline", Seq("jobs", "tasks", "task_cpu_ms")) ++ Seq(
      extra("pipeline.bytes_written", "bytes"),
      extra("pipeline.log_bytes", "bytes"),
      extra("pipeline.files", "count"),
      extra("pipeline.prune_ratio", "ratio"),
      extra("pipeline.rewrite_ratio", "ratio"),
      "pipeline.failed" -> (failed("pipeline"), "count"),
      "streaming.text_gate_ms" -> (t.sumMs("streaming", "text_gate"), "ms"),
      "streaming.drain_ms" -> (t.sumMs("streaming", "drain"), "ms")) ++
    spark("streaming", Seq("jobs", "tasks", "task_cpu_ms", "shuffle_bytes")) ++ Seq(
      extra("streaming.accept_ratio", "ratio"),
      extra("streaming.opens_per_bucket", "count"),
      extra("streaming.compactions", "count"),
      "streaming.failed" -> (failed("streaming"), "count"),
      "runtime.gc_ms" -> (rt.gcMs.toDouble, "ms"),
      "runtime.jit_ms" -> (rt.jitMs.toDouble, "ms"),
      "runtime.codegen_classes" -> (rt.codegenCount.toDouble, "count"),
      "runtime.codegen_ms" -> (rt.codegenCount * rt.codegenMeanMs, "ms"),
      "runtime.driver_cpu_ms" -> (rt.cpuNs / 1e6 - t.allTaskCpuMs, "ms"),
      "runtime.task_retries" -> (t.failedTasks.toDouble, "count"),
      "trace.run_s" -> (runS(ctx), "s"),
      "trace.callback_ms" -> (t.callbackMs, "ms"))
  }
}
