package lakebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>`.
  *
  * Writes the run's figures as one JSON object to `--out` (and, traced, its
  * spans beside it); `run.py` turns that into the benchmark's result line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val opts = Opts(arg("workload"), arg("seed").toLong, arg("seconds").toDouble, arg("trace") == "1",
      Paths.get(arg("work")).toAbsolutePath, Paths.get(arg("out")).toAbsolutePath)
    val workload = Workloads.all.getOrElse(opts.workload,
      sys.error(s"unknown workload ${opts.workload}; one of ${Workloads.all.keys.mkString(", ")}"))
    Files.createDirectories(opts.work)
    val run = new Run(opts)

    val t = System.nanoTime()
    val spark = Harness.session(Runtime.getRuntime.availableProcessors, opts.work)
    val sessionS = (System.nanoTime() - t) / 1e9
    val engine = if (opts.trace) Some(new EngineListeners) else None
    engine.foreach { l => spark.sparkContext.addSparkListener(l); spark.listenerManager.register(l) }
    val scans = if (opts.trace) Some(new ScanTally) else None

    val out = workload.run(run, spark, scans)

    val setupS = sessionS + out.warmupS + Stats.median(out.setupRepsS)
    run.say(f"setup_s                    $setupS%.4f s  (session $sessionS%.3f s + warm-up ${out.warmupS}%.3f s" +
      f" + median of ${out.setupRepsS.map(s => f"$s%.3f").mkString("/")})")
    val latS = out.latencyS
    run.say(f"latency_s                  $latS%.4f s  (median of each of ${out.latency.size} kinds, " +
      s"${out.latency.values.map(_.size).sum} operations)")
    run.say(f"work_per_s                 ${out.ratePerS}%.1f /s")
    engine.foreach(_.report(run))
    scans.foreach(_.report(run))
    if (opts.trace) reportSpans(run)
    Option(SparkSession.getActiveSession.orNull).foreach(_ => SparkSession.active.catalog.clearCache())
    // Spark frees broadcast and cached blocks from its cleaner thread once
    // their handles are collected: collect, let it run, collect again
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(500) }
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0
    run.say(f"heap_retained_mb           $heapMb%.1f MB")
    val failRatio = if (run.attempted == 0) 0.0 else run.failed.toDouble / run.attempted
    run.say(f"fail_ratio                 $failRatio%.4f  (${run.failed} of ${run.attempted} ops and checks)")
    run.invalid.foreach(r => run.say(s"INVALID: $r"))

    val e2e = Seq(
      "latency_s" -> latS, "work_per_s" -> out.ratePerS,
      "setup_s" -> setupS, "heap_retained_mb" -> heapMb)
    Files.write(opts.out, Json.obj(Seq(
      "correct" -> (run.failed == 0 && run.invalid.isEmpty),
      "attempted" -> run.attempted, "failed" -> run.failed,
      "invalid" -> run.invalid.toSeq,
      "e2e" -> e2e.toMap,
      "named" -> run.named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "layer" -> run.layer.toMap,
      "latency_samples" -> out.latency,
      "lines" -> run.lines.toSeq)).getBytes(StandardCharsets.UTF_8))
    Option(SparkSession.getActiveSession.orNull).foreach(_.stop())
    run.say("session stopped")
  }

  /** Self time per layer from the spans, plus the cost of recording them,
    * calibrated in-process: per-span cost × spans, as a share of the run.
    */
  def reportSpans(run: Run): Unit = {
    val spans = run.tracer.spans
    val path = Paths.get(run.opts.out.toString.stripSuffix(".json") + ".spans.jsonl")
    Files.write(path, Tracer.toJsonLines(spans).mkString("\n").getBytes(StandardCharsets.UTF_8))
    val byLayer = Tracer.selfTimes(spans).groupBy { case (n, _) => n.takeWhile(_ != '.') }
    Seq("ingest", "streaming", "ml", "sources", "gold", "analytics", "Flagship", "ext").foreach { l =>
      run.layer(s"self.${l.toLowerCase}_s") = byLayer.get(l).map(_.values.sum).getOrElse(0.0)
    }
    val probe = new Tracer(true, "calibration")
    val n = 100000
    val t = System.nanoTime()
    (0 until n).foreach(i => probe("probe")(i))
    val perSpanS = (System.nanoTime() - t) / 1e9 / n
    run.layer("trace.spans") = spans.size.toDouble
    run.layer("trace.overhead_s") = perSpanS * spans.size
    run.layer("trace.overhead_share") = perSpanS * spans.size / (run.nowNs / 1e9)
  }
}

/** Just enough JSON for the run's result file. */
object Json {
  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Long => n.toString
    case n: Int => n.toString
    case s: String => str(s)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
