package lakebench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Command-line options of one benchmark run. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, out: Path)

/** State of one run: clock, tracer, counters, and the metrics it reports.
  *
  * `attempted` counts every timed operation and every output check;
  * `failed` counts operations that threw and checks that mismatched.
  */
final class Run(val opts: Opts) {
  val t0Ns: Long = System.nanoTime()
  private val t0WallMs = System.currentTimeMillis()
  val tracer = new Tracer(opts.trace, s"${opts.workload}-${opts.seed}")

  /** Metrics a user sees, by the names the documentation uses. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics (traced run). */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Reasons the run's figures cannot be trusted. */
  val invalid = mutable.ArrayBuffer.empty[String]
  val lines = mutable.ArrayBuffer.empty[String]
  private val attempted0 = new AtomicLong(0)
  private val failed0 = new AtomicLong(0)
  def attempted: Long = attempted0.get
  def failed: Long = failed0.get

  def nowNs: Long = System.nanoTime() - t0Ns
  def wallMsToNs(ms: Long): Long = (ms - t0WallMs) * 1000000L

  def dir(name: String): String = {
    val d = opts.work.resolve(name)
    Files.createDirectories(d)
    d.toString
  }

  def say(s: String): Unit = synchronized {
    lines += s
    System.err.println(f"[lakebench ${nowNs / 1e9}%7.2f s] $s")
  }

  /** One timed operation: its latency (s), or None when it threw. */
  def op[T](span: String)(f: => T): Option[(T, Double)] = {
    attempted0.incrementAndGet()
    val t = System.nanoTime()
    try {
      val r = tracer(span)(f)
      Some((r, (System.nanoTime() - t) / 1e9))
    } catch {
      case e: Exception =>
        failed0.incrementAndGet()
        say(s"FAILED $span: $e")
        None
    }
  }

  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted0.incrementAndGet()
    if (!ok) { failed0.incrementAndGet(); say(s"MISMATCH $what $detail") }
  }

  def metric(name: String, v: Double, unit: String): Unit = named(name) = (v, unit)

  /** Report a named percentile of grouped samples. With fewer than ten
    * groups beyond it the percentile is reported as invalid, not as a number.
    */
  def pct(name: String, samples: Seq[Stats.Sample], p: Double): Unit = {
    val r = Stats.pct(samples, p)
    if (r.valid) {
      metric(name, r.value, "s")
      say(f"$name%-26s ${r.value}%.4f s  (n=${r.n}, groups beyond=${r.groupsBeyond})")
    } else say(f"$name%-26s invalid: ${r.groupsBeyond} groups beyond p${p.toInt} (n=${r.n}, need ${Stats.MinBeyond})")
  }
}

object Harness {
  /** The session `graft.Bench` runs with, at `cores` local threads. */
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(graft.functions.GraftExtensions.register)
      .master(s"local[$cores]")
      .appName("lakebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def dirBytes(dir: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally st.close()
    }
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
    finally st.close()
  }
}

/** Every streaming progress report, stamped with its arrival time. */
final class ProgressLog extends StreamingQueryListener {
  import ProgressLog.Entry
  private val q = new ConcurrentLinkedQueue[Entry]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    q.add(Entry(e.progress.name, e.progress, System.nanoTime()))
  def of(name: String): Seq[Entry] = q.asScala.filter(_.name == name).toSeq
  def clear(): Unit = q.clear()
}

object ProgressLog {
  final case class Entry(name: String, p: StreamingQueryProgress, arrivedNs: Long)
}

/** Cross-layer counters for the traced run: jobs, tasks, executor time,
  * shuffle and spill from the scheduler; Catalyst phase time from every
  * executed query.
  */
final class EngineListeners extends SparkListener with QueryExecutionListener {
  val jobs = new AtomicLong(0)
  val tasks = new AtomicLong(0)
  val cpuNs = new AtomicLong(0)
  val runMs = new AtomicLong(0)
  val gcMs = new AtomicLong(0)
  val shuffleWrite = new AtomicLong(0)
  val spill = new AtomicLong(0)
  val planS = new DoubleAdder()

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planS.add(qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def report(run: Run): Unit = {
    run.layer("spark.jobs") = jobs.get.toDouble
    run.layer("spark.tasks") = tasks.get.toDouble
    run.layer("spark.executor_cpu_s") = cpuNs.get / 1e9
    run.layer("spark.executor_run_s") = runMs.get / 1e3
    run.layer("spark.gc_s") = gcMs.get / 1e3
    run.layer("spark.shuffle_write_mb") = shuffleWrite.get / 1048576.0
    run.layer("spark.spill_mb") = spill.get / 1048576.0
    run.layer("catalyst.plan_s") = planS.sum()
  }
}

/** Files read and pruned by the file scans of an executed query, taken
  * from the scan nodes' own SQL metrics (adaptive plans included).
  */
object ScanStats extends AdaptiveSparkPlanHelper {
  def of(df: DataFrame): (Long, Long) = {
    val plan: SparkPlan = df.queryExecution.executedPlan
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s }.foldLeft((0L, 0L)) {
      case ((r, p), s) =>
        val read = s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        val listed = s.relation.location.inputFiles.length.toLong
        (r + read, p + math.max(0L, listed - read))
    }
  }
}
