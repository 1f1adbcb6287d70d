package graft

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Measurement harness (optimization guide §1): runs named queries with the
  * bench's exact session settings and prints, per query,
  *   - wall time,
  *   - per-Spark-job count and per-stage task-time totals (where the time
  *     goes inside a query: scan vs shuffle-heavy stages), and
  *   - for streaming queries, every micro-batch's `durationMs` phase map
  *     (triggerExecution / queryPlanning / walCommit / addBatch / ...)
  * so fixed costs (stream bring-up, WAL fsync, planning) separate from data
  * compute. Diagnostic only — never part of the driver contract.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus)

    // per-stage task-time accumulator
    val stageLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobCount.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = si.taskMetrics
        if (ms != null) {
          val run = ms.executorRunTime
          if (run >= 20) // skip sub-20ms stages: noise
            stageLines.add(f"    stage ${si.stageId}%4d tasks=${si.numTasks}%3d run=${run}ms " +
              f"shufRead=${ms.shuffleReadMetrics.totalBytesRead / 1024}KB " +
              f"shufWrite=${ms.shuffleWriteMetrics.bytesWritten / 1024}KB  ${si.name.take(80)}")
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"    [stream started ${e.id}]")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val dm = p.durationMs
        println(s"    [batch ${p.batchId} rows=${p.numInputRows} durationMs=${dm}]")
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(s"    [stream terminated]")
    })

    Bench.warmup(spark, sfDir, args.toSet) // same warmup as Bench so JIT/codegen are hot

    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => println(s"== $n: unknown query")
        case Some(fn) =>
          stageLines.clear(); jobCount.set(0)
          spark.sparkContext.setJobDescription(n)
          val t0 = System.nanoTime()
          try {
            val cnt = fn(spark, sfDir).count()
            val el = (System.nanoTime() - t0) / 1e9
            Thread.sleep(150) // let listener events drain
            println(f"== $n: $el%.3f s, rows=$cnt, jobs=${jobCount.get()}")
            stageLines.forEach(l => println(l))
          } catch { case e: Throwable => println(s"== $n FAILED: $e") }
          spark.sparkContext.setJobDescription(null)
      }
    }
    Caches.clearAll()
    spark.stop()
  }
}
