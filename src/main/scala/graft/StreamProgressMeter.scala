package graft

/** Streaming-gate telemetry for the bench artifact (r14, VERDICT r13
  * item 6): the 8 stream gates are the board's largest wall block and
  * their measured ±0.3–1.1 s run-to-run band kept producing phantom
  * PERF regressions (two in r13) — with per-gate micro-batch count and
  * state-commit ms in the artifact, a driver-side stream delta is
  * classifiable as machinery variance vs a real plan/feed change
  * without a dev re-run: batch count shifts mean the replay changed,
  * commit-ms shifts mean state-store machinery, neither means the
  * wall delta is the aggregate itself.
  *
  * Same protocol as [[TaskCpuMeter]]: cumulative counters plus a bus
  * drain before every snapshot (StreamingQueryListener events ride the
  * shared LiveListenerBus), so a late-delivered progress event cannot
  * leak into the next query's window. */
final class StreamProgressMeter(spark: org.apache.spark.sql.SparkSession) {
  import org.apache.spark.sql.streaming.StreamingQueryListener
  private val batches = new java.util.concurrent.atomic.AtomicLong(0L)
  private val commitMs = new java.util.concurrent.atomic.AtomicLong(0L)
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      batches.incrementAndGet()
      // the batch's state-maintenance term: per-shard store update +
      // commit time summed over stateful operators — the fixed
      // machinery cost the stream-gate decomposition named as the
      // gates' dominant wall component (OPTIMIZATION_r13.md §5)
      commitMs.addAndGet(e.progress.stateOperators
        .map(so => so.allUpdatesTimeMs + so.commitTimeMs).sum): Unit
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  /** Drain the listener bus, then snapshot (batches, state-commit ms). */
  def snapshot(): (Long, Long) = {
    org.apache.spark.GraftSchedulerBridge.drainListenerBus(spark.sparkContext)
    (batches.get(), commitMs.get())
  }
}
