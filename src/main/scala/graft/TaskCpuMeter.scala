package graft

/** The task-metric measurement contract, in ONE place: Bench's
  * `queries_cpu`/`queries_gc` columns and the archived A/B numbers
  * (BASELINE.md, OPTIMIZATION_r13.md) are read against each other, so
  * they share one protocol — a listener summing
  * `executorCpuTime` (ns actually ON-CPU per task, ThreadMXBean) and
  * `jvmGCTime` (GC runs in its own threads and is NOT in
  * executorCpuTime) over every completed stage, with the listener bus
  * DRAINED before each snapshot so a late-delivered stage event cannot
  * leak into the next measurement window.
  *
  * One meter per SparkContext use-site: registration is cheap and the
  * counters are cumulative — callers read deltas via [[timed]] or
  * [[snapshot]] pairs, never the raw totals.
  */
final class TaskCpuMeter(sc: org.apache.spark.SparkContext) {
  private val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
  private val gcMs = new java.util.concurrent.atomic.AtomicLong(0L)
  sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
    override def onStageCompleted(
        s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      cpuNs.addAndGet(s.stageInfo.taskMetrics.executorCpuTime)
      gcMs.addAndGet(s.stageInfo.taskMetrics.jvmGCTime): Unit
    }
  })

  /** Drain the listener bus, then snapshot (cpu ns, gc ms). */
  def snapshot(): (Long, Long) = {
    org.apache.spark.GraftSchedulerBridge.drainListenerBus(sc)
    (cpuNs.get(), gcMs.get())
  }

  /** (wall s, task-cpu s, gc s) of `action`, bus drained on both sides. */
  def timed(action: => Unit): (Double, Double, Double) = {
    val (c0, g0) = snapshot()
    val t0 = System.nanoTime()
    action
    val wall = (System.nanoTime() - t0) / 1e9
    val (c1, g1) = snapshot()
    (wall, (c1 - c0) / 1e9, (g1 - g0) / 1e3)
  }
}
