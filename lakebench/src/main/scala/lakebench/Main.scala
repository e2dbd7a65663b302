package lakebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** State shared by a workload and the run record. */
final class Ctx(
    val spark: SparkSession, val recorder: Recorder, val dataDir: String,
    val workDir: String, val seed: Long, val seconds: Double, val trace: Boolean,
    val recording: Boolean, val expectedHashes: Map[String, String],
    val opTimeoutS: Double, heap: HeapWatch) {
  val warmOps = ArrayBuffer.empty[Op]
  val ops = ArrayBuffer.empty[Op]
  var passes = 0
  var measuredMs = 0.0
  var setupDoneMs = 0.0
  /** Wall time of each repetition of the workload's set-up. */
  val setupRepMs = ArrayBuffer.empty[Double]
  val checks = ArrayBuffer.empty[String]
  val out = mutable.LinkedHashMap.empty[String, Any]
  def markSetupDone(): Unit = { setupDoneMs = Clock.nowMs; heap.sample() }
  def fail(msg: String): Unit = { checks += msg; System.err.println(s"[lakebench] CHECK FAILED: $msg") }
}

/** Benchmark program. One JVM runs one workload and writes a raw run
  * record (ops, spans, stream progress, checks, provenance) as JSON;
  * `run.py` turns that record into the reported metrics.
  *
  * Usage: lakebench.Main <workload> <seed> <seconds> <trace 0|1>
  *          <dataDir> <workDir> <outJson> <expectedTsv> [record]
  */
object Main {
  /** A workload sets up this many times per run; `setup_s` reports the
    * median repetition. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir, outPath, expectedPath) =
      args.take(8)
    val recording = args.length > 8 && args(8) == "record"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val expected = readExpected(expectedPath)
    val buildT0 = Clock.nowMs
    val spark = graft.GraftSession.build(s"lakebench-$workload")
    val buildMs = Clock.nowMs - buildT0
    val sessionReadyMs = Clock.nowMs
    spark.sparkContext.setLogLevel("ERROR")
    val recorder = new Recorder(spark)
    val heap = new HeapWatch
    val ctx = new Ctx(spark, recorder, dataDir, workDir, seedS.toLong, secondsS.toDouble,
      traceS == "1", recording, expected, opTimeoutS = 60.0, heap)

    var fatal: String = null
    try workload match {
      case "query_mix" => QueryMix.run(ctx)
      case "cdc_scd2" => CdcScd2.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        fatal = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        e.printStackTrace()
    }
    recorder.drain()
    heap.sample()
    val heapPeakMb = heap.peakMb
    val controls = try boxControls(spark, dataDir) catch {
      case e: Throwable if scala.util.control.NonFatal(e) => Map("error" -> e.getMessage)
    }

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> ctx.trace, "fatal" -> fatal,
      "jvm_start_ms" -> jvmStartMs, "session_ready_ms" -> sessionReadyMs,
      "setup_rep_ms" -> ctx.setupRepMs, "setup_done_ms" -> ctx.setupDoneMs,
      "measured_ms" -> ctx.measuredMs, "passes" -> ctx.passes,
      "session" -> Map(
        "build_ms" -> buildMs,
        "width" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
        "broadcast_bytes" -> org.apache.spark.network.util.JavaUtils
          .byteStringAsBytes(spark.conf.get("spark.sql.autoBroadcastJoinThreshold")),
        "cores" -> spark.sparkContext.defaultParallelism,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1L << 20)),
      "heap_peak_mb" -> heapPeakMb, "heap_samples_mb" -> heap.samples,
      "controls" -> controls,
      "checks" -> ctx.checks,
      "warm_ops" -> ctx.warmOps.map(_.toMap),
      "ops" -> ctx.ops.map(_.toMap)) ++ ctx.out
    // NaN as a bare token, which Python's json module reads back as a float
    JsonMapper.builder().addModule(DefaultScalaModule)
      .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()
      .writeValue(new java.io.File(outPath), record)
    spark.stop()
  }

  /** `name<TAB>hash` lines; absent file = nothing recorded yet. */
  def readExpected(path: String): Map[String, String] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).collect { case Array(k, v, _*) => k -> v }.toMap
  }

  /** The three box-state controls of `graft.BoxControls`, same shapes,
    * one run each, with the scan pointed at this benchmark's own
    * lineitem (the benchmark reads nothing outside its checkout). Taken
    * after the measured phase, outside every timed window. */
  def boxControls(spark: SparkSession, dataDir: String): Map[String, Double] = {
    val par = spark.sparkContext.defaultParallelism
    def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    Map(
      "ctl_cpu" -> timed(spark.range(0L, 200000000L, 1L, par)
        .select(expr("bit_xor(xxhash64(id))")).head()),
      "ctl_shuffle" -> timed(spark.range(0L, 4000000L, 1L, par)
        .select(pmod(xxhash64(col("id")), lit(65536L)).as("k"))
        .repartition(64, col("k")).groupBy(col("k")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c"))).head()),
      "ctl_scan" -> timed(spark.read.parquet(s"$dataDir/lineitem.parquet")
        .agg(sum(col("l_extendedprice"))).head()))
  }
}

/** Peak old-generation occupancy after a full collection, sampled at
  * the phase boundaries (end of set-up, end of the run). A forced
  * collection there keeps the reading independent of when the JVM
  * happened to collect on its own, and starts the timed phase on a
  * clean heap. */
final class HeapWatch {
  private val oldPool = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  private var peak = 0L

  val samples = ArrayBuffer.empty[Double]

  def sample(): Unit = {
    // later collections free what Spark's ContextCleaner releases once an
    // earlier one has cleared its weak references (broadcasts, shuffles)
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    oldPool.foreach { p =>
      val used = p.getUsage.getUsed
      samples += used / (1024.0 * 1024.0)
      peak = math.max(peak, used)
    }
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}
