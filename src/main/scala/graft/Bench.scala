package graft

import scala.util.control.NonFatal

object Bench {
  /** Per-gate stream telemetry from samples keyed by leg (0 = cold):
    * (gate, batch count of the last steady sample — the replay is
    * deterministic — and the median state-commit ms over the steady
    * samples), by gate name. Keyed, not positional: a gate whose cold
    * run failed recorded no cold sample, so none of its steady samples
    * is dropped; a gate with no steady sample is left out, as its
    * query row reads -1. */
  def streamProf(samples: Map[String, Seq[(Int, Long, Long)]]): Seq[(String, Long, Long)] =
    samples.toSeq.sortBy(_._1).flatMap { case (n, ss) =>
      val steady = ss.filter(_._1 > 0)
      if (steady.isEmpty) None
      else {
        val cms = steady.map(_._3).sorted
        Some((n, steady.last._2, cms(cms.length / 2)))
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("graft-bench")
    // Warm-up: touch every table once so the first timed query doesn't
    // absorb file-listing/footer-reading costs.
    Tables.names.foreach { t =>
      try Tables.load(spark, sfDir, t).count() catch { case NonFatal(_) => () }
    }
    // MULTI-LEG MEDIAN PROTOCOL (r11 verdict item 1): BENCH_r11 was a
    // drifted leg (+15% total, ctl_shuffle top-of-band, uniform
    // sub-second inflation) and a two-leg experiment measured ±20%
    // anti-correlated engine/oracle swings with near-identical end
    // controls — a SINGLE board pass can no longer support per-query
    // claims. The board therefore runs as
    //   leg 0 (cold): one first-touch run per query — codegen
    //     compilation, scan warmup, and any train-once derivation
    //     (span index, BPE rules, ANN codebook) land here, so the cold
    //     column carries the full derivation cost the steady rows
    //     amortize (r11 verdict item 7);
    //   legs 1..3 (steady): three back-to-back FULL-BOARD passes;
    //     per-query steady = MEDIAN across legs. A transient that
    //     drains mid-leg corrupts one leg's sample, not the median.
    // Box-state controls run after every leg AND mid-way through each
    // steady leg (the r11 lesson: end-of-board controls miss transients
    // that drain mid-leg); every probe is labeled in the artifact.
    // Per-run hygiene, OUTSIDE the timed region: each build of a
    // checkpoint-bearing query pins localCheckpoint RDD blocks (and
    // broadcasts) in the shared BlockManager; across a board × 4 legs
    // that storage accrues until later runs pay eviction/GC storms that
    // have nothing to do with their own plan (observed: a 1 s query
    // measuring 78 s late in the pass). Sweeping BETWEEN runs gives
    // every run the identical clean starting state, so steady ≤ cold
    // structurally. blocking=true so the eviction can't race into the
    // next timed region; safe — every timed() builds a fresh plan,
    // nothing references the previous run's RDDs.
    // Failed runs report -1 and are excluded from medians and totals;
    // fatal JVM errors abort the run.
    // dev knobs: SPARK_GRAFT_BENCH_ONLY=q1,q2 times a subset;
    //            SPARK_GRAFT_BENCH_LEGS=n overrides the 3 steady legs.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val nLegs = sys.env.get("SPARK_GRAFT_BENCH_LEGS").map(_.toInt).getOrElse(3)
    // Workload-volume fingerprint (r11 verdict item 8): the decade
    // chain's α claims are only meaningful on exactly-proportional
    // replicas (the r11 span-family "superlinearity" was the GENERATOR
    // inflating text volume, not the engine). Every artifact therefore
    // self-reports its input volume — doc chars + key table rows — so
    // dev/soak_alpha.py can assert volume(big)/volume(small) equals the
    // declared factor within 1% and a future generator edit cannot
    // silently reintroduce workload inflation. Cheap: one column sum
    // over documents + parquet-metadata counts, measured pre-board.
    val volume: Seq[(String, Long)] = {
      import org.apache.spark.sql.functions.sum
      def tryV(name: String, v: => Long): Option[(String, Long)] =
        try Some(name -> v) catch { case NonFatal(_) => None }
      (tryV("doc_chars", Tables.documents(spark, sfDir)
          .agg(sum("n_chars")).head().getLong(0)) ++
        tryV("doc_rows", Tables.documents(spark, sfDir).count()) ++
        tryV("emb_rows", Tables.embeddings(spark, sfDir).count()) ++
        tryV("lineitem_rows", Tables.lineitem(spark, sfDir).count()) ++
        tryV("event_rows", Tables.load(spark, sfDir, "events").count())).toSeq
    }
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    def hygiene(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }
    // TASK-CPU COLUMN (r12 verdict item 1): wall-clock ratios vs DuckDB
    // have twice been poisoned by host drift (r11 +15%, r12 the
    // unresolved 3.54 headline on a ~2×-slowed box) — per-query CPU
    // seconds are the host-state-insensitive reading. The listener sums
    // executorCpuTime (ns actually ON-CPU per task, ThreadMXBean) over
    // every completed stage; snapshots
    // are taken around each timed run with the bus DRAINED first so a
    // late-delivered stage event cannot leak into the next query's
    // window. GC runs in its own threads and is NOT in executorCpuTime,
    // so jvmGCTime is accumulated alongside and reported per query —
    // a CPU ratio read without its gc column could hide a
    // memory-pressure regression. The listener + drain + timed harness
    // lives in TaskCpuMeter, the one copy of the protocol.
    val meter = new TaskCpuMeter(spark.sparkContext)
    // STREAM TELEMETRY (r13 verdict item 6): per-gate micro-batch count
    // and state-commit ms, snapshotted around each timed run with the
    // same drain protocol as the CPU meter — the stream gates' measured
    // ±0.3–1.1 s machinery band kept producing phantom PERF regressions,
    // and these two numbers classify a driver-side stream delta
    // (batches moved = replay change; commit ms moved = state-store
    // machinery; neither = the aggregate itself) from the artifact.
    val streamMeter = new StreamProgressMeter(spark)
    val streamSamples = scala.collection.mutable.Map[String,
      scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]]()
    /** (wall s, task-cpu s, gc s) of `name` in `leg` (0 = cold); all -1
      * on failure. */
    def timedRun(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        leg: Int): (Double, Double, Double) =
      try {
        val (b0, m0) = streamMeter.snapshot()
        val r = meter.timed(fn(spark, sfDir).count(): Unit)
        val (b1, m1) = streamMeter.snapshot()
        if (b1 > b0) streamSamples.getOrElseUpdate(name,
          scala.collection.mutable.ArrayBuffer()) += ((leg, b1 - b0, m1 - m0))
        r
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          (-1.0, -1.0, -1.0)
      } finally hygiene()

    val probes = scala.collection.mutable.ArrayBuffer[(String, Seq[(String, Double)])]()
    def probe(label: String): Unit = probes += label -> BoxControls.measure(spark)

    // leg 0: cold
    val cold: Seq[(String, (Double, Double, Double))] =
      qs.map { case (n, fn) => n -> timedRun(n, fn, 0) }
    val coldMap = cold.toMap
    probe("after_cold")
    // legs 1..nLegs: steady samples, mid-leg probe between the halves
    val legs: Seq[Map[String, (Double, Double, Double)]] = (1 to nLegs).map { li =>
      val (front, back) = qs.splitAt(qs.length / 2)
      val f = front.map { case (n, fn) => n -> timedRun(n, fn, li) }
      probe(s"mid_leg$li")
      val b = back.map { case (n, fn) => n -> timedRun(n, fn, li) }
      probe(s"after_leg$li")
      (f ++ b).toMap
    }
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) -1.0
      else {
        val s = xs.sorted
        if (s.length % 2 == 1) s(s.length / 2)
        else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
      }
    /** per query: (cold wall, steady wall, cold cpu, steady cpu,
      * steady gc, cold gc) — steady columns are per-leg MEDIANS over
      * successful legs. Cold gc is kept (r13 review): the cold cpu
      * column carries the train-once derivations — the most GC-heavy
      * work on the board — and a memory-pressure regression there
      * shifts cost into GC threads that executorCpuTime excludes, so
      * a cold CPU reading without its gc column is exactly the blind
      * spot the steady gc column exists to close. */
    val results: Seq[(String, (Double, Double, Double, Double, Double, Double))] =
      qs.map { case (n, _) =>
        def medOf(sel: ((Double, Double, Double)) => Double): Double =
          median(legs.map(m => sel(m(n))).filter(_ >= 0))
        val steady = medOf(_._1)
        val (c, cCpu, cGc) = coldMap(n)
        if (steady >= 0 && c >= 0 && steady > c * 1.2)
          System.err.println(f"[bench] $n anomaly: steady $steady%.3f > cold $c%.3f x1.2 — box noise or state leak")
        n -> ((c, steady, cCpu, medOf(_._2), medOf(_._3), cGc))
      }
    // Per-job scheduling floor: the fixed cost of ANY Spark action in
    // this JVM (job submit, task scheduling, result fetch) — the
    // constant that dominates sub-second queries vs embedded DuckDB
    // and amortizes to zero at real scale. Median of 5 trivial jobs.
    val floor = {
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        spark.range(0, 32, 1, 32).count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(2)
    }
    import GraftSession.jsonEscape
    def jsonMap(sel: ((Double, Double, Double, Double, Double, Double)) => Double): String =
      results.map { case (k, v) => s"${jsonEscape(k)}:${sel(v)}" }.mkString("{", ",", "}")
    val failures = results.count(_._2._2 < 0)
    // cold failures are reported SEPARATELY (r12 advice): a query that
    // crashes cold but recovers steady (e.g. a derivation that fails
    // once then memoizes) would otherwise drop from total_cold with no
    // signal anywhere in the artifact.
    val failuresCold = results.count(_._2._1 < 0)
    val total = results.map(_._2._2).filter(_ >= 0).sum
    val totalCold = results.map(_._2._1).filter(_ >= 0).sum
    val totalCpu = results.map(_._2._4).filter(_ >= 0).sum
    val totalCpuCold = results.map(_._2._3).filter(_ >= 0).sum
    // `controls` keeps the legacy end-of-board shape (the verify-skill
    // bands key on it); `controls_probes` carries every labeled probe so
    // mid-leg drift is attributable from the artifact alone.
    val lastControls = probes.lastOption.map(_._2).getOrElse(Seq())
    val probesJson = probes.map { case (l, c) =>
      s"""{"label":${jsonEscape(l)},"v":${BoxControls.json(c)}}"""
    }.mkString("[", ",", "]")
    // Full-precision artifact (cold + steady per query + all probes +
    // per-leg samples) goes to a file; see below for why stdout gets a
    // trimmed twin.
    val legsJson = legs.map(m =>
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${jsonEscape(k)}:${v._1}" }
        .mkString("{", ",", "}")).mkString("[", ",", "]")
    val volumeJson = volume.map { case (k, v) => s"${jsonEscape(k)}:$v" }
      .mkString("{", ",", "}")
    // Resolved session shuffle width (r13 verdict item 3): at small SFs
    // the data-density width caps parallelism below the core count, so
    // the driver's low-core scaling leg reads ≈1 everywhere — with the
    // width in the artifact, "width-capped" vs "genuinely serial" is
    // adjudicable from BENCH_rN.json alone.
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    val streamProf = Bench.streamProf(streamSamples.view.mapValues(_.toSeq).toMap)
    val streamProfJson = streamProf.map { case (n, b, cm) =>
      s"${jsonEscape(n)}:[$b,$cm]"
    }.mkString("{", ",", "}")
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","protocol":"median_of_$nLegs","queries":${jsonMap(_._2)},"queries_cold":${jsonMap(_._1)},"queries_cpu":${jsonMap(_._4)},"queries_cpu_cold":${jsonMap(_._3)},"queries_gc":${jsonMap(_._5)},"queries_gc_cold":${jsonMap(_._6)},"legs":$legsJson,"total_cold":$totalCold,"total_cpu":$totalCpu,"total_cpu_cold":$totalCpuCold,"floor_sec":$floor,"width":$width,"stream_prof":$streamProfJson,"controls":${BoxControls.json(lastControls)},"controls_probes":$probesJson,"volume":$volumeJson,"failures":$failures,"failures_cold":$failuresCold,"sf":${jsonEscape(sfDir)}}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")), fullJson + "\n")
    catch { case NonFatal(e) => System.err.println(s"[bench] file write failed: $e") }
    // The stdout line is the driver contract, but the driver keeps only
    // the LAST ~2000 chars of output: rounds 1-3 all recorded
    // `parsed: null` because the full-precision line outgrew that
    // window. stdout therefore carries a compact twin — steady medians
    // at ms precision, cold map and probes file-only — and if the
    // per-query map STILL doesn't fit the budget, it keeps the slowest
    // queries (the informative ones) and says how many were omitted.
    // Never truncated mid-token: the line is always valid JSON.
    def ms(v: Double): String = (math.rint(v * 1000) / 1000).toString // locale-safe, sheds trailing zeros
    // Per-query values at 10 ms precision in the COMPACT line only
    // (r13 verdict item 2 — recover query slots): run-to-run noise on
    // these 0.3–3 s rows is an order of magnitude above 10 ms, and the
    // file artifact keeps full precision.
    def ms2(v: Double): String = (math.rint(v * 100) / 100).toString
    // Drift adjudication from the driver artifact ALONE (r12 verdict
    // item 2): BENCH_r12 vs r11 needed dev-artifact forensics because
    // the compact line carried only the LAST probe. The twin carries
    // per-leg steady totals (a transient shows as one leg off), the
    // scheduling floor, the host-insensitive total_cpu, and the
    // end-of-board control probes. r14 (verdict item 2 — the r13 twin
    // additions cost 6 per-query slots, 66 → 60 named): `probe_band`
    // and `protocol` moved to the FILE artifact (`controls_probes`
    // there is a superset of the band; the protocol is unchanged and
    // self-described there), the end controls compacted to a
    // positional `ctl` array ([ctl_cpu, ctl_shuffle, ctl_scan], 2-dec),
    // per-query values to 10 ms, `failures_cold` emitted only when
    // nonzero (absent = 0) — together buying back the slots PLUS the
    // new `width` key and the per-gate stream telemetry.
    val legTotals = legs.map(m =>
      (math.rint(m.values.map(_._1).filter(_ >= 0).sum * 10) / 10).toString)
      .mkString("[", ",", "]")
    val ctl = lastControls.map(c => ms2(c._2)).mkString("[", ",", "]")
    def compactLine(qsv: Seq[(String, Double)], omitted: Int,
        withStream: Boolean): String = {
      val m = qsv.map { case (k, v) => s"${jsonEscape(k)}:${ms2(v)}" }.mkString("{", ",", "}")
      val omit = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      // positional [batches, state-commit ms] over the SORTED names of
      // the gates that produced micro-batches (the stream_* queries) —
      // the keyed twin lives in the file artifact's `stream_prof`;
      // positional here to spend bytes on query slots, not key names
      val stream = if (!withStream || streamProf.isEmpty) ""
        else streamProf.map { case (_, b, cm) => s"[$b,$cm]" }
          .mkString(""","stream_prof":[""", ",", "]")
      val failCold = if (failuresCold > 0) s""","failures_cold":$failuresCold""" else ""
      // basename only: the full sfDir path is in the file artifact, and an
      // arbitrarily long path here could push even the zero-query fallback
      // line past the budget, breaking the always-valid-JSON guarantee.
      s"""{"metric":"total","value":${ms2(total)},"unit":"sec","queries":$m$omit,"total_cpu":${ms2(totalCpu)},"leg_totals":$legTotals,"floor_sec":${ms(floor)},"width":$width$stream,"ctl":$ctl,"failures":$failures$failCold,"sf":${jsonEscape(new java.io.File(sfDir).getName)}}"""
    }
    val budget = 1900 // chars; driver tail window is 2000 and this line is last — leave slack
    val steady = results.map { case (k, v) => k -> v._2 }
    def fitted(withStream: Boolean): Option[(Int, String)] = {
      val all = compactLine(steady, 0, withStream)
      if (all.length <= budget) Some(steady.length -> all)
      else {
        val bySlow = steady.sortBy(-_._2)
        // largest prefix of slowest queries that fits the budget
        (bySlow.length to 1 by -1).iterator
          .map(n => n -> compactLine(bySlow.take(n).sortBy(_._1),
            bySlow.length - n, withStream))
          .find(_._2.length <= budget)
      }
    }
    // named-query slots take priority over the stream twin (the keyed
    // stream telemetry is always in the file artifact): include
    // stream_prof unless doing so drops the named count below 66
    val line = (fitted(withStream = true), fitted(withStream = false)) match {
      case (Some((nS, lS)), Some((nP, lP))) =>
        if (nS >= 66 || nS >= nP) lS else lP
      case (s, p) => s.orElse(p).map(_._2)
        .getOrElse(compactLine(Nil, steady.length, withStream = false))
    }
    println(line)
    spark.stop()
    if (failures == results.size && results.nonEmpty) sys.exit(1)
  }
}
