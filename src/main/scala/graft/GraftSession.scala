package graft

import org.apache.spark.sql.SparkSession

/** Shared session factory: one place for the engine's Spark tuning so
  * Verify, Bench, and the dev tools run identical configs.
  *
  * Scale stance (SURVEY §7.4.12): AQE on (runtime coalesce + skew-join),
  * shuffle partitions sized to local cores here but expected to be
  * overridden (or AQE-coalesced) on a real cluster; UTC everywhere;
  * nanos-as-long so TIMESTAMP(NANOS) parquet (events.ts) is readable.
  */
object GraftSession {
  /** The driver's core-count knob, shared by every entry point. */
  def envCores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Data-density shuffle width: ceil(dirBytes / density) partitions,
    * rounded up to a core-count multiple when it exceeds the core
    * count (avoids straggler waves on real work), taken AS-IS when it
    * does not. The ~4 MB/partition base density is the r11 width
    * sweep's optimum (noAqe scaladoc below, measured at 10×/50×/100×).
    *
    * NO core-count floor (r13 optimization round, guide §2.2/§2.4):
    * the floor forced 32 partitions over the ~20 MB sf0.1 corpus at
    * the 32-core bench convention, and a 2-leg-median 4-way isolation
    * (threads × width crossed; dev/expr_width_r18*.json) measured the
    * width term, not thread contention, as the cost: the 7 worst
    * CPU-inflated queries at 32 threads fell from 73.6 s task-CPU /
    * 11.9 s wall at width 32 to 28.3 s / 6.4 s at width 8, while at a
    * FIXED width 8 going 32→8 threads only moved CPU 28.3→17.8 s.
    * Excess tiny tasks pay a fixed per-task constant and the shuffle
    * pays M×R block fan-out (1024 vs ~64 blocks); slots left idle on
    * a 20 MB corpus cost nothing. Every committed convention with
    * real data is unchanged (4-core sf0.1 → 8; 10×/50× soaks →
    * 64/288 on the noAqe side, memFactor-bound on the parent);
    * only the small-data/many-core corner loses the floor tax.
    * The residual CONTENTION term (at fixed width 8, 8→32 threads
    * still inflates family CPU 17.8→28.3 s) is pinned as box physics
    * (r14, dev/expr_contention_r19.txt): off-heap execution memory
    * cuts GC ~35% but leaves task CPU flat, G1 region sizing is
    * neutral-to-worse — shared memory bandwidth/LLC at 32 hash-heavy
    * threads, not allocator-side, so the CPU column at high core
    * counts must be read against this floor, not against the 8-thread
    * number.
    *
    * GRADUATED density above 1 GB (r14 optimization round, guide §2.2
    * — fewer, larger partitions as data grows; the r13 verdict's one
    * scale-killer): a flat 4 MB/partition resolves a 100 TB input to
    * ~26 M tasks — the task-count and M×R-block explosion §2.2 warns
    * about, the same failure the floor removal fixed in miniature.
    * Density therefore grows as 4 MB·sqrt(bytes/1 GB) past 1 GB,
    * clamped at 128 MB/partition (the low end of §2.2's 100 MB–1 GB
    * recommendation, reached at ~1 TB): widths grow as sqrt(bytes)
    * through the transition, then linearly at 128 MB/partition —
    * 100 TB resolves to ~819 k tasks, not 26 M. Every measured small
    * point is unchanged (≤1 GB keeps the swept 4 MB exactly; the
    * 10×/50× soak replicas sit below the knee), and the 100× replica
    * (2.1 GB) coarsens 544 → 384 — inside the r11 sweep's measured
    * optimum band (342 → 23.7 s, 512 → 24.6 s, vs the 160-width
    * memory cliff at 47 s; ~5.7 MB/partition keeps a >2× margin from
    * that cliff) — re-verified by this round's 100× soak. */
  private[graft] def widthFor(dirBytes: Long, cores: Int): Int = {
    val gb = 1L << 30
    val densityBytes: Long =
      if (dirBytes <= gb) 4L << 20
      else math.min(128L << 20,
        ((4L << 20) * math.sqrt(dirBytes.toDouble / gb)).toLong)
    val dense = ((dirBytes + densityBytes - 1) / densityBytes).toInt
    if (dense <= cores) math.max(1, dense)
    else ((dense + cores - 1) / cores) * cores
  }

  def build(appName: String): SparkSession = build(appName, envCores)

  def build(appName: String, cores: String): SparkSession = {
    // dev experiment knobs (bench grid search); defaults are the
    // committed engine config
    val pFirst = sys.env.getOrElse("SPARK_GRAFT_PARALLELISM_FIRST", "true")
    val advisoryMb = sys.env.getOrElse("SPARK_GRAFT_ADVISORY_MB", "64")
    val minPart = sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION", "1m")
    val broadcastMb = sys.env.get("SPARK_GRAFT_BROADCAST_MB")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      // custom whole-operator plans (SURVEY §2.11 tier (c)): planner
      // strategy for the sorted-group streaming execs in graft.plans
      .withExtensions(_.injectPlannerStrategy(_ =>
        graft.plans.SortedGroupPlans.GraftStrategy))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // parallelismFirst stays at its default (true): with shuffle
      // partitions already sized to the core count, advisory-size
      // coalescing (the "production" setting) collapses the heavy
      // shuffle stages to 1-2 partitions and serializes them — measured
      // +1.5-2.3s on every shingle-join query, for a floor win that the
      // relation cache already delivers.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", pFirst)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        s"${advisoryMb}m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", minPart)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // broadcast threshold: Spark's 10 MB default here; re-set to the
      // data-tiered value after the dataFactor probe below (an explicit
      // SPARK_GRAFT_BROADCAST_MB always wins — the r13 sweep knob)
      .config("spark.sql.autoBroadcastJoinThreshold",
        s"${broadcastMb.getOrElse("10")}m")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // Whole-stage-codegen CLASS cache (static conf, default 100
      // entries): a 168-query board holds thousands of codegen units,
      // so at the default every leg evicts every class and each rep
      // re-runs Janino + restarts HotSpot tiering from the interpreter
      // — measured r13 (4-core sf0.1): text_lm_score task CPU 2.48 s
      // inside a 25-query probe vs 0.77 s in a 2-query probe on
      // IDENTICAL code, converging to the 2-query number once the
      // cache holds the board. A production service keeps its compiled
      // query classes hot the same way; the entry cost is driver-side
      // metadata (~KBs each), so 4096 is cheap insurance.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
      // heap-proportional driver collect ceiling (r9 100×-soak
      // finding): the stream gates' complete-mode memory sink collects
      // the full result table, and the fixed 1 GB default aborted a
      // collect the heap comfortably holds (1.1 GB of session rows on
      // an 8 GB JVM, with state already off-heap in RocksDB). Half the
      // heap keeps the guardrail real — a runaway collect still dies —
      // while scaling it with the box like everything else here.
      .config("spark.driver.maxResultSize",
        s"${math.max(1L, Runtime.getRuntime.maxMemory / (2L << 20))}m")
      // managed-table warehouse (bucketed tables) in tmp, per-process:
      // never pollutes the repo cwd, never collides across JVMs
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse-p${ProcessHandle.current().pid()}")
      .config("spark.ui.enabled", "false")
      // local disk through the fork-free file: filesystem (graft.io):
      // the stock one starts a shell process per create, mkdirs, rename
      // probe and permission read. FileSystem for tables and parquet
      // writers, AbstractFileSystem for streaming checkpoints and state
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.io.NioLocalFs].getName)
      .getOrCreate()
    // `cores` may be a non-numeric master spec like "*"; shuffle
    // partitions must still be a number — fall back to the actual
    // parallelism instead of crashing the first shuffle.
    //
    // Memory-sized partitioning (the BASELINE.md 50×-soak finding,
    // encoded): a full per-partition materialization must fit the
    // heap share of one task slot. The envelope measured on the 50×
    // soak is 1.5 GB/core — BELOW it (e.g. 32 slots on the default
    // 8 GB test heap = 250 MB/slot) the core-count default OOMs on
    // partition-sized materializations, so the shuffle-partition
    // default is MULTIPLIED by ceil(1.5 GB / heap-per-slot), making
    // each partition proportionally smaller. AQE's runtime coalescing
    // folds the extra partitions back together on small data, so the
    // factor only changes behavior where it matters. An explicit
    // SPARK_GRAFT_SHUFFLE_PARTS always wins (a real cluster sizes
    // this to data volume); at the committed 4-core/8 GB bench
    // convention heap-per-slot is 2 GB and the factor is 1.
    val slots = math.max(1, spark.sparkContext.defaultParallelism)
    val heapPerSlot = Runtime.getRuntime.maxMemory / slots
    val memFactor = math.min(16L,
      math.max(1L, (1_500_000_000L + heapPerSlot - 1) / heapPerSlot)).toInt
    // Data term (the r9 100×-soak finding): the heap factor alone
    // holds to the 50× replica (~1.0 GB input, 192 partitions), but at
    // 100× (2.1 GB) the graph family's per-partition join builds
    // exhausted the execution pool (UNABLE_TO_ACQUIRE_MEMORY) — a real
    // cluster sizes shuffle width to DATA, so the session does too
    // when it can see the dataset dir (Bench/soak set
    // SPARK_GRAFT_SF_DIR). One local-FS size probe; ceil(bytes/512 MB)
    // keeps every soaked point at its proven width (sf0.1 and the
    // 10×/20× replicas → ×1, exactly the committed conventions; 50×
    // → ×2; 100× → ×5, above the 768-partition point where the 100×
    // graph family was measured green). Explicit
    // SPARK_GRAFT_SHUFFLE_PARTS still wins everywhere.
    val dataBytes: Option[Long] = sys.env.get("SPARK_GRAFT_SF_DIR").map { dir =>
      def sizeOf(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles).map(_.map(sizeOf).sum).getOrElse(0L)
        else f.length
      sizeOf(new java.io.File(dir))
    }
    val dataFactor = dataBytes.map { bytes =>
      math.min(16L, math.max(1L, (bytes + (512L << 20) - 1) / (512L << 20))).toInt
    }.getOrElse(1)
    // Data-density CAP on the width (r13 optimization round, guide §2 —
    // scale-adaptive partitioning): the heap memFactor above protects
    // per-partition materializations on SMALL heaps, but it multiplies
    // the width even when the DATASET is tiny — the 32-core/8 GB bench
    // convention ran every AQE query at 192 static partitions over a
    // ~20 MB sf0.1 corpus, and parallelismFirst coalescing kept most of
    // them: per-task constants dominated (measured, 2-leg median,
    // 32-core sf0.1 probe: graph family total task-CPU 57.3 → 28.9 s
    // and wall 11.0 → 9.3 s on a WORSE-controls leg when pinned to 32;
    // rel_pagerank wall 4.39 → 3.25 s). The cap is the same ~4 MB of
    // dataset bytes per partition density the noAqe children pinned
    // with the r11 width sweep (GraftSession.noAqe scaladoc) — and it
    // SUBSUMES the memFactor's protection wherever it binds: a width
    // at the cap bounds per-partition input at ~4 MB compressed, far
    // under any slot's heap share. Where data is large the product
    // term is the smaller one and nothing changes: every committed
    // convention (4-core sf0.1 → 4; 48 GB 10×/50×/100× soaks →
    // 32/64/160) is unchanged by the cap — only the small-data/
    // many-core corner loses its width tax. No SPARK_GRAFT_SF_DIR
    // (unit tests, ad-hoc use) → no probe, no cap, the old width.
    //
    // The parent shares widthFor's no-floor rule (r13, second step):
    // a parent-only core floor ("AQE can only coalesce downward, so
    // keep the static width at core count for the dense stages") was
    // built and measured — the full-board comparison contradicts it
    // (floored-parent probe: pagerank 2.03 s/8.9 CPU vs the no-floor
    // board's 1.95/4.6; the graph family's wall swings leg-to-leg
    // while the board CPU total reads 64.8 s no-floor vs 177.2 s
    // floored, and the probe legs confirm the direction per query).
    // Data density is the rule everywhere; the bench convention keeps
    // it honest because the driver also benches at low core counts.
    val dataCap = dataBytes.map(widthFor(_, cores.toIntOption.getOrElse(slots)))
    val shuffleParts = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTS")
      .flatMap(_.toIntOption)
      .getOrElse {
        val base = cores.toIntOption.getOrElse(slots) * memFactor * dataFactor
        dataCap.fold(base)(math.min(base, _))
      }
    spark.conf.set("spark.sql.shuffle.partitions", shuffleParts.toString)
    // published so data-sized choices elsewhere (Lineage.cut's
    // checkpoint storage level) key off the same probe
    spark.conf.set("graft.dataFactor", dataFactor.toString)
    // Data-tiered broadcast threshold (r14, VERDICT r13 item 3 — the
    // AQE broadcast→shuffle regime crossings, the decade chain's
    // largest recoverable cpu-α class): build sides that fit the 10 MB
    // default at 10× cross it at 100× and the FACT side starts
    // exchanging. Measured twice: the r13 isolated ten-crossing-row
    // probe at 100× (total task CPU −19%; join_anti 28.6→3.7 s,
    // join_semi 30.1→4.5 s, time_travel −41%, setops −54%; trade_volume
    // +19% / late_lines +7% as the cost side) and this round's full
    // 165-query 100× board under both thresholds (dev/
    // soak_full_board_100x_r19.json vs soak_100x_r19_b64.json: 0
    // failures both arms, totals flat-or-better, join_anti CPU
    // 43.5→1.3 s, join_semi 41.7→1.6 s, setops −71%, time_travel −48%).
    // 64 MB is memory-sized for the envelope the factor>1 regime
    // already requires (the soak convention's 1.5 GB/core — a ≤64 MB
    // serialized estimate deserializes to a few hundred MB, a fraction
    // of one slot's share, held once per executor). dataFactor 1 (all
    // committed small-SF conventions) keeps Spark's 10 MB default —
    // plan-identity by construction, and the r13 DevExplain check
    // showed the crossing rows already fully broadcast there. The env
    // knob above still wins everywhere.
    if (broadcastMb.isEmpty && dataFactor > 1)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    // Data-sized AQE coalescing target (r10 100×-soak finding): the
    // fixed 64 MB advisory is COMPRESSED shuffle bytes — at the soak
    // heap (250 MB/slot) one 64 MB partition deserializes + builds
    // aggregate/join state well past its slot share, so AQE's
    // coalescing silently undid the data-sized shuffle width above and
    // the graph family's stages ran ~33 tasks with 10 GB-class
    // sort-fallback spills (rel_pagerank OOM'd flakily on the spill
    // readers' read-ahead buffers). Dividing the advisory by the same
    // data factor keeps post-coalesce per-task state roughly CONSTANT
    // in the corpus; the committed factor-1 conventions (4-core bench,
    // 10×/20× soaks) see the unchanged 64 MB.
    if (dataFactor > 1) {
      val advisory = math.max(4, advisoryMb.toInt / dataFactor)
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        s"${advisory}m")
    }
    // dev knob for the bounded stream drains' state-partition pinning
    // (StreamGate.withStatePartitions reads this conf; see its scaladoc)
    sys.env.get("SPARK_GRAFT_STATE_PARTS").foreach(v =>
      spark.conf.set("graft.stream.statePartitions", v))
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // One pinned child per (parent session, static width), weak-keyed so
  // none outlives the parent; child sessions share the SparkContext
  // (same executors, same relation cache key-space) but carry their own
  // SQLConf.
  private val noAqeChildren =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[Int, SparkSession]]()

  /** Child session with AQE pinned OFF, for queries whose plan is a
    * FIXED exchange cascade over uniformly-hashed keys (substring-span
    * dedup, shingle jaccard): key placement is uniform and parallelism
    * is explicit, so adaptive re-planning buys nothing and costs one
    * materialization barrier per exchange plus a driver re-plan between
    * the resulting jobs (DevProfile: 0.39 s of barriers + 0.46 s of
    * inter-job driver gaps on a 2.4 s query).
    *
    * The child's static shuffle width is DATA-SIZED from `dataDir`
    * (r11 regression fix): the parent's width is deliberately inflated
    * by the heap memFactor (32 cores on the 8 GB test heap → ×6) on
    * the assumption that AQE coalesces the excess at runtime — an
    * assumption exactly these queries opt out of. Inheriting the
    * inflated width verbatim cost the shingle family 3–5× wall at
    * local[32]/8 GB (dedup_ngram_jaccard 5.1 s at 192 static
    * partitions vs 0.67 s at 32; dedup_clusters 7.3 → 1.5 s — the
    * BENCH_r10 +16% "regression" was this, hidden on the driver's
    * large-heap box where memFactor = 1): excess static tasks carry
    * ~0.35 s/task of constant overhead on ~20 s of real work.
    *
    * Width = [[widthFor]] (ceil(dirBytes / 4 MB), core-multiple
    * rounded above the core count, NO core floor — see widthFor's
    * scaladoc for the r13 isolation that removed the floor).
    * The density comes from an r11 width sweep
    * of (dedup_clusters, dedup_ngram_jaccard) at 32 cores / 8 GB:
    *   10×  (189 MB): 32 → 5.3 s  64 → 7.2   96 → 9.9   192 → 18.7
    *   50×  (1.0 GB): 96 → 22.4  169 → 31   256 → 13.3  384 → 16.1
    *   100× (2.1 GB): 160 → 47   342 → 23.7 512 → 24.6  960 → 31.5
    * Two regimes bound the choice: too WIDE pays the per-task constant
    * (192@10×, 960@100×), too NARROW hits the per-task-state memory
    * cliff (169@50× and 160@100× sit on it — GC/fallback thrash, 2×
    * the wall of the optimum). ~4 MB of dataset bytes per partition
    * stays a comfortable margin from the measured cliff at every
    * scale point while shedding the constant; core-multiple rounding
    * avoids straggler waves. NOT clamped to the parent width: on a
    * large-heap box the parent (memFactor 1) can sit BELOW the cliff
    * (160 at the 100× replica, measured 2× slow), and the whole point
    * is that this width answers to data, not to the heap heuristic.
    * An explicit SPARK_GRAFT_SHUFFLE_PARTS still wins (real clusters
    * size width to data themselves).
    *
    * A child session scopes the settings to the query that owns it —
    * no conf mutation races against the parent, and the conf is live
    * whenever the lazily-built DataFrame finally executes (a try/finally
    * around construction would restore it too early). AQE stays ON in
    * the parent for data-dependent plans. */
  def noAqe(s: SparkSession, dataDir: String): SparkSession = noAqeChildren.synchronized {
    val parts = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTS").flatMap(_.toIntOption)
      .getOrElse {
        def sizeOf(f: java.io.File): Long =
          if (f.isDirectory) Option(f.listFiles).map(_.map(sizeOf).sum).getOrElse(0L)
          else f.length
        widthFor(sizeOf(new java.io.File(dataDir)),
          math.max(1, s.sparkContext.defaultParallelism))
      }
    val perParent = {
      val m = noAqeChildren.get(s)
      if (m != null) m else {
        val m2 = scala.collection.mutable.Map.empty[Int, SparkSession]
        noAqeChildren.put(s, m2)
        m2
      }
    }
    perParent.getOrElseUpdate(parts, {
      val c = s.newSession()
      // runtime-set parent confs (newSession re-reads only SparkConf);
      // the broadcast threshold carries the data tier (64 MB at
      // dataFactor > 1), fixed before any query runs, so a copy at
      // creation suffices — at dataFactor 1 it is the SparkConf's 10 MB
      // the child would read anyway
      Seq("graft.stream.statePartitions", "graft.dataFactor",
          "spark.sql.autoBroadcastJoinThreshold")
        .foreach(k => s.conf.getOption(k).foreach(c.conf.set(k, _)))
      c.conf.set("spark.sql.shuffle.partitions", parts.toString)
      c.conf.set("spark.sql.adaptive.enabled", "false")
      c
    })
  }

  /** Minimal JSON string escaper shared by the Verify/Bench emitters —
    * backslash, quote, and ALL control chars (<0x20); a stray char in a
    * key or SQL would otherwise make the driver's json.load fail. */
  def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
