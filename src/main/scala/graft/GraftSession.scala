package graft

import org.apache.spark.sql.SparkSession

/** Shared session factory: one place for the engine's Spark tuning so
  * Verify, Bench, and the dev tools run identical configs.
  *
  * Scale stance (SURVEY §7.4.12): AQE on (runtime coalesce + skew-join),
  * shuffle partitions sized to local cores and data here but expected to
  * be overridden (or AQE-coalesced) on a real cluster; UTC everywhere;
  * nanos-as-long so TIMESTAMP(NANOS) parquet (events.ts) is readable.
  * The measurements behind every sizing rule below are archived in
  * OPTIMIZATION_r13.md, OPTIMIZATION_r14.md and BASELINE.md.
  */
object GraftSession {
  /** The driver's core-count knob, shared by every entry point. */
  def envCores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Bytes under `dir`, summed recursively on local disk (0 if absent). */
  private def dirBytes(dir: String): Long = {
    def sizeOf(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(sizeOf).sum).getOrElse(0L)
      else f.length
    sizeOf(new java.io.File(dir))
  }

  /** Data-density shuffle width: ceil(dirBytes / density) partitions,
    * rounded up to a core-count multiple when it exceeds the core
    * count (avoids straggler waves on real work), taken AS-IS when it
    * does not. The ~4 MB/partition base density is the width sweep's
    * optimum (noAqe scaladoc below, measured at 10×/50×/100×).
    *
    * No core-count floor: on a small corpus, excess tiny tasks pay a
    * fixed per-task constant and the shuffle pays M×R block fan-out,
    * while slots left idle cost nothing. Isolated with threads × width
    * crossed, the width term (not thread contention) was the cost of a
    * floor (OPTIMIZATION_r13.md §3, dev/expr_width_r18*.json). The
    * residual contention term at high core counts is box physics —
    * shared memory bandwidth, not the allocator
    * (dev/expr_contention_r19.txt) — so the CPU column at 32 cores is
    * read against that floor, not against the 8-thread number.
    *
    * Past 1 GB the density graduates as 4 MB·sqrt(bytes/1 GB), clamped
    * at 128 MB/partition (reached at ~1 TB): a flat 4 MB resolves
    * 100 TB to ~26 M tasks, this to ~819 k. Every point ≤ 1 GB keeps
    * the swept 4 MB, and the 100× replica (2.1 GB) lands at 384, inside
    * the sweep's optimum band (OPTIMIZATION_r14.md §1). */
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
    // AQE coalescing target; divided by the data factor below
    val advisoryMb = 64
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
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", s"${advisoryMb}m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // broadcast threshold: Spark's 10 MB default here; raised to the
      // data-tiered value after the dataFactor probe below
      .config("spark.sql.autoBroadcastJoinThreshold", "10m")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // Whole-stage-codegen CLASS cache (static conf, default 100
      // entries): a 168-query board holds thousands of codegen units,
      // so at the default every leg evicts every class and each rep
      // re-runs Janino + restarts HotSpot tiering from the interpreter
      // (text_lm_score task CPU 2.48 s inside a 25-query probe vs 0.77 s
      // in a 2-query probe on identical code). A production service
      // keeps its compiled query classes hot the same way; the entry
      // cost is driver-side metadata (~KBs each), so 4096 is cheap
      // insurance.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // heap-proportional driver collect ceiling: the stream gates'
      // complete-mode memory sink collects the full result table, and
      // the fixed 1 GB default aborted a collect the heap comfortably
      // holds (1.1 GB of session rows on an 8 GB JVM, with state already
      // off-heap in RocksDB). Half the heap keeps the guardrail real — a
      // runaway collect still dies — while scaling it with the box.
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
    // Memory-sized partitioning: a full per-partition materialization
    // must fit the heap share of one task slot. The envelope measured
    // on the 50× soak is 1.5 GB/core — below it (e.g. 32 slots on an
    // 8 GB heap = 250 MB/slot) the core-count default OOMs on
    // partition-sized materializations, so the default is MULTIPLIED by
    // ceil(1.5 GB / heap-per-slot), making each partition smaller. AQE
    // folds the extra partitions back together on small data. At the
    // 4-core/8 GB bench convention heap-per-slot is 2 GB and the factor
    // is 1.
    val slots = math.max(1, spark.sparkContext.defaultParallelism)
    val heapPerSlot = Runtime.getRuntime.maxMemory / slots
    val memFactor = math.min(16L,
      math.max(1L, (1_500_000_000L + heapPerSlot - 1) / heapPerSlot)).toInt
    // Data term: the heap factor alone holds to the 50× replica
    // (~1.0 GB input), but at 100× (2.1 GB) the graph family's
    // per-partition join builds exhausted the execution pool — a real
    // cluster sizes shuffle width to DATA, so the session does too when
    // it can see the dataset dir (SPARK_GRAFT_SF_DIR). ceil(bytes /
    // 512 MB) keeps every soaked point at its proven width (sf0.1 and
    // the 10×/20× replicas → ×1; 50× → ×2; 100× → ×5).
    val dataBytes: Option[Long] = sys.env.get("SPARK_GRAFT_SF_DIR").map(dirBytes)
    val dataFactor = dataBytes.map { bytes =>
      math.min(16L, math.max(1L, (bytes + (512L << 20) - 1) / (512L << 20))).toInt
    }.getOrElse(1)
    // Data-density CAP on the width: memFactor protects per-partition
    // materializations on SMALL heaps but multiplies the width even when
    // the dataset is tiny (192 static partitions over a ~20 MB corpus at
    // 32 cores / 8 GB, where per-task constants dominated). The cap is
    // widthFor's ~4 MB-per-partition density, with the same no-floor
    // rule (a parent-only core floor was measured and lost,
    // OPTIMIZATION_r13.md §2–3). It subsumes memFactor's protection
    // wherever it binds: a capped partition holds ~4 MB of input. Where
    // data is large the product term is the smaller one and nothing
    // changes. No SPARK_GRAFT_SF_DIR (unit tests, ad-hoc use) → no
    // probe, no cap. An explicit SPARK_GRAFT_SHUFFLE_PARTS wins
    // everywhere (a real cluster sizes this to data volume).
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
    // Data-tiered broadcast threshold: build sides that fit the 10 MB
    // default at 10× cross it at 100×, and the FACT side starts
    // exchanging. 64 MB past dataFactor 1 cut the 100× board's join_anti
    // and join_semi task CPU ~30× and setops −71%, with 0 failures
    // (OPTIMIZATION_r14.md §3). It is memory-sized for the envelope the
    // factor > 1 regime already requires: a ≤ 64 MB serialized estimate
    // deserializes to a few hundred MB, held once per executor.
    // dataFactor 1 (every small-SF convention) keeps Spark's 10 MB
    // default, plan-identical by construction.
    //
    // Data-sized AQE coalescing target: the 64 MB advisory is
    // COMPRESSED shuffle bytes, and at the soak heap (250 MB/slot) one
    // such partition deserializes and builds state well past its slot
    // share — coalescing undid the data-sized width above and the graph
    // family spilled 10 GB-class sort fallbacks. Dividing by the data
    // factor keeps post-coalesce per-task state roughly constant in the
    // corpus; factor-1 conventions see the unchanged 64 MB.
    if (dataFactor > 1) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        s"${math.max(4, advisoryMb / dataFactor)}m")
    }
    // state-partition override for the bounded stream drains
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
    * The child's static shuffle width is DATA-SIZED from `dataDir`: the
    * parent's width is deliberately inflated by the heap memFactor on
    * the assumption that AQE coalesces the excess at runtime — an
    * assumption exactly these queries opt out of. Inheriting it cost
    * the shingle family 3–5× wall at local[32]/8 GB (192 static
    * partitions vs 32): excess static tasks carry ~0.35 s/task of
    * constant overhead on ~20 s of real work.
    *
    * Width = [[widthFor]]. Its density comes from a width sweep of
    * (dedup_clusters, dedup_ngram_jaccard) at 32 cores / 8 GB:
    *   10×  (189 MB): 32 → 5.3 s  64 → 7.2   96 → 9.9   192 → 18.7
    *   50×  (1.0 GB): 96 → 22.4  169 → 31   256 → 13.3  384 → 16.1
    *   100× (2.1 GB): 160 → 47   342 → 23.7 512 → 24.6  960 → 31.5
    * Two regimes bound the choice: too WIDE pays the per-task constant
    * (192@10×, 960@100×), too NARROW hits the per-task-state memory
    * cliff (169@50× and 160@100× sit on it — GC/fallback thrash, 2×
    * the wall of the optimum). ~4 MB of dataset bytes per partition
    * stays a comfortable margin from the measured cliff at every
    * scale point while shedding the constant. NOT clamped to the parent
    * width: on a large-heap box the parent (memFactor 1) can sit BELOW
    * the cliff, and this width answers to data, not to the heap
    * heuristic. An explicit SPARK_GRAFT_SHUFFLE_PARTS still wins.
    *
    * A child session scopes the settings to the query that owns it —
    * no conf mutation races against the parent, and the conf is live
    * whenever the lazily-built DataFrame finally executes (a try/finally
    * around construction would restore it too early). AQE stays ON in
    * the parent for data-dependent plans. */
  def noAqe(s: SparkSession, dataDir: String): SparkSession = noAqeChildren.synchronized {
    val parts = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTS").flatMap(_.toIntOption)
      .getOrElse(widthFor(dirBytes(dataDir), math.max(1, s.sparkContext.defaultParallelism)))
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
