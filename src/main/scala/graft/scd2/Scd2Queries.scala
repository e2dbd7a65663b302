package graft.scd2

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Oracle-checkable projections of the SCD2 core onto the driver's
  * `events` table (`user_id` as business key, `ts` as event time,
  * `event_type` as the hashed payload). The full CDC pipeline semantics
  * (before/after images, deletes, merges) are golden-tested in
  * `Scd2Spec`; these queries put the window/lead/change-filter/shaping
  * path (`scd2_spark_processor.py:322-367`) under the DuckDB hash gate.
  */
object Scd2Queries {
  type Q = (SparkSession, String) => DataFrame

  // SCD2 versioning: md5 payload hash, lead pointers, change filter,
  // version shaping — byte-for-byte the Scd2Processor recipe.
  private val versions: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, d)
      .withColumn("record_hash", md5(coalesce($"event_type", lit(""))))
      .withColumn("next_hash", lead($"record_hash", 1).over(w))
      .withColumn("next_ts", lead($"ts", 1).over(w))
      .filter($"next_hash".isNull || $"record_hash" =!= $"next_hash")
      .select($"user_id", $"event_id", $"event_type",
        unix_micros($"ts".cast("timestamp")).as("effective_start_us"),
        when($"next_hash".isNotNull, unix_micros($"next_ts".cast("timestamp")))
          .otherwise(lit(null).cast("long")).as("effective_end_us"),
        $"next_hash".isNull.as("is_current"),
        $"record_hash")
      .orderBy($"user_id", $"event_id")
  }
  private val versionsSql =
    """WITH h AS (
      |  SELECT user_id, event_id, event_type, ts,
      |         md5(COALESCE(event_type,'')) AS record_hash,
      |         LEAD(md5(COALESCE(event_type,''))) OVER w AS next_hash,
      |         LEAD(ts) OVER w AS next_ts
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |)
      |SELECT user_id, event_id, event_type,
      |       epoch_us(ts) AS effective_start_us,
      |       CASE WHEN next_hash IS NOT NULL THEN epoch_us(next_ts) END AS effective_end_us,
      |       (next_hash IS NULL) AS is_current,
      |       record_hash
      |FROM h
      |WHERE next_hash IS NULL OR record_hash <> next_hash
      |ORDER BY user_id, event_id""".stripMargin

  // Current-state slice (is_current filter, P8) + checkpoint-style max.
  private val current: Q = (s, d) => {
    val v = versions(s, d)
    v.filter(col("is_current"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("effective_start_us"))
      .orderBy(col("user_id"))
  }
  private val currentSql =
    """WITH h AS (
      |  SELECT user_id, event_id, event_type, ts,
      |         md5(COALESCE(event_type,'')) AS record_hash,
      |         LEAD(md5(COALESCE(event_type,''))) OVER w AS next_hash
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |)
      |SELECT user_id, event_id, event_type, epoch_us(ts) AS effective_start_us
      |FROM h WHERE next_hash IS NULL
      |ORDER BY user_id""".stripMargin

  // Version-count audit (README.MD:297-303 history-scan shape): how many
  // versions each key accumulated, when the first/last started.
  private val versionStats: Q = (s, d) => {
    val v = versions(s, d)
    v.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_versions"),
        min(col("effective_start_us")).as("first_start_us"),
        max(col("effective_start_us")).as("last_start_us"),
        sum(when(col("is_current"), 1L).otherwise(0L)).as("n_current"))
      .orderBy(col("user_id"))
  }
  private val versionStatsSql =
    """WITH h AS (
      |  SELECT user_id, ts,
      |         md5(COALESCE(event_type,'')) AS record_hash,
      |         LEAD(md5(COALESCE(event_type,''))) OVER w AS next_hash
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |)
      |SELECT user_id, COUNT(*) AS n_versions,
      |       CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_start_us,
      |       CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_start_us,
      |       CAST(SUM(CASE WHEN next_hash IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_current
      |FROM h
      |WHERE next_hash IS NULL OR record_hash <> next_hash
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // Change feed under the hash gate: build a 3-commit MOR table from a
  // deterministic slice of `orders`, then emit `changesBetween(v0, v2)`
  // — inserts as 'I' rows, delete markers as 'D' rows. The oracle
  // recomputes the expected feed from pure SQL over the same base
  // table, so every piece of the feed machinery (manifest
  // set-difference, span-scoped equality-delete application, the
  // insert-then-delete-within-span fold) is value-checked, not just
  // spec-asserted. Scenario:
  //   v0 overwrite: keys with k%4 != 0           (rev 0)
  //   v1 merge:     update k%8 == 1 → rev 1; insert all k%4 == 0 (rev 0)
  //   v2 merge:     update k%16 == 8 → rev 2; delete k%16 == 2
  // Feed (0→2): inserts = k%8==1 @rev1, k%4==0 @rev0 except the
  // k%16==8 churn, which surfaces ONLY as its surviving rev-2 row;
  // deletes = k%8==1 ∪ k%16==8 ∪ k%16==2. Scale shape: the feed itself
  // is a driver-side manifest diff + one scan of only the span's
  // files — O(changed data), never O(table).
  // The 3-commit fixture is built ONCE per (JVM, sfDir) and memoized —
  // the gate then times what's actually interesting at scale: the feed
  // READ (driver-side manifest set-difference + a scan of only the
  // span's files, O(changed data)), not 3 commits of write
  // amplification. The path carries a per-process discriminator so two
  // JVMs against the same sfDir (Verify racing Bench, parallel CI
  // forks) never clobber each other mid-commit.
  /** The shared 3-commit MOR scenario (one source of truth for the
    * change-feed, compaction, and join-view fixtures — their oracles
    * all replay this CASE algebra):
    *   v0 overwrite: keys with k%4 != 0            (rev 0)
    *   v1 merge:     update k%8 == 1 → rev 1; insert all k%4 == 0
    *   v2 merge:     update k%16 == 8 → rev 2; delete k%16 == 2
    * `base` must carry `o_orderkey`; other columns pass through.
    * Returns the last committed version. */
  private def morScenario(t: VersionedTable, base: DataFrame): Int = {
    val k = col("o_orderkey")
    // single-file commits: each write here is a dim-sized delta, and a
    // real writer coalesces those (small-file avoidance)
    def one(df: DataFrame) = df.coalesce(1)
    t.overwrite(one(base.filter(k % 4 =!= 0).withColumn("rev", lit(0L))))
    t.mergeDeltas(
      one(base.filter(k % 8 === 1).withColumn("rev", lit(1L))
        .unionByName(base.filter(k % 4 === 0).withColumn("rev", lit(0L)))),
      one(base.filter(k % 8 === 1).select(k)), Seq(""))
    t.mergeDeltas(
      one(base.filter(k % 16 === 8).withColumn("rev", lit(2L))),
      one(base.filter(k % 16 === 8 || k % 16 === 2).select(k)), Seq(""))
  }

  private val feedFixtures = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def changefeedTable(s: SparkSession, d: String): VersionedTable = {
    val root = feedFixtures.computeIfAbsent(d, _ => {
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-changefeed-${Integer.toHexString(d.hashCode)}-p${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(dir.getPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir.getPath), true)
      // deterministic 1/3 universe: the gate exercises every feed path
      // identically at any volume
      val base = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .filter(col("o_orderkey") % 3 === 0)
      val t = new VersionedTable(s, dir.getPath)
      morScenario(t, base)
      dir.getPath
    })
    new VersionedTable(s, root)
  }
  private val changefeed: Q = (s, d) => {
    import s.implicits._
    val t = changefeedTable(s, d)
    val k = col("o_orderkey")
    val (ins, dels) = t.changesBetween(0, 2)
    ins.select(lit("I").as("change"), k, col("o_custkey"), col("rev"))
      .unionByName(dels.get.select(lit("D").as("change"), k,
        lit(null).cast("long").as("o_custkey"),
        lit(null).cast("long").as("rev")))
      .orderBy(col("change"), k)
  }
  private val changefeedSql =
    """WITH base AS (SELECT o_orderkey, o_custkey FROM orders
      |             WHERE o_orderkey % 3 = 0),
      |ins AS (
      |  SELECT 'I' AS change, o_orderkey, o_custkey,
      |    CAST(CASE WHEN o_orderkey % 16 = 8 THEN 2
      |              WHEN o_orderkey % 8 = 1 THEN 1
      |              ELSE 0 END AS BIGINT) AS rev
      |  FROM base
      |  WHERE o_orderkey % 4 = 0 OR o_orderkey % 8 = 1),
      |del AS (
      |  SELECT 'D' AS change, o_orderkey,
      |    CAST(NULL AS BIGINT) AS o_custkey, CAST(NULL AS BIGINT) AS rev
      |  FROM base
      |  WHERE o_orderkey % 8 = 1 OR o_orderkey % 16 = 8 OR o_orderkey % 16 = 2)
      |SELECT * FROM ins UNION ALL SELECT * FROM del
      |ORDER BY change, o_orderkey""".stripMargin

  // 2-PHASE MERGE under the hash gate (J1/J2 DIRECTLY): a scripted
  // c→u→d scenario through the PRODUCTION path — processBatch →
  // applyBatch on a bucketed VersionedTable, bootstrap commit then a
  // merge commit — whose post-merge table the oracle recomputes in
  // pure SQL. Until now the delete-merge/close-old core
  // (`scd2_spark_processor.py:438-483`) was pinned by Scd2Spec goldens
  // and gated only transitively through table state; this gate
  // value-checks every row the two MERGEs produce. Scenario over the
  // deterministic 1/3 orders universe (k = o_orderkey, k % 3 = 0):
  //   batch 1 @t0: op 'c' for every k            (bootstrap, all current)
  //   batch 2 @t1: k%4==1 → 'u' changed price    (close old, new version)
  //                k%4==2 → 'u' IDENTICAL attrs  (§7.4.4 quirk: the
  //                         reference never consults the stored hash,
  //                         so a cross-batch no-op still opens a
  //                         spurious version — pinned, not papered over)
  //                k%4==3 → 'd'                  (close in place, flag
  //                         deleted, hash unchanged)
  //                k%4==0 → 'd' for id -k-1      (strictly negative =
  //                         unseen key, k=0 exists: silent no-op,
  //                         WHEN MATCHED only, §7.4.6)
  // record_hash parity matters here: both engines md5 the pipe-joined
  // PRE-CAST string forms (price hashed as its string, cast to double
  // after — §7.4.2), so the oracle recomputes the exact hashes.
  private def mergeOpsEnvelope(keys: DataFrame, op: String, idExpr: Column,
      priceExpr: Column, ts: String, lsnOff: Long): DataFrame = {
    val name = concat(lit("P"), idExpr.cast("string"))
    val cat = concat(lit("C"), (idExpr % 5).cast("string"))
    val qty = idExpr % 7
    keys.select(
      lit(op).as("op"),
      lit(ts).cast("timestamp").as("event_timestamp"),
      (col("k") + lit(lsnOff)).as("lsn"),
      idExpr.as("after_id"), name.as("after_product_name"),
      cat.as("after_category"), priceExpr.cast("string").as("after_price"),
      qty.as("after_quantity"), idExpr.as("after_sale_date"),
      (idExpr * 2).as("after_created_at"),
      idExpr.as("before_id"), name.as("before_product_name"),
      cat.as("before_category"), priceExpr.cast("string").as("before_price"),
      qty.as("before_quantity"), idExpr.as("before_sale_date"),
      (idExpr * 2).as("before_created_at"))
  }
  private val mergeOpsFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def mergeOpsTable(s: SparkSession, d: String): VersionedTable = {
    val root = mergeOpsFixtures.computeIfAbsent(d, _ => {
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-mergeops-${Integer.toHexString(d.hashCode)}-p${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(dir.getPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir.getPath), true)
      val keys = Tables.orders(s, d).select(col("o_orderkey").as("k"))
        .filter(col("k") % 3 === 0)
      val k = col("k")
      val p1 = k % 97
      val p2 = k % 97 + 1
      val t0 = "2024-01-01 00:00:00"
      val t1 = "2024-01-02 00:00:00"
      val batch1 = mergeOpsEnvelope(keys, "c", k, p1, t0, 0L)
      val batch2 = mergeOpsEnvelope(keys.filter(k % 4 === 1), "u", k, p2, t1, 1000000000L)
        .unionByName(mergeOpsEnvelope(keys.filter(k % 4 === 2), "u", k, p1, t1, 1000000000L))
        .unionByName(mergeOpsEnvelope(keys.filter(k % 4 === 3), "d", k, p1, t1, 1000000000L))
        .unionByName(mergeOpsEnvelope(keys.filter(k % 4 === 0), "d", -k - 1, p1, t1, 1000000000L))
      // production shape: id-bucketed table, single-file delta commits
      val t = new VersionedTable(s, dir.getPath, Partitioning.BucketBy("id", 4))
      Scd2Processor.applyBatch(t, Scd2Processor.processBatch(batch1.coalesce(1)), Nil)
      Scd2Processor.applyBatch(t, Scd2Processor.processBatch(batch2.coalesce(1)),
        Scd2Processor.touchedBuckets(t, batch2))
      dir.getPath
    })
    new VersionedTable(s, root, Partitioning.BucketBy("id", 4))
  }
  private val mergeOps: Q = (s, d) => {
    mergeOpsTable(s, d).read()
      .select(col("id"), col("product_name"), col("category"), col("price"),
        col("quantity"), col("sale_date"), col("created_at"),
        unix_micros(col("effective_start_ts")).as("start_us"),
        unix_micros(col("effective_end_ts")).as("end_us"),
        col("is_current"), col("record_hash"), col("is_deleted"))
      .orderBy(col("id"), col("start_us"))
  }
  private val mergeOpsSql =
    """WITH a AS (
      |  SELECT o_orderkey AS k,
      |    'P' || CAST(o_orderkey AS VARCHAR) AS product_name,
      |    'C' || CAST(o_orderkey % 5 AS VARCHAR) AS category,
      |    CAST(o_orderkey % 97 AS VARCHAR) AS p1,
      |    CAST(o_orderkey % 97 + 1 AS VARCHAR) AS p2,
      |    o_orderkey % 7 AS quantity, o_orderkey AS sale_date,
      |    o_orderkey * 2 AS created_at
      |  FROM orders WHERE o_orderkey % 3 = 0),
      |h AS (
      |  SELECT *,
      |    md5(concat_ws('|', product_name, category, p1,
      |                  CAST(quantity AS VARCHAR))) AS h1,
      |    md5(concat_ws('|', product_name, category, p2,
      |                  CAST(quantity AS VARCHAR))) AS h2
      |  FROM a),
      |v1 AS (
      |  SELECT k AS id, product_name, category,
      |    CAST(k % 97 AS DOUBLE) AS price, quantity, sale_date, created_at,
      |    CAST(1704067200000000 AS BIGINT) AS start_us,
      |    CASE WHEN k % 4 = 0 THEN CAST(NULL AS BIGINT)
      |         ELSE CAST(1704153600000000 AS BIGINT) END AS end_us,
      |    (k % 4 = 0) AS is_current, h1 AS record_hash,
      |    (k % 4 = 3) AS is_deleted
      |  FROM h),
      |v2 AS (
      |  SELECT k AS id, product_name, category,
      |    CAST(CASE WHEN k % 4 = 1 THEN k % 97 + 1 ELSE k % 97 END AS DOUBLE) AS price,
      |    quantity, sale_date, created_at,
      |    CAST(1704153600000000 AS BIGINT) AS start_us,
      |    CAST(NULL AS BIGINT) AS end_us,
      |    TRUE AS is_current,
      |    CASE WHEN k % 4 = 1 THEN h2 ELSE h1 END AS record_hash,
      |    FALSE AS is_deleted
      |  FROM h WHERE k % 4 IN (1, 2))
      |SELECT * FROM v1 UNION ALL SELECT * FROM v2
      |ORDER BY id, start_us""".stripMargin

  // INCREMENTAL JOIN VIEW under the hash gate: two versioned sources
  // take independent MOR commits — the fact side replays the
  // change-feed scenario (update/insert/delete across 3 commits), the
  // dim side updates a deterministic key slice — and
  // [[JoinViewMaintainer]] drains both feeds into a gold view. The
  // oracle recomputes the FINAL fact ⋈ dim join in pure SQL (the same
  // CASE algebra as scd2_changefeed, plus the dim's update), so every
  // piece of the maintainer — retraction by key, as-of joins against
  // the other side's applied version, the two-source tag protocol —
  // is value-checked end-to-end, not just spec-asserted. Scale shape:
  // each drain step reads O(span) changed rows; the gate reads the
  // maintained view, never re-joins the sources.
  private val joinViewFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def joinViewGold(s: SparkSession, d: String): VersionedTable = {
    val goldRoot = joinViewFixtures.computeIfAbsent(d, _ => {
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-joinview-${Integer.toHexString(d.hashCode)}-p${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(root.getPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root.getPath), true)
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey").as("custkey"))
        .filter(col("o_orderkey") % 3 === 0)
      val dims = Tables.customer(s, d)
        .select(col("c_custkey").as("custkey"), col("c_mktsegment").as("seg"))
      val a = new VersionedTable(s, s"$root/a")
      val b = new VersionedTable(s, s"$root/b")
      val gold = new VersionedTable(s, s"$root/gold")
      def one(df: DataFrame) = df.coalesce(1)
      // fact: the shared change-feed scenario
      morScenario(a, base)
      // dim: one update span re-segmenting custkey % 7 == 3
      b.overwrite(one(dims))
      b.mergeDeltas(
        one(dims.filter(col("custkey") % 7 === 3)
          .withColumn("seg", lit("MOVED"))),
        one(dims.filter(col("custkey") % 7 === 3).select(col("custkey"))),
        Seq(""))
      JoinViewMaintainer.drain(s, a, b, gold, JoinViewMaintainer.Config(
        consumer = "gate", joinCol = "custkey",
        aKey = "o_orderkey", bKey = "custkey"))
      s"$root/gold"
    })
    new VersionedTable(s, goldRoot)
  }
  private val joinView: Q = (s, d) => {
    import s.implicits._
    joinViewGold(s, d).read()
      .groupBy($"seg")
      .agg(count(lit(1)).as("n"),
        sum($"o_orderkey").as("sum_key"),
        sum($"rev").as("sum_rev"))
      .orderBy($"seg")
  }
  private val joinViewSql =
    """WITH a AS (
      |  SELECT o_orderkey, o_custkey AS custkey,
      |    CAST(CASE WHEN o_orderkey % 16 = 8 THEN 2
      |              WHEN o_orderkey % 8 = 1 THEN 1
      |              ELSE 0 END AS BIGINT) AS rev
      |  FROM orders
      |  WHERE o_orderkey % 3 = 0 AND o_orderkey % 16 <> 2),
      |b AS (
      |  SELECT c_custkey AS custkey,
      |    CASE WHEN c_custkey % 7 = 3 THEN 'MOVED' ELSE c_mktsegment END AS seg
      |  FROM customer)
      |SELECT seg, COUNT(*) AS n,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
      |  CAST(SUM(rev) AS BIGINT) AS sum_rev
      |FROM a JOIN b ON a.custkey = b.custkey
      |GROUP BY seg ORDER BY seg""".stripMargin

  // MOR COMPACTION under the hash gate: the same 3-commit
  // equality-delete scenario as the change feed (own table instance),
  // then [[VersionedTable.compact]] folds the accumulated delete
  // files into plain data files. The gate checks as DATA that
  // (a) compaction is content-preserving — the aggregate of the
  // compacted table equals the oracle's pure-SQL replay of the
  // final MOR state (base minus the k%16=2 deletions, rev per the
  // commit that last wrote each key), and (b) the layout invariants —
  // the pre-compaction manifest really carried delete entries, the
  // compacted one carries none, and the file count hit the target.
  // All three verdicts are deterministic (manifest facts, not
  // probabilistic bounds). Scale shape: compaction is the read path
  // (delete application) + one clustered write; the gate times the
  // fold itself.
  // value = (table root, version of the LAST fixture commit) — the
  // pre-compaction manifest is pinned at build time, not re-derived
  // from the head (compaction itself advances the head, and the gate
  // must stay idempotent across re-runs)
  private val compactionFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Int)]()
  private def compactionTable(s: SparkSession, d: String): (VersionedTable, Int) = {
    val (root, preV) = compactionFixtures.computeIfAbsent(d, _ => {
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-compaction-${Integer.toHexString(d.hashCode)}-p${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(dir.getPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir.getPath), true)
      val base = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .filter(col("o_orderkey") % 3 === 0)
      val t = new VersionedTable(s, dir.getPath)
      val preV = morScenario(t, base)
      (dir.getPath, preV)
    })
    (new VersionedTable(s, root), preV)
  }
  private val compaction: Q = (s, d) => {
    import s.implicits._
    val (t, preV) = compactionTable(s, d)
    // the pinned pre-compaction manifest keeps its delete entries no
    // matter how often the gate re-runs the compaction (each re-run
    // advances the head, so the head is NOT the pre-state)
    val deltasBefore = t.manifestDetail(preV).count(_._3 == "x")
    val vc = t.compact(targetFileCount = 2)
    val after = t.manifestDetail(vc)
    t.read()
      .agg(count(lit(1)).as("n_rows"),
        sum($"o_orderkey").as("sum_key"),
        sum($"o_custkey").as("sum_custkey"),
        sum($"rev").as("sum_rev"))
      .select($"n_rows", $"sum_key", $"sum_custkey", $"sum_rev",
        lit(deltasBefore > 0).as("had_deltas"),
        lit(after.count(_._3 == "x") == 0).as("deltas_folded"),
        lit(after.size <= 2).as("compacted"))
  }
  private val compactionSql =
    """WITH base AS (SELECT o_orderkey, o_custkey FROM orders
      |             WHERE o_orderkey % 3 = 0),
      |fin AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(CASE WHEN o_orderkey % 16 = 8 THEN 2
      |              WHEN o_orderkey % 8 = 1 THEN 1
      |              ELSE 0 END AS BIGINT) AS rev
      |  FROM base WHERE o_orderkey % 16 <> 2)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
      |  CAST(SUM(o_custkey) AS BIGINT) AS sum_custkey,
      |  CAST(SUM(rev) AS BIGINT) AS sum_rev,
      |  TRUE AS had_deltas, TRUE AS deltas_folded, TRUE AS compacted
      |FROM fin""".stripMargin

  // OPTIMIZE under the hash gate (the r6 layout-rewrite machinery,
  // [[VersionedTable.optimize]]): build a table from ROUND-ROBIN
  // shuffled orders rows — every file's zone spans the whole key
  // domain, so range reads prune nothing — then OPTIMIZE it
  // range-clustered on o_orderkey into exactly 8 files and read a
  // narrow key range. The gate checks as DATA: (a) the range read
  // returns exactly the base table's rows in that range (the layout
  // rewrite preserved the data), (b) the whole table survived
  // (n_total), and (c) the layout invariants — 8 files total, a point
  // probe reads EXACTLY 1 of them (disjoint zones mean a single key
  // touches one file no matter where range sampling placed the
  // boundaries), and the 5%-of-domain range reads at most 2 (it can
  // straddle one boundary). Range thresholds are integer arithmetic
  // on MAX(o_orderkey) so both engines compute identical bounds.
  // Fixture memoized per (JVM, sfDir) with a pid discriminator, like
  // the change-feed gate: the timed region is the driver-side
  // zone-map pruning + the pruned scan, not the rewrite itself.
  private val optimizeFixtures = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def optimizedTable(s: SparkSession, d: String): VersionedTable = {
    val root = optimizeFixtures.computeIfAbsent(d, _ => {
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-optimize-${Integer.toHexString(d.hashCode)}-p${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(dir.getPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir.getPath), true)
      val base = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val t = new VersionedTable(s, dir.getPath)
      t.overwrite(base.repartition(8))          // v0: shuffled — zones useless
      t.optimize(Seq("o_orderkey"), nFiles = 8) // v1: clustered — zones disjoint
      dir.getPath
    })
    new VersionedTable(s, root)
  }
  private val optimizeQ: Q = (s, d) => {
    import s.implicits._
    val t = optimizedTable(s, d)
    val maxK = Tables.orders(s, d).agg(max($"o_orderkey")).head.getLong(0)
    val minK = Tables.orders(s, d).agg(min($"o_orderkey")).head.getLong(0)
    val lo = maxK * 30 / 100; val hi = maxK * 35 / 100
    val (rangeFiles, total) = t.zonePrunedFileCount("o_orderkey", lo, hi)
    val (pointFiles, _) = t.zonePrunedFileCount("o_orderkey", minK, minK)
    t.readRange("o_orderkey", lo, hi)
      .agg(count(lit(1)).as("n_rows"), sum($"o_custkey").as("sum_custkey"))
      .crossJoin(t.read().agg(count(lit(1)).as("n_total")))
      .select($"n_rows", $"sum_custkey", $"n_total",
        lit(total).as("files_total"),
        lit(pointFiles).as("point_files_read"),
        lit(rangeFiles <= 2).as("range_pruned"))
  }
  // ------------------------------------------------------ zorder gate
  /** Z-ORDER under the oracle gate — the scd2_optimize pattern applied
    * to the multi-column curve: a shuffled 2-column table is
    * Z-ORDERed once per (JVM, sfDir), then narrow range probes on
    * EACH column run through [[VersionedTable.readRange]]; the oracle
    * recomputes the row answers in pure SQL and pins the two pruning
    * verdicts as data (≤ F/2 files touched per single-column probe —
    * linear clustering would read ALL files for the trailing column).
    * The curve layout is deterministic (range partitioner bounds on
    * identical input), so the verdicts are stable across runs. */
  private val zorderFixtures = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def zorderTable(s: SparkSession, d: String): VersionedTable = {
    val root = zorderFixtures.computeIfAbsent(d, _ => {
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-zorder-${Integer.toHexString(d.hashCode)}-p${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(dir.getPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir.getPath), true)
      val base = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val t = new VersionedTable(s, dir.getPath)
      t.overwrite(base.repartition(8))                          // shuffled
      t.optimizeZOrder(Seq("o_orderkey", "o_custkey"), nFiles = 16)
      dir.getPath
    })
    new VersionedTable(s, root)
  }
  private val zorderQ: Q = (s, d) => {
    import s.implicits._
    val t = zorderTable(s, d)
    val maxK = Tables.orders(s, d).agg(max($"o_orderkey")).head.getLong(0)
    val maxC = Tables.orders(s, d).agg(max($"o_custkey")).head.getLong(0)
    val (loA, hiA) = (maxK * 30 / 100, maxK * 33 / 100)
    val (loB, hiB) = (maxC * 30 / 100, maxC * 33 / 100)
    val (keptA, total) = t.zonePrunedFileCount("o_orderkey", loA, hiA)
    val (keptB, _) = t.zonePrunedFileCount("o_custkey", loB, hiB)
    t.readRange("o_orderkey", loA, hiA)
      .agg(count(lit(1)).as("n_a"), sum($"o_custkey").as("sum_a"))
      .crossJoin(t.readRange("o_custkey", loB, hiB)
        .agg(count(lit(1)).as("n_b"), sum($"o_orderkey").as("sum_b")))
      .select($"n_a", $"sum_a", $"n_b", $"sum_b",
        lit(total).as("files_total"),
        lit(keptA * 2 <= total).as("pruned_a"),
        lit(keptB * 2 <= total).as("pruned_b"))
  }
  private val zorderSql =
    """WITH b AS (SELECT (MAX(o_orderkey) * 30) // 100 AS loa,
      |                  (MAX(o_orderkey) * 33) // 100 AS hia,
      |                  (MAX(o_custkey) * 30) // 100 AS lob,
      |                  (MAX(o_custkey) * 33) // 100 AS hib FROM orders),
      |pa AS (SELECT COUNT(*) AS n_a, CAST(SUM(o_custkey) AS BIGINT) AS sum_a
      |       FROM orders, b WHERE o_orderkey BETWEEN b.loa AND b.hia),
      |pb AS (SELECT COUNT(*) AS n_b, CAST(SUM(o_orderkey) AS BIGINT) AS sum_b
      |       FROM orders, b WHERE o_custkey BETWEEN b.lob AND b.hib)
      |SELECT n_a, sum_a, n_b, sum_b,
      |       CAST(16 AS INTEGER) AS files_total,
      |       TRUE AS pruned_a, TRUE AS pruned_b
      |FROM pa, pb""".stripMargin

  private val optimizeSql =
    """WITH b AS (SELECT (MAX(o_orderkey) * 30) // 100 AS lo,
      |                  (MAX(o_orderkey) * 35) // 100 AS hi FROM orders)
      |SELECT COUNT(*) AS n_rows,
      |       CAST(SUM(o_custkey) AS BIGINT) AS sum_custkey,
      |       (SELECT COUNT(*) FROM orders) AS n_total,
      |       CAST(8 AS INTEGER) AS files_total,
      |       CAST(1 AS INTEGER) AS point_files_read,
      |       TRUE AS range_pruned
      |FROM orders, b
      |WHERE o_orderkey BETWEEN b.lo AND b.hi""".stripMargin

  // --------------------------------------------------- retention gate
  /** DATE-PARTITIONED RETENTION under the oracle gate (D10, previously
    * spec-only in TableSpecSpec): a memoized fixture builds a
    * day-partitioned copy of events (raw nanos → ms, UTC epoch days)
    * and enforces a 10-day retention at nowMs = max event ms — a
    * cutoff derived from the data, so both engines compute the
    * identical integer bound. The gate reads the RETAINED table,
    * rolls it up per epoch day, and carries the two layout invariants
    * as data, recomputed each run from the v0/v1 manifests (metadata,
    * no data I/O): every pre-cutoff-day partition is GONE from the
    * manifest, and every surviving non-boundary partition carries its
    * v0 files BY REFERENCE (metadata-only drop — the O(expired
    * partitions) shape that holds at 100 TB; only the single boundary
    * day is rewritten row-filtered). */
  private val RetentionDays = 10L
  private val retentionFixtures = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def retentionTable(s: SparkSession, d: String): VersionedTable = {
    val root = retentionFixtures.computeIfAbsent(d, _ => {
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-retention-${Integer.toHexString(d.hashCode)}-p${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(dir.getPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir.getPath), true)
      val base = Tables.events(s, d) // µs NTZ rebuilt from either raw shape
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) div 1000").as("ms"))
        .withColumn("d", expr("to_date(from_unixtime(ms div 1000))"))
      val t = new VersionedTable(s, dir.getPath,
        Partitioning.ByColumn("d"))
      t.overwrite(base)
      val nowMs = base.agg(max(col("ms"))).head.getLong(0)
      graft.tables.Retention.enforceDatePartitioned(t,
        graft.tables.RetentionSpec("ms", RetentionDays.toInt), nowMs)
      dir.getPath
    })
    new VersionedTable(s, root)
  }
  private val retentionQ: Q = (s, d) => {
    val t = retentionTable(s, d)
    // layout invariants from the two manifests — driver-side metadata,
    // bounded by partition/file counts
    val v0 = t.manifestFiles(0).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val v1 = t.manifestFiles(1).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val boundaryDay = {
      val nowMs = Tables.events(s, d)
        .agg(max(expr("unix_micros(cast(ts as timestamp)) div 1000")))
        .head.getLong(0)
      java.time.Instant.ofEpochMilli(nowMs - RetentionDays * 86400000L)
        .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
    }
    val expiredDropped = v1.keySet.forall(p => p >= boundaryDay)
    val carried = v1.forall { case (p, files) =>
      p == boundaryDay || v0.get(p).exists(files.subsetOf) }
    t.read()
      .groupBy(expr("ms div 86400000").as("day_num"))
      .agg(count(lit(1)).as("n_events"), sum(col("user_id")).as("sum_user"))
      .select(col("day_num"), col("n_events"), col("sum_user"),
        lit(expiredDropped).as("expired_dropped"),
        lit(carried).as("carried_by_reference"))
      .orderBy(col("day_num"))
  }
  private val retentionSql =
    """WITH e AS (
      |  SELECT epoch_us(ts) // 1000 AS ms, user_id FROM events),
      |c AS (SELECT MAX(ms) - 10 * 86400000 AS cutoff FROM e)
      |SELECT ms // 86400000 AS day_num, COUNT(*) AS n_events,
      |  CAST(SUM(user_id) AS BIGINT) AS sum_user,
      |  TRUE AS expired_dropped, TRUE AS carried_by_reference
      |FROM e, c WHERE ms >= cutoff
      |GROUP BY 1 ORDER BY day_num""".stripMargin

  // ------------------------------------------------------ branch gate
  /** NAMED BRANCHES under the oracle gate (D8, previously spec-only
    * in BranchSpec): the three observable ref states of the
    * branch-validate-merge flow as data. Two memoized fixture tables
    * run the same scenario — `pre` stops before the merge (main pinned
    * at the branch point, `exp` one commit ahead), `post` completes
    * the fast-forward — and the gate unions three labeled reads:
    * main@pre (ISOLATION — the branch commit is invisible to trunk),
    * exp@pre (the branch serves its own commit), main@post (the merge
    * moved the trunk ref to the branch head). Branch content is a
    * deterministic CASE algebra over orders (update the %12 slice,
    * insert the %15 slice), so the oracle recomputes all three states
    * in pure SQL. Branching itself is O(1) ref metadata — the timed
    * region is three manifest-resolved reads, no data is copied. */
  private val branchFixtures = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def branchContent(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val o = Tables.orders(s, d)
    val base = o.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_custkey"))
    val bc = o.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"),
        (col("o_custkey") + when(col("o_orderkey") % 12 === 0, 1000L)
          .otherwise(0L)).as("o_custkey"))
      .unionByName(o.filter(col("o_orderkey") % 15 === 1)
        .select(col("o_orderkey"), col("o_custkey")))
    (base, bc)
  }
  private def branchTables(s: SparkSession, d: String): (VersionedTable, VersionedTable) = {
    val root = branchFixtures.computeIfAbsent(d, _ => {
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-branch-${Integer.toHexString(d.hashCode)}-p${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(dir.getPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir.getPath), true)
      val (base, bc) = branchContent(s, d)
      def scenario(path: String, merge: Boolean): Unit = {
        val t = new VersionedTable(s, path)
        t.overwrite(base.coalesce(1))            // v0 on main
        t.createBranch("exp")
        t.commitToBranch("exp", bc.coalesce(1))  // v1, exp only
        if (merge) t.fastForward("main", "exp")
      }
      scenario(s"$dir/pre", merge = false)
      scenario(s"$dir/post", merge = true)
      dir.getPath
    })
    (new VersionedTable(s, s"$root/pre"), new VersionedTable(s, s"$root/post"))
  }
  private val branchQ: Q = (s, d) => {
    val (pre, post) = branchTables(s, d)
    def tag(df: DataFrame, st: String) =
      df.select(lit(st).as("state"), col("o_orderkey"), col("o_custkey"))
    tag(pre.read(), "main_pre")
      .unionByName(tag(pre.readBranch("exp"), "branch"))
      .unionByName(tag(post.read(), "main_post"))
      .orderBy(col("state"), col("o_orderkey"))
  }
  private val branchSql =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 3 = 0),
      |bc AS (
      |  SELECT o_orderkey,
      |    o_custkey + CASE WHEN o_orderkey % 12 = 0 THEN 1000 ELSE 0 END
      |      AS o_custkey
      |  FROM base
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 15 = 1)
      |SELECT 'main_pre' AS state, o_orderkey, o_custkey FROM base
      |UNION ALL SELECT 'branch', o_orderkey, o_custkey FROM bc
      |UNION ALL SELECT 'main_post', o_orderkey, o_custkey FROM bc
      |ORDER BY state, o_orderkey""".stripMargin

  // ------------------------------------------------- time-travel gate
  /** VERSION TIME TRAVEL under the oracle gate (D7, previously
    * spec-only + shape-checked via `rel_asof_state`): reads the SAME
    * 3-commit MOR fixture as `scd2_changefeed` at each of its three
    * versions and rolls every snapshot up to (n_rows, sum_custkey,
    * sum_rev). The commit algebra is deterministic CASE arithmetic on
    * `orders` (see [[morScenario]]), so the oracle replays all three
    * historical states in pure SQL — every equality-delete and
    * carried-forward file in every PAST manifest is value-checked,
    * not just the head. Fixture is memoized per (JVM, sfDir); the
    * timed region is three manifest-resolved reads. Reference analog:
    * Iceberg `VERSION AS OF` over the SCD2 table
    * (`libs/scd2_spark_processor.py:135-158`'s snapshot history). */
  private val timeTravelQ: Q = (s, d) => {
    val t = changefeedTable(s, d)
    def snap(v: Int) = t.readVersion(v)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_custkey")).as("sum_custkey"),
        sum(col("rev")).as("sum_rev"))
      .select(lit(v).as("version"), col("n_rows"), col("sum_custkey"),
        col("sum_rev"))
    snap(0).unionByName(snap(1)).unionByName(snap(2))
      .orderBy(col("version"))
  }
  private val timeTravelSql =
    """WITH base AS (SELECT o_orderkey AS k, o_custkey FROM orders
      |              WHERE o_orderkey % 3 = 0),
      |v0 AS (SELECT o_custkey, 0 AS rev FROM base WHERE k % 4 <> 0),
      |v1 AS (SELECT o_custkey,
      |         CASE WHEN k % 8 = 1 THEN 1 ELSE 0 END AS rev FROM base),
      |v2 AS (SELECT o_custkey,
      |         CASE WHEN k % 16 = 8 THEN 2
      |              WHEN k % 8 = 1 THEN 1 ELSE 0 END AS rev
      |       FROM base WHERE k % 16 <> 2)
      |SELECT CAST(0 AS INTEGER) AS version, COUNT(*) AS n_rows,
      |  CAST(SUM(o_custkey) AS BIGINT) AS sum_custkey,
      |  CAST(SUM(rev) AS BIGINT) AS sum_rev FROM v0
      |UNION ALL SELECT 1, COUNT(*), CAST(SUM(o_custkey) AS BIGINT),
      |  CAST(SUM(rev) AS BIGINT) FROM v1
      |UNION ALL SELECT 2, COUNT(*), CAST(SUM(o_custkey) AS BIGINT),
      |  CAST(SUM(rev) AS BIGINT) FROM v2
      |ORDER BY version""".stripMargin

  // ------------------------------------------- schema-evolution gate
  /** SCHEMA EVOLUTION under the oracle gate (S8's `mergeSchema`
    * append, previously spec-only in Scd2Spec/TableSpecSpec): v0
    * writes the %3==0 orders slice as (o_orderkey, o_custkey); v1
    * appends the %3==1 slice carrying a NEW `qscore` column with
    * `mergeSchema = true`. The evolved read must null-fill qscore for
    * every v0 file (schema applied from the manifest — the files
    * themselves are never rewritten, so the append stays O(new
    * rows)). The gate rolls the evolved table up per slice:
    * slice 0 must count ZERO non-null qscores and a NULL sum — the
    * null-filling semantic as data — while slice 1 carries the exact
    * qscore arithmetic. Oracle replays both slices in pure SQL.
    * Reference analog: Iceberg schema evolution on the versioned
    * table (`write.spark.accept-any-schema` family). */
  private val evolveFixtures = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def evolvedTable(s: SparkSession, d: String): VersionedTable = {
    val root = evolveFixtures.computeIfAbsent(d, _ => {
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-evolve-${Integer.toHexString(d.hashCode)}-p${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(dir.getPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir.getPath), true)
      val o = Tables.orders(s, d)
      val t = new VersionedTable(s, dir.getPath)
      t.overwrite(o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey")).coalesce(1))
      t.append(o.filter(col("o_orderkey") % 3 === 1)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_orderkey") % 5).as("qscore")).coalesce(1),
        mergeSchema = true)
      dir.getPath
    })
    new VersionedTable(s, root)
  }
  private val evolveQ: Q = (s, d) => {
    evolvedTable(s, d).read()
      .groupBy((col("o_orderkey") % 3).as("slice"))
      .agg(count(lit(1)).as("n_rows"), count(col("qscore")).as("n_scored"),
        sum(col("qscore")).as("sum_score"))
      .orderBy(col("slice"))
  }
  private val evolveSql =
    """WITH v AS (
      |  SELECT o_orderkey, CAST(NULL AS BIGINT) AS qscore FROM orders
      |  WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderkey % 5 FROM orders
      |  WHERE o_orderkey % 3 = 1)
      |SELECT o_orderkey % 3 AS slice, COUNT(*) AS n_rows,
      |  COUNT(qscore) AS n_scored, CAST(SUM(qscore) AS BIGINT) AS sum_score
      |FROM v GROUP BY 1 ORDER BY slice""".stripMargin

  val queries: Map[String, Q] = Map(
    "scd2_versions" -> versions,
    "scd2_current" -> current,
    "scd2_version_stats" -> versionStats,
    "scd2_changefeed" -> changefeed,
    "scd2_merge_ops" -> mergeOps,
    "scd2_optimize" -> optimizeQ,
    "scd2_compaction" -> compaction,
    "scd2_join_view" -> joinView,
    "scd2_branch" -> branchQ,
    "scd2_retention" -> retentionQ,
    "scd2_zorder" -> zorderQ,
    "scd2_time_travel" -> timeTravelQ,
    "scd2_schema_evolution" -> evolveQ)

  val oracles: Map[String, String] = Map(
    "scd2_versions" -> versionsSql,
    "scd2_current" -> currentSql,
    "scd2_version_stats" -> versionStatsSql,
    "scd2_changefeed" -> changefeedSql,
    "scd2_merge_ops" -> mergeOpsSql,
    "scd2_optimize" -> optimizeSql,
    "scd2_compaction" -> compactionSql,
    "scd2_join_view" -> joinViewSql,
    "scd2_branch" -> branchSql,
    "scd2_retention" -> retentionSql,
    "scd2_zorder" -> zorderSql,
    "scd2_time_travel" -> timeTravelSql,
    "scd2_schema_evolution" -> evolveSql)
}
