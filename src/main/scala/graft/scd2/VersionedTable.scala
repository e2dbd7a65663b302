package graft.scd2

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, NumericType, StructType}
import org.apache.hadoop.fs.Path
import java.nio.charset.StandardCharsets.UTF_8

/** How a [[VersionedTable]] routes rows to partitions. The partition
  * value is a STRING computed per row; commits track data files
  * per partition value, so merges can rewrite only touched partitions
  * (see [[VersionedTable.replacePartitions]]).
  *
  * [[Partitioning.BucketBy]] is the Iceberg `bucket(N, col)` transform
  * analog: deterministic hash buckets make "which partitions does this
  * batch of keys touch" computable from the batch alone — no table
  * scan — which is what keeps SCD2 merges O(changed buckets) at 100 TB.
  * [[Partitioning.ByColumn]] is the `days(ts)`-style value transform
  * (reference: `scd2_spark_processor.py` hidden partitioning).
  *
  * Values must be filesystem-safe strings (alphanumerics, `-`, `_`,
  * `.`, `:`); bucket ordinals and ISO dates qualify. The transforms
  * themselves are [[VersionedTable.partitionOf]].
  */
sealed trait Partitioning {
  /** The source column the partition value derives from (None when
    * unpartitioned). */
  def source: Option[String]
}
object Partitioning {
  case object Unpartitioned extends Partitioning { val source: Option[String] = None }
  final case class ByColumn(column: String) extends Partitioning {
    def source: Option[String] = Some(column)
  }
  final case class BucketBy(column: String, buckets: Int) extends Partitioning {
    require(buckets > 0, "buckets must be positive")
    def source: Option[String] = Some(column)
  }
}

/** Zero-dependency versioned parquet table with MANIFEST-based commits —
  * the lakehouse-shaped stand-in for the reference's Iceberg-on-Nessie
  * table (`scd2_spark_processor.py:135-159`; no Delta/Iceberg runtime
  * ships in this environment).
  *
  * Layout:
  * {{{
  *   <root>/v=00007/__gp=<part>/part-*.parquet   data files of commit 7
  *   <root>/_versions/00007                      manifest (atomic rename)
  * }}}
  * A manifest lists file entries — `(kind, commitSeq, partitionValue,
  * path[, zoneCol, zoneMin, zoneMax])`, where kind is data or
  * equality-delete ([[mergeDeltas]]) and the optional zone fields are
  * per-file min/max stats of the lead clusterBy column ([[readRange]]/
  * [[readForKeys]] pruning) — plus the table schema, commit timestamp,
  * parent pointer, and optional writer metadata. A version's manifest
  * may reference files written by EARLIER commits: partition-scoped
  * commits ([[replacePartitions]], [[append]], [[mergeDeltas]]) carry
  * untouched files forward **by reference**, so a commit is O(changed
  * partitions) — or O(batch) in merge-on-read mode — not O(table):
  * the property that makes per-micro-batch SCD2 merges viable at
  * 100 TB (Iceberg's manifest-list + sequence-number mechanics,
  * minimized).
  *
  * Commit protocol: data files are fully written first, then the
  * manifest is written to `_versions/.tmp-*` and atomically renamed to
  * `_versions/<v>` — a crash at any point leaves either no new version
  * or a complete one (readers resolve the max committed manifest;
  * orphaned data dirs are invisible and reclaimed by the next writer
  * or [[vacuum]]). Metadata (e.g. a streaming batch id) rides inside
  * the manifest, so writer idempotence keys are atomic with the commit.
  *
  * Reads apply the manifest schema explicitly (`spark.read.schema`), so
  * old files null-fill columns added later ([[append]] with
  * `mergeSchema`) and no footer-merging pass is needed. The partition
  * column itself stays stored IN the data files (the directory key is a
  * derived copy), so readers see the full row without partition-path
  * reconstruction and row-group zone maps still prune on it.
  *
  * Named branches (SURVEY D8, Nessie analog) are atomic ref files over
  * the same version history — see [[createBranch]] / [[commitToBranch]]
  * / [[fastForward]]; commits record their parent so merges verify
  * fast-forwardability. Single-writer-per-ref semantics, like the
  * reference's single batch job.
  */
final class VersionedTable(spark: SparkSession, root: String,
                           partitioning: Partitioning = Partitioning.Unpartitioned,
                           /** Commit wall clock (epoch millis), recorded
                             * in each manifest for timestamp time travel
                             * ([[readAsOf]]) — injectable so specs pin
                             * deterministic histories. */
                           clock: () => Long = () => System.currentTimeMillis()) {
  import VersionedTable._

  private val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val qRoot = fs.makeQualified(new Path(root))
  private def markerDir = new Path(qRoot, "_versions")
  private def refsDir = new Path(qRoot, "_refs")
  private def dataDir(v: Int) = new Path(qRoot, f"v=$v%05d")
  private def manifestPath(v: Int) = new Path(markerDir, f"$v%05d")

  /** All committed version numbers, ascending (tmp/hidden files skipped). */
  private def committedVersions(): Seq[Int] =
    if (!fs.exists(markerDir)) Nil
    else fs.listStatus(markerDir).map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toInt).sorted.toSeq

  def latestVersion: Option[Int] = {
    val vs = committedVersions()
    if (vs.isEmpty) None else Some(vs.max)
  }

  def exists: Boolean = latestVersion.isDefined

  /** The version trunk reads and writes resolve against: the `main`
    * ref once branching is in use, else the newest committed version
    * (ref-less tables behave exactly as before branches existed).
    *
    * Fail-safe: when OTHER refs exist but `main` cannot be resolved
    * (ref file AND its backup lost — outside any crash window [[setRef]]
    * can produce), this throws instead of falling back to
    * [[latestVersion]], which may be a BRANCH commit — trunk reads must
    * never silently serve branch data. */
  def currentHead: Option[Int] = refHead(MainBranch).orElse {
    if (branches.exists(_._1 != MainBranch))
      throw new IllegalStateException(
        s"main ref lost at $root while branches exist — latestVersion may be " +
          "a branch commit; restore _refs/main before reading trunk")
    latestVersion
  }

  def read(): DataFrame = readVersion(
    currentHead.getOrElse(throw new IllegalStateException(s"empty table at $root")))

  /** Time travel: read the table as of a committed version. */
  def readVersion(v: Int): DataFrame = {
    val m = readManifest(v)
    dfFor(m, m.entries)
  }

  /** Timestamp time travel (the reference's `FOR TIMESTAMP AS OF`,
    * README.MD:308-313): resolve the newest commit on the CURRENT
    * head's ancestry whose recorded wall clock is ≤ `tsMillis` —
    * ancestry, not the global version order, so branch commits
    * interleaved into the shared version counter can never answer a
    * trunk time-travel query. Throws if the table is younger than the
    * asked-for instant (matching Delta/Iceberg), or if the horizon was
    * vacuumed away before reaching `tsMillis`. */
  def versionAsOf(tsMillis: Long): Int = {
    var cur = Option(requireHead())
    while (cur.isDefined) {
      val v = cur.get
      if (!fs.exists(manifestPath(v)))
        throw new IllegalStateException(
          s"cannot resolve timestamp ${tsMillis} at $root: version $v was vacuumed")
      val m = readManifest(v)
      if (m.ts.getOrElse(0L) <= tsMillis) return v
      cur = m.parent
    }
    throw new IllegalStateException(
      s"no commit at or before timestamp $tsMillis at $root")
  }

  def readAsOf(tsMillis: Long): DataFrame = readVersion(versionAsOf(tsMillis))

  /** Wall clock recorded with commit `v` (None only for manifests
    * written before timestamps existed). */
  def commitTimestamp(v: Int): Option[Long] = readManifest(v).ts

  /** Manifest-pruned read of the CURRENT version: only data files of
    * the given partition values are scanned — driver-side pruning, no
    * directory listing, no footer reads for untouched partitions. */
  def readPartitions(parts: Seq[String]): DataFrame = {
    val m = readManifest(requireHead())
    val keep = parts.toSet
    dfFor(m, m.entries.filter(e => keep(e.part)))
  }

  /** Range read with zone-map file skipping: data files whose recorded
    * [min, max] for `column` (collected at write when it led clusterBy)
    * cannot intersect [lo, hi] are dropped DRIVER-SIDE — no open, no
    * footer read — then the exact predicate filters the survivors.
    * Files without stats (pre-stats commits, all-null zones,
    * equality-delete files) are always read: pruning is only ever an
    * optimization, never a correctness filter. clusterBy sorts rows
    * within files, so zones are tight and point lookups on a compacted
    * table touch one file per partition. */
  def readRange(column: String, lo: Any, hi: Any): DataFrame = {
    val m = readManifest(requireHead())
    val numeric = m.schema(column).dataType.isInstanceOf[NumericType]
    val kept = m.entries.filter(mayOverlap(_, column, lo.toString, hi.toString, numeric))
    dfFor(m, kept).filter(col(column) >= lit(lo) && col(column) <= lit(hi))
  }

  /** Key lookup (the reference's Pinot point-lookup shape,
    * `README.MD:288-295`): manifest-prunes to the buckets the keys hash
    * to, zone-skips files inside them, then exact-matches with a
    * broadcast semi join. `keys` must carry the partitioning source
    * column. O(touched buckets) I/O, O(1-ish files) on a compacted
    * bucketed-and-clustered table. */
  def readForKeys(keys: DataFrame): DataFrame = {
    val keyCol = partitioning.source.getOrElse(
      throw new IllegalArgumentException("readForKeys needs a partitioned table"))
    val m = readManifest(requireHead())
    val keep = partitionValues(keys).toSet
    val inBuckets = m.entries.filter(e => keep(e.part))
    // zone-skip within the buckets when the keys are a numeric range
    val numeric = m.schema(keyCol).dataType.isInstanceOf[NumericType]
    val pruned = if (numeric) {
      val vals = keys.select(col(keyCol).cast("string")).distinct()
        .collect().flatMap(r => Option(r.getString(0))).map(BigDecimal(_))
      if (vals.isEmpty) inBuckets
      else inBuckets.filter(
        mayOverlap(_, keyCol, vals.min.toString, vals.max.toString, numeric = true))
    } else inBuckets
    dfFor(m, pruned).join(broadcast(keys.select(keyCol).distinct()),
      Seq(keyCol), "left_semi")
  }

  /** Spec hook: (kept, total) data-file counts under zone pruning. */
  def zonePrunedFileCount(column: String, lo: Any, hi: Any): (Int, Int) = {
    val m = readManifest(requireHead())
    val datas = m.entries.filter(_.kind == "d")
    val numeric = m.schema(column).dataType.isInstanceOf[NumericType]
    (datas.count(mayOverlap(_, column, lo.toString, hi.toString, numeric)), datas.size)
  }

  private def mayOverlap(e: Entry, column: String, lo: String, hi: String,
                         numeric: Boolean): Boolean =
    e.zones.find(_._1 == column) match {
      case Some((_, zlo, zhi)) if e.kind == "d" =>
        if (numeric) BigDecimal(zhi) >= BigDecimal(lo) && BigDecimal(zlo) <= BigDecimal(hi)
        else zhi >= lo && zlo <= hi
      case _ => true // no stats for this column → must read
    }

  /** The partition value this table's [[Partitioning]] assigns to a
    * row whose source column holds `key` — the one definition of every
    * transform, shared by the write routing, [[partitionValues]] and
    * callers that fold bucket discovery into an aggregate of their own
    * (`Scd2Job.bounds`). Non-null: NULL keys map to [[NullPart]] (the
    * bucket hash of NULL is the hash seed, already non-null), so a
    * `collect_set` over it loses no partition. */
  def partitionOf(key: Column): Column = partitioning match {
    case Partitioning.Unpartitioned => lit("")
    case Partitioning.ByColumn(_) => coalesce(key.cast("string"), lit(NullPart))
    case Partitioning.BucketBy(_, n) => pmod(hash(key), lit(n)).cast("string")
  }

  private def partitionExpr: Option[Column] =
    partitioning.source.map(c => partitionOf(col(c)))

  /** Distinct partition values this table's [[Partitioning]] assigns to
    * `df`'s rows — small by construction (≤ bucket count for BucketBy,
    * ≤ days-in-feed for ByDay). The values are collected to the driver
    * because the manifest commit is a driver-side operation; that is
    * sound only while the partition-value cardinality is metadata-sized,
    * so the collect is CAPPED ([[checkPartitionCount]]) and fails fast
    * instead of silently OOMing the driver on a pathological
    * partitioning expression. */
  def partitionValues(df: DataFrame): Seq[String] = partitionExpr match {
    case None => Seq("")
    case Some(e) =>
      val vals = df.select(e.as("__p")).distinct().limit(partitionCap + 1).collect()
      checkPartitionCount(vals.length)
      vals.map(_.getString(0)).toSeq
  }

  private def partitionCap: Int = spark.conf.getOption("graft.partitionValues.max")
    .map(_.toInt).getOrElse(100000)

  /** The partition-value cap (`graft.partitionValues.max`, default
    * 100k ≈ 270 years of daily partitions): a commit touching more
    * partitions than a driver-side manifest can hold fails with the
    * offending count. Checked wherever a touched set is collected. */
  def checkPartitionCount(n: Int): Unit = {
    val cap = partitionCap
    require(n <= cap,
      s"partitioning yields more than $cap distinct values — a " +
        "driver-side manifest cannot hold this; coarsen the partition " +
        "expression or raise graft.partitionValues.max")
  }

  /** `(partitionValue, relativeDataFile)` pairs of a committed version —
    * the files metadata table (Iceberg `.files` analog); specs use it to
    * prove untouched partitions are carried forward by reference. */
  def manifestFiles(v: Int): Seq[(String, String)] =
    readManifest(v).entries.map(e => (e.part, e.relPath))

  /** Full manifest detail: (partition, relPath, kind, seq) where kind
    * is "d" (data) or "x" (equality-delete) — the MOR specs' view. */
  def manifestDetail(v: Int): Seq[(String, String, String, Int)] =
    readManifest(v).entries.map(e => (e.part, e.relPath, e.kind, e.seq))

  /** The `meta` stored with the current head's commit (None if absent). */
  def latestMeta: Option[String] = currentHead.flatMap(v => readManifest(v).meta)

  /** Commit log, newest first: (version, parent, meta, fileCount,
    * commitTimeMillis) — the Delta `DESCRIBE HISTORY` / Iceberg
    * `.history` analog, including branch commits (they share the global
    * version history). The commit time answers "which version was live
    * at 10:00" (see [[versionAsOf]]). */
  def history(): Seq[(Int, Option[Int], Option[String], Int, Option[Long])] =
    committedVersions().reverse.map { v =>
      val m = readManifest(v)
      (v, m.parent, m.meta, m.entries.size, m.ts)
    }

  /** The most recent commit meta satisfying `p`, scanning versions
    * newest-first LAZILY and stopping at the first hit — O(1) manifest
    * reads in the steady state where the wanted tag sits at or near
    * the head, vs [[history]]'s eager O(versions) materialization.
    * The recovery-tag scans (cfr / jv protocols) run on every apply
    * cycle, so their cost must not grow with the view's lifetime. */
  def findLatestMeta(p: String => Boolean): Option[String] =
    committedVersions().reverseIterator
      .flatMap(v => readManifest(v).meta)
      .collectFirst { case m if p(m) => m }

  /** Commit `df` as the next FULL snapshot; returns the new version.
    * `clusterBy` sorts within write tasks so parquet row-group min/max
    * stats become tight zone maps (Delta OPTIMIZE ZORDER's cheap
    * cousin). Partitioned tables repartition by the partition value
    * first, so each partition lands in one task → one file. */
  def overwrite(df: DataFrame, clusterBy: Seq[String] = Nil,
                meta: Option[String] = None): Int = {
    val v = nextVersion()
    val entries = writeData(df, v, clusterBy)
    commit(v, meta, df.schema, entries, parent = currentHead)
    advanceMain(v)
    v
  }

  /** Layout-maintenance commit (Delta `OPTIMIZE` + linear clustering
    * analog): rewrite the CURRENT snapshot range-clustered on
    * `clusterBy`, so per-file zone maps become tight and MUTUALLY
    * DISJOINT — range/point reads then prune to O(result) files no
    * matter how the data originally arrived (plain [[overwrite]] only
    * sorts within whatever partitions the caller handed it; zones of
    * shuffled input span the whole domain and prune nothing). Also
    * compacts: MOR equality-deletes are resolved into the rewritten
    * files (exactly Delta OPTIMIZE's behavior). The commit is tagged
    * `optimize:<cols>` so consumers can tell layout commits from data
    * commits, and it IS a rewrite — [[changesBetween]] spans crossing
    * it throw unless `ignoreRewrites`, as for any file rewrite.
    * `nFiles` bounds the rewritten file count (0 → the session's
    * shuffle parallelism). On a partitioned table the per-partition
    * routing still wins (one file per partition); optimize's range
    * clustering applies to the unpartitioned path. */
  def optimize(clusterBy: Seq[String], nFiles: Int = 0): Int = {
    require(clusterBy.nonEmpty, "optimize requires at least one cluster column")
    val head = requireHead()
    val prev = readManifest(head)
    val n = if (nFiles > 0) nFiles
      else spark.sessionState.conf.numShufflePartitions
    val clustered = read().repartitionByRange(n, clusterBy.map(col): _*)
    val v = nextVersion()
    val entries = writeData(clustered, v, clusterBy)
    commit(v, Some(s"optimize:${clusterBy.mkString(",")}"), prev.schema,
      entries, parent = Some(head))
    advanceMain(v)
    v
  }

  /** Z-ORDER layout commit (Delta `OPTIMIZE ZORDER BY` analog): rewrite
    * the current snapshot clustered on the INTERLEAVED-BIT curve over
    * `cols`, so zone maps become tight on EVERY listed column at once —
    * linear clustering ([[optimize]]) makes the lead column's zones
    * disjoint but leaves trailing columns spanning the whole domain
    * (prune nothing); the Z-curve trades a √-factor on each: with F
    * files over k=2 columns a narrow single-column probe reads ~√F
    * files on EITHER column.
    *
    * Curve construction: each column is min-max scaled to a 16-bit
    * integer grid (one tiny aggregate for the bounds), and the z-value
    * interleaves the columns' bits round-robin (bit b of column j →
    * bit b·k+j). Rows are range-partitioned and sorted by z, the
    * helper column is dropped before write (a narrow projection —
    * partition-local order survives), and zone stats are collected for
    * the NATURAL columns. Read paths need no z-awareness: pruning is
    * the same per-column [[mayOverlap]] over the manifest.
    *
    * Min-max scaling makes the curve resolution data-dependent; for
    * heavily skewed columns a rank-based grid (ntile) would equalize
    * cell populations — documented trade, not needed for the gate.
    * Restricted to unpartitioned tables: a partitioned table's files
    * are already routed by the partition value, and the per-partition
    * rewrite would destroy the curve locality. */
  def optimizeZOrder(cols: Seq[String], nFiles: Int = 0): Int = {
    require(cols.size >= 2, "zorder needs at least two columns")
    // 16 bits × k columns must fit the 64-bit z-value: k = 5 would
    // silently drop the 5th column's high bits from the interleave
    require(cols.size <= 4, s"zorder supports at most 4 columns, got ${cols.size}")
    require(partitioning == Partitioning.Unpartitioned,
      "zorder applies to unpartitioned tables; partitioned tables route by partition value")
    val head = requireHead()
    val prev = readManifest(head)
    val n = if (nFiles > 0) nFiles
      else spark.sessionState.conf.numShufflePartitions
    val snap = read()
    // per-column bounds: one scalar-row aggregate collected to the driver
    val aggCols = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c)).cast("double").as(s"lo$i"),
        max(col(c)).cast("double").as(s"hi$i"))
    }
    val bounds = snap.agg(aggCols.head, aggCols.tail: _*).head()
    val k = cols.size
    val zBits = cols.zipWithIndex.map { case (c, j) =>
      val lo = bounds.getDouble(2 * j); val hi = bounds.getDouble(2 * j + 1)
      val span = if (hi > lo) hi - lo else 1.0
      // 16-bit min-max grid; exact double ops, clamped to [0, 65535]
      val g = least(greatest(
        floor((col(c).cast("double") - lit(lo)) / lit(span) * lit(65535.0)),
        lit(0.0)), lit(65535.0)).cast("long")
      (0 until 16).map(b =>
        shiftleft(shiftright(g, b).bitwiseAND(lit(1L)), b * k + j).cast("long"))
        .reduce(_ + _)
    }.reduce(_ + _)
    // Deterministic TOP-BITS routing: file i holds exactly the rows
    // whose p-bit z-value prefix is i (p = ⌊log₂ nFiles⌋ — file count
    // is the largest power of two ≤ the ask). A custom partitioner
    // replaces the previous repartitionByRange, whose reservoir-sample
    // SEED derives from the RDD id — JVM-history-dependent, so the
    // layout (and the gate's pruning verdicts) varied run to run. The
    // prefix split also upgrades the pruning bound from a sampling
    // accident to a THEOREM: the top p bits interleave ⌈p/k⌉ bits per
    // column, so a probe spanning ≤ 2^-⌈p/k⌉ of one column's domain
    // fixes that column's prefix bits to ≤ 2 values and touches at
    // most 2·2^(p-⌈p/k⌉) = F/2^(⌈p/k⌉-1) files, for ANY data. The RDD
    // hop is confined to this rewrite job (an OPTIMIZE is already a
    // full rewrite of the optimized slice).
    val p = 63 - java.lang.Long.numberOfLeadingZeros(n.toLong)
    val buckets = 1 << p
    val shift = 16 * k - p
    val Z = "__zval"
    val withZ = snap.withColumn(Z, zBits)
    val zSchema = withZ.schema
    // logical shift, and 0 when the whole value is the prefix: with
    // k = 4 the interleave occupies bit 63, so an arithmetic `>>`
    // would sign-extend the prefix negative (crashing the partitioner),
    // and with p = 0 a shift of 64 wraps to a no-op in Java
    val routed = withZ.rdd
      .map { r =>
        val z = r.getLong(r.fieldIndex(Z))
        val prefix = if (shift >= 64) 0L else z >>> shift
        (prefix.toInt, r)
      }
      .partitionBy(new org.apache.spark.Partitioner {
        def numPartitions: Int = buckets
        def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      .map(_._2)
    val z = spark.createDataFrame(routed, zSchema)
      .sortWithinPartitions(col(Z))
      .drop(Z)
    val v = nextVersion()
    val entries = writeData(z, v, clusterBy = Nil, zoneCols = cols)
    commit(v, Some(s"zorder:${cols.mkString(",")}"), prev.schema,
      entries, parent = Some(head))
    advanceMain(v)
    v
  }

  /** Partition-scoped commit — the O(changed partitions) write path.
    * `df` must contain ONLY rows belonging to `touched` partitions
    * (verified against the written files); every other partition's data
    * files are carried into the new version by reference, untouched on
    * disk. On an [[Partitioning.Unpartitioned]] table this degenerates
    * to a full snapshot. */
  def replacePartitions(df: DataFrame, touched: Seq[String],
                        clusterBy: Seq[String] = Nil,
                        meta: Option[String] = None): Int = {
    val head = requireHead()
    val prev = readManifest(head)
    val v = nextVersion()
    val entries = writeData(df, v, clusterBy)
    val keep = touched.toSet
    val stray = entries.map(_.part).distinct.filterNot(keep)
    require(stray.isEmpty,
      s"replacePartitions: rows landed outside the touched partitions: $stray")
    val carried = prev.entries.filterNot(e => keep(e.part))
    commit(v, meta, prev.schema, carried ++ entries, parent = Some(head))
    advanceMain(v)
    v
  }

  /** Append rows (reference `writeTo(...).append()`): writes ONLY the
    * new rows' files and carries every existing file forward by
    * reference — O(new rows), not O(table).
    *
    * `mergeSchema = true` opts into evolution: new columns are added to
    * the manifest schema and old files null-fill them on read (Delta's
    * per-write `mergeSchema` analog). Off by default so a typo'd or
    * renamed column fails loudly instead of silently null-filling.
    * `meta` rides inside the commit manifest, as for [[overwrite]]. */
  def append(df: DataFrame, mergeSchema: Boolean = false,
             meta: Option[String] = None): Int =
    currentHead match {
      case None => overwrite(df, meta = meta)
      case Some(cur) =>
        val prev = readManifest(cur)
        val target = unionSchema(prev.schema, df, mergeSchema)
        val shaped = df.select(target.fields.toSeq.map { f =>
          if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }: _*)
        val v = nextVersion()
        val entries = writeData(shaped, v, Nil)
        commit(v, meta, target, prev.entries ++ entries, parent = Some(cur))
        advanceMain(v)
        v
    }

  /** Merge-on-read commit (Iceberg equality-deletes, minimized — the
    * reference table's `write.merge.mode=merge-on-read`,
    * `scd2_spark_processor.py:155`): appends `newRows` as data files
    * and `deleteKeys` as equality-delete files to the `touched`
    * partitions, while EVERY prior file — including the touched
    * partitions' own — carries forward by reference. At read time a
    * delete key suppresses matching rows in data files of strictly
    * OLDER commits (same-commit inserts are never self-suppressed), so
    * an UPDATE is (delete key, new row) and write amplification is
    * O(batch) regardless of partition size — the frequent-micro-batch
    * path where [[replacePartitions]]' bucket rewrite is too coarse.
    *
    * `deleteKeys` carries ONLY the equality-key columns; the partition
    * source column must be among them so deletes land beside the rows
    * they suppress. Read cost grows with accumulated deltas — run
    * [[compact]] (any full rewrite) to fold them away. */
  def mergeDeltas(newRows: DataFrame, deleteKeys: DataFrame, touched: Seq[String],
                  clusterBy: Seq[String] = Nil, meta: Option[String] = None): Int = {
    val head = requireHead()
    val prev = readManifest(head)
    val v = nextVersion()
    val entries = writeData(newRows, v, clusterBy) ++ writeDeleteFiles(deleteKeys, v)
    val keep = touched.toSet
    val stray = entries.map(_.part).distinct.filterNot(keep)
    require(stray.isEmpty,
      s"mergeDeltas: rows landed outside the touched partitions: $stray")
    commit(v, meta, prev.schema, prev.entries ++ entries, parent = Some(head))
    advanceMain(v)
    v
  }

  /** Compaction (Delta OPTIMIZE / Iceberg rewrite_data_files analog):
    * rewrite the current snapshot into few files — the maintenance job
    * that fixes streaming's small-file problem. Partitioned tables
    * compact to one file per partition (via the repartition-by-value
    * write path); unpartitioned ones coalesce to `targetFileCount`. */
  def compact(targetFileCount: Int, clusterBy: Seq[String] = Nil): Int =
    partitioning match {
      case Partitioning.Unpartitioned =>
        overwrite(read().coalesce(math.max(1, targetFileCount)), clusterBy)
      case _ => overwrite(read(), clusterBy)
    }

  /** Partition-scoped compaction: fold ONLY `parts`' accumulated
    * [[mergeDeltas]] delete files and small data files into freshly
    * written, delete-free data files; every other partition carries
    * forward by reference. This is the maintenance granularity at
    * scale — table-wide [[compact]] is a full rewrite, while a MOR
    * table only accumulates deltas in the partitions it actually
    * merges into. Pick `parts` from [[partitionsWithDeltas]]. */
  def compactPartitions(parts: Seq[String], clusterBy: Seq[String] = Nil,
                        meta: Option[String] = None): Int =
    replacePartitions(readPartitions(parts), parts, clusterBy, meta)

  /** Partitions of the current head that hold at least one
    * equality-delete file — the [[compactPartitions]] work list. */
  def partitionsWithDeltas: Seq[String] =
    readManifest(requireHead()).entries.filter(_.kind == "x").map(_.part).distinct

  /** Incremental read / change feed between two committed versions —
    * the Delta CDF / Iceberg incremental-scan analog at FILE
    * granularity, and the read half of a CDC round trip (the reference
    * ingests Debezium CDC; this emits the table's own changes for
    * downstream consumers). Returns `(inserts, deleteKeys)` where
    * `inserts` are the rows of data files ADDED in `(fromV, toV]` with
    * the span's own equality-deletes applied (same `delete.seq >
    * data.seq` rule as the full read — an insert-then-delete within
    * the span never surfaces), and `deleteKeys` (None when the span
    * wrote no delete files) are the key tuples of delete files added
    * in the span — they target pre-span rows, whose commit seq is
    * necessarily lower.
    *
    * Contract (spec-pinned REPLAY LAW): for any ancestor pair,
    * `readVersion(toV)` ≡ `readVersion(fromV)` ANTI-JOIN deleteKeys
    * UNION inserts. File REMOVALS in the span (compaction, overwrite,
    * replacePartitions) break that law at file granularity — rewritten
    * rows would double-count — so they THROW by default, exactly like
    * a Delta streaming source on a non-append change; pass
    * `ignoreRewrites = true` to skip removed files knowingly (the
    * caller owns dedup, e.g. downstream MERGE by key).
    *
    * Scale shape: pure manifest set-difference on the driver (no data
    * I/O to decide the file list), then one scan of only the span's
    * files — O(changed data), never O(table). */
  def changesBetween(fromV: Int, toV: Int, ignoreRewrites: Boolean = false)
      : (DataFrame, Option[DataFrame]) = {
    require(fromV <= toV, s"changesBetween: fromV $fromV > toV $toV")
    require(isAncestor(fromV, toV),
      s"changesBetween: $fromV is not an ancestor of $toV at $root")
    val mTo = readManifest(toV)
    val fromSet = readManifest(fromV).entries.map(_.relPath).toSet
    val toSet = mTo.entries.map(_.relPath).toSet
    val removed = fromSet -- toSet
    if (removed.nonEmpty && !ignoreRewrites)
      throw new IllegalStateException(
        s"changesBetween($fromV, $toV) at $root: ${removed.size} file(s) were " +
          "rewritten in the span (compaction/overwrite) — file-level changes " +
          "would double-count their rows; re-read the snapshot or pass " +
          "ignoreRewrites = true")
    val added = mTo.entries.filterNot(e => fromSet(e.relPath))
    val inserts = dfFor(mTo, added)
    val dels = added.filter(_.kind == "x")
    val deleteKeys =
      if (dels.isEmpty) None
      else Some(spark.read.parquet(
        dels.map(e => new Path(qRoot, e.relPath).toString): _*))
    (inserts, deleteKeys)
  }

  /** [[changesBetween]] from `fromV` to the current trunk head. */
  def changesSince(fromV: Int, ignoreRewrites: Boolean = false)
      : (DataFrame, Option[DataFrame]) =
    changesBetween(fromV, requireHead(), ignoreRewrites)

  // ------------------------------------------------- consumer cursors
  /** Pull-based change-stream consumption over [[changesBetween]]:
    * each named consumer owns a durable cursor (an atomic ref file,
    * the same machinery as branches but namespaced apart) pointing at
    * the last version it ACKNOWLEDGED. The loop is poll → process →
    * [[ackChanges]]: a crash between poll and ack re-delivers the same
    * span (at-least-once; exactly-once effect when the downstream
    * apply is idempotent — e.g. a keyed MERGE, this table format's own
    * write mode). The first poll delivers the current snapshot as
    * inserts (`initial = true`) — the bootstrap every CDC consumer
    * needs before tailing. [[vacuum]] pins every cursor's version, so
    * a lagging consumer's resume point is never expired out from
    * under it. */
  def pollChanges(consumer: String, ignoreRewrites: Boolean = false)
      : Option[ChangePoll] = {
    val head = requireHead()
    cursor(consumer) match {
      case Some(v) if v >= head => None // caught up
      case Some(v) =>
        val (ins, dels) = changesBetween(v, head, ignoreRewrites)
        Some(ChangePoll(v, head, ins, dels, initial = false))
      case None =>
        Some(ChangePoll(-1, head, readVersion(head), None, initial = true))
    }
  }

  /** Durably advance `consumer`'s cursor to `toV` (call AFTER the
    * polled span is applied downstream). */
  def ackChanges(consumer: String, toV: Int): Unit = {
    require(fs.exists(manifestPath(toV)),
      s"ackChanges: version $toV is not committed at $root")
    setRef(cursorRef(consumer), toV)
  }

  /** Last acknowledged version of a named consumer, if any. */
  def cursor(name: String): Option[Int] = refHead(cursorRef(name))

  /** All consumer cursors (name → acked version). */
  def cursors: Seq[(String, Int)] =
    if (!fs.exists(refsDir)) Nil
    else fs.listStatus(refsDir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(CursorPrefix))
      .flatMap(n => refHead(n).map(n.stripPrefix(CursorPrefix) -> _))

  private def cursorRef(name: String) = s"$CursorPrefix${validRef(name)}"

  /** Expire old versions (Iceberg `expire_snapshots` / Delta VACUUM
    * analog, SURVEY D10): keep the newest `keepVersions` manifests,
    * delete the rest, then reclaim data files no retained manifest
    * references (files shared via carry-forward survive). Time travel
    * past the horizon then fails by design. */
  def vacuum(keepVersions: Int): Seq[Int] = {
    require(keepVersions >= 1, "must keep at least the current version")
    latestVersion match {
      case None => Nil
      case Some(latest) =>
        val all = committedVersions()
        // ref heads must survive; consumer cursors pin their whole
        // UNCONSUMED span (cursor → head needs every intermediate
        // manifest for the ancestry walk) — retention must cover the
        // slowest consumer, the Kafka/Delta-CDF rule. Manifests are
        // tiny; data files still only survive while a retained
        // manifest references them.
        val minCursor = (cursors.map(_._2) :+ Int.MaxValue).min
        val pinned = branches.map(_._2).toSet
        val expire = all.filter(v => v <= latest - keepVersions &&
          !pinned(v) && v < minCursor)
        val kept = all.filterNot(expire.contains)
        val referenced = kept.flatMap(v => readManifest(v).entries.map(_.relPath)).toSet
        expire.foreach(v => fs.delete(manifestPath(v), false))
        if (fs.exists(qRoot)) {
          fs.listStatus(qRoot)
            .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
            .foreach { d =>
              val files = listFilesRec(d.getPath)
              val (keepFiles, dropFiles) = files.partition(f => referenced(relativize(f)))
              if (keepFiles.isEmpty) fs.delete(d.getPath, true)
              else dropFiles.foreach(f => fs.delete(f, false))
            }
        }
        expire.toSeq
    }
  }

  // ----------------------------------------------------------- branches
  // Nessie-style named refs over the shared version history (SURVEY D8;
  // reference: scd2_spark_processor.py:101-103 — create branch, run the
  // job against it, merge to main after validation). A branch is an
  // atomically-renamed ref file pointing at a committed version; all
  // branches share the global version counter and data files, so
  // branching is O(1) and a branch commit costs the same as a trunk
  // commit. Every commit records its parent, so merge can verify
  // fast-forwardability (Nessie rejects non-FF merges the same way).

  /** Create `name` at `at` (default: current head). The first branch
    * materializes the `main` ref so trunk reads stay pinned while
    * branch commits advance the global version counter. */
  def createBranch(name: String, at: Option[Int] = None): Int = {
    val head = requireHead()
    if (refHead(MainBranch).isEmpty) setRef(MainBranch, head)
    val v = at.getOrElse(head)
    require(fs.exists(manifestPath(v)), s"no committed version $v")
    setRef(name, v)
    v
  }

  /** Resolve a ref, falling back to its `.bak` twin: [[setRef]] has an
    * unavoidable delete→rename window on filesystems without atomic
    * rename-over (local FS), but it refreshes the backup BEFORE opening
    * that window, so a crash inside it resolves to the last durable
    * head — never to [[latestVersion]]'s possibly-branch commit. */
  def refHead(name: String): Option[Int] =
    readRefFile(new Path(refsDir, validRef(name)))
      .orElse(readRefFile(bakPath(name)))

  private def readRefFile(p: Path): Option[Int] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8).trim.toInt) finally in.close()
    }

  private def bakPath(name: String) = new Path(refsDir, s".bak-${validRef(name)}")

  /** All refs (branch name → head version), `main` included. */
  def branches: Seq[(String, Int)] =
    if (!fs.exists(refsDir)) Nil
    else fs.listStatus(refsDir).toSeq.map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith(CursorPrefix))
      .flatMap(n => refHead(n).map(n -> _))

  def readBranch(name: String): DataFrame =
    readVersion(refHead(name).getOrElse(
      throw new IllegalStateException(s"no branch $name at $root")))

  /** Commit a full snapshot to `name` (parent = the branch head) and
    * advance only that ref — trunk and other branches are untouched. */
  def commitToBranch(name: String, df: DataFrame,
                     clusterBy: Seq[String] = Nil,
                     meta: Option[String] = None): Int = {
    val head = refHead(name).getOrElse(
      throw new IllegalStateException(s"no branch $name at $root"))
    val v = nextVersion()
    val entries = writeData(df, v, clusterBy)
    commit(v, meta, df.schema, entries, parent = Some(head))
    setRef(name, v)
    v
  }

  /** Merge `from` into `into` by fast-forward: `into`'s head must be an
    * ancestor of `from`'s head (nothing committed to `into` since the
    * branch point), else this throws and the caller must rebase — the
    * Nessie contract. Returns the new head of `into`. */
  def fastForward(into: String, from: String): Int = {
    val fromHead = refHead(from).getOrElse(
      throw new IllegalStateException(s"no branch $from at $root"))
    val intoHead = refHead(into).getOrElse(
      throw new IllegalStateException(s"no branch $into at $root"))
    if (intoHead != fromHead) {
      require(isAncestor(intoHead, fromHead),
        s"$into@$intoHead is not an ancestor of $from@$fromHead — not fast-forwardable, rebase $from first")
      setRef(into, fromHead)
    }
    refHead(into).get
  }

  def deleteBranch(name: String): Unit = {
    require(name != MainBranch, "cannot delete main")
    fs.delete(new Path(refsDir, validRef(name)), false)
    fs.delete(bakPath(name), false)
    ()
  }

  /** Walk `desc`'s parent chain looking for `anc`. A manifest vacuumed
    * out of the chain makes ancestry UNPROVABLE — surfaced as a clear
    * failure rather than a FileNotFoundException, and treated as
    * not-fast-forwardable by [[fastForward]]. */
  private def isAncestor(anc: Int, desc: Int): Boolean = {
    var cur = Option(desc)
    while (cur.isDefined && cur.get > anc) {
      val v = cur.get
      if (!fs.exists(manifestPath(v)))
        throw new IllegalStateException(
          s"cannot verify ancestry at $root: version $v was vacuumed — rebase the branch")
      cur = readManifest(v).parent
    }
    cur.contains(anc)
  }

  private def writeSmallFile(target: Path, content: String): Unit = {
    val tmp = new Path(refsDir, s".tmp-${target.getName}-${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
    fs.delete(target, false) // rename-over differs per FS; delete first (single writer)
    if (!fs.rename(tmp, target))
      throw new IllegalStateException(s"concurrent update of $target at $root")
  }

  private def setRef(name: String, v: Int): Unit = {
    fs.mkdirs(refsDir)
    // Refresh the backup with the CURRENT durable head before opening
    // the delete→rename window on the ref itself: a crash anywhere
    // inside that window leaves refHead resolving the backup — the
    // previous head — so trunk loses only the in-flight advance (whose
    // writer crashed anyway) and can never be silently re-pointed at a
    // branch commit via the latestVersion fallback.
    readRefFile(new Path(refsDir, validRef(name)))
      .foreach(cur => writeSmallFile(bakPath(name), cur.toString))
    writeSmallFile(new Path(refsDir, validRef(name)), v.toString)
  }

  private def advanceMain(v: Int): Unit =
    if (refHead(MainBranch).isDefined) setRef(MainBranch, v)

  // ----------------------------------------------------------- internals

  private def nextVersion(): Int = latestVersion.getOrElse(-1) + 1

  private def requireHead(): Int =
    currentHead.getOrElse(throw new IllegalStateException(s"empty table at $root"))

  /** Resolve a snapshot's rows. Pure-data snapshots read as one scan
    * (the plan COW tables always got). With equality-delete entries
    * present (merge-on-read commits), ONE anti-join applies every
    * delete to strictly-older data:
    * `data ⟕̸ deletes ON keys ∧ delete.seq > data.seq`.
    * The join keys are the delete files' own columns — the key schema
    * travels with the data, no manifest metadata needed.
    *
    * Each side's commit seq is recovered with a SINGLE scan over all
    * its files plus a broadcast `_metadata.file_name → seq` lookup
    * (task-written part files carry a per-write-job UUID, so names are
    * unique; verified cheaply below) — the scan count stays 2 no
    * matter how many delta commits accumulated between [[compact]]
    * runs, where a scan-per-commit union would grow the plan linearly
    * with commit count. The union remains as the fallback for the
    * (never-observed) duplicate-file-name case. */
  private def dfFor(m: Manifest, entries: Seq[Entry]): DataFrame = {
    val (dels, datas) = entries.partition(_.kind == "x")
    def pathsOf(es: Seq[Entry]) = es.map(e => new Path(qRoot, e.relPath).toString)
    if (datas.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema)
    else if (dels.isEmpty)
      spark.read.schema(m.schema).parquet(pathsOf(datas): _*)
    else {
      import spark.implicits._
      def nameOf(rel: String): String = rel.substring(rel.lastIndexOf('/') + 1)
      val uniqueNames =
        entries.iterator.map(e => nameOf(e.relPath)).toSet.size == entries.size
      def withSeq(es: Seq[Entry], seqCol: String,
                  schema: Option[StructType]): DataFrame =
        if (uniqueNames) {
          val seqOf = es.map(e => (nameOf(e.relPath), e.seq)).toDF(FileCol, seqCol)
          schema.fold(spark.read)(sc => spark.read.schema(sc))
            .parquet(pathsOf(es): _*)
            .withColumn(FileCol, col("_metadata.file_name"))
            .join(broadcast(seqOf), FileCol).drop(FileCol)
        } else
          es.groupBy(_.seq).toSeq.sortBy(_._1).map { case (s, se) =>
            schema.fold(spark.read)(sc => spark.read.schema(sc))
              .parquet(pathsOf(se): _*).withColumn(seqCol, lit(s))
          }.reduce(_.unionByName(_))
      val dataDf = withSeq(datas, SeqCol, Some(m.schema))
      val delDf = withSeq(dels, DelSeqCol, None)
      val keyCols = delDf.columns.filterNot(_ == DelSeqCol)
      val cond = keyCols.map(c => dataDf(c) <=> delDf(c)).reduce(_ && _) &&
        delDf(DelSeqCol) > dataDf(SeqCol)
      dataDf.join(delDf, cond, "left_anti").drop(SeqCol)
    }
  }

  /** Write `df`'s rows under the version dir; return manifest entries.
    * Partitioned: a derived `__gp` column drives `partitionBy` routing
    * (and is NOT stored — the source column stays in the files). */
  private def writeData(df: DataFrame, v: Int, clusterBy: Seq[String],
                        zoneCols: Seq[String] = Nil): Seq[Entry] = {
    val dir = dataDir(v)
    writeEntries(df, dir, clusterBy, kind = "d", seq = v,
      zoneCols = if (zoneCols.nonEmpty) zoneCols else clusterBy)
  }

  /** Equality-delete files of a [[mergeDeltas]] commit: the KEY columns
    * only, routed to the same partitions as the rows they suppress
    * (the partition source column must be among the key columns). They
    * live under `v=<v>/__del/` so data listings never pick them up. */
  private def writeDeleteFiles(keys: DataFrame, v: Int): Seq[Entry] =
    writeEntries(keys, new Path(dataDir(v), DelDir), Nil, kind = "x", seq = v)

  private def writeEntries(df: DataFrame, dir: Path, clusterBy: Seq[String],
                           kind: String, seq: Int,
                           zoneCols: Seq[String] = Nil): Seq[Entry] = {
    val raw = partitionExpr match {
      case None =>
        val out = if (clusterBy.nonEmpty) df.sortWithinPartitions(clusterBy.map(col): _*) else df
        out.write.mode(SaveMode.Overwrite).parquet(dir.toString)
        listFilesRec(dir).map(f => Entry("", relativize(f), kind, seq))
      case Some(e) =>
        // An explicit count (the session's cores), because AQE
        // coalesces a column-only repartition, which at merge sizes
        // folds every touched partition into ONE task that sorts and
        // writes them serially; a count the caller sets is never
        // coalesced. Hash routing puts each partition value in exactly
        // one task, so each partition gets one file per commit. The sort
        // leads with the partition value because the writer sorts by it
        // otherwise, and that sort replaces (drops) a clusterBy-only one.
        val keyed = df.withColumn(Gp, e)
          .repartition(spark.sparkContext.defaultParallelism, col(Gp))
        val sorted =
          if (clusterBy.nonEmpty) keyed.sortWithinPartitions((col(Gp) +: clusterBy.map(col)): _*)
          else keyed
        sorted.write.mode(SaveMode.Overwrite).partitionBy(Gp).parquet(dir.toString)
        if (!fs.exists(dir)) Nil
        else fs.listStatus(dir)
          .filter(st => st.isDirectory && st.getPath.getName.startsWith(Gp + "="))
          .toSeq.flatMap { d =>
            val part = unescapePathValue(d.getPath.getName.stripPrefix(Gp + "="))
            listFilesRec(d.getPath).map(f => Entry(part, relativize(f), kind, seq))
          }
    }
    val zcs = if (zoneCols.nonEmpty) zoneCols else clusterBy
    if (kind != "d" || zcs.isEmpty || raw.isEmpty) raw
    else attachZoneMaps(raw, StructType(zcs.map(df.schema(_))))
  }

  /** Per-file zone maps for the `zones` columns (every zone column of
    * the commit): ONE column-pruned scan over the just-written files —
    * the Delta/Iceberg stats-collection analog, O(new data) at commit
    * time, one min/max aggregate pair per column in the SAME pass.
    * The scan takes the columns' written types, so no footer-inference
    * job runs first. Aggregation runs on the TYPED column (string min
    * of "9"/"10" would invert); only the result is stringified for the
    * manifest. All-null columns keep no stats and are never pruned on. */
  private def attachZoneMaps(entries: Seq[Entry], zones: StructType): Seq[Entry] = {
    val zcs = zones.fieldNames.toSeq
    val aggs = zcs.flatMap(zc => Seq(
      min(col(zc)).cast("string").as(s"lo_$zc"),
      max(col(zc)).cast("string").as(s"hi_$zc")))
    val stats = spark.read.schema(zones)
      .parquet(entries.map(e => new Path(qRoot, e.relPath).toString): _*)
      .select(col("_metadata.file_name").as(FileCol) +: zcs.map(col): _*)
      .groupBy(FileCol)
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val zones = zcs.flatMap { zc =>
          (Option(r.getAs[String](s"lo_$zc")), Option(r.getAs[String](s"hi_$zc"))) match {
            case (Some(lo), Some(hi)) => Some((zc, lo, hi))
            case _ => None
          }
        }
        r.getString(0) -> zones
      }
      .toMap
    entries.map { e =>
      val name = e.relPath.substring(e.relPath.lastIndexOf('/') + 1)
      stats.get(name) match {
        case Some(zones) if zones.nonEmpty => e.copy(zones = zones)
        case _ => e
      }
    }
  }

  /** Data files under `dir`, depth-first in listing order. A plain
    * `listStatus` walk: `listFiles` would build a `LocatedFileStatus`
    * per file, loading permissions and block locations only to drop
    * them. */
  private def listFilesRec(dir: Path): Seq[Path] = {
    if (!fs.exists(dir)) return Nil
    val out = Seq.newBuilder[Path]
    def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory) walk(st.getPath)
      else if (!n.startsWith("_") && !n.startsWith(".")) out += st.getPath
    }
    walk(dir)
    out.result()
  }

  private def relativize(p: Path): String = {
    val rootStr = qRoot.toString + "/"
    val s = fs.makeQualified(p).toString
    require(s.startsWith(rootStr), s"file $s outside table root $qRoot")
    s.stripPrefix(rootStr)
  }

  /** Atomic commit: manifest → `.tmp-*`, then rename into place. A
    * crash before the rename leaves no visible version; meta is inside
    * the manifest so idempotence tags are atomic with visibility.
    *
    * A racing writer of the same version loses because the rename does
    * not clobber: it returns false when the destination exists. On
    * `file:` that no-clobber rename is graft's own filesystem
    * ([[graft.io.NioLocalFileSystem]]), registered by `GraftSession`.
    * It is check-then-rename, not atomic: two writers that both pass the
    * check inside the same instant can still both rename, the later one
    * replacing the earlier manifest. */
  private def commit(v: Int, meta: Option[String], schema: StructType,
                     entries: Seq[Entry], parent: Option[Int] = None): Unit = {
    val sb = new StringBuilder
    sb.append(Header).append('\n')
    sb.append("ts\t").append(clock()).append('\n')
    meta.foreach(m => sb.append("meta\t").append(enc(m)).append('\n'))
    parent.foreach(p => sb.append("parent\t").append(p).append('\n'))
    sb.append("schema\t").append(schema.json).append('\n')
    // entry lines carry their own key so partition VALUES can never
    // collide with the reserved meta/parent/schema keys; zone-map
    // fields are appended only when collected (old lines parse fine)
    entries.foreach { e =>
      sb.append(e.kind).append('\t').append(e.seq)
        .append('\t').append(enc(e.part)).append('\t').append(e.relPath)
      e.zones.foreach { case (c, l, h) =>
        sb.append('\t').append(enc(c)).append('\t').append(enc(l))
          .append('\t').append(enc(h))
      }
      sb.append('\n')
    }
    fs.mkdirs(markerDir)
    val tmp = new Path(markerDir, f".tmp-$v%05d-${System.nanoTime()}%d")
    val out = fs.create(tmp, true)
    try out.write(sb.toString.getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, manifestPath(v))) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"concurrent commit of version $v at $root")
    }
  }

  private def readManifest(v: Int): Manifest = {
    val in = fs.open(manifestPath(v))
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    val lines = text.split("\n", -1).toSeq.filter(_.nonEmpty)
    require(lines.nonEmpty && lines.head == Header, s"bad manifest for version $v at $root")
    var meta: Option[String] = None
    var parent: Option[Int] = None
    var ts: Option[Long] = None
    var schema: StructType = null
    val entries = Seq.newBuilder[Entry]
    lines.tail.foreach { line =>
      val i = line.indexOf('\t')
      require(i > 0, s"bad manifest line: $line")
      val (k, rest) = (line.substring(0, i), line.substring(i + 1))
      k match {
        case "meta"   => meta = Some(dec(rest))
        case "parent" => parent = Some(rest.toInt)
        case "ts"     => ts = Some(rest.toLong)
        case "schema" => schema = DataType.fromJson(rest).asInstanceOf[StructType]
        case "file" => // legacy data line (pre-MOR): no seq column
          val j = rest.indexOf('\t')
          require(j >= 0, s"bad manifest file line: $line")
          entries += Entry(dec(rest.substring(0, j)), rest.substring(j + 1))
        case "d" | "x" =>
          // 3 fixed fields + any number of (col, lo, hi) zone triples
          val parts = rest.split("\t", -1)
          require(parts.length >= 3 && (parts.length - 3) % 3 == 0,
            s"bad manifest entry line: $line")
          val zones = parts.drop(3).grouped(3).map { g =>
            (dec(g(0)), dec(g(1)), dec(g(2)))
          }.toSeq
          entries += Entry(dec(parts(1)), parts(2), k, parts(0).toInt, zones)
        case other => throw new IllegalStateException(s"unknown manifest key: $other")
      }
    }
    require(schema != null, s"manifest for version $v has no schema")
    Manifest(meta, schema, entries.result(), parent, ts)
  }

  /** Loud schema-drift check for non-merge appends (same AnalysisException
    * the snapshot-era `unionByName` raised), or the stored∪incoming
    * union for `mergeSchema`. Shared columns must keep their stored
    * type (incoming rows are cast on write). */
  private def unionSchema(stored: StructType, df: DataFrame,
                          mergeSchema: Boolean): StructType =
    if (!mergeSchema) {
      if (stored.fieldNames.sorted.toSeq != df.schema.fieldNames.sorted.toSeq)
        read().unionByName(df) // throws AnalysisException naming the columns
      stored
    } else {
      val extra = df.schema.fields.filterNot(f => stored.fieldNames.contains(f.name))
        .map(_.copy(nullable = true))
      StructType(stored.fields ++ extra)
    }
}

object VersionedTable {
  /** One [[VersionedTable.pollChanges]] delivery: the span
    * `(fromV, toV]` (`fromV = -1` + `initial = true` on the bootstrap
    * snapshot), its inserts, and the span's delete keys if any. Ack
    * `toV` via `ackChanges` once applied. */
  final case class ChangePoll(fromV: Int, toV: Int,
                              inserts: org.apache.spark.sql.DataFrame,
                              deleteKeys: Option[org.apache.spark.sql.DataFrame],
                              initial: Boolean)
  private val CursorPrefix = "cursor."
  private val Header = "graft-manifest-v1"
  private val Gp = "__gp"
  private val DelDir = "__del"
  private val SeqCol = "__gseq"
  private val DelSeqCol = "__gdseq"
  private val FileCol = "__gfile"
  val MainBranch = "main"
  /** Partition value standing for NULL — matches the directory name the
    * parquet writer uses, so listed dirs and computed values agree. */
  val NullPart = "__HIVE_DEFAULT_PARTITION__"

  /** One manifest line. `kind` is "d" (data) or "x" (equality-delete);
    * `seq` is the version that ADDED the file — an equality-delete
    * suppresses matching rows only in data files with a STRICTLY
    * smaller seq (Iceberg sequence-number semantics, minimized).
    * `zcol`/`zlo`/`zhi` are the file's zone map — min/max of the lead
    * clusterBy column, collected at write time (Delta/Iceberg file
    * stats, minimized to the column point lookups key on). */
  private final case class Entry(part: String, relPath: String,
                                 kind: String = "d", seq: Int = 0,
                                 zones: Seq[(String, String, String)] = Nil)
  private final case class Manifest(meta: Option[String], schema: StructType,
                                    entries: Seq[Entry],
                                    parent: Option[Int] = None,
                                    ts: Option[Long] = None)

  private def validRef(name: String): String = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"invalid branch name: $name")
    name
  }

  // plain URL-encoding both ways: no sentinel values, so "" and "-"
  // and every other partition value / meta string round-trip exactly
  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")

  /** Undo the parquet writer's `%XX` partition-path escaping (Spark's
    * `escapePathName`); values we generate are escape-free, but decode
    * defensively so ByColumn values with spaces etc. round-trip. */
  private def unescapePathValue(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
