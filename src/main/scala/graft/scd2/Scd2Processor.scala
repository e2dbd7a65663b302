package graft.scd2

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.TimestampType

/** SCD Type 2 engine — re-derivation of
  * `/root/reference/libs/scd2_spark_processor.py` (the reference's
  * data-processing brain), Spark-first and table-format-agnostic.
  *
  * Semantics preserved exactly (golden-tested), including the quirks
  * documented in SURVEY §7.4:
  *  - hash covers only (product_name, category, price-as-STRING,
  *    quantity) — `sale_date`/`created_at` changes are invisible (:306-314)
  *  - price is cast to double AFTER hashing (:317)
  *  - in-batch dedup by `lead` only; cross-batch no-op updates still open
  *    spurious versions (:322-342)
  *  - a version run A(h1) B(h1) C(h2) keeps B with end=C.ts; A(h1) B(h2)
  *    C(h2) keeps A[end=B.ts] and C[start=C.ts] — the dropped row's span
  *    is a gap (faithful to the lead-before-filter order)
  *  - deletes close the stored current row in place, `record_hash`
  *    literal 'DELETED' on the (unused) merge source (:371-402, :438-450)
  *  - deletes for unseen keys are silent no-ops (WHEN MATCHED only)
  *
  * Documented deviations (SURVEY §7.4.3/7.4.7): window order adds `lsn`
  * as tiebreaker (reference is nondeterministic on second-precision
  * ties), and merge sources are pre-aggregated per id so multiple
  * deletes per key in one batch cannot multi-match.
  */
object Scd2Processor {

  val tableColumns: Seq[String] = Seq(
    "id", "product_name", "category", "price", "quantity", "sale_date",
    "created_at", "effective_start_ts", "effective_end_ts", "is_current",
    "record_hash", "is_deleted")

  /** `record_hash` recipe, bit-identical to :306-314: md5 over pipe-joined
    * null-coalesced PRE-CAST string forms ("10" ≠ "10.0", SURVEY §7.4.2). */
  def recordHash(productName: org.apache.spark.sql.Column,
                 category: org.apache.spark.sql.Column,
                 priceString: org.apache.spark.sql.Column,
                 quantity: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(concat_ws("|",
      coalesce(productName, lit("")),
      coalesce(category, lit("")),
      coalesce(priceString, lit("")),
      coalesce(quantity.cast("string"), lit(""))))

  /** Inserts/updates lane (:278-369): after-image rename → hash → cast →
    * lead window → change filter → SCD2 shaping. One shuffle
    * (hash-partition by id, sort by event time) — the only shuffle this
    * pipeline needs at any scale. */
  def processInsertsUpdates(batch: DataFrame): DataFrame = {
    val renamed = batch
      .filter(col("op").isin("c", "r", "u"))
      .select(
        col("after_id").as("id"),
        col("after_product_name").as("product_name"),
        col("after_category").as("category"),
        col("after_price").as("price"),
        col("after_quantity").as("quantity"),
        col("after_sale_date").as("sale_date"),
        col("after_created_at").as("created_at"),
        col("event_timestamp"), col("lsn"), col("op"))
      .withColumn("record_hash",
        recordHash(col("product_name"), col("category"), col("price"), col("quantity")))
      .withColumn("price", col("price").cast("double"))

    // Deviation §7.4.7: lsn tiebreak makes lead deterministic on
    // second-precision event-time ties.
    val w = Window.partitionBy("id").orderBy(col("event_timestamp"), col("lsn"))
    val withNext = renamed
      .withColumn("next_hash", lead(col("record_hash"), 1).over(w))
      .withColumn("next_timestamp", lead(col("event_timestamp"), 1).over(w))

    withNext
      .filter(col("next_hash").isNull || col("record_hash") =!= col("next_hash"))
      .select(
        col("id"), col("product_name"), col("category"), col("price"),
        col("quantity"), col("sale_date"), col("created_at"),
        col("event_timestamp").as("effective_start_ts"),
        when(col("next_hash").isNotNull, col("next_timestamp"))
          .otherwise(lit(null).cast(TimestampType)).as("effective_end_ts"),
        col("next_hash").isNull.as("is_current"),
        col("record_hash"),
        lit(false).as("is_deleted"),
        lit("INSERT_UPDATE").as("operation_type"))
  }

  /** Deletes lane (:371-402): before-image rename + literal flags; the
    * output is only a merge source, never appended. */
  def processDeletes(batch: DataFrame): DataFrame =
    batch.filter(col("op") === "d")
      .select(
        col("before_id").as("id"),
        col("before_product_name").as("product_name"),
        col("before_category").as("category"),
        col("before_price").cast("double").as("price"),
        col("before_quantity").as("quantity"),
        col("before_sale_date").as("sale_date"),
        col("before_created_at").as("created_at"),
        col("event_timestamp").as("effective_start_ts"),
        lit(null).cast(TimestampType).as("effective_end_ts"),
        lit(false).as("is_current"),
        lit("DELETED").as("record_hash"),
        lit(true).as("is_deleted"),
        lit("DELETE").as("operation_type"))

  /** Full batch: union of both lanes (:253-258; engine uses unionByName). */
  def processBatch(batch: DataFrame): DataFrame =
    processInsertsUpdates(batch).unionByName(processDeletes(batch))

  /** The two MERGEs + append (:404-489) expressed relationally over the
    * whole target — the table-format-agnostic core. With Delta/Iceberg
    * present, the same `mergeSources` drive two `MERGE INTO` statements
    * that touch only matched files; here the new table contents are
    * returned and the caller persists them (VersionedTable keeps the
    * rewrite per-partition and versioned for time travel).
    *
    * Ordering parity: the delete-merge runs (logically) before the
    * close-old merge, so a key that is both deleted and re-inserted in
    * one batch gets its stored row flagged deleted, then the new
    * versions appended — exactly like the reference's sequential MERGEs.
    */
  def merge(target: DataFrame, scd2Batch: DataFrame): DataFrame = {
    val updated = withMergeSource(target, scd2Batch)
      .select(
        col("id"), col("product_name"), col("category"), col("price"),
        col("quantity"), col("sale_date"), col("created_at"),
        col("effective_start_ts"),
        when(col("is_current") && col("delete_ts").isNotNull, col("delete_ts"))
          .when(col("is_current") && col("close_ts").isNotNull, col("close_ts"))
          .otherwise(col("effective_end_ts")).as("effective_end_ts"),
        when(col("is_current") && (col("delete_ts").isNotNull || col("close_ts").isNotNull), lit(false))
          .otherwise(col("is_current")).as("is_current"),
        col("record_hash"),
        when(col("is_current") && col("delete_ts").isNotNull, lit(true))
          .otherwise(col("is_deleted")).as("is_deleted"))

    updated.unionByName(scd2Batch.filter(col("operation_type") === "INSERT_UPDATE")
      .drop("operation_type"))
  }

  /** `target` left-joined to the batch's per-id merge source: ONE
    * aggregate carries both MERGE sources (deviation §7.4.3, the
    * sources are pre-aggregated per id) — `delete_ts`, the last delete
    * of the id, and `close_ts`, the start of its new current version
    * (:459-465's SELECT DISTINCT is already unique per id by
    * construction) — so the merge is one join, not one per source. */
  private def withMergeSource(target: DataFrame, scd2Batch: DataFrame): DataFrame = {
    val src = scd2Batch.groupBy(col("id").as("m_id")).agg(
      max(when(col("operation_type") === "DELETE", col("effective_start_ts")))
        .as("delete_ts"),
      max(when(col("operation_type") === "INSERT_UPDATE" && col("is_current"),
        col("effective_start_ts"))).as("close_ts"))
    target.join(src, col("id") === col("m_id"), "left")
  }

  /** Merge-on-read twin of [[merge]]: instead of returning the full new
    * contents of the touched buckets, returns only
    * `(changedRows, deleteKeys)` — the stored CURRENT rows a delete or
    * close actually rewrites, plus their equality-delete keys — for a
    * [[VersionedTable.mergeDeltas]] commit ([[merge]]'s when-branches
    * mirrored; golden-pinned equal to the copy-on-write result).
    *
    * Delete key = (id, effective_start_ts, is_current): start ts alone
    * is ambiguous when a delete + same-second re-insert later closes
    * the re-inserted row — its delete key would also suppress the
    * HISTORY row sharing (id, start). Closes only ever target
    * is_current=true rows, so keying the flag exempts history rows. */
  def mergeChanged(target: DataFrame, scd2Batch: DataFrame): (DataFrame, DataFrame) = {
    val affected = withMergeSource(target, scd2Batch)
      .filter(col("is_current") &&
        (col("delete_ts").isNotNull || col("close_ts").isNotNull))
    val changed = affected.select(
      col("id"), col("product_name"), col("category"), col("price"),
      col("quantity"), col("sale_date"), col("created_at"),
      col("effective_start_ts"),
      when(col("delete_ts").isNotNull, col("delete_ts"))
        .otherwise(col("close_ts")).as("effective_end_ts"),
      lit(false).as("is_current"),
      col("record_hash"),
      when(col("delete_ts").isNotNull, lit(true))
        .otherwise(col("is_deleted")).as("is_deleted"))
    val delKeys = affected.select(col("id"), col("effective_start_ts"), col("is_current"))
    (changed, delKeys)
  }

  /** Apply one SCD2 batch to a versioned table — shared by the batch
    * job ([[Scd2Job.run]]) and the streaming lane
    * (`Streams.scd2Query`), so the two cannot drift.
    *
    * PARTITION-SCOPED: the table is bucketed by `id`
    * ([[Partitioning.BucketBy]]), so the buckets this batch touches are
    * computed from the batch's ids alone — no table scan. Only those
    * buckets are read (manifest-pruned), merged, and rewritten; every
    * other bucket's data files are carried into the new version by
    * reference. A micro-batch touching one key is O(1 bucket), not
    * O(table) — the reference's `MERGE INTO` touching matched files
    * only (`scd2_spark_processor.py:438-483`, merge-on-read at `:155`).
    * Pruning is exact because `merge` only alters rows whose id appears
    * in the batch, and an id's rows all live in its bucket.
    *
    * `touched` is the caller's bucket set: any superset of the buckets
    * of the batch's ids is correct (an untouched bucket rewrites to the
    * same rows). Taking it from the caller lets the batch job fold
    * bucket discovery into the aggregate it already runs
    * ([[Scd2Job.bounds]]), so a merge on an existing table is the
    * transform, one merge-source aggregate, one join and the write —
    * no persist and no discovery job, because at micro-batch sizes the
    * per-job fixed cost is the merge's wall time. Callers holding only
    * the bronze batch use [[touchedBuckets]].
    *
    * Bootstrap subtlety: when the table does not exist yet and the
    * batch carries no INSERT_UPDATE rows (delete-only first increment),
    * NOTHING is committed — deletes for unseen keys are no-ops anyway
    * (SURVEY §7.4.6).
    *
    * `meta` rides inside the commit manifest for writer idempotence
    * (streaming batchId). Returns the committed version, or None if
    * nothing was committed. */
  def applyBatch(table: VersionedTable, scd2Batch: DataFrame, touched: Seq[String],
                 meta: Option[String] = None,
                 exactDedup: Boolean = false,
                 /** Merge-on-read: commit only the changed rows plus
                   * equality-delete keys ([[mergeChanged]]) instead of
                   * rewriting the touched buckets — O(batch) writes per
                   * micro-batch at any bucket size. Compact
                   * periodically to fold the deltas. */
                 mor: Boolean = false): Option[Int] = {
    def shaped(df: DataFrame): DataFrame =
      df.withColumn("effective_start_date", to_date(col("effective_start_ts")))
    val clusterBy = Seq("id", "effective_start_ts") // tight zone maps for key lookups
    if (!table.exists) {
      val init = scd2Batch.filter(col("operation_type") === "INSERT_UPDATE")
        .drop("operation_type")
      if (init.isEmpty) None
      else Some(table.overwrite(shaped(init), clusterBy, meta))
    } else {
      table.checkPartitionCount(touched.size)
      val target = table.readPartitions(touched).drop("effective_start_date")
      val batch = if (exactDedup) dropCrossBatchNoOps(target, scd2Batch) else scd2Batch
      if (mor) {
        val (changed, delKeys) = mergeChanged(target, batch)
        val newRows = changed.unionByName(
          batch.filter(col("operation_type") === "INSERT_UPDATE")
            .drop("operation_type"))
        Some(table.mergeDeltas(shaped(newRows), delKeys, touched, clusterBy, meta))
      } else
        Some(table.replacePartitions(shaped(merge(target, batch)), touched,
          clusterBy, meta))
    }
  }

  /** The id a bronze row can merge under: the before image's for a
    * delete, the after image's otherwise — every id
    * [[processBatch]] can emit for the row. */
  val bronzeKey: Column = when(col("op") === "d", col("before_id")).otherwise(col("after_id"))

  /** The buckets of `table` a bronze batch can touch — the `touched`
    * argument of [[applyBatch]] for callers with no aggregate of their
    * own to fold it into. One distinct-collect job over the bronze
    * rows. */
  def touchedBuckets(table: VersionedTable, bronze: DataFrame): Seq[String] =
    table.partitionValues(bronze.select(bronzeKey.as("id")))

  /** `exactDedup` extension (SURVEY §7.4.4): the reference never
    * consults the STORED hash, so a re-sent identical update in a later
    * batch opens a spurious version. This pass drops each id's FIRST
    * incoming version when its hash equals the stored current row's —
    * the stored row then stays open until the next real change (or the
    * batch's later versions proceed unchanged; in-batch runs were
    * already collapsed by the lead window). Parity mode (default off)
    * keeps the reference quirk byte-for-byte. One broadcast-or-shuffle
    * join against the already-pruned target buckets — no extra scan. */
  private def dropCrossBatchNoOps(target: DataFrame, scd2Batch: DataFrame): DataFrame = {
    val newRecs = scd2Batch.filter(col("operation_type") === "INSERT_UPDATE")
    val deletes = scd2Batch.filter(col("operation_type") === "DELETE")
    val curHashes = target
      .filter(col("is_current") && !col("is_deleted"))
      .select(col("id").as("ch_id"), col("record_hash").as("cur_hash"))
    // Keys with an in-batch DELETE are exempt from the fence: their
    // first incoming version is a REINSERT after the delete, not a
    // no-op — even when the reinserted attributes hash equal to the
    // stored row (dropping it would leave the key deleted with the
    // reinsert lost).
    val delIds = deletes.select(col("id").as("del_id")).distinct()
    // chain order within an id: start ts, then closed-before-current,
    // then end ts — reconstructs the lead-window order (ties are
    // second-precision events; the dedicated golden pins tie behavior).
    // This window re-partitions by id over the already-id-partitioned
    // batch — AQE reuses the exchange in practice; if it surfaces in a
    // profile, it is this second window, not the merge joins.
    val w = Window.partitionBy(col("id"))
      .orderBy(col("effective_start_ts"), col("is_current"), col("effective_end_ts"))
    newRecs.withColumn("_rn", row_number().over(w))
      .join(curHashes, col("id") === col("ch_id"), "left")
      .join(delIds, col("id") === col("del_id"), "left")
      .filter(!(col("_rn") === 1 && col("cur_hash").isNotNull &&
        col("cur_hash") === col("record_hash") && col("del_id").isNull))
      .drop("_rn", "ch_id", "cur_hash", "del_id")
      .unionByName(deletes)
  }

  /** Incremental read predicate — strict `>` boundary (:211-213,
    * SURVEY §7.4.5 records the dropped-ties hazard; LSN mode below). */
  def incremental(bronze: DataFrame, lastTs: Option[java.sql.Timestamp]): DataFrame =
    lastTs.fold(bronze)(ts => bronze.filter(col("event_timestamp") > lit(ts)))

  /** Scale-ready alternative (SURVEY §7.4.5): LSN checkpointing — exact,
    * tie-free, and monotonic even at >1 event/sec. */
  def incrementalByLsn(bronze: DataFrame, lastLsn: Option[Long]): DataFrame =
    lastLsn.fold(bronze)(l => bronze.filter(col("lsn") > lit(l)))
}
