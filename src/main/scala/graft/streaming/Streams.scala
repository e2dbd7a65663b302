package graft.streaming

import graft.cdc.Envelope
import graft.scd2.{Partitioning, VersionedTable}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured-Streaming lanes — the reference's three PyFlink jobs
  * re-derived (SURVEY §2.1 S5–S7, §2.9):
  *
  *  - bronze: raw CDC → flattened, `dt`-partitioned parquet
  *    (`cdc_to_parquet.py:126-205`). Spark's file sink commits via the
  *    `_spark_metadata` log → exactly-once, strictly stronger than the
  *    reference's success-file at-least-once (SURVEY T2).
  *  - current state: keyed last-write-wins upsert by `last_updated_ts`
  *    (`cdc_to_pinot_current.py:205-219` + Pinot comparison column,
  *    `pinot_tables.yaml:32-36`) as `foreachBatch` arg-max + merge.
  *  - history: append-only audit rows with op decode and processing
  *    time (`cdc_to_pinot_history.py:232-273`).
  *
  * Sources are pluggable DataFrames of one `raw_message` STRING — in
  * production `readStream.format("kafka")` + `CAST(value AS STRING)`,
  * here (no Kafka jar ships) a file/text stream with identical
  * downstream semantics. Parallelism note (SURVEY T5): the reference
  * pins parallelism=1 as an ordering crutch; these lanes instead key
  * every stateful decision by `id` (+`lsn` tiebreak), so partitions
  * stay free at any scale.
  */
object Streams {

  /** File-backed raw CDC stream: each line one Debezium envelope. */
  def rawFileStream(spark: SparkSession, inputDir: String,
                    /** Files per micro-batch (None = all available).
                      * Multi-batch runs are how watermark-driven
                      * emissions (outer-join eviction, late-data drops)
                      * actually fire: the watermark only advances
                      * BETWEEN batches. */
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.text(inputDir).withColumnRenamed("value", "raw_message")
  }

  /** Kafka-backed raw CDC stream (S1) — the reference's actual ingest
    * edge (`cdc_to_parquet.py:77-88`), emitting the same one-column
    * `raw_message` shape as [[rawFileStream]] so every lane below is
    * source-agnostic. This sandbox ships no Kafka connector jar
    * ([[graft.sources.Kafka.available]] probes), so specs run the file
    * lane and pin the option construction; with `spark-sql-kafka` on
    * the classpath this is the one-line swap. */
  def rawKafkaStream(spark: SparkSession,
                     config: graft.sources.KafkaSourceConfig): DataFrame =
    graft.sources.Kafka.rawKafkaStream(spark, config)

  // ------------------------------------------------------------- bronze
  /** With `dedupeByLsn`, an at-least-once upstream (reprocessed Kafka
    * offsets, replayed files) still lands each CDC event once: streaming
    * dedup keyed on (lsn, record key, op), state bounded by the
    * event-time watermark (SURVEY T2 — upgrades the reference's
    * at-least-once bronze to effective exactly-once). The key is wider
    * than the LSN alone because Debezium initial snapshots stamp every
    * 'r' record with the SAME consistent-point LSN — lsn-only dedup
    * would collapse a whole snapshot to one row. */
  def bronzeQuery(raw: DataFrame, outPath: String, checkpoint: String,
                  availableNow: Boolean = false,
                  dedupeByLsn: Boolean = false): StreamingQuery = {
    val flat = Envelope.flatten(raw)
    val deduped =
      if (dedupeByLsn)
        flat.withColumn("_record_key", coalesce(col("after_id"), col("before_id")))
          .withWatermark("event_timestamp", "10 minutes")
          .dropDuplicatesWithinWatermark("lsn", "_record_key", "op")
          .drop("_record_key")
      else flat
    val writer = Envelope.toBronze(deduped).writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .partitionBy("dt")
      .outputMode("append")
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  // ------------------------------------------------------ current state
  /** The current-lane projection (`cdc_to_pinot_current.py:205-219`):
    * unified key, after-image with Pinot-lane casts (price→double,
    * sale_date/created_at→bigint), comparison column, delete flag.
    * `lsn` rides along as the deterministic tiebreaker (SURVEY §7.4.7). */
  def currentProjection(flat: DataFrame): DataFrame =
    flat.filter(col("op").isin("c", "r", "u", "d"))
      .select(
        coalesce(col("after_id"), col("before_id")).as("id"),
        col("after_product_name").as("product_name"),
        col("after_category").as("category"),
        col("after_price").cast("double").as("price"),
        col("after_quantity").as("quantity"),
        col("after_sale_date").cast("bigint").as("sale_date"),
        col("after_created_at").as("created_at"),
        col("ts_ms").as("last_updated_ts"),
        (col("op") === "d").as("is_deleted"),
        col("lsn"))

  /** Keyed upsert table: per-batch arg-max then last-write-wins merge.
    * The merge condition `source.last_updated_ts >= target` makes
    * replays idempotent (SURVEY §7.4.10) — a restarted micro-batch
    * cannot regress the table.
    *
    * Bucketed by id so each micro-batch reads and rewrites ONLY the
    * buckets its keys hash to (manifest-pruned read + carry-forward
    * commit); the per-batch cost is O(touched buckets), not O(table) —
    * the Spark-native shape of the reference's Pinot upsert table,
    * which also resolves per key-partition. `lsn` is part of the stored
    * schema on purpose (declared in `TableSpec.salesCurrent`): equal-
    * millisecond replays need the stored tiebreaker to stay monotone. */
  final class CurrentStateTable(spark: SparkSession, root: String, buckets: Int = 16,
                                /** Auto-vacuum: keep this many versions
                                  * after each upsert — bounds storage
                                  * under continuous micro-batches
                                  * (None = unbounded, vacuum manually). */
                                retainVersions: Option[Int] = None,
                                /** Merge-on-read: each upsert commits
                                  * O(batch) delta files (winner rows +
                                  * id delete keys) instead of rewriting
                                  * the touched buckets — the
                                  * frequent-micro-batch path; fold the
                                  * deltas periodically with
                                  * [[VersionedTable.compact]]. Same
                                  * (ts, lsn) monotone contract. */
                                mor: Boolean = false) {
    val table = new VersionedTable(spark, root, Partitioning.BucketBy("id", buckets))

    def upsert(batch: DataFrame): Unit = {
      upsertInner(batch)
      retainVersions.foreach(table.vacuum)
    }

    private def upsertInner(batch: DataFrame): Unit = {
      val w = Window.partitionBy(col("id"))
        .orderBy(col("last_updated_ts").desc, col("lsn").desc)
      // arg-max feeds bucket discovery AND the merge — one computation
      val latest = batch.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn").persist()
      try {
        if (!table.exists) { table.overwrite(latest, clusterBy = Seq("id")); return }
        val touched = table.partitionValues(latest)
        val tgt = table.readPartitions(touched)
        val cols = tgt.columns
        if (mor) {
          // winner = batch row that beats the stored row (or has none);
          // commit = winner rows + delete keys for the stored losers —
          // never a bucket rewrite. Same >= total order as below.
          val stored = tgt.select(col("id").as("t_id"),
            col("last_updated_ts").as("t_ts"), col("lsn").as("t_lsn"))
          val winners = latest.join(stored, col("id") === col("t_id"), "left")
            .filter(col("t_id").isNull ||
              col("last_updated_ts") > col("t_ts") ||
              (col("last_updated_ts") === col("t_ts") && col("lsn") >= col("t_lsn")))
            .persist()
          try {
            val delKeys = winners.filter(col("t_id").isNotNull).select(col("id"))
            table.mergeDeltas(winners.select(cols.map(col): _*), delKeys,
              touched, clusterBy = Seq("id"))
          } finally winners.unpersist()
          return
        }
        val s = latest.select(col("id").as("k"), struct(cols.map(col): _*).as("s"))
        val t = tgt.select(col("id").as("k"), struct(cols.map(col): _*).as("t"))
        // source wins on (last_updated_ts, lsn) >= — the same total order
        // as the in-batch window and statefulCurrentState, so a stale
        // same-millisecond replay can never regress the newer lsn.
        val sourceWins =
          col("s.last_updated_ts") > col("t.last_updated_ts") ||
            (col("s.last_updated_ts") === col("t.last_updated_ts") &&
              col("s.lsn") >= col("t.lsn"))
        val merged = t.join(s, Seq("k"), "full_outer")
          .select(when(col("s").isNull, col("t"))
            .when(col("t").isNull, col("s"))
            .when(sourceWins, col("s"))
            .otherwise(col("t")).as("r"))
          .select(cols.map(c => col(s"r.$c")): _*)
        table.replacePartitions(merged, touched, clusterBy = Seq("id"))
        ()
      } finally latest.unpersist()
    }

    def read(): DataFrame = table.read()
  }

  def currentStateQuery(raw: DataFrame, tableRoot: String, checkpoint: String,
                        availableNow: Boolean = false): StreamingQuery = {
    val state = new CurrentStateTable(raw.sparkSession, tableRoot)
    val writer = currentProjection(Envelope.flatten(raw)).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) state.upsert(batch)
      }
      .outputMode("update")
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  // ------------------------------------------------------------ history
  /** Audit projection (`cdc_to_pinot_history.py:232-273`). The
    * processing-time stamp is an injectable COLUMN (SURVEY §7.4.11):
    * the default re-evaluates per micro-batch (a Scala closure would
    * freeze one value into the plan at construction time); tests pass
    * a literal. */
  def processingTimeNow: org.apache.spark.sql.Column =
    unix_millis(current_timestamp())

  def historyProjection(flat: DataFrame,
                        processingTime: org.apache.spark.sql.Column): DataFrame =
    flat.filter(col("op").isin("c", "r", "u", "d"))
      .select(
        coalesce(col("after_id"), col("before_id")).as("record_id"),
        col("after_id"), col("after_product_name"), col("after_category"),
        col("after_price"), col("after_quantity"), col("after_sale_date"),
        col("after_created_at"),
        col("before_id"), col("before_product_name"), col("before_category"),
        col("before_price"), col("before_quantity"), col("before_sale_date"),
        col("before_created_at"),
        col("op"),
        when(col("op") === "c", "CREATE").when(col("op") === "r", "READ")
          .when(col("op") === "u", "UPDATE").when(col("op") === "d", "DELETE")
          .otherwise("UNKNOWN").as("op_description"),
        col("ts_ms").as("event_timestamp"),
        col("source_db"), col("source_table"),
        col("txId").as("tx_id"), col("lsn"),
        processingTime.cast("long").as("processing_time"))

  def historyQuery(raw: DataFrame, outPath: String, checkpoint: String,
                   processingTime: org.apache.spark.sql.Column,
                   availableNow: Boolean = false): StreamingQuery = {
    val writer = historyProjection(Envelope.flatten(raw), processingTime).writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  // ------------------------------------------------------ streaming SCD2
  /** The full streaming-lakehouse path: CDC stream → per-micro-batch
    * SCD2 transform + merge into the versioned table. The stream's own
    * offset tracking replaces the batch job's timestamp checkpoint
    * (each micro-batch IS the increment — no strict-`>` boundary, no
    * dropped same-second ties); the batch application itself is
    * `Scd2Processor.applyBatch`, shared with `Scd2Job` so the lanes
    * cannot drift.
    *
    * Replay safety: foreachBatch is at-least-once, so the batchId is
    * committed INSIDE the snapshot marker; a re-delivered batch whose
    * id already sits in the latest commit is skipped — crash between
    * table commit and offset commit no longer double-applies. */
  def scd2Query(raw: DataFrame, tableRoot: String, checkpoint: String,
                availableNow: Boolean = false,
                exactDedup: Boolean = false,
                /** Auto-vacuum after each applied batch: keep this many
                  * versions (time-travel horizon). None = unbounded —
                  * run [[VersionedTable.vacuum]] as a maintenance job.
                  * Replay safety holds either way: the idempotence tag
                  * lives in the RETAINED newest manifest. */
                retainVersions: Option[Int] = None,
                /** Bucket count bounds per-micro-batch write
                  * amplification (see [[graft.scd2.Scd2Job]]) — raise to
                  * hundreds-to-thousands at production scale. */
                buckets: Int = 16,
                /** Merge-on-read commits: O(batch) delta files per
                  * micro-batch instead of bucket rewrites (see
                  * [[graft.scd2.Scd2Processor.applyBatch]]). */
                mor: Boolean = false): StreamingQuery = {
    import graft.scd2.Scd2Processor
    val table = new VersionedTable(raw.sparkSession, tableRoot,
      graft.scd2.Partitioning.BucketBy("id", buckets))
    val writer = Envelope.toBronze(Envelope.flatten(raw)).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val tag = s"scd2-batch-$batchId"
        if (!batch.isEmpty && !table.latestMeta.contains(tag)) {
          val touched =
            if (table.exists) Scd2Processor.touchedBuckets(table, batch) else Nil
          Scd2Processor.applyBatch(table, Scd2Processor.processBatch(batch), touched,
            meta = Some(tag), exactDedup = exactDedup, mor = mor)
          retainVersions.foreach(table.vacuum)
          ()
        }
      }
      .outputMode("update")
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  // ------------------------------------------- custom state (FMGWS)
  /** Typed row of the current-state lane (nullable after-image fields:
    * deletes carry none). */
  final case class CurrentRec(
      id: Int, product_name: Option[String], category: Option[String],
      price: Option[Double], quantity: Option[Int], sale_date: Option[Long],
      created_at: Option[Long], last_updated_ts: Long, is_deleted: Boolean,
      lsn: Long)

  /** Current-state upsert via `flatMapGroupsWithState` — the custom-
    * state-store alternative to the foreachBatch merge: per-key state
    * holds the newest record; a group emits only when its winner
    * changes. State is O(live keys), partitioned by the group key —
    * the Spark-native shape of the reference's Pinot upsert table.
    * (The foreachBatch variant remains the default: its state lives in
    * the table itself, surviving stream re-creation; this one
    * checkpoints state alongside the query.) */
  def statefulCurrentState(cur: Dataset[CurrentRec]): Dataset[CurrentRec] = {
    import cur.sparkSession.implicits._
    cur.groupByKey(_.id)
      .flatMapGroupsWithState[CurrentRec, CurrentRec](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: Int, rows: Iterator[CurrentRec], state: GroupState[CurrentRec]) =>
          val candidates = rows ++ state.getOption.iterator
          val newest = candidates.maxBy(r => (r.last_updated_ts, r.lsn))
          val changed = state.getOption
            .forall(s => (s.last_updated_ts, s.lsn) != (newest.last_updated_ts, newest.lsn))
          state.update(newest)
          if (changed) Iterator.single(newest) else Iterator.empty
      }
  }

  def currentRecords(raw: DataFrame): Dataset[CurrentRec] = {
    import raw.sparkSession.implicits._
    // garbage tolerance: op-bearing envelopes missing key/ts/lsn would
    // NPE the non-nullable CurrentRec fields — drop them (the
    // foreachBatch lane survives the same rows by staying untyped).
    currentProjection(Envelope.flatten(raw))
      .filter(col("id").isNotNull && col("last_updated_ts").isNotNull &&
        col("lsn").isNotNull)
      .as[CurrentRec]
  }

  def statefulCurrentStateQuery(raw: DataFrame, queryName: String,
                                checkpoint: String,
                                availableNow: Boolean = false): StreamingQuery = {
    val writer = statefulCurrentState(currentRecords(raw)).writeStream
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  // --------------------------- transformWithState (Spark 4 TWS API)
  /** Per-key ingest progress emitted by [[lsnMonitor]]. */
  final case class KeyProgress(id: Int, n_applied: Long, max_lsn: Long)

  /** Exactly-once-per-LSN ingest monitor on `transformWithState` —
    * the Spark 4 arbitrary-state API (explicit `ValueState` +
    * encoders, the successor to FMGWS). Per key, state holds
    * (n_applied, max_lsn); rows at or below the stored high-water LSN
    * are redelivered duplicates and are SKIPPED, rows above it advance
    * the counter — so replaying any prefix of the log changes nothing
    * (the `dedupedIngest` guarantee as pure keyed state, no
    * watermark-bounded dedup buffer: the high-water mark is O(1) per
    * key FOREVER, where dropDuplicatesWithinWatermark must bound its
    * id buffer by time). Emits the updated progress row per batch in
    * which a key advanced. State O(live keys), RocksDB-backed (a TWS
    * requirement — set `spark.sql.streaming.stateStore.providerClass`
    * to RocksDBStateStoreProvider before starting the query).
    */
  private class LsnMonitorProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Int, CurrentRec, KeyProgress] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[KeyProgress] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[KeyProgress]("progress",
        org.apache.spark.sql.Encoders.product[KeyProgress],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Int, rows: Iterator[CurrentRec],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[KeyProgress] = {
      val prev = if (st.exists()) st.get() else KeyProgress(key, 0L, Long.MinValue)
      // in-batch order is arbitrary — apply in LSN order so the
      // monotone high-water filter is batch-split-invariant
      val next = rows.toSeq.sortBy(_.lsn).foldLeft(prev) { (acc, r) =>
        if (r.lsn > acc.max_lsn) KeyProgress(key, acc.n_applied + 1, r.lsn)
        else acc
      }
      if (next != prev) { st.update(next); Iterator.single(next) }
      else Iterator.empty
    }
  }

  def lsnMonitor(cur: Dataset[CurrentRec]): Dataset[KeyProgress] = {
    import cur.sparkSession.implicits._
    cur.groupByKey(_.id)
      .transformWithState(new LsnMonitorProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  def lsnMonitorQuery(raw: DataFrame, queryName: String, checkpoint: String,
                      availableNow: Boolean = false): StreamingQuery = {
    val writer = lsnMonitor(currentRecords(raw)).writeStream
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  // ----------------------------------------------- windowed aggregation
  /** Event-time tumbling-window op counts with a watermark — the
    * stateful-streaming surface the reference never uses (SURVEY T3
    * documents the absence; this is the engine extension). State is
    * keyed by (window, op): bounded by the watermark, shuffled once,
    * scale-free in the number of raw events. */
  def windowedOpCounts(flat: DataFrame, windowLen: String = "1 minute",
                       watermark: String = "2 minutes"): DataFrame =
    flat
      .filter(col("op").isin("c", "r", "u", "d")) // same whitelist as every lane
      .withWatermark("event_timestamp", watermark)
      .groupBy(window(col("event_timestamp"), windowLen), col("op"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("op"), col("n_events"))

  /** Gap-based session windows over the CDC stream (native
    * `session_window`, event-time + watermark): per key, sessions close
    * after `gap` of inactivity — the streaming twin of the batch
    * gaps-and-islands query (`rel_sessions`). */
  def sessionCounts(flat: DataFrame, gap: String = "30 seconds",
                    watermark: String = "2 minutes"): DataFrame =
    flat
      .filter(col("op").isin("c", "r", "u", "d")) // same whitelist as every lane
      .withWatermark("event_timestamp", watermark)
      .groupBy(session_window(col("event_timestamp"), gap),
        coalesce(col("after_id"), col("before_id")).as("id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("id"), col("n_events"))

  /** Per-window trending top-k (the "hot topics this minute" shape):
    * watermarked tumbling-window counts in APPEND mode — a window's
    * rows emit exactly once, in the micro-batch whose watermark closes
    * it — then a foreachBatch rank keeps the k highest-count ops per
    * closed window ((n desc, op) total order). The only stream-sized
    * state is the windowed aggregate's (watermark-bounded); ranking
    * sees just the batch of closed windows, k·windows rows. Replays of
    * a failed batch re-rank the same closed windows — pair with a
    * batchId-keyed sink commit (the scd2Query pattern) for exactly-once
    * on an unreliable sink. */
  def trendingTopKQuery(raw: DataFrame, outPath: String, checkpoint: String,
                        k: Int = 2, availableNow: Boolean = false): StreamingQuery = {
    val counts = windowedOpCounts(Envelope.flatten(raw))
    val writer = counts.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val w = Window.partitionBy(col("window_start"))
          .orderBy(col("n_events").desc, col("op"))
        batch.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .write.mode("append").parquet(outPath)
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  def windowedOpCountsQuery(raw: DataFrame, outPath: String, checkpoint: String,
                            availableNow: Boolean = false): StreamingQuery = {
    val writer = windowedOpCounts(Envelope.flatten(raw)).writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  // ----------------------------------------------- stream-stream join
  /** Watermarked stream-stream INNER join (the state-store join — the
    * remaining stateful-streaming primitive after windows, sessions,
    * and FMGWS): each CDC change event joins the OTHER stream's change
    * events for the same key within ± `tolerance` of event time. Both
    * sides carry a watermark and the join predicate bounds event-time
    * distance, so Spark derives state-eviction watermarks for BOTH
    * state stores — state is O(in-flight window), not O(stream).
    * Shape: enrichment of a fact stream against a near-real-time
    * context stream (payments vs orders, clicks vs impressions).
    *
    * Left columns keep their names; right columns arrive prefixed
    * `r_`. One shuffle per side, hash-partitioned on the key. */
  def streamStreamJoin(leftRaw: DataFrame, rightRaw: DataFrame,
                       tolerance: String = "5 minutes",
                       watermark: String = "10 minutes",
                       /** "inner" or "left_outer": the outer variant
                         * emits unmatched left rows (right side null)
                         * once the watermark proves no match can still
                         * arrive — the semantics that make streaming
                         * enrichment loss-free. */
                       joinType: String = "inner"): DataFrame = {
    def side(raw: DataFrame, p: String): DataFrame = {
      val flat = Envelope.flatten(raw)
      flat
        .filter(col("op").isin("c", "r", "u", "d"))
        .select(coalesce(col("after_id"), col("before_id")).as(s"${p}id"),
          col("op").as(s"${p}op"), col("lsn").as(s"${p}lsn"),
          col("event_timestamp").as(s"${p}ts"))
        .filter(col(s"${p}id").isNotNull && col(s"${p}ts").isNotNull)
        .withWatermark(s"${p}ts", watermark)
    }
    side(leftRaw, "") .join(side(rightRaw, "r_"),
      expr(s"id = r_id AND r_ts BETWEEN ts - INTERVAL $tolerance" +
        s" AND ts + INTERVAL $tolerance"),
      joinType)
  }

  // ------------------------------------------ stream-static enrichment
  /** Enrich a CDC stream against a STATIC dimension frame — the
    * canonical streaming-ETL join (fact stream × slowly-changing dim).
    * Stateless by construction: Spark re-evaluates the static side per
    * micro-batch (so a dim backed by a table path picks up new
    * snapshots between batches) and the explicit `broadcast` keeps the
    * per-batch join a map-side hash probe — no state store, no
    * watermark, no shuffle of the stream side. Left join: an event
    * whose key misses the dim must flow through null-padded (dropping
    * facts on a late-arriving dim row is silent data loss; the stream-
    * stream variant with watermarks is the tool when BOTH sides move).
    * At 100 TB the dim broadcast bound is the executor heap — beyond
    * that, flip to the bucketed-table join (`Partitioning.BucketBy`)
    * like the batch SCD2 lane.
    */
  def enrichStream(raw: DataFrame, dim: DataFrame, dimKey: String): DataFrame = {
    val flat = Envelope.flatten(raw)
      .filter(col("op").isin("c", "r", "u"))
      .select(coalesce(col("after_id"), col("before_id")).as("id"),
        col("op"), col("lsn"), col("event_timestamp"))
      .filter(col("id").isNotNull)
    // alias the dim key before joining: a bare `.drop(dimKey)` after
    // the join drops EVERY column with that name, so a dim keyed on
    // e.g. "id" would silently delete the stream's own id column —
    // the rename scopes the drop to the dim side only
    val dimk = "__graft_dim_key"
    val dimAliased = dim.withColumnRenamed(dimKey, dimk)
    flat.join(broadcast(dimAliased), flat("id") === dimAliased(dimk), "left")
      .drop(dimk)
  }

  // ----------------------------------------------- streaming funnel
  final case class FunnelEvent(user_id: Long, event_type: String,
                               ts: java.sql.Timestamp)
  final case class FunnelProgress(user_id: Long,
                                  view_ts: Option[java.sql.Timestamp],
                                  click_ts: Option[java.sql.Timestamp],
                                  purchase_ts: Option[java.sql.Timestamp])

  /** Real-time twin of the batch `rel_funnel`: per-user ordered
    * view → click → purchase progression as keyed state (FMGWS). Each
    * stage locks to the first qualifying event STRICTLY AFTER the
    * previous stage; the group emits its progress row whenever a stage
    * advances. State is O(users), one small fixed-size record each —
    * partitioned by user, no global ordering requirement. Events
    * inside a micro-batch apply in event-time order; CROSS-batch
    * order is taken as delivered (matches the batch min-aggregate
    * truth when the stream is time-ordered across batches — the
    * kafka-per-key-partition delivery the reference assumes; a
    * watermark + buffer would harden it against late storms). */
  def funnelProgress(events: Dataset[FunnelEvent]): Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProgress, FunnelProgress](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[FunnelEvent], state: GroupState[FunnelProgress]) =>
          val before = state.getOption
          var st = before.getOrElse(FunnelProgress(uid, None, None, None))
          evs.toSeq.sortBy(_.ts.getTime).foreach { e =>
            e.event_type match {
              case "view" if st.view_ts.isEmpty =>
                st = st.copy(view_ts = Some(e.ts))
              case "click" if st.click_ts.isEmpty && st.view_ts.exists(v =>
                  e.ts.getTime > v.getTime) =>
                st = st.copy(click_ts = Some(e.ts))
              case "purchase" if st.purchase_ts.isEmpty && st.click_ts.exists(c =>
                  e.ts.getTime > c.getTime) =>
                st = st.copy(purchase_ts = Some(e.ts))
              case _ => ()
            }
          }
          state.update(st)
          if (before.contains(st)) Iterator.empty else Iterator.single(st)
      }
  }

  // ----------------------------------------------- streaming corpus dedup
  /** Streaming exact dedup of a document ingest stream: the FIRST
    * arrival per content fingerprint survives, later copies landing
    * within the watermark horizon are dropped by keyed state
    * (`dropDuplicatesWithinWatermark`). The watermark bounds the state
    * store — a fingerprint is evictable once event time passes its
    * horizon, so state is O(in-horizon distinct docs), never O(corpus).
    * Re-arrivals beyond the horizon are deliberately out of scope for
    * the hot path: at 100 TB the split is exactly this — streaming
    * dedup absorbs the duplicate bursts (retries, crawler re-fetches),
    * and the batch `Dedup.exact` pass over the landed corpus is the
    * compaction-time backstop. Expects (doc_id, text, `tsCol`) columns;
    * append mode emits each first-seen row immediately (first-wins is
    * final, no window close to wait for). */
  def dedupedIngest(docs: DataFrame, tsCol: String = "ingest_ts",
                    watermark: String = "10 minutes"): DataFrame =
    docs.withColumn("content_fp", md5(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_fp")
}
