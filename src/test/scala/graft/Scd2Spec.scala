package graft

import graft.cdc.{CdcFixtures, Envelope}
import graft.scd2.{Scd2Job, Scd2Processor}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

/** Golden scenarios for the SCD2 engine, mirroring the op semantics at
  * scd2_spark_processor.py:229-276 and the traps in SURVEY §7.4.
  */
class Scd2Spec extends SparkSpec {
  import CdcFixtures._

  private val fixedClock = () => Timestamp.from(Instant.ofEpochSecond(1800000000L))

  private def tmp(): String = Files.createTempDirectory("scd2spec").toString

  private def bronzeOf(ops: Seq[CdcOp]): DataFrame = {
    import spark.implicits._
    Envelope.toBronze(Envelope.flatten(ops.map(toJson).toDF("raw_message")))
  }

  /** Write ops as a bronze staging dir and run one incremental batch. */
  private def runBatches(batches: Seq[Seq[CdcOp]],
                         exactDedup: Boolean = false): Scd2Job = {
    val staging = tmp() + "/staging"
    val job = new Scd2Job(spark, staging, tmp() + "/table", tmp() + "/ck", fixedClock,
      exactDedup = exactDedup)
    batches.foreach { ops =>
      bronzeOf(ops).write.mode("append").partitionBy("dt").parquet(staging)
      job.run()
    }
    job
  }

  private def sec(s: Long): Timestamp = Timestamp.from(Instant.ofEpochSecond(s))
  private val t0 = 1718000000L
  private def op(kind: String, key: Int, price: String, atSec: Long, lsn: Long,
                 name: String = "Phone", qty: Int = 1): CdcOp = {
    val img = SaleImage(key, name, "Electronics", price, qty, 19800, atSec * 1000000)
    kind match {
      case "c" | "r" => CdcOp(kind, None, Some(img), atSec * 1000, lsn, lsn)
      case "u" => CdcOp("u", Some(img), Some(img), atSec * 1000, lsn, lsn)
      case "d" => CdcOp("d", Some(img), None, atSec * 1000, lsn, lsn)
    }
  }

  test("lifecycle c→u→u→d across two batches: full version chain") {
    val job = runBatches(Seq(
      Seq(op("c", 1, "100", t0, 1), op("u", 1, "200", t0 + 10, 2)),
      Seq(op("u", 1, "300", t0 + 20, 3), op("d", 1, "300", t0 + 30, 4))))
    val rows = job.currentState.orderBy("effective_start_ts").collect()
    assert(rows.length == 3)
    // v1: closed in-batch by v2
    assert(rows(0).getAs[Double]("price") == 100.0)
    assert(rows(0).getAs[Timestamp]("effective_end_ts") == sec(t0 + 10))
    assert(!rows(0).getAs[Boolean]("is_current") && !rows(0).getAs[Boolean]("is_deleted"))
    // v2: was current after batch 1. Batch 2 contains BOTH a new version
    // and a delete; the delete-merge runs first (reference MERGE order),
    // so v2 closes at the DELETE's ts with is_deleted=true — not at v3's
    // start. Faithful to scd2_spark_processor.py:438-475 sequencing.
    assert(rows(1).getAs[Double]("price") == 200.0)
    assert(rows(1).getAs[Timestamp]("effective_end_ts") == sec(t0 + 30))
    assert(rows(1).getAs[Boolean]("is_deleted"))
    // v3: appended current in batch 2... but the delete is in the SAME
    // batch and the delete-merge ran against the stored table first, so
    // v3 stays is_current=true (reference parity quirk, §7.4 merge order).
    assert(rows(2).getAs[Double]("price") == 300.0)
    assert(rows(2).getAs[Boolean]("is_current"))
  }

  test("delete in a later batch closes the stored current row in place") {
    val job = runBatches(Seq(
      Seq(op("c", 1, "100", t0, 1)),
      Seq(op("d", 1, "100", t0 + 60, 2))))
    val rows = job.currentState.collect()
    assert(rows.length == 1) // no tombstone row appended (§7.4.6)
    val r = rows.head
    assert(!r.getAs[Boolean]("is_current"))
    assert(r.getAs[Boolean]("is_deleted"))
    assert(r.getAs[Timestamp]("effective_end_ts") == sec(t0 + 60))
    assert(r.getAs[String]("record_hash") != "DELETED") // stored hash kept
  }

  test("same-hash no-op update in one batch opens no new version (§7.4.1)") {
    // sale_date/created_at are outside the hash scope
    val a = op("c", 1, "100", t0, 1)
    val b = op("u", 1, "100", t0 + 10, 2).copy(
      after = op("u", 1, "100", t0 + 10, 2).after.map(_.copy(saleDate = 19801)))
    val job = runBatches(Seq(Seq(a, b)))
    val rows = job.currentState.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Boolean]("is_current"))
    // lead-dedup keeps the LAST of the run → the no-op update's row
    assert(rows.head.getAs[Timestamp]("effective_start_ts") == sec(t0 + 10))
  }

  test("cross-batch no-op update opens a spurious version (§7.4.4 parity)") {
    val job = runBatches(Seq(
      Seq(op("c", 1, "100", t0, 1)),
      Seq(op("u", 1, "100", t0 + 60, 2)))) // same hash, new batch
    val rows = job.currentState.orderBy("effective_start_ts").collect()
    assert(rows.length == 2) // parity: the stored hash is never consulted
    assert(!rows(0).getAs[Boolean]("is_current"))
    assert(rows(0).getAs[Timestamp]("effective_end_ts") == sec(t0 + 60))
    assert(rows(1).getAs[Boolean]("is_current"))
  }

  test("exactDedup mode: re-sent identical update opens NO version (§7.4.4 fix)") {
    val job = runBatches(Seq(
      Seq(op("c", 1, "100", t0, 1)),
      Seq(op("u", 1, "100", t0 + 60, 2)),   // identical re-send — dropped
      Seq(op("u", 1, "200", t0 + 120, 3))), // real change
      exactDedup = true)
    val rows = job.currentState.orderBy("effective_start_ts").collect()
    assert(rows.length == 2)
    // the original row stayed open THROUGH the no-op and closed at the
    // real change's ts, not the no-op's
    assert(rows(0).getAs[Double]("price") == 100.0)
    assert(rows(0).getAs[Timestamp]("effective_start_ts") == sec(t0))
    assert(rows(0).getAs[Timestamp]("effective_end_ts") == sec(t0 + 120))
    assert(rows(1).getAs[Double]("price") == 200.0)
    assert(rows(1).getAs[Boolean]("is_current"))
  }

  test("exactDedup mode: no-op head of a multi-version batch is dropped, chain kept") {
    val job = runBatches(Seq(
      Seq(op("c", 1, "100", t0, 1)),
      Seq(op("u", 1, "100", t0 + 60, 2), op("u", 1, "300", t0 + 70, 3))),
      exactDedup = true)
    val rows = job.currentState.orderBy("effective_start_ts").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Double]("price") == 100.0)
    // closed by the surviving new current version (reference close-at-
    // current semantics), not by the dropped no-op
    assert(rows(0).getAs[Timestamp]("effective_end_ts") == sec(t0 + 70))
    assert(rows(1).getAs[Double]("price") == 300.0)
    assert(rows(1).getAs[Boolean]("is_current"))
  }

  test("exactDedup mode: same-batch delete-then-reinsert of identical attributes is NOT fenced") {
    // the reinsert's hash equals the stored current row's, but an
    // in-batch delete precedes it — dropping it would lose the reinsert
    // and leave the key deleted with no current row
    val job = runBatches(Seq(
      Seq(op("c", 1, "100", t0, 1)),
      Seq(op("d", 1, "100", t0 + 10, 2), op("c", 1, "100", t0 + 20, 3))),
      exactDedup = true)
    val rows = job.currentState.orderBy("effective_start_ts").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Boolean]("is_deleted") && !rows(0).getAs[Boolean]("is_current"))
    assert(rows(0).getAs[Timestamp]("effective_end_ts") == sec(t0 + 10))
    assert(rows(1).getAs[Boolean]("is_current") && !rows(1).getAs[Boolean]("is_deleted"))
    assert(rows(1).getAs[Double]("price") == 100.0)
  }

  test("exactDedup mode: deletes and real updates are untouched by the dedup join") {
    val job = runBatches(Seq(
      Seq(op("c", 1, "100", t0, 1), op("c", 2, "50", t0, 2)),
      Seq(op("u", 1, "100", t0 + 60, 3), op("d", 2, "50", t0 + 60, 4))),
      exactDedup = true)
    val rows = job.currentState.orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Int]("id") == 1 && rows(0).getAs[Boolean]("is_current"))
    assert(rows(0).getAs[Timestamp]("effective_start_ts") == sec(t0)) // no-op dropped
    assert(rows(1).getAs[Int]("id") == 2 && rows(1).getAs[Boolean]("is_deleted"))
  }

  test("delete for a never-seen key is a silent no-op (§7.4.6)") {
    val job = runBatches(Seq(
      Seq(op("c", 1, "100", t0, 1), op("d", 99, "7", t0 + 5, 2))))
    val rows = job.currentState.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Int]("id") == 1)
  }

  test("hash uses pre-cast price string: '10' vs '10.0' differ (§7.4.2)") {
    val job = runBatches(Seq(
      Seq(op("c", 1, "10", t0, 1)),
      Seq(op("u", 1, "10.0", t0 + 60, 2))))
    val rows = job.currentState.orderBy("effective_start_ts").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Double]("price")).toSeq == Seq(10.0, 10.0))
    assert(rows(0).getAs[String]("record_hash") != rows(1).getAs[String]("record_hash"))
  }

  test("checkpoint boundary is strict > : same-second replay is dropped (§7.4.5)") {
    val job = runBatches(Seq(
      Seq(op("c", 1, "100", t0, 1)),
      // same event time as the checkpointed max → dropped entirely
      Seq(op("u", 1, "200", t0, 2))))
    val rows = job.currentState.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Double]("price") == 100.0)
    assert(job.checkpoints.lastProcessed.contains(sec(t0)))
  }

  test("LSN-based incremental mode keeps same-second events (§7.4.5 scale fix)") {
    import spark.implicits._
    val bronze = bronzeOf(Seq(op("c", 1, "100", t0, 1), op("u", 1, "200", t0, 2)))
    val afterLsn1 = Scd2Processor.incrementalByLsn(bronze, Some(1L))
    assert(afterLsn1.count() == 1)
    assert(afterLsn1.first().getAs[String]("after_price") == "200")
  }

  test("crash between merge commit and checkpoint advance: rerun with NEW data does not double-apply") {
    import spark.implicits._
    val staging = tmp() + "/staging"
    val job = new Scd2Job(spark, staging, tmp() + "/table", tmp() + "/ck", fixedClock)
    // batch 1 lands and its merge COMMITS, then the job "crashes" before
    // checkpoints.advance — simulated by applying the merge directly
    // with the exact tag run() would have written
    bronzeOf(Seq(op("c", 1, "100", t0, 1))).write.mode("append")
      .partitionBy("dt").parquet(staging)
    val batch1 = graft.scd2.Scd2Processor.incremental(
      spark.read.parquet(staging), None)
    graft.scd2.Scd2Processor.applyBatch(job.table,
      graft.scd2.Scd2Processor.processBatch(batch1), touched = Nil,
      meta = Some(graft.scd2.Scd2Job.incrementTag(t0 * 1000, 1)))
    // MORE data lands before the rerun, so the re-read increment is a
    // superset of what was applied — the fence must drop the replayed
    // prefix and merge only the new suffix
    bronzeOf(Seq(op("u", 1, "200", t0 + 60, 2))).write.mode("append")
      .partitionBy("dt").parquet(staging)
    assert(job.run() == 2L) // both rows re-read (checkpoint never advanced)
    val rows = job.currentState.orderBy("effective_start_ts").collect()
    assert(rows.length == 2, "replayed batch-1 row must not re-merge")
    assert(rows(0).getAs[Double]("price") == 100.0 &&
      rows(0).getAs[Timestamp]("effective_end_ts") == sec(t0 + 60))
    assert(rows(1).getAs[Double]("price") == 200.0 && rows(1).getAs[Boolean]("is_current"))
    // and the checkpoint is now caught up: a further rerun is a no-op
    assert(job.run() == 0L)
    assert(job.currentState.count() == 2)
  }

  test("time travel: each batch commit is a readable version (D7)") {
    val job = runBatches(Seq(
      Seq(op("c", 1, "100", t0, 1)),
      Seq(op("u", 1, "200", t0 + 60, 2))))
    assert(job.table.latestVersion.contains(1))
    val v0 = job.table.readVersion(0)
    assert(v0.count() == 1)
    assert(v0.first().getAs[Double]("price") == 100.0)
    assert(job.currentState.count() == 2)
  }

  test("delete-only first batch commits nothing and does not brick the table") {
    val job = runBatches(Seq(
      Seq(op("d", 1, "100", t0, 1)),              // nothing to delete yet
      Seq(op("c", 1, "200", t0 + 60, 2))))        // table must still bootstrap
    val rows = job.currentState.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Double]("price") == 200.0)
    assert(rows.head.getAs[Boolean]("is_current"))
    // the delete batch advanced the checkpoint but committed no version
    assert(job.table.latestVersion.contains(0))
  }

  test("staging dir with only bookkeeping entries short-circuits to 0") {
    val staging = tmp() + "/staging"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staging))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(staging, "_SUCCESS"), "")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(staging, "_spark_metadata"))
    val job = new Scd2Job(spark, staging, tmp() + "/t", tmp() + "/ck", fixedClock)
    assert(job.run() == 0L)
  }

  test("two deletes for one key in a batch: last delete wins (§7.4.3)") {
    val job = runBatches(Seq(
      Seq(op("c", 1, "100", t0, 1)),
      Seq(op("d", 1, "100", t0 + 10, 2), op("d", 1, "100", t0 + 20, 3))))
    val rows = job.currentState.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Timestamp]("effective_end_ts") == sec(t0 + 20))
    assert(rows.head.getAs[Boolean]("is_deleted"))
  }

  test("delete on an already-deleted key is a no-op (WHEN MATCHED + is_current)") {
    val job = runBatches(Seq(
      Seq(op("c", 1, "100", t0, 1)),
      Seq(op("d", 1, "100", t0 + 10, 2)),
      Seq(op("d", 1, "100", t0 + 20, 3)))) // no current row left to match
    val rows = job.currentState.collect()
    assert(rows.length == 1)
    // the close timestamp is still the FIRST delete's
    assert(rows.head.getAs[Timestamp]("effective_end_ts") == sec(t0 + 10))
  }

  test("re-insert after delete: deleted history kept, fresh current appended") {
    val job = runBatches(Seq(
      Seq(op("c", 1, "100", t0, 1)),
      Seq(op("d", 1, "100", t0 + 10, 2)),
      Seq(op("c", 1, "500", t0 + 60, 3))))
    val rows = job.currentState.orderBy("effective_start_ts").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Boolean]("is_deleted") && !rows(0).getAs[Boolean]("is_current"))
    assert(rows(1).getAs[Boolean]("is_current") && !rows(1).getAs[Boolean]("is_deleted"))
    assert(rows(1).getAs[Double]("price") == 500.0)
    assert(rows(1).isNullAt(rows(1).fieldIndex("effective_end_ts")))
  }

  test("partition-scoped commit: 1-key batch reuses other buckets' files by reference") {
    val job = runBatches(Seq(
      (1 to 10).map(k => op("c", k, "100", t0 + k, k.toLong)),
      Seq(op("u", 1, "999", t0 + 100, 50))))
    val t = job.table
    assert(t.latestVersion.contains(1))
    val v0 = t.manifestFiles(0).groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val v1 = t.manifestFiles(1).groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // exactly one bucket (key 1's) was rewritten into the v=00001 dir...
    val rewritten = v1.filter(_._2.exists(_.startsWith("v=00001"))).keySet
    assert(rewritten.size == 1)
    // ...and every other bucket's entries are the SAME files as v0 —
    // carried by reference, not copied: byte-identity is structural
    (v0.keySet - rewritten.head).foreach { part =>
      assert(v1(part) == v0(part), s"bucket $part must carry forward untouched")
      assert(!v1.getOrElse(part, Nil).exists(_.startsWith("v=00001")))
    }
    // time travel across the partition-scoped commit still works
    assert(t.readVersion(0).count() == 10)
    val rows = job.currentState.filter(col("id") === 1)
      .orderBy("effective_start_ts").collect()
    assert(rows.length == 2)
    assert(rows(1).getAs[Double]("price") == 999.0 && rows(1).getAs[Boolean]("is_current"))
    assert(job.currentState.count() == 11)
  }

  test("buckets=256: a 1-key merge rewrites 1/256 of the table's files") {
    val staging = tmp() + "/staging"
    val job = new Scd2Job(spark, staging, tmp() + "/table", tmp() + "/ck",
      fixedClock, buckets = 256)
    bronzeOf((1 to 2000).map(k => op("c", k, "100", t0 + k, k.toLong)))
      .write.mode("append").partitionBy("dt").parquet(staging)
    job.run()
    bronzeOf(Seq(op("u", 7, "999", t0 + 5000, 9000)))
      .write.mode("append").partitionBy("dt").parquet(staging)
    job.run()
    val t = job.table
    val v0 = t.manifestFiles(0).groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val v1 = t.manifestFiles(1).groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // 2000 keys over 256 buckets: essentially all buckets populated —
    // write amplification of the 1-key merge is 1 bucket / ~256
    assert(v0.size >= 240, s"expected ~256 populated buckets, got ${v0.size}")
    val rewritten = v1.filter(_._2.exists(_.startsWith("v=00001"))).keySet
    assert(rewritten.size == 1, s"1-key merge must rewrite exactly 1 bucket, got $rewritten")
    (v0.keySet - rewritten.head).foreach { part =>
      assert(v1(part) == v0(part), s"bucket $part must carry forward untouched")
    }
    assert(job.currentState.count() == 2001) // 2000 keys + 1 closed version
  }

  /** A bucketed job over a loaded 200-key snapshot, plus the bronze
    * writer for its staging dir. */
  private def loadedJob(): (Scd2Job, Seq[CdcOp] => Unit) = {
    val staging = tmp() + "/staging"
    val job = new Scd2Job(spark, staging, tmp() + "/table", tmp() + "/ck", fixedClock)
    val land = (ops: Seq[CdcOp]) =>
      bronzeOf(ops).write.mode("append").partitionBy("dt").parquet(staging)
    land((1 to 200).map(k => op("c", k, "100", t0 + k, k.toLong)))
    job.run()
    (job, land)
  }

  /** A 20-key increment mixing updates, deletes and creates. */
  private val increment: Seq[CdcOp] =
    (1 to 10).map(k => op("u", k * 7, "250", t0 + 1000 + k, 1000L + k)) ++
      (1 to 5).map(k => op("d", k * 11, "100", t0 + 1020 + k, 1020L + k)) ++
      (1 to 5).map(k => op("c", 300 + k, "50", t0 + 1030 + k, 1030L + k))

  test("job budget: one incremental run on a bucketed table starts at most 12 Spark jobs") {
    val (job, land) = loadedJob()
    land(increment)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.GraftSchedulerBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      assert(job.run() == increment.size)
      org.apache.spark.GraftSchedulerBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get() <= 12, s"incremental run started ${jobs.get()} Spark jobs")
    // 200 snapshot keys: 10 updated stay current, 5 deleted close, 5 created
    assert(job.currentState.filter(col("is_current")).count() == 200)
  }

  test("bounds-aggregate buckets cover the buckets of the transformed batch") {
    import spark.implicits._
    val job = new Scd2Job(spark, tmp() + "/staging", tmp() + "/table", tmp() + "/ck",
      fixedClock)
    // c/u/d rows, a delete of a key no batch ever created, and a row
    // whose id is null (it still lands in the bucket NULL hashes to)
    val bronze = bronzeOf(increment :+ op("d", 9999, "1", t0 + 2000, 2000))
      .unionByName(bronzeOf(Seq(op("c", 1, "1", t0 + 2001, 2001)))
        .withColumn("after_id", lit(null).cast("int")))
    val folded = job.bounds(bronze).touched
    val transformed = job.table.partitionValues(Scd2Processor.processBatch(bronze))
    assert(transformed.nonEmpty)
    assert(transformed.toSet.subsetOf(folded.toSet),
      s"missing buckets: ${transformed.toSet -- folded}")
    assert(folded.toSet == Scd2Processor.touchedBuckets(job.table, bronze).toSet)
    assert(folded.contains(job.table.partitionValues(
      Seq(Option.empty[Int]).toDF("id")).head))
  }

  test("the partition-value cap still raises when buckets come from the bounds aggregate") {
    val (job, land) = loadedJob()
    land(increment)
    spark.conf.set("graft.partitionValues.max", "2")
    try {
      val e = intercept[IllegalArgumentException](job.run())
      assert(e.getMessage.contains("graft.partitionValues.max"))
    } finally spark.conf.unset("graft.partitionValues.max")
    assert(job.table.latestVersion.contains(0), "a refused merge commits nothing")
    assert(job.run() == increment.size)
  }

  test("checkpoint head meta equals a scan of max(last_processed_timestamp)") {
    val staging = tmp() + "/staging"
    val ck = tmp() + "/ck"
    def scanned: Option[Timestamp] = Option(
      new graft.scd2.VersionedTable(spark, ck).read()
        .agg(max("last_processed_timestamp")).first().getTimestamp(0))
    val job = new Scd2Job(spark, staging, tmp() + "/table", ck, fixedClock)
    val land = (ops: Seq[CdcOp]) =>
      bronzeOf(ops).write.mode("append").partitionBy("dt").parquet(staging)
    assert(job.checkpoints.lastProcessed.isEmpty)
    Seq(Seq(op("c", 1, "100", t0, 1), op("c", 2, "100", t0 + 5, 2)),
      Seq(op("u", 1, "200", t0 + 60, 3)),
      Seq(op("d", 2, "100", t0 + 120, 4))).foreach { ops =>
      land(ops)
      job.run()
      assert(job.checkpoints.lastProcessed == scanned)
    }
    assert(job.checkpoints.lastProcessed.contains(sec(t0 + 120)))
    // crash between merge commit and checkpoint advance: the merge is
    // applied with the tag run() writes, then a rerun sees new data too
    land(Seq(op("u", 1, "300", t0 + 180, 5)))
    val pending = Scd2Processor.incremental(spark.read.parquet(staging),
      job.checkpoints.lastProcessed)
    Scd2Processor.applyBatch(job.table, Scd2Processor.processBatch(pending),
      Scd2Processor.touchedBuckets(job.table, pending),
      meta = Some(Scd2Job.incrementTag((t0 + 180) * 1000, 5)))
    land(Seq(op("u", 2, "400", t0 + 240, 6)))
    assert(job.run() == 2L)
    assert(job.checkpoints.lastProcessed == scanned)
    assert(job.checkpoints.lastProcessed.contains(sec(t0 + 240)))
    assert(job.run() == 0L)
    assert(job.checkpoints.lastProcessed == scanned)
  }

  test("timestamp time travel resolves trunk ancestry, not branch commits (D7)") {
    import spark.implicits._
    var now = 1000L
    val t = new graft.scd2.VersionedTable(spark, tmp() + "/t",
      graft.scd2.Partitioning.Unpartitioned, () => now)
    t.overwrite(Seq((1, "a")).toDF("id", "v"))            // v0 @1000
    now = 2000
    t.append(Seq((2, "b")).toDF("id", "v"))               // v1 @2000
    now = 3000
    t.createBranch("exp")
    t.commitToBranch("exp", Seq((9, "x")).toDF("id", "v")) // v2 @3000, branch only
    now = 4000
    t.overwrite(Seq((3, "c")).toDF("id", "v"))            // v3 @4000, trunk
    assert(t.versionAsOf(1000) == 0)
    assert(t.versionAsOf(1999) == 0)
    assert(t.readAsOf(2500).count() == 2)                 // v1
    // 3500 falls between the BRANCH commit (v2 @3000) and trunk v3:
    // ancestry walk from trunk head must skip v2 and land on v1
    assert(t.versionAsOf(3500) == 1)
    assert(t.versionAsOf(4000) == 3)
    intercept[IllegalStateException] { t.versionAsOf(999) }
    // history exposes the commit clock
    assert(t.history().map(v => (v._1, v._5)).toMap ==
      Map(0 -> Some(1000L), 1 -> Some(2000L), 2 -> Some(3000L), 3 -> Some(4000L)))
  }

  test("timestamp time travel across partition-scoped batch commits") {
    val staging = tmp() + "/staging"
    var nowSec = 1900000000L
    val clock = () => Timestamp.from(Instant.ofEpochSecond(nowSec))
    val job = new Scd2Job(spark, staging, tmp() + "/table", tmp() + "/ck", clock)
    bronzeOf((1 to 5).map(k => op("c", k, "100", t0 + k, k.toLong)))
      .write.mode("append").partitionBy("dt").parquet(staging)
    job.run()                                             // v0 @1900000000
    nowSec += 1000
    bronzeOf(Seq(op("u", 1, "999", t0 + 100, 50)))
      .write.mode("append").partitionBy("dt").parquet(staging)
    job.run()                                             // v1 (partition-scoped)
    val t = job.table
    assert(t.versionAsOf(1900000000500L) == 0)            // mid-window → v0
    assert(t.readAsOf(1900000000000L).count() == 5)
    assert(t.readAsOf(1900001000000L).count() == 6)       // after v1: 5 keys + 1 closed row
  }

  test("random stream invariants over multiple batch splits") {
    checkInvariants(seed = 42, nKeys = 12, nOps = 120, batchSize = 40)
  }

  test("random stream invariants: more seeds and batch shapes") {
    // property-style sweep: different op mixes, key cardinalities, and
    // batch boundaries all preserve the SCD2 invariants
    checkInvariants(seed = 7, nKeys = 3, nOps = 90, batchSize = 17) // hot keys
    checkInvariants(seed = 99, nKeys = 25, nOps = 100, batchSize = 100) // single batch
    checkInvariants(seed = 1234, nKeys = 8, nOps = 60, batchSize = 12) // many batches
  }

  test("random stream invariants hold in exactDedup mode too") {
    // the no-op fence drops rows but must never break SCD2 structure
    // or the final current state
    checkInvariants(seed = 42, nKeys = 12, nOps = 120, batchSize = 40, exactDedup = true)
    checkInvariants(seed = 7, nKeys = 3, nOps = 90, batchSize = 17, exactDedup = true)
  }

  private def checkInvariants(seed: Long, nKeys: Int, nOps: Int, batchSize: Int,
                              exactDedup: Boolean = false): Unit = {
    // ≥1s steps: no same-second batch-boundary ties, so the strict-`>`
    // checkpoint drops nothing and the replay interpreter below is exact
    // (tie behavior itself is pinned by the dedicated golden test).
    val ops = randomStream(seed, nKeys, nOps, minStepMs = 1001, maxStepMs = 2500)
    val batches = ops.grouped(math.max(batchSize, 12)).toSeq
    val job = runBatches(batches, exactDedup = exactDedup)
    val state = job.currentState.cache()
    try {
      // at most one current row per key
      val maxCurrent = state.filter(col("is_current"))
        .groupBy("id").count().agg(max("count")).first().getLong(0)
      assert(maxCurrent <= 1)
      // every non-current, non-deleted row is closed
      assert(state.filter(!col("is_current") && !col("is_deleted") &&
        col("effective_end_ts").isNull).count() == 0)
      // versions don't overlap: end >= start where closed
      assert(state.filter(col("effective_end_ts").isNotNull &&
        col("effective_end_ts") < col("effective_start_ts")).count() == 0)
      // keys with a final c/r/u op in the last batch: current price matches
      val lastBatch = batches.last
      val finalByKey = ops.groupBy(o => o.before.orElse(o.after).get.id)
        .view.mapValues(_.maxBy(e => (e.tsMs / 1000, e.lsn))).toMap
      finalByKey.foreach { case (key, fin) =>
        if (fin.op != "d") {
          val cur = state.filter(col("id") === key && col("is_current")).collect()
          assert(cur.length == 1, s"key $key should have a current row")
          assert(cur.head.getAs[Double]("price") == fin.after.get.price.toDouble,
            s"key $key current price")
        }
      }
    } finally state.unpersist()
  }
}
