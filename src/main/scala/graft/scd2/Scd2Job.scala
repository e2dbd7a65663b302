package graft.scd2

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cdc.Envelope
import java.sql.Timestamp

/** Checkpoint bookkeeping (`scd2_spark_processor.py:167-201, 491-516`):
  * an append-only table whose `MAX(last_processed_timestamp)` is the
  * read boundary. Each [[advance]] commits the running (max ts, max
  * lsn) as its manifest meta, so [[lastProcessed]] reads the head
  * manifest alone — no scan over a table that grows a file per run.
  * The strict-`>` read boundary lives in [[Scd2Processor.incremental]].
  */
final class Checkpoints(spark: SparkSession, root: String, clock: () => Timestamp) {
  import Checkpoints._
  private val table = new VersionedTable(spark, root,
    Partitioning.Unpartitioned, () => clock().getTime)

  val schema: StructType = StructType(Seq(
    StructField("last_processed_timestamp", TimestampType),
    StructField("last_processed_lsn", LongType),
    StructField("processed_at", TimestampType),
    StructField("records_processed", LongType)))

  /** `MAX(last_processed_timestamp)` over every advance. */
  def lastProcessed: Option[Timestamp] = head.map(_._1)

  private def head: Option[(Timestamp, Option[Long])] =
    table.latestMeta.flatMap(parseMeta)

  /** Advance: append (max ts, max lsn, clock, count). The caller passes
    * bounds it already aggregated — ONE aggregation pass per run, not
    * the reference's repeated `count()` jobs (anti-pattern noted at
    * :534-538, SURVEY §4). */
  def advance(maxTs: Timestamp, maxLsn: Option[Long], n: Long): Unit = {
    val row = Row(maxTs, maxLsn.orNull, clock(), n)
    val (ts, lsn) = head.fold((maxTs, maxLsn)) { case (pTs, pLsn) =>
      (if (pTs.after(maxTs)) pTs else maxTs, (pLsn ++ maxLsn).maxOption)
    }
    table.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1), schema), meta = Some(metaOf(ts, lsn)))
  }
}

object Checkpoints {
  private val MetaRe = "checkpoint (\\S+) (-?\\d+|-)".r
  private def metaOf(ts: Timestamp, lsn: Option[Long]): String =
    s"checkpoint ${ts.toInstant} ${lsn.fold("-")(_.toString)}"
  private def parseMeta(meta: String): Option[(Timestamp, Option[Long])] = meta match {
    case MetaRe(ts, lsn) =>
      Some((Timestamp.from(java.time.Instant.parse(ts)), lsn.toLongOption))
    case _ => None
  }
}

object Scd2Job {
  /** [[Scd2Job.bounds]] of one increment. */
  final case class Bounds(maxTs: Option[Timestamp], maxLsn: Option[Long], n: Long,
                          touched: Seq[String])

  /** Idempotence tag committed with each applied increment. */
  def incrementTag(maxTsMillis: Long, maxLsn: Long): String =
    s"scd2-inc-$maxTsMillis-$maxLsn"

  private val TagRe = "scd2-inc-(-?\\d+)-(-?\\d+)".r
  def parseTag(meta: String): Option[(Long, Long)] = meta match {
    case TagRe(ts, lsn) => Some((ts.toLong, lsn.toLong))
    case _ => None // e.g. the streaming lane's batchId tags
  }
}

/** End-to-end incremental SCD2 batch run — the reference's `run()`
  * (`scd2_spark_processor.py:518-567`) as a library function:
  * checkpoint read → incremental bronze scan → SCD2 transform → merge →
  * snapshot commit → checkpoint advance. An Airflow-style pre-flight
  * check (`dags/cdc_scd2_dag.py:37-50`) is `stagingNonEmpty` — with an
  * honest short-circuit (SURVEY §3.3).
  */
final class Scd2Job(spark: SparkSession, stagingPath: String, tableRoot: String,
                    checkpointRoot: String,
                    clock: () => Timestamp = () => new Timestamp(System.currentTimeMillis()),
                    /** SURVEY §7.4.4 extension: consult stored current
                      * hashes so re-sent identical updates open no
                      * version. Off = reference parity. */
                    exactDedup: Boolean = false,
                    /** Bucket count bounds merge write amplification: a
                      * micro-batch rewrites ~(touched keys / buckets) of
                      * the table, so size to ~(table size / buckets) ≈
                      * a comfortable rewrite unit. 16 suits the test SFs;
                      * hundreds-to-thousands at 100 TB. */
                    buckets: Int = 16,
                    /** Merge-on-read commits (see
                      * [[Scd2Processor.applyBatch]]) — the reference
                      * table's own write mode
                      * (`scd2_spark_processor.py:155`). */
                    mor: Boolean = false) {

  // Bucketed by id (Iceberg bucket(N, id) transform analog) so each
  // incremental merge reads+rewrites only the buckets its keys hash to;
  // the reference's days(effective_start_ts) hidden transform survives
  // as the explicit `effective_start_date` column, zone-map-clustered
  // inside each bucket (SURVEY D2).
  val table = new VersionedTable(spark, tableRoot,
    Partitioning.BucketBy("id", buckets), () => clock().getTime)
  val checkpoints = new Checkpoints(spark, checkpointRoot, clock)

  /** Honest short-circuit (SURVEY §3.3): true only when the staging
    * dir has DATA entries — `_spark_metadata` / `_SUCCESS` / hidden
    * bookkeeping alone must not count (a just-started streaming sink
    * writes its metadata log before any data file commits). */
  def stagingNonEmpty: Boolean = {
    val p = new org.apache.hadoop.fs.Path(stagingPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  def currentState: DataFrame =
    table.read().drop("effective_start_date")

  /** (max event ts, max lsn, row count, touched buckets) of a bronze
    * increment, in ONE aggregate. The buckets come from the same
    * [[VersionedTable.partitionOf]] the writes route by, applied to the
    * id each row can merge under ([[Scd2Processor.bronzeKey]]) — a
    * superset of the ids [[Scd2Processor.processBatch]] emits, so no
    * separate bucket-discovery pass over the transformed batch. */
  def bounds(batch: DataFrame): Scd2Job.Bounds = {
    val r = batch.agg(
      max("event_timestamp"), max("lsn"), count(lit(1)),
      collect_set(table.partitionOf(Scd2Processor.bronzeKey))).first()
    Scd2Job.Bounds(Option(r.getTimestamp(0)),
      if (r.isNullAt(1)) None else Some(r.getLong(1)),
      r.getLong(2), r.getSeq[String](3).sorted)
  }

  /** One incremental run; returns number of bronze rows processed.
    *
    * Job budget: an increment on an existing table runs at most 12
    * Spark jobs (bounds aggregate, transform + merge + write, zone maps,
    * checkpoint append), because at increment sizes each job's fixed
    * scheduling cost, not its data, is the run's wall time.
    *
    * Crash-safe: the applied increment's (max event ts, max lsn) is
    * committed INSIDE the table manifest. On a rerun after a crash
    * between table commit and checkpoint advance, rows at or before
    * the stored ts are fenced out — the same strict-`>` boundary a
    * successful checkpoint advance would have applied — so the merge
    * sees only the genuinely-new suffix EVEN IF more CDC data landed
    * in staging since the crash (a whole-batch equality tag would
    * re-apply everything in that case). Closes the reference's
    * double-apply window (`scd2_spark_processor.py` commits table then
    * checkpoint with no fence). */
  def run(): Long = {
    if (!stagingNonEmpty) return 0L
    val bronze = spark.read.schema(Envelope.bronzeSchema).parquet(stagingPath)
    val batch = Scd2Processor.incremental(bronze, checkpoints.lastProcessed)
      .persist() // single materialization feeds bounds + merge (SURVEY §4)
    try {
      val b = bounds(batch)
      if (b.n == 0) return 0L
      val appliedTs = if (table.exists) table.latestMeta.flatMap(Scd2Job.parseTag).map(_._1)
                      else None
      val alreadyApplied =
        b.maxTs.isDefined && appliedTs.exists(_ >= b.maxTs.get.getTime)
      if (!alreadyApplied) {
        val fresh = appliedTs match {
          case Some(ts) => batch.filter(col("event_timestamp") > lit(new Timestamp(ts)))
          case None => batch
        }
        val tag = Scd2Job.incrementTag(
          b.maxTs.map(_.getTime).getOrElse(0L), b.maxLsn.getOrElse(0L))
        Scd2Processor.applyBatch(table, Scd2Processor.processBatch(fresh), b.touched,
          meta = Some(tag), exactDedup = exactDedup, mor = mor)
      }
      b.maxTs.foreach(ts => checkpoints.advance(ts, b.maxLsn, b.n))
      b.n
    } finally batch.unpersist()
  }
}
