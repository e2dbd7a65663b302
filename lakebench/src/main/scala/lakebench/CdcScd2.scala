package lakebench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.cdc.CdcFixtures
import graft.cdc.CdcFixtures.{CdcOp, SaleImage}
import graft.scd2.Scd2Job
import graft.sources.{MemTopic, MemTopicProvider}
import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** The CDC lakehouse lane: a keyed Debezium history is produced to a
  * topic increment by increment, landed as dt-partitioned bronze by the
  * streaming bronze lane (`Streams.bronzeQuery`, lsn dedup in a state
  * store), and merged into SCD Type 2 history by the batch job, with a
  * fixed read set between merges and periodic vacuum + compaction. */
object CdcScd2 {
  val Keys = 2000
  val SnapshotOps = Keys
  val IncrementOps = Keys / 100
  val MaxIncrements = 400
  val MaintainEvery = 3
  val KeepVersions = 8
  /** Untimed increments after set-up, each with its read set, then one
    * maintenance: the timed loop's own code, so no work can hide in them.
    * The timed phase then starts on a freshly compacted table, like every
    * later maintenance cycle. */
  val WarmIncrements = 1
  /** A run times at least this many increments, and always a whole
    * number of maintenance cycles, so every run has the same share of
    * increments that also vacuum and compact. */
  val MinIncrements = 6
  val Partitions = 2
  /** A landing the bronze lane has not committed by then is a failure. */
  val LandTimeoutMs = 60000.0

  /** Cut `ops` into consecutive increments of at least `size` ops that
    * end on a whole-second boundary of the event time, so the job's
    * strict-`>` checkpoint never splits a second between two runs. */
  def cut(ops: Seq[CdcOp], first: Int, size: Int): Seq[Seq[CdcOp]] = {
    val out = ArrayBuffer.empty[Seq[CdcOp]]
    var i = 0
    var want = first
    while (i < ops.size) {
      var j = math.min(ops.size, i + want)
      while (j < ops.size && ops(j).tsMs / 1000 == ops(j - 1).tsMs / 1000) j += 1
      out += ops.slice(i, j)
      i = j
      want = size
    }
    out.toSeq
  }

  private def hashKey(img: SaleImage) = (img.productName, img.category, img.price, img.quantity)

  /** Independent model of the SCD2 table: per increment, a key's new
    * current row is its last insert/update image; a delete closes the
    * stored current row when the increment carries no insert/update for
    * the key (the reference's delete-merge-then-append order). Also
    * counts the history rows the job must keep: an insert/update row
    * survives unless the next row of the same key in the same increment
    * has the same record hash. */
  final class Model {
    val current = mutable.HashMap.empty[Int, SaleImage]
    var historyRows = 0L
    def apply(inc: Seq[CdcOp]): Unit =
      inc.groupBy(o => o.after.orElse(o.before).get.id).foreach { case (id, evs) =>
        val ups = evs.filter(_.op != "d").flatMap(_.after)
        historyRows += ups.indices.count(i => i == ups.size - 1 ||
          hashKey(ups(i)) != hashKey(ups(i + 1)))
        if (ups.nonEmpty) current(id) = ups.last
        else if (evs.exists(_.op == "d")) current.remove(id)
      }
  }

  /** One CDC pipeline on its own directories and topic: the keyed
    * history, the bronze lane, the SCD2 job over its staging area and the
    * model the job is checked against. Set-up builds one per repetition
    * and loads its snapshot; the last one is warmed up and timed. */
  final class Pipeline(ctx: Ctx, rep: Int, val lane: String) {
    import ctx._
    import ctx.spark.implicits._
    val staging = s"$workDir/cdc/$rep/staging"
    val tableRoot = s"$workDir/cdc/$rep/table"
    val ckRoot = s"$workDir/cdc/$rep/checkpoints"
    val increments = cut(
      CdcFixtures.randomStream(seed, Keys, SnapshotOps + MaxIncrements * IncrementOps),
      SnapshotOps, IncrementOps)
    val job = new Scd2Job(spark, staging, tableRoot, ckRoot)
    val model = new Model
    private val rnd = new scala.util.Random(seed)
    val listings = ArrayBuffer.empty[Map[String, Any]]
    var landedEvents = 0L
    var processed = 0L

    private val topic = s"lakebench-cdc-$seed-$rep"
    MemTopic.create(topic, Partitions)
    private val raw = spark.readStream.format(classOf[MemTopicProvider].getName)
      .option("topic", topic).load().select(col("value").as("raw_message"))
    val bronze = Streams.bronzeQuery(raw, staging, s"$workDir/cdc/$rep/ck-bronze",
      dedupeByLsn = true)
    recorder.registerLane(bronze.id.toString, lane)
    private def ends: Seq[Long] = (0 until Partitions).map(p => MemTopic.latest(topic, p))

    /** Produce one increment (plus the garbage a Debezium feed carries)
      * and wait until the bronze lane has committed it. */
    def land(inc: Seq[CdcOp], i: Int, traced: Boolean): Op = {
      val envelopes = CdcFixtures.withNoise(inc.map(CdcFixtures.toJson), seed + i)
      recorder.traceStreams = traced
      recorder.op(s"land-$i", "land", traced, opTimeoutS) { o =>
        val t0 = Clock.nowMs
        envelopes.zipWithIndex.foreach { case (json, k) =>
          MemTopic.produce(topic, k % Partitions, k.toString, json)
        }
        o.extra("produce_ms") = Clock.nowMs - t0
        o.extra("events") = inc.size
        o.extra("raw_rows") = envelopes.size
        val target = ends
        val deadline = Clock.nowMs + LandTimeoutMs
        while (!Progress.covered(recorder, lane, Partitions).zip(target).forall { case (c, t) => c >= t }) {
          if (bronze.exception.isDefined)
            throw new IllegalStateException(s"bronze lane died: ${bronze.exception.get}")
          if (Clock.nowMs > deadline)
            throw new IllegalStateException(s"bronze lane wedged: $target not committed " +
              s"within ${LandTimeoutMs / 1000}s")
          Thread.sleep(2)
        }
      }
    }

    def merge(inc: Seq[CdcOp], i: Int, traced: Boolean): Op =
      recorder.op(s"run-$i", "run", traced, opTimeoutS) { o =>
        val n = job.run()
        o.extra("rows_processed") = n
        processed += n
        if (n != inc.size) o.error = s"Scd2Job.run processed $n rows, landed ${inc.size}"
      }

    def listing(step: Int): Unit = listings += Map(
      "step" -> step,
      "bronze" -> Listing.of(staging),
      "table" -> (Listing.of(tableRoot) ++ Listing.of(ckRoot, "ck/")))

    /** The fixed read set issued between merges. */
    def readSet(i: Int, traced: Boolean): Seq[Op] = {
      val v = job.table.currentHead.get
      val keys = Seq.fill(5)(1000 + rnd.nextInt(Keys))
      val reads = Seq(
        recorder.op(s"read_asof-$i", "read_asof", traced, opTimeoutS) { o =>
          val back = math.max(0, v - 2)
          val df = job.table.readVersion(job.table.versionAsOf(job.table.commitTimestamp(back).get))
          o.resultRows = df.agg(count(lit(1))).first().getLong(0)
        },
        recorder.op(s"read_keys-$i", "read_keys", traced, opTimeoutS) { o =>
          o.resultRows = job.table.readForKeys(keys.toDF("id")).collect().length.toLong
          val (kept, total) = job.table.zonePrunedFileCount("id", keys.min, keys.max)
          o.extra("files_kept") = kept
          o.extra("files_total") = total
        },
        recorder.op(s"read_changes-$i", "read_changes", traced, opTimeoutS) { o =>
          val (ins, dels) = job.table.changesBetween(math.max(0, v - 1), v, ignoreRewrites = true)
          o.resultRows = ins.count() + dels.map(_.count()).getOrElse(0L)
        },
        recorder.op(s"read_current-$i", "read_current", traced, opTimeoutS) { o =>
          o.resultRows = job.currentState.filter(col("is_current"))
            .groupBy("category").agg(count(lit(1)), sum("price")).collect().length.toLong
        },
        recorder.op(s"read_history-$i", "read_history", traced, opTimeoutS) { o =>
          o.resultRows = job.table.history().size.toLong
        })
      reads.foreach(_.extra("increment") = i)
      reads
    }

    /** Land and merge increment `i`. */
    def apply(i: Int, traced: Boolean): Seq[Op] = {
      val inc = increments(i)
      val l = land(inc, i, traced)
      val r = merge(inc, i, traced)
      if (l.ok && r.ok) { model(inc); landedEvents += inc.size }
      Seq(l, r)
    }

    /** Vacuum and compact the table. */
    def maintain(i: Int, traced: Boolean): Seq[Op] = Seq(
      recorder.op(s"vacuum-$i", "vacuum", traced, opTimeoutS) { o =>
        o.extra("expired") = job.table.vacuum(KeepVersions).size
      },
      recorder.op(s"compact-$i", "compact", traced, opTimeoutS) { o =>
        o.extra("version") = job.table.compact(1, Seq("id", "effective_start_ts"))
      })

    /** Set-up: land and merge the snapshot. */
    def load(): Seq[Op] = apply(0, traced = false)

    /** Warm-up: increments with their read sets, then maintenance. */
    def warm(): Seq[Op] =
      (1 to WarmIncrements).flatMap(k => apply(k, traced = false) ++ readSet(k, traced = false)) ++
        maintain(WarmIncrements, traced = false)
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    // set-up, repeated so its median time is stable: fixtures generated,
    // bronze lane started, snapshot loaded. The last pipeline is the one
    // warmed up and timed.
    var p: Pipeline = null
    for (rep <- 0 until Main.SetupReps) {
      val last = rep == Main.SetupReps - 1
      val t = Clock.nowMs
      p = new Pipeline(ctx, rep, if (last) "bronze" else s"bronze-setup$rep")
      val load = p.load()
      setupRepMs += Clock.nowMs - t
      warmOps ++= load
      require(load.forall(_.ok), s"snapshot load failed: ${load.filterNot(_.ok).map(_.error)}")
      if (!last) p.bronze.stop()
    }
    val warm = p.warm()
    warmOps ++= warm
    require(warm.forall(_.ok), s"warm-up failed: ${warm.filterNot(_.ok).map(_.error)}")
    p.listing(0)
    markSetupDone()
    val progressFrom = recorder.progress.size

    val t0 = Clock.nowMs
    var i = WarmIncrements + 1
    def timed = i - WarmIncrements - 1
    while (i < p.increments.size && (Clock.nowMs - t0 < seconds * 1000.0 ||
        timed < MinIncrements || timed % MaintainEvery != 0)) {
      // traced runs alternate traced and untraced increments, so one run
      // also measures the tracing overhead
      val traced = trace && (i - WarmIncrements) % 2 == 1
      val step = ArrayBuffer.empty[Op]
      step ++= p.apply(i, traced)
      if ((i - WarmIncrements) % MaintainEvery == 0) step ++= p.maintain(i, traced)
      step.foreach(_.extra("increment") = i)
      step ++= p.readSet(i, traced)
      ops ++= step
      p.listing(i)
      i += 1
    }
    measuredMs = Clock.nowMs - t0
    val progressTo = recorder.progress.size
    p.bronze.stop()
    recorder.drain()

    // correctness: final current state and history against the model
    val job = p.job
    val rows = job.currentState.filter(col("is_current") && !col("is_deleted"))
      .select("id", "product_name", "category", "price", "quantity").collect()
    val got = rows.map(r => r.getInt(0) -> (r.getString(1), r.getString(2), r.getDouble(3), r.getInt(4))).toMap
    val want = p.model.current.map { case (k, img) =>
      k -> (img.productName, img.category, img.price.toDouble, img.quantity) }.toMap
    if (got.size != rows.length) fail(s"current state holds ${rows.length - got.size} duplicate current rows")
    val wrong = (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
    if (wrong > 0) fail(s"current state differs from the model on $wrong of ${want.size} keys")
    val historyRows = job.table.read().count()
    if (historyRows != p.model.historyRows)
      fail(s"history holds $historyRows rows, model expects ${p.model.historyRows}")
    if (p.processed != p.landedEvents) fail(s"processed ${p.processed} rows, landed ${p.landedEvents} events")
    val bronzeRows = spark.read.parquet(p.staging).count()
    if (bronzeRows != p.landedEvents) fail(s"bronze holds $bronzeRows rows, landed ${p.landedEvents} events")
    out("cdc") = Map("keys" -> Keys, "increments" -> timed, "landed_events" -> p.landedEvents,
      "processed" -> p.processed, "history_rows" -> historyRows,
      "model_history_rows" -> p.model.historyRows, "current_keys" -> want.size,
      "versions" -> job.table.history().size, "listings" -> p.listings,
      "bronze_rows" -> bronzeRows, "progress_from" -> progressFrom, "progress_to" -> progressTo)
    out("progress") = recorder.progress.toArray.toSeq
    out("stream_batches") = recorder.streamOps.map(_.toMap)
  }
}

/** End offsets a stream lane has reported in its progress events. */
object Progress {
  private val OffsetRe = "\"(\\d+)\":(\\d+)".r
  def parseOffsets(json: String): Map[Int, Long] =
    OffsetRe.findAllMatchIn(json).map(m => m.group(1).toInt -> m.group(2).toLong).toMap

  /** Highest end offset of each of `partitions` partitions that the
    * lane has committed (-1 before its first batch). */
  def covered(recorder: Recorder, lane: String, partitions: Int): Seq[Long] = {
    val best = Array.fill(partitions)(-1L)
    recorder.progress.forEach { p =>
      if (p("lane") == lane && p("end_offset") != null)
        parseOffsets(p("end_offset").toString).foreach { case (k, v) =>
          if (k < partitions) best(k) = math.max(best(k), v)
        }
    }
    best.toSeq
  }
}

/** Recursive file listing as (relative path → bytes). */
object Listing {
  def of(root: String, prefix: String = ""): Map[String, Long] = {
    val base = new java.io.File(root)
    def walk(f: java.io.File, rel: String): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(c => walk(c, s"$rel/${c.getName}"))
      else Seq(rel.stripPrefix("/") -> f.length)
    if (!base.exists) Map.empty
    else walk(base, "").map { case (p, n) => s"$prefix$p" -> n }.toMap
  }
}
