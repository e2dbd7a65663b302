package graft

import graft.scd2.{Partitioning, VersionedTable}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Zone-map file skipping + key lookups (Delta/Iceberg file-stats
  * analog): per-file min/max of the lead clusterBy column recorded in
  * the manifest at write time; range reads drop non-overlapping files
  * driver-side, point lookups combine bucket pruning with zone skips.
  * Pruning must NEVER be a correctness filter — stats-less files (old
  * manifests, all-null zones, delete files) are always read.
  */
class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("zone").toString

  test("range read skips disjoint files, keeps results exact") {
    val t = new VersionedTable(spark, tmp())
    // 4 range-partitioned input partitions → 4 files with disjoint,
    // sorted id ranges (clusterBy sorts within each)
    val df = (1 to 1000).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(4, $"id")
    t.overwrite(df, clusterBy = Seq("id"))
    val (kept, total) = t.zonePrunedFileCount("id", 100, 120)
    assert(total == 4, s"expected 4 data files, got $total")
    assert(kept == 1, s"a 21-id range must hit exactly 1 file, kept $kept")
    val rows = t.readRange("id", 100, 120).as[(Int, String)].collect().sorted
    assert(rows.toSeq == (100 to 120).map(i => (i, s"v$i")))
    // full-range read keeps everything
    assert(t.zonePrunedFileCount("id", 1, 1000)._1 == 4)
  }

  test("optimize: shuffled input prunes nothing until the clustering rewrite") {
    val t = new VersionedTable(spark, tmp())
    // ids dealt round-robin across 4 input partitions: every file's
    // zone spans ~the whole domain, so range pruning keeps all files
    val shuffled = (1 to 1000).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(4)
    t.overwrite(shuffled, clusterBy = Seq("id"))
    val (kept0, total0) = t.zonePrunedFileCount("id", 100, 120)
    assert(total0 == 4 && kept0 == 4,
      s"shuffled zones must overlap the probe range: kept $kept0/$total0")
    val before = t.read().as[(Int, String)].collect().sorted.toSeq

    val v = t.optimize(Seq("id"), nFiles = 4)
    // disjoint ranges now: a 21-id probe hits exactly one file
    val (kept1, total1) = t.zonePrunedFileCount("id", 100, 120)
    assert(total1 == 4, s"expected 4 rewritten files, got $total1")
    assert(kept1 == 1, s"optimized zones must prune to 1 file, kept $kept1")
    // pure layout change: same rows, new version, tagged commit
    assert(t.read().as[(Int, String)].collect().sorted.toSeq == before)
    val (hv, _, meta, _, _) = t.history().head
    assert(hv == v && meta.contains("optimize:id"), s"history: $hv $meta")
  }

  test("optimize compacts MOR deletes and fences the change feed") {
    val t = new VersionedTable(spark, tmp())
    t.overwrite((1 to 100).map(i => (i, s"v$i")).toDF("id", "v"),
      clusterBy = Seq("id"))
    t.mergeDeltas(Seq((7, "v7b")).toDF("id", "v"), Seq(Tuple1(7)).toDF("id"),
      Seq(""))
    val before = t.read().as[(Int, String)].collect().sorted.toSeq
    val v = t.optimize(Seq("id"))
    assert(t.read().as[(Int, String)].collect().sorted.toSeq == before)
    // deletes are resolved into the rewrite: the new version carries
    // no equality-delete files
    assert(t.readVersion(v).as[(Int, String)].collect().sorted.toSeq == before)
    // a span crossing the rewrite throws (same contract as any rewrite)
    intercept[IllegalStateException](t.changesBetween(0, v))
  }

  test("zone maps use TYPED min/max (string compare would invert 9 vs 10)") {
    val t = new VersionedTable(spark, tmp())
    // one file spanning ids 9..10: a lexicographic zone ["10","9"]
    // would wrongly exclude id 10 from [10, 10]
    t.overwrite(Seq((9, "a"), (10, "b")).toDF("id", "v"), clusterBy = Seq("id"))
    assert(t.readRange("id", 10, 10).as[(Int, String)].collect().toSeq ==
      Seq((10, "b")))
  }

  test("pre-stats manifests and stats-less writes are never pruned") {
    val t = new VersionedTable(spark, tmp())
    t.overwrite(Seq((1, "a"), (500, "b")).toDF("id", "v")) // clusterBy Nil → no stats
    val (kept, total) = t.zonePrunedFileCount("id", 1, 1)
    assert(kept == total, "stats-less files must always be read")
    assert(t.readRange("id", 500, 500).count() == 1)
  }

  test("key lookup: bucket pruning + zone skip + exact match, MOR-safe") {
    val t = new VersionedTable(spark, tmp(), Partitioning.BucketBy("id", 8))
    t.overwrite((1 to 400).map(i => (i, s"v$i")).toDF("id", "v"),
      clusterBy = Seq("id"))
    // MOR delta on one key: lookup must see the NEW value (delete file
    // has no zone stats and must ride along)
    t.mergeDeltas(Seq((7, "v7b")).toDF("id", "v"), Seq(Tuple1(7)).toDF("id"),
      t.partitionValues(Seq((7, "")).toDF("id", "v")))
    val keys = Seq(7, 250).toDF("id")
    val got = t.readForKeys(keys).as[(Int, String)].collect().toMap
    assert(got == Map(7 -> "v7b", 250 -> "v250"))
    // and the manifest pruning actually narrowed the read: the keys
    // hash to at most 2 of the 8 buckets
    assert(t.partitionValues(keys).size <= 2)
  }

  test("string zone columns prune lexicographically and stay exact") {
    val t = new VersionedTable(spark, tmp())
    val df = ('a' to 'z').map(c => (s"$c-key", c.toInt)).toDF("k", "n")
      .repartitionByRange(4, $"k")
    t.overwrite(df, clusterBy = Seq("k"))
    // the 4-key range may straddle one sampled range boundary → ≤ 2 files
    val (kept, total) = t.zonePrunedFileCount("k", "m-key", "p-key")
    assert(total == 4 && kept <= 2, s"string range hit $kept of $total files")
    val got = t.readRange("k", "m-key", "p-key").as[(String, Int)]
      .collect().map(_._1).sorted
    assert(got.toSeq == Seq("m-key", "n-key", "o-key", "p-key"))
  }

  test("zone maps survive partition-scoped commits and carry-forward") {
    val t = new VersionedTable(spark, tmp(), Partitioning.BucketBy("id", 4))
    t.overwrite((1 to 100).map(i => (i, s"v$i")).toDF("id", "v"),
      clusterBy = Seq("id"))
    val touched = t.partitionValues(Seq((1, "")).toDF("id", "v"))
    t.replacePartitions(
      t.readPartitions(touched).withColumn("v", concat($"v", lit("!"))),
      touched, clusterBy = Seq("id"))
    // carried entries keep their zones; rewritten partition got fresh ones
    val (kept, total) = t.zonePrunedFileCount("id", 1, 100)
    assert(kept == total && total >= 4)
    val one = t.readForKeys(Seq(1).toDF("id")).as[(Int, String)].collect()
    assert(one.toSeq == Seq((1, "v1!")))
  }

  test("partitioned writes: one file per bucket, clusterBy order inside every file") {
    val root = tmp()
    val t = new VersionedTable(spark, root, Partitioning.BucketBy("id", 4))
    val ids = new scala.util.Random(7).shuffle((1 to 400).toList)
    t.overwrite(ids.map(i => (i, i % 7, s"v$i")).toDF("id", "k", "v").repartition(3),
      clusterBy = Seq("k", "id"))
    val files = t.manifestFiles(0)
    assert(files.map(_._1).distinct.size == files.size, s"one file per bucket: $files")
    files.foreach { case (part, f) =>
      val got = spark.read.parquet(s"$root/$f").select("k", "id").as[(Int, Int)].collect().toSeq
      assert(got == got.sorted, s"bucket $part lost its clusterBy order")
    }
  }

  // 64×64 uniform grid: every (a, b) pair once — the worst case for
  // linear clustering (trailing column fully shuffled within files)
  // and the textbook Z-order payoff surface
  private def grid2d() =
    (for (a <- 0 until 64; b <- 0 until 64) yield (a, b, a * 64 + b))
      .toDF("a", "b", "payload")

  test("zorder: narrow probes prune on BOTH columns; linear prunes only the lead") {
    val t = new VersionedTable(spark, tmp())
    t.overwrite(grid2d().repartition(4))
    val before = t.read().as[(Int, Int, Int)].collect().sorted.toSeq

    // linear clustering on (a, b): a-zones disjoint, b-zones span all
    t.optimize(Seq("a", "b"), nFiles = 16)
    val (keptA0, total0) = t.zonePrunedFileCount("a", 10, 13)
    val (keptB0, _) = t.zonePrunedFileCount("b", 10, 13)
    assert(total0 == 16)
    assert(keptA0 <= 2, s"lead-column probe must prune: kept $keptA0/16")
    assert(keptB0 == 16, s"trailing column cannot prune linear layout: $keptB0")

    // Z-order: a 4-wide probe on EITHER column prunes to ~sqrt(F)
    val v = t.optimizeZOrder(Seq("a", "b"), nFiles = 16)
    val (keptA1, total1) = t.zonePrunedFileCount("a", 10, 13)
    val (keptB1, _) = t.zonePrunedFileCount("b", 10, 13)
    assert(total1 == 16)
    assert(keptA1 <= 8, s"zorder a-probe: kept $keptA1/16")
    assert(keptB1 <= 8, s"zorder b-probe: kept $keptB1/16")
    // layout-only change: identical rows, exact range-read results
    assert(t.read().as[(Int, Int, Int)].collect().sorted.toSeq == before)
    val rows = t.readRange("b", 10, 13).as[(Int, Int, Int)].collect()
    assert(rows.length == 64 * 4 && rows.forall(r => r._2 >= 10 && r._2 <= 13))
    val (hv, _, meta, _, _) = t.history().head
    assert(hv == v && meta.contains("zorder:a,b"), s"history: $hv $meta")
  }

  test("zorder refuses partitioned tables and fewer than two columns") {
    val t = new VersionedTable(spark, tmp())
    t.overwrite(grid2d())
    intercept[IllegalArgumentException](t.optimizeZOrder(Seq("a")))
    val p = new VersionedTable(spark, tmp(), Partitioning.BucketBy("a", 4))
    p.overwrite(grid2d())
    intercept[IllegalArgumentException](p.optimizeZOrder(Seq("a", "b")))
  }

  test("zorder 4-column corner: bit-63 interleave routes logically; " +
      "nFiles=1 collapses cleanly; 5 columns refused") {
    // with k = 4 the top interleaved bit is bit 63, so an arithmetic
    // `>>` prefix extraction would go negative and crash the
    // partitioner; and p = 0 (one file) makes the shift 64, which
    // wraps to a no-op in Java — both corners must route, not throw
    val df = (for (a <- 0 until 8; b <- 0 until 8) yield
      (a, b, a ^ b, (a + b) % 8, a * 8 + b)).toDF("a", "b", "c", "dd", "payload")
    val t = new VersionedTable(spark, tmp())
    t.overwrite(df)
    val before = t.read().as[(Int, Int, Int, Int, Int)].collect().sorted.toSeq
    t.optimizeZOrder(Seq("a", "b", "c", "dd"), nFiles = 4)
    assert(t.read().as[(Int, Int, Int, Int, Int)].collect().sorted.toSeq == before)
    t.optimizeZOrder(Seq("a", "b", "c", "dd"), nFiles = 1)
    assert(t.read().as[(Int, Int, Int, Int, Int)].collect().sorted.toSeq == before)
    intercept[IllegalArgumentException](
      t.optimizeZOrder(Seq("a", "b", "c", "dd", "payload")))
  }
}
