package graft

import graft.ext.{Dedup, Embeddings, Multimodal, PathMemo, Similarity, TextAnalysis}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Extension-surface invariants. The DuckDB hash gate covers value
  * parity; these pin the cross-operator relationships (LSH recall vs
  * exact, IVF vs brute force) that the per-query oracles can't see.
  */
class ExtSpec extends SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("planted near-duplicates exist and exact-jaccard finds them") {
    val j = Dedup.queries("dedup_ngram_jaccard")(spark, sfDir)
    assert(j.count() >= 20) // 28 planted pairs at sf0.001
    assert(j.agg(min("jaccard")).first().getDouble(0) >= 0.8)
  }

  test("df-capped blocking equals the uncapped exact pass (recall condition)") {
    // planted near-dup pairs share rare shingles, so capping candidate
    // generation at a small df loses nothing while bounding every join
    // group to df² pairs — the hot-shingle quadratic guard
    val uncapped = Dedup.queries("dedup_ngram_jaccard")(spark, sfDir)
      .collect().map(_.toSeq)
    val capped = Dedup.queries("dedup_ngram_jaccard_blocked")(spark, sfDir)
      .collect().map(_.toSeq)
    assert(capped.toSeq == uncapped.toSeq)
    // and a tight cap (df<=4 covers the planted pairs at sf0.001) still
    // finds every pair, proving the cap path actually exercises pruning
    val tight = Dedup.jaccardPairsBlockedForTest(spark, sfDir, maxBlockDf = 4)
      .collect().map(_.toSeq)
    assert(tight.toSeq == uncapped.toSeq)
  }

  test("df-capped containment equals the uncapped pass (min-denominator split)") {
    // r10: containment shares cappedPairStats — the split intersection
    // inter = inter_rare + inter_hot must stay exact under the MIN
    // denominator too. Default cap resolves to the uncapped fixed point
    // on this fixture; a tight cap forces the rare/hot split machinery.
    val uncapped = Dedup.queries("dedup_containment")(spark, sfDir)
      .collect().map(_.toSeq)
    assert(uncapped.nonEmpty)
    val tight = Dedup.containmentForTest(spark, sfDir, maxBlockDf = 4)
      .collect().map(_.toSeq)
    assert(tight.toSeq == uncapped.toSeq)
  }

  test("auto-cap tightens on a duplication-heavy corpus; capped semantics hold (non-fixed-point case)") {
    // r10 verdict item 2: every gated fixture resolves to the UNCAPPED
    // fixed point, so the engine↔oracle identity was corpus-dependent,
    // not structural. This fixture forces the cap to actually tighten:
    // 304 docs share a 7-word boilerplate prefix (5 shingles, df=304),
    // so Σ min(df,1000)²·cnt ≈ 470k > 32·Σdf ≈ 290k and jaccardAutoCap
    // resolves to lo=64 (the only mid candidate, 304, also fails).
    // Expected capped output — the recall condition "≥1 shared sub-cap
    // shingle" — is derivable by hand: only the planted twin pair
    // (9003, 9004) shares rare shingles; the pure-boilerplate pair
    // (9001, 9002) has jaccard 1.0 but ONLY hot shingles, so the
    // capped engine (and the cap-aware oracle) must DROP it while the
    // uncapped pass keeps it.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dupheavy").toString
    val boiler = (1 to 7).map("b" + _).mkString(" ")
    val tail = (i: String) => (0 until 25).map(j => s"${i}_$j").mkString(" ")
    val docs = (0 until 300).map(i => (i.toLong, s"$boiler ${tail("u" + i)}")) ++
      Seq((9001L, boiler), (9002L, boiler),
        (9003L, s"$boiler ${tail("c")}"), (9004L, s"$boiler ${tail("c")}"))
    docs.toDF("doc_id", "text").repartition(4)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // the cap genuinely tightens below the max observed df
    val df = Tables.documents(spark, dir)
      .select($"doc_id", explode(array_distinct(expr(
        "transform(sequence(1, size(split(text,' '))-2), i -> concat_ws(' '," +
          " element_at(split(text,' '),i), element_at(split(text,' '),i+1)," +
          " element_at(split(text,' '),i+2)))"))).as("sh"))
    val hist = df.groupBy($"sh").agg(count(lit(1)).as("df"))
      .groupBy(least($"df", lit(4096L)).as("dfc"))
      .agg(count(lit(1)).as("cnt"), sum($"df").as("occ")).collect()
    val cap = Dedup.jaccardAutoCap(
      hist.map(r => (r.getLong(0), r.getLong(1))).toSeq,
      hist.map(_.getLong(2)).sum, 1000)
    val maxDf = hist.map(_.getLong(0)).max
    assert(cap < 1000 && maxDf > cap, s"fixture must tighten: cap=$cap maxDf=$maxDf")

    // capped engine output = exactly the rare-shingle twin pair
    val capped = Dedup.queries("dedup_ngram_jaccard_blocked")(spark, dir).collect()
    assert(capped.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      == Seq((9003L, 9004L, 1.0)))
    val cont = Dedup.queries("dedup_containment")(spark, dir).collect()
    assert(cont.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      == Seq((9003L, 9004L, 1.0)))
    // …while the uncapped pass keeps the hot-only pair: the fixture is
    // a true non-fixed-point case (a plain oracle WOULD diverge here,
    // which is why the committed oracle carries the cap arithmetic)
    val uncapped = pairs(Dedup.queries("dedup_ngram_jaccard")(spark, dir))
    assert(uncapped == Set((9001L, 9002L), (9003L, 9004L)))
  }

  test("minhash LSH finds the same j>=0.8 pairs as the exact pass") {
    // 4 bands × 2 rows at j≈0.9+: per-pair miss probability < 1e-3; the
    // fixed corpus makes this deterministic — assert exact agreement.
    val exact = pairs(Dedup.queries("dedup_ngram_jaccard")(spark, sfDir))
    val lsh = pairs(Dedup.queries("dedup_minhash_lsh")(spark, sfDir))
    assert(lsh == exact)
  }

  test("simhash banding is exact for hamming <= 3 (pigeonhole, 64-bit)") {
    val out = Dedup.queries("dedup_simhash")(spark, sfDir)
    assert(out.count() > 0)
    assert(out.agg(max("hamming")).first().getInt(0) <= 3)
    val dup = out.groupBy("a_id", "b_id").count().filter(col("count") > 1).count()
    assert(dup == 0, "banded union must be distinct")
    // pigeonhole re-proof for the 8-bands × 8-bits math: the banded join
    // must equal the brute-force all-pairs Hamming pass exactly
    val sims = Dedup.simhashesForTest(spark, sfDir)
    val brute = sims.as("a").join(sims.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("hamming",
        (bit_count(expr("bigint(a.sim_a) ^ bigint(b.sim_a)")) +
          bit_count(expr("bigint(a.sim_b) ^ bigint(b.sim_b)"))).cast("int"))
      .filter(col("hamming") <= 3)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"), col("hamming"))
    assert(out.collect().map(_.toSeq).toSet == brute.collect().map(_.toSeq).toSet)
  }

  test("exact dedup: content_fp groups cover all docs") {
    val d = Dedup.queries("dedup_exact")(spark, sfDir)
    val total = d.agg(sum("n_docs")).first().getLong(0)
    assert(total == Tables.documents(spark, sfDir).count())
  }

  test("typed TopK aggregator reproduces the window top-k exactly") {
    val window = Similarity.queries("sim_knn_bruteforce")(spark, sfDir)
      .collect().map(_.toSeq)
    val agg = Similarity.knnBruteTopKAgg(spark, sfDir, k = 5)
      .collect().map(_.toSeq)
    assert(agg.toSeq == window.toSeq)
  }

  test("IVF with nprobe = all cells reproduces brute force exactly") {
    val brute = Similarity.queries("sim_knn_bruteforce")(spark, sfDir).collect()
    val full = Similarity.knnIvf(spark, sfDir, k = 5, nprobe = 10).collect()
    assert(brute.map(_.toSeq).toSeq == full.map(_.toSeq).toSeq)
  }

  test("IVF-PQ with every cell probed degrades to exactly plain PQ") {
    // the fused regime's law: the coarse prune is a pure subset
    // operation, so probing all cells must reproduce the PQ/ADC
    // ranking bit-for-bit (same adc_ppm integers, same tiebreaks)
    val pq = Similarity.queries("sim_knn_pq")(spark, sfDir).collect()
    val full = Similarity.knnIvfPq(spark, sfDir, k = 5, nprobe = 10).collect()
    assert(pq.map(_.toSeq).toSeq == full.map(_.toSeq).toSeq)
  }

  test("re-rank over the full candidate pool reproduces brute force exactly") {
    // retrieve-then-rerank law: with every cell probed and a candidate
    // pool covering the whole corpus, the exact re-scoring stage must
    // collapse to plain brute-force top-5 (same cosines, same ties)
    val brute = Similarity.queries("sim_knn_bruteforce")(spark, sfDir).collect()
    val full = Similarity.knnRerankFrom(spark, sfDir,
      kPrime = 100000, nprobe = 10).collect()
    assert(brute.map(_.toSeq).toSeq == full.map(_.toSeq).toSeq)
  }

  test("IVF with nprobe=3 returns k ranked results per query, subset-scored") {
    val ivf = Similarity.knnIvf(spark, sfDir, k = 5, nprobe = 3)
    val perQuery = ivf.groupBy("query_id").count().collect()
    assert(perQuery.forall(_.getLong(1) == 5))
    // IVF cosines can never exceed the brute-force best
    val bruteBest = Similarity.queries("sim_knn_bruteforce")(spark, sfDir)
      .filter(col("rank") === 1)
      .select("query_id", "cos_sim").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivfBest = ivf.filter(col("rank") === 1)
      .select("query_id", "cos_sim").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ivfBest.foreach { case (q, c) => assert(c <= bruteBest(q) + 1e-9) }
  }

  test("hyperplane LSH: probing every bucket reproduces brute force") {
    val brute = Similarity.queries("sim_knn_bruteforce")(spark, sfDir)
      .collect().map(_.toSeq)
    val all = Similarity.knnHyperplaneLsh(spark, sfDir, k = 5, nPlanes = 4,
      probeAll = true).collect().map(_.toSeq)
    assert(all.toSeq == brute.toSeq)
  }

  test("hyperplane LSH multiprobe: k ranked results, never better than brute") {
    val lsh = Similarity.knnHyperplaneLsh(spark, sfDir, k = 5, nPlanes = 4)
    val perQuery = lsh.groupBy("query_id").count().collect()
    assert(perQuery.forall(_.getLong(1) == 5))
    val bruteBest = Similarity.queries("sim_knn_bruteforce")(spark, sfDir)
      .filter(col("rank") === 1).select("query_id", "cos_sim").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    lsh.filter(col("rank") === 1).select("query_id", "cos_sim").collect()
      .foreach(r => assert(r.getDouble(1) <= bruteBest(r.getLong(0)) + 1e-9))
  }

  test("thresholded LSH near-dup finds planted near-identical pairs, nothing else") {
    import spark.implicits._
    // plant near-dups: perturb one element slightly (cos ≈ 0.999999);
    // the corpus itself has no pair above 0.51, so precision is exact
    val base = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").orderBy($"vec_id").limit(30)
    val copies = base.select(($"vec_id" + 100000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> IF(i = 0, float(double(x) + 0.001), x))")
        .as("embedding"))
    val found = ext.Similarity.nearDupLsh(base.unionByName(copies), minCos = 0.95)
    val expected = base.select($"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 100000L)).toSet
    assert(pairs(found) == expected)
    assert(found.agg(min("cos_sim")).first().getDouble(0) >= 0.95)
  }

  test("cosine is a strict in-order fold: self-similarity is 1") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir).limit(20)
    val selfCos = emb.select(round(Similarity.cosine($"embedding", $"embedding"), 9)
      .as("c")).collect()
    assert(selfCos.forall(_.getDouble(0) == 1.0))
  }

  test("multimodal: decode stub is deterministic and schema-complete") {
    val media = Multimodal.mediaTable(spark, sfDir)
    val feats = Multimodal.decode(media).cache()
    try {
      assert(feats.count() == 500)
      val f = feats.filter(_.media_id == 1).head()
      val f2 = Multimodal.decode(Multimodal.mediaTable(spark, sfDir))
        .filter(_.media_id == 1).head()
      assert(f == f2)
      assert(f.width % 16 == 0 && f.height % 16 == 0)
      assert(feats.filter(_.kind == "image").head().duration_ms == 0L)
    } finally feats.unpersist()
  }

  test("multimodal: resize preserves aspect ratio and never upscales") {
    val feats = Multimodal.decode(Multimodal.mediaTable(spark, sfDir))
    val resized = Multimodal.resize(feats, maxDim = 256).collect()
    resized.foreach { f =>
      assert(math.max(f.width, f.height) <= 256)
      assert(f.width >= 1 && f.height >= 1)
    }
    val before = feats.collect().map(f => f.media_id -> f).toMap
    resized.foreach { f =>
      val b = before(f.media_id)
      if (math.max(b.width, b.height) <= 256)
        assert(f.width == b.width && f.height == b.height) // no upscale
      else {
        val ratioBefore = b.width.toDouble / b.height
        val ratioAfter = f.width.toDouble / f.height
        assert(math.abs(ratioBefore - ratioAfter) / ratioBefore < 0.1)
      }
    }
  }

  test("multimodal: frame sampling explodes ~1 frame per 10s of video") {
    val feats = Multimodal.decode(Multimodal.mediaTable(spark, sfDir))
    val frames = Multimodal.sampleFrames(feats).cache()
    try {
      val videos = feats.filter(_.kind == "video").collect()
      val expected = videos.map(v => math.max(1, (v.duration_ms / 10000L).toInt)).sum
      assert(frames.count() == expected)
      // frames key back to their parent deterministically
      assert(frames.head().frame_key.endsWith("-0"))
    } finally frames.unpersist()
  }

  // ------------------------------------------------- connected components

  test("connected components: transitivity, multiple components, min labels") {
    import spark.implicits._
    // chain 1-2-3 (transitive closure without a direct 1-3 edge),
    // pair 10-11, triangle 20-21-22
    val prs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("a_id", "b_id")
    val lab = Dedup.connectedComponents(prs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connected components: worst-case chain converges inside the fence") {
    import spark.implicits._
    // a path graph is the max-diameter worst case for min propagation
    val n = 12
    val chain = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("a_id", "b_id")
    val lab = Dedup.connectedComponents(chain)
    assert(lab.count() == n)
    assert(lab.select("label").distinct().collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("connected components: random graphs match a union-find ground truth") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val n = 20 + trial * 10
      val edges = (1 to n).map(_ =>
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      // driver-side union-find truth
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val truth = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(v => v -> find(v)).toMap
      // min-relabel: union-find roots aren't guaranteed minimal, so
      // normalize both sides to component-minimum labels
      val minOf = truth.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
      val expected = truth.map { case (v, r) => v -> minOf(r) }
      val got = Dedup.connectedComponents(edges.toDF("a_id", "b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial: $edges")
    }
  }

  test("dedup_clusters: pairs land in one cluster; keeper is the component min") {
    val pr = pairs(Dedup.queries("dedup_ngram_jaccard")(spark, sfDir))
    val cl = Dedup.queries("dedup_clusters")(spark, sfDir).collect()
    val lab = cl.map(r => r.getLong(0) -> r.getLong(1)).toMap
    pr.foreach { case (a, b) => assert(lab(a) == lab(b), s"pair ($a,$b) split") }
    cl.foreach { r =>
      assert(r.getBoolean(3) == (r.getLong(0) == r.getLong(1)), "keeper flag")
    }
    cl.groupBy(_.getLong(1)).foreach { case (cid, rows) =>
      assert(rows.map(_.getLong(0)).min == cid, s"cluster $cid not labeled by min")
      assert(rows.head.getLong(2) == rows.length, s"cluster $cid size drift")
    }
  }

  test("dedupe keep-list: survivors = corpus minus non-keepers, one per cluster") {
    val total = Tables.documents(spark, sfDir).count()
    val cl = Dedup.queries("dedup_clusters")(spark, sfDir).collect()
    val survivors = Dedup.queries("dedup_dedupe")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val dropped = cl.filter(!_.getBoolean(3)).map(_.getLong(0)).toSet
    assert(survivors.size == total - dropped.size, "partition law broken")
    assert(dropped.forall(!survivors(_)), "a dropped doc survived")
    // every cluster's keeper survives
    cl.filter(_.getBoolean(3)).foreach(r => assert(survivors(r.getLong(0))))
  }

  test("normalize: grid-reconstructed vectors have unit norm within grid error") {
    import spark.implicits._
    // reconstruct n_i from the same grid the hash uses; ||n||² must be
    // 1 within the accumulated quantization error (64 dims × 1e-6 grid)
    val worst = Tables.embeddings(spark, sfDir).limit(100)
      .withColumn("q2", expr(
        "aggregate(embedding, 0L, (acc, x) -> acc + " +
          "cast(floor(cast(x as double) * 1000000d + 0.5d) as bigint) * " +
          "cast(floor(cast(x as double) * 1000000d + 0.5d) as bigint))"))
      .withColumn("s", sqrt($"q2".cast("double")))
      .withColumn("n2", expr(
        "aggregate(transform(embedding, " +
          "x -> floor(cast(x as double) * 1000000d / s * 1000000d + 0.5d) / 1000000d), " +
          "cast(0.0 as double), (acc, v) -> acc + v * v)"))
      .agg(max(abs($"n2" - 1.0))).first().getDouble(0)
    assert(worst < 1e-3, s"unit-norm drift $worst")
  }

  // ------------------------------------------------------ decontamination

  test("decontaminate: planted train/test 8-gram overlap is flagged, clean doc is not") {
    import spark.implicits._
    import java.security.MessageDigest
    def bucket(id: Long): Int = {
      val h = MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
      "%02x".format(h(0) & 0xff).substring(0, 1).charAt(0) match {
        case c if c <= '9' => c - '0'
        case c => c - 'a' + 10
      }
    }
    val testId = (0L to 200L).find(bucket(_) == 15).get
    val trainIds = (0L to 400L).filter(bucket(_) <= 13)
    val (dirtyId, cleanId) = (trainIds.head, trainIds(1))
    val eight = "q w e r t y u i" // the shared 8-gram
    val docs = Seq(
      (testId, s"$eight zz held out doc"),
      (dirtyId, s"copied prefix $eight trailing words here"),
      (cleanId, "totally different words with no shared gram at all present"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("decontam").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.queries("text_decontaminate")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(dirtyId)._2 && out(dirtyId)._1 >= 1, "planted overlap missed")
    assert(!out(cleanId)._2 && out(cleanId)._1 == 0, "clean doc flagged")
    assert(!out.contains(testId), "test docs must not appear in the train report")
  }

  test("TaskCpuMeter: a real job reports positive cpu, a no-op window reports zero") {
    // the contract Bench's queries_cpu column and the Dev A/B tools
    // archive against: windows are isolated by the bus drain, so an
    // empty window reads 0 even right after a heavy action
    val meter = new TaskCpuMeter(spark.sparkContext)
    val (wall, cpu, gc) = meter.timed(
      spark.range(0, 2_000_000, 1, 4).selectExpr("sum(id * id)").collect(): Unit)
    assert(wall > 0 && cpu > 0, s"real job must meter wall/cpu, got ($wall, $cpu)")
    assert(gc >= 0, s"gc must be non-negative, got $gc")
    val (_, cpuIdle, gcIdle) = meter.timed(())
    assert(cpuIdle == 0.0 && gcIdle == 0.0,
      s"empty window must read zero after the drain, got ($cpuIdle, $gcIdle)")
  }

  test("Bench.streamProf: samples keyed by leg, a failed cold run drops no steady sample") {
    val prof = Bench.streamProf(Map(
      // cold run failed (no leg-0 sample): all three steady legs count
      "stream_a" -> Seq((1, 4L, 30L), (2, 4L, 10L), (3, 4L, 20L)),
      // cold sample excluded from the steady median
      "stream_b" -> Seq((0, 6L, 900L), (1, 6L, 40L), (2, 6L, 50L), (3, 6L, 60L)),
      // only ever ran cold: its query row reads -1, so no telemetry row
      "stream_c" -> Seq((0, 2L, 5L))))
    assert(prof == Seq(("stream_a", 4L, 20L), ("stream_b", 6L, 50L)))
  }

  test("minhashNearDupPairs operator: custom columns, exact dup found, distinct doc clean") {
    import spark.implicits._
    // deterministic fixture: identical texts share every shingle
    // (jaccard 1.0 — all four bands collide by construction, no LSH
    // recall probability in the spec), the third doc shares none (even
    // a freak band collision is filtered by the exact verify)
    val same = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (10L, same), (20L, same),
      (30L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("id", "body")
    val out = Dedup.minhashNearDupPairs(docs, "body", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((10L, 20L, 1.0)),
      s"expected exactly the planted dup pair, got ${out.toSeq}")
  }

  test("decontaminate operator: custom columns, custom n, short rows report clean") {
    import spark.implicits._
    // separate train/eval frames with caller-named columns — the r13
    // API lift's whole point; n=3 so the fixture stays readable
    val eval = Seq((900L, "alpha beta gamma delta")).toDF("id", "body")
    val train = Seq(
      (1L, "prefix words alpha beta gamma suffix"), // shares the 3-gram
      (2L, "beta gamma words alpha beta stop"),     // 2-gram overlaps only
      (3L, "al be"))                                // shorter than n: clean by construction
      .toDF("id", "body")
    val out = TextAnalysis.decontaminate(train, eval, "body", "id", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == ((1L, true)), s"3-gram overlap missed: ${out(1L)}")
    assert(out(2L) == ((0L, false)), "2-gram overlap must not flag at n=3")
    assert(out(3L) == ((0L, false)), "sub-n row must report clean, not vanish")
    assert(out.size == 3, "one output row per train row")
  }

  test("stratified sample equals an independent md5-threshold recomputation") {
    import java.security.MessageDigest
    def keyOf(id: Long): Int = {
      val h = MessageDigest.getInstance("MD5")
        .digest(s"samp:$id".getBytes("UTF-8"))
      // first byte of the hex form = first two nibbles
      h(0) & 0xff
    }
    val thr = Map("en" -> 128, "de" -> 192, "fr" -> 64).withDefaultValue(256)
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = docs.filter { case (id, l) => keyOf(id) < thr(l) }.map(_._1).toSet
    val kept = ext.TextAnalysis.queries("text_sample_stratified")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    assert(kept == expect, "sample drifted from the salted-md5 threshold law")
    assert(kept.size < docs.length, "some stratum must actually downsample")
  }

  test("sequence packing: per-shard streams are contiguous, bins respect the budget") {
    val out = ext.TextAnalysis.queries("text_pack_sequences")(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getInt(1)).foreach { case (_, rows) =>
      var expect = 0L
      rows.sortBy(_.getLong(0)).foreach { r =>
        assert(r.getLong(3) == expect, "start_tok must be the running shard sum")
        assert(r.getLong(4) == r.getLong(3) / 2048, "bin is the start's window")
        expect += r.getLong(2)
      }
    }
  }

  test("keywords: ranks contiguous, ordered by (tf desc, df asc, term)") {
    val out = ext.TextAnalysis.queries("text_keywords")(spark, sfDir).collect()
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length), "rank gap")
      sorted.iterator.sliding(2).withPartial(false).foreach { w =>
        val Seq(a, b) = w.toSeq
        val ka = (-a.getLong(3), a.getLong(4), a.getString(2))
        val kb = (-b.getLong(3), b.getLong(4), b.getString(2))
        assert(Ordering[(Long, Long, String)].lt(ka, kb), "rank order violated")
      }
    }
  }

  // ----------------------------------------------------------- embeddings

  test("emb_centroids: per-(label, dim) count equals the label population; dims complete") {
    import spark.implicits._
    val c = ext.Embeddings.queries("emb_centroids")(spark, sfDir)
    val pop = Tables.embeddings(spark, sfDir).groupBy($"label").count()
    val joined = c.join(pop, "label")
    assert(joined.filter($"n" =!= $"count").isEmpty, "n drifts from label population")
    val dims = c.groupBy($"label").agg(countDistinct($"dim").as("nd"),
      min($"dim").as("lo"), max($"dim").as("hi")).collect()
    dims.foreach { r =>
      assert(r.getLong(1) == 64 && r.getInt(2) == 1 && r.getInt(3) == 64)
    }
  }

  test("emb_quantize: dequantization reconstructs within half a grid step") {
    import spark.implicits._
    val worst = Tables.embeddings(spark, sfDir).limit(100)
      .withColumn("maxabs",
        expr("array_max(transform(embedding, x -> abs(cast(x as double))))"))
      .withColumn("scale", lit(127.0) / col("maxabs"))
      // max |x - round_half_up(x*scale)/scale| * scale must be <= 0.5
      .withColumn("err_steps", expr(
        "array_max(transform(embedding, " +
          "x -> abs(cast(x as double) * scale - floor(cast(x as double) * scale + 0.5d))))"))
      .agg(max($"err_steps")).first().getDouble(0)
    assert(worst <= 0.5 + 1e-9, s"quantization error $worst grid steps")
  }

  test("approx distinct is within 5% of exact") {
    graft.operators.Relational.queries("rel_approx_distinct")(spark, sfDir)
      .collect().foreach { r =>
        assert(r.getAs[Boolean]("within_5pct"),
          s"${r.getString(0)}: sketch outside 5% of exact")
      }
  }

  test("salted join equals the plain join") {
    import spark.implicits._
    val big = Tables.events(spark, sfDir).select($"user_id", $"event_id", $"value")
    val small = Tables.events(spark, sfDir)
      .groupBy($"user_id").count().withColumnRenamed("count", "user_events")
    def summarize(df: org.apache.spark.sql.DataFrame) = df
      .agg(count(lit(1)), sum($"event_id"), sum($"user_events")).first().toSeq
    val plain = summarize(big.join(small, Seq("user_id")))
    val salted = summarize(
      graft.operators.Skew.saltedJoin(big, small, "user_id", salt = 7))
    assert(salted == plain)
    // r10: the auto-sized variant obeys the same law (probe + width
    // formula must not perturb the join result at ANY resolved width)
    val auto = summarize(
      graft.operators.Skew.saltedJoinAuto(big, small, "user_id"))
    assert(auto == plain)
  }

  test("saltWidth: data-sized salt formula (spec-pinned driver function)") {
    import graft.operators.Skew.saltWidth
    // uniform data: hottest key ≈ average ⇒ no salting
    assert(saltWidth(maxKeyRows = 100, totalRows = 100000, shuffleParts = 32) == 1)
    // one key owning half the data on 32 partitions: spread it wide
    assert(saltWidth(50000, 100000, 32) == 16)
    // hottest key IS the data: clamp to the shuffle width
    assert(saltWidth(100000, 100000, 32) == 32)
    // degenerate inputs never explode
    assert(saltWidth(0, 0, 32) == 1)
    assert(saltWidth(7, 7, 1) == 1)
    // monotone in skew: more hot rows never narrows the salt
    val widths = Seq(1000L, 5000L, 20000L, 90000L)
      .map(mx => saltWidth(mx, 100000, 32))
    assert(widths == widths.sorted)
  }

  test("text quality: flags are consistent with their inputs") {
    val q = TextAnalysis.queries("text_quality")(spark, sfDir).collect()
    q.foreach { r =>
      val pass = r.getAs[Boolean]("passes_quality")
      val n = r.getAs[Long]("n_tokens")
      val sw = r.getAs[Double]("stopword_ratio")
      val ttr = r.getAs[Double]("ttr")
      assert(pass == (n >= 20 && n <= 1000 && sw > 0.0 && ttr > 0.2))
    }
  }

  test("train split is deterministic, total, and roughly 14/1/1") {
    val s1 = TextAnalysis.queries("text_train_split")(spark, sfDir).collect()
    val s2 = TextAnalysis.queries("text_train_split")(spark, sfDir).collect()
    assert(s1.map(_.toSeq).toSeq == s2.map(_.toSeq).toSeq) // reproducible
    val n = s1.length
    assert(n == Tables.documents(spark, sfDir).count())    // total: every doc assigned
    val bySplit = s1.groupBy(_.getAs[String]("split")).view.mapValues(_.length).toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    assert(bySplit("train") > n / 2)                        // ~87.5%
    assert(bySplit("val") + bySplit("test") < n / 4)
  }

  test("chunking covers every token once per window stride") {
    import spark.implicits._
    val chunks = TextAnalysis.queries("text_chunking")(spark, sfDir)
    val stats = TextAnalysis.queries("text_token_stats")(spark, sfDir)
      .select($"doc_id", $"n_tokens")
    val j = chunks.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"), sum($"n_tokens").as("chunk_tokens"),
        max($"n_tokens").as("max_chunk"))
      .join(stats, "doc_id").collect()
    j.foreach { r =>
      val n = r.getAs[Long]("n_tokens")
      val nChunks = r.getAs[Long]("n_chunks")
      // stop once a window reaches the end: no chunk may be a strict
      // suffix of its predecessor (zero new tokens = duplicated data)
      val expectedChunks = if (n <= 50) 1L else (n - 50 + 39) / 40 + 1
      assert(nChunks == expectedChunks, s"chunk count for n=$n")
      assert(r.getAs[Int]("max_chunk") <= 50)
      // window i spans tokens [40i+1, min(40i+50, n)]
      val expected = (0L until nChunks).map(i => math.min(50L, n - 40 * i)).sum
      assert(r.getAs[Long]("chunk_tokens") == expected, s"coverage for n=$n")
      // the final window always contributes new tokens
      if (nChunks > 1) assert(n > 40 * (nChunks - 1) + 10, s"redundant tail for n=$n")
    }
  }

  test("vocabulary tf sums to the corpus token count, df bounded by docs") {
    import spark.implicits._
    val v = TextAnalysis.queries("text_vocabulary")(spark, sfDir)
    val totalTokens = TextAnalysis.queries("text_token_stats")(spark, sfDir)
      .agg(sum($"n_tokens")).first().getLong(0)
    assert(v.agg(sum($"tf")).first().getLong(0) == totalTokens)
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(v.filter($"df" > nDocs).count() == 0)
    // rank is a permutation 1..|V|
    assert(v.agg(max($"rank")).first().getInt(0) == v.count())
  }

  test("text fingerprint: bow_fp collides for same token set, content_fp doesn't lie") {
    val fp = TextAnalysis.queries("text_fingerprint")(spark, sfDir)
    assert(fp.select("content_fp").distinct().count() ==
      Tables.documents(spark, sfDir).select("text").distinct().count())
  }

  test("bloom-pre-filtered incremental dedup equals the plain variant") {
    // the bloom has no false negatives, so pre-filtering the batch and
    // exact-joining only the possible hits must reproduce the plain
    // left-join answer row-for-row at ANY false-positive rate
    val plain = Dedup.queries("dedup_incremental")(spark, sfDir)
      .collect().map(_.toSeq)
    val bloom = Dedup.queries("dedup_incremental_bloom")(spark, sfDir)
      .collect().map(_.toSeq)
    assert(bloom.toSeq == plain.toSeq)
    // and the union of the two branches covers the batch exactly once
    import spark.implicits._
    val batchRows = Tables.documents(spark, sfDir)
      .filter($"doc_id" % 5 === 0).count()
    assert(bloom.length.toLong == batchRows)
  }

  test("bloom incremental dedup: empty corpus marks every batch row new") {
    // ADVICE r5: BloomFilterAggregate over zero rows returns NULL,
    // which nulled BOTH branch predicates and silently emptied the
    // result — a fresh pipeline's first batch must come back complete
    import spark.implicits._
    val batch = Seq((1L, "aa"), (2L, "bb")).toDF("doc_id", "fp")
    val empty = batch.filter(lit(false)).select($"fp")
    val out = Dedup.bloomIncremental(empty, batch)
      .as[(Long, String, Boolean)].collect().toSet
    assert(out == Set((1L, "aa", false), (2L, "bb", false)))
  }

  test("novelty fractions are lawful and hash blocking changed nothing") {
    import spark.implicits._
    val n = TextAnalysis.queries("text_novelty")(spark, sfDir)
    assert(n.filter($"novelty" < 0 || $"novelty" > 1 ||
      $"boilerplate" < 0 || $"boilerplate" > 1).count() == 0)
    // recompute one doc's novelty on shingle STRINGS (no xxhash64
    // blocking) and compare — proves the 8-byte blocking key is an
    // implementation detail, not a semantic change
    val sh = Tables.documents(spark, sfDir)
      .select($"doc_id", split($"text", " ").as("ws"))
      .filter(size($"ws") >= 3)
      .select($"doc_id", explode(expr(
        "array_distinct(transform(sequence(1, size(ws)-2), " +
          "i -> concat_ws(' ', element_at(ws,i), element_at(ws,i+1), element_at(ws,i+2))))"))
        .as("sh3"))
    val dfTab = sh.groupBy($"sh3").agg(count(lit(1)).as("df"))
    val expected = sh.join(dfTab, "sh3").groupBy($"doc_id")
      .agg((sum(when($"df" === 1, 1L).otherwise(0L)).cast("double") /
        count(lit(1))).as("novelty"))
    val got = n.select($"doc_id", $"novelty".as("got"))
    assert(expected.join(got, "doc_id")
      .filter($"novelty" =!= $"got").count() == 0)
  }

  test("PQ encoding: 8 codes per vector; PQ distance lower-bounds assignment") {
    import spark.implicits._
    val pq = graft.ext.Embeddings.queries("emb_pq_encode")(spark, sfDir).cache()
    // every vector carries exactly one code per subspace 0..7
    val shape = pq.groupBy($"vec_id")
      .agg(count(lit(1)).as("n"), countDistinct($"sub").as("d"),
        min($"sub").as("lo"), max($"sub").as("hi"))
    assert(shape.filter($"n" =!= 8 || $"d" =!= 8 ||
      $"lo" =!= 0 || $"hi" =!= 7).count() == 0)
    // per-subspace minimization relaxes the joint constraint, so the
    // summed PQ residual can never exceed the single-codeword residual
    // of the full k-means assignment — the bound ADC search relies on
    val pqSum = pq.groupBy($"vec_id").agg(sum($"sub_dist2").as("pq_d2"))
    val ca = graft.ext.Embeddings.queries("sim_cluster_assign")(spark, sfDir)
      .select($"vec_id", $"dist2")
    assert(pqSum.join(ca, "vec_id")
      .filter($"pq_d2" > $"dist2" + 1e-9).count() == 0)
    pq.unpersist()
  }

  test("auto-sized blocking reduces to the oracle fixed point at the gate corpus") {
    // the sf0.001/sf0.01 embeddings tables are 500 vectors × 10 labels;
    // BOTH auto-sizing formulas must reduce to the parameterization the
    // DuckDB oracles inline as literals (4×3 hyperplanes; block ≡
    // cluster) — a formula change that moves this fixed point would
    // silently hash-red the driver gates
    assert(graft.ext.Similarity.nearDupAutoPlanes(500) == 3)
    assert(graft.ext.Embeddings.semanticSubBits(500, 10) == 0)
    // and must GROW with the corpus (constant-occupancy scaling): the
    // values the 10×/20× soaks measured sub-linear with
    assert(graft.ext.Similarity.nearDupAutoPlanes(2000) == 5)
    assert(graft.ext.Similarity.nearDupAutoPlanes(20000) == 9)
    assert(graft.ext.Similarity.nearDupAutoPlanes(40000) == 10)
    assert(graft.ext.Embeddings.semanticSubBits(2000, 10) == 2)
    assert(graft.ext.Embeddings.semanticSubBits(40000, 200) == 2)
    assert(graft.ext.Embeddings.semanticSubBits(40000, 10) == 6)
  }

  test("jaccard auto-cap: clean corpus keeps the ceiling, dup mass tightens it") {
    import graft.ext.Dedup.jaccardAutoCap
    // clean corpus (all dfs light): volume at the ceiling is tiny →
    // the cap IS the ceiling — the gate's uncapped fixed point
    assert(jaccardAutoCap(Seq((2L, 100L)), 200L, 1000) == 1000)
    assert(jaccardAutoCap(Seq.empty, 0L, 1000) == 1000)
    // duplication-heavy: df=500 mass blows the 32×rows budget at any
    // cap ≥ the observed values → falls to the 64 floor
    assert(jaccardAutoCap(Seq((2L, 1000L), (500L, 50L)), 27000L, 1000) == 64)
    // mid: budget admits df=100 but not the df=3000 tail → cap lands
    // exactly on the largest admissible observed df
    assert(jaccardAutoCap(
      Seq((10L, 1000L), (100L, 20L), (3000L, 5L)), 27000L, 1000) == 100)
    // a tight ceiling (the spec-hook path) clamps floor and ceiling
    assert(jaccardAutoCap(Seq((500L, 50L)), 25000L, 4) == 4)
  }

  test("semantic dedup: cluster blocking laws hold and distances are true") {
    import spark.implicits._
    val sd = graft.ext.Embeddings.queries("sim_semantic_dedup")(spark, sfDir)
    val rows = sd.collect()
    assert(rows.nonEmpty)
    // per-cluster: at most 3 pairs, rk 1..3, d2 non-decreasing in rk,
    // and a_id < b_id everywhere
    rows.groupBy(_.getInt(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.length <= 3)
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length))
      val d2s = sorted.map(_.getLong(4))
      assert(d2s.sameElements(d2s.sorted))
      assert(sorted.forall(r => r.getLong(2) < r.getLong(3)))
    }
    // every emitted d2 equals the brute-force grid distance of that pair
    val qv = Tables.embeddings(spark, sfDir).select($"vec_id", expr(
      "transform(embedding, x -> cast(floor(cast(x as double) * 1000000d + 0.5d) as bigint))")
      .as("qv"))
    val brute = sd.join(qv.select($"vec_id".as("a_id"), $"qv".as("qa")), "a_id")
      .join(qv.select($"vec_id".as("b_id"), $"qv".as("qb")), "b_id")
      .select($"d2", expr(
        "aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)")
        .as("bd2"))
    assert(brute.filter($"d2" =!= $"bd2").count() == 0)
  }

  test("count-min heavy hitters: both sketch laws hold on this corpus") {
    import spark.implicits._
    val hh = graft.operators.Relational.queries("rel_heavy_hitters")(spark, sfDir)
      .collect()
    assert(hh.nonEmpty && hh.length <= 20)
    hh.foreach { r =>
      assert(r.getAs[Boolean]("never_underestimates"),
        s"user ${r.getLong(0)}: CMS underestimated — impossible unless the sketch is broken")
      assert(r.getAs[Boolean]("within_bound"),
        s"user ${r.getLong(0)}: estimate outside the e*N/w bound")
    }
    // the gate is the TRUE top-20 by exact count
    val counts = hh.map(_.getAs[Long]("exact_n"))
    assert(counts.sameElements(counts.sorted(Ordering[Long].reverse)))
  }

  test("rebalance mix: weights derive from the observed histogram, never upsample") {
    import spark.implicits._
    val mix = TextAnalysis.queries("text_rebalance_mix")(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    val total = docs.count()
    val byLang = docs.groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every row carries the weight its language histogram implies
    mix.select($"lang", $"w_ppm").distinct().collect().foreach { r =>
      val expected = math.min(1000000L, 200000L * total / byLang(r.getString(0)))
      assert(r.getLong(1) == expected, s"lang ${r.getString(0)}")
    }
    // never upsample: weights capped at 1e6; minority langs keep all docs
    assert(mix.filter($"w_ppm" > 1000000L).count() == 0)
    mix.filter($"w_ppm" === 1000000L).groupBy($"lang")
      .agg(count(lit(1)).as("n"), sum(when($"kept", 1L).otherwise(0L)).as("k"))
      .collect().foreach(r =>
        assert(r.getLong(1) == r.getLong(2), s"lang ${r.getString(0)} dropped docs at weight 1.0"))
    // the mix is a subset decision over all docs
    assert(mix.count() == total)
  }

  test("bigram LM score: bounds, bigram counts, and the perfect-predictability ceiling") {
    import spark.implicits._
    val lm = TextAnalysis.queries("text_lm_score")(spark, sfDir)
    // per-doc bigram count is exactly token count - 1
    val expected = Tables.documents(spark, sfDir)
      .select($"doc_id", (size(split($"text", " ")) - 1).cast("long").as("exp_n"))
    assert(lm.join(expected, "doc_id").filter($"n_bigrams" =!= $"exp_n").count() == 0)
    // probabilities live on the (0, 1e6] ppm grid; a doc whose every
    // bigram is unambiguous (P(w2|w1)=1) would hit exactly 1e6
    assert(lm.filter($"avg_p6" <= 0 || $"avg_p6" > 1000000L).count() == 0)
    assert(lm.filter($"sum_p6" > $"n_bigrams" * 1000000L).count() == 0)
    // avg is the exact integer quotient
    assert(lm.filter($"avg_p6" =!= expr("sum_p6 div n_bigrams")).count() == 0)
  }

  test("quality model: score equals the closed-form w·v recomputation") {
    import spark.implicits._
    val qm = TextAnalysis.queries("text_quality_model")(spark, sfDir)
    // independent single-pass recomputation (no unpivot, no join)
    val direct = Tables.documents(spark, sfDir)
      .select($"doc_id", split($"text", " ").as("ws"), $"n_chars")
      .select($"doc_id", expr(
        """3L * size(ws)
          | + 2L * (size(filter(ws, w -> w in ('the','a','of','and','to','in','is'))) * 1000000L div size(ws))
          | - 3L * (size(filter(ws, w -> w <> '' and translate(w, '0123456789', '') = '')) * 1000000L div size(ws))
          | + 5L * (n_chars * 100L div size(ws))""".stripMargin).as("exp_score"))
    val joined = qm.join(direct, "doc_id")
    assert(joined.filter($"score" =!= $"exp_score").count() == 0)
    assert(joined.filter(($"score" >= 500000L) =!= $"quality_pass").count() == 0)
  }

  test("PQ ADC search: 5 ranked rows per query, ADC monotone, and ADC" +
      " lower-bound-consistency with the encode residuals") {
    import spark.implicits._
    val pq = Similarity.queries("sim_knn_pq")(spark, sfDir)
    val rows = pq.collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 10 && byQ.values.forall(_.length == 5))
    // within a query, adc_ppm is non-decreasing in rank and the
    // (adc, neighbor_id) order is total
    byQ.values.foreach { g =>
      val sorted = g.sortBy(_.getInt(1))
      val adcs = sorted.map(_.getLong(3))
      assert(adcs.zip(adcs.tail).forall { case (a, b) => a <= b })
    }
    // ADC distances are nonnegative integers on the ppm grid
    assert(rows.forall(_.getLong(3) >= 0L))
  }

  test("e2e pipeline: composition agrees with the stage operators") {
    import spark.implicits._
    val out = TextAnalysis.queries("text_pipeline_e2e")(spark, sfDir).collect()
    assert(out.nonEmpty)
    val ids = out.map(_.getLong(2)).toSet
    // stage 1: every survivor is its exact-dedup group's keeper
    val keepers = Dedup.queries("dedup_exact")(spark, sfDir)
      .select($"keeper_doc_id").as[Long].collect().toSet
    assert(ids.subsetOf(keepers))
    // stage 3: every survivor passed the stratified sampler
    val sampled = TextAnalysis.queries("text_sample_stratified")(spark, sfDir)
      .select($"doc_id").as[Long].collect().toSet
    assert(ids.subsetOf(sampled))
    // stage 4: shard assignment matches the standalone shuffle-shard op
    val shards = TextAnalysis.queries("text_shuffle_shard")(spark, sfDir)
      .select($"doc_id", $"shard").as[(Long, Int)].collect().toMap
    assert(out.forall(r => shards(r.getLong(2)) == r.getInt(0)))
    // positions are dense 1..n per shard
    out.groupBy(_.getInt(0)).values.foreach { g =>
      assert(g.map(_.getInt(1)).sorted.toSeq == (1 to g.length))
    }
  }

  test("BPE training: 3 ranked rules; rule 1 is the true argmax bigram") {
    import spark.implicits._
    val rules = TextAnalysis.queries("text_bpe_train")(spark, sfDir).collect()
    assert(rules.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(rules.forall(_.getLong(3) > 0))
    // independent recomputation of iteration 1's argmax: at iteration 1
    // every symbol is a single char, so the weighted vocab pair count
    // equals the plain corpus-wide adjacent-char-bigram count
    val top = Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("w")).filter(length($"w") >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"bg").limit(1).head()
    assert(rules(0).getString(1) + rules(0).getString(2) == top.getString(0))
    assert(rules(0).getLong(3) == top.getLong(1))
  }

  test("source overlap: full matrix, symmetric definition, jaccard lawful") {
    import spark.implicits._
    val ov = Dedup.queries("dedup_source_overlap")(spark, sfDir)
    val nSrc = Tables.documents(spark, sfDir).select($"source").distinct().count()
    val rows = ov.collect()
    // every unordered pair appears at most once, ordered a < b
    assert(rows.forall(r => r.getString(0) < r.getString(1)))
    assert(rows.length <= nSrc * (nSrc - 1) / 2)
    // jaccard in (0, 1], consistent with its own shared count
    assert(rows.forall { r =>
      val j = r.getDouble(3); j > 0.0 && j <= 1.0 && r.getLong(2) > 0
    })
  }

  test("shuffle shard: a total permutation — every doc once, dense per-shard positions") {
    import spark.implicits._
    val sh = TextAnalysis.queries("text_shuffle_shard")(spark, sfDir)
    val nDocs = Tables.documents(spark, sfDir).count()
    val rows = sh.collect()
    assert(rows.length == nDocs)
    assert(rows.map(_.getLong(2)).distinct.length == nDocs) // each doc once
    // positions are 1..count(shard) dense within every shard
    rows.groupBy(_.getInt(0)).values.foreach { g =>
      assert(g.map(_.getInt(1)).sorted.toSeq == (1 to g.length))
    }
    // deterministic: a second build is byte-identical (seed-stable epoch)
    val again = TextAnalysis.queries("text_shuffle_shard")(spark, sfDir).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("substring spans: lengths lawful, spans fit inside both documents") {
    import spark.implicits._
    val spans = graft.ext.Dedup.queries("dedup_substring_spans")(spark, sfDir)
    val lens = Tables.documents(spark, sfDir)
      .select($"doc_id", length($"text").as("len"))
    val rows = spans.join(lens.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("len", "a_len"), "a_id")
      .join(lens.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("len", "b_len"), "b_id")
      .collect()
    assert(rows.nonEmpty, "fixture must contain shared spans")
    rows.foreach { r =>
      val (maxSpan, nSpans, dupChars) = (r.getAs[Long]("max_span"),
        r.getAs[Long]("n_spans"), r.getAs[Long]("dup_chars"))
      assert(r.getAs[Long]("a_id") < r.getAs[Long]("b_id"))
      assert(maxSpan >= 30, "reported spans honor the MinSpan floor")
      assert(nSpans >= 1 && dupChars >= maxSpan)
      assert(dupChars <= nSpans * maxSpan)
      // a shared span is a real substring of BOTH docs
      assert(maxSpan <= math.min(r.getAs[Int]("a_len"), r.getAs[Int]("b_len")))
    }
  }

  test("span removal: splice accounting exact, keeper rule holds") {
    import spark.implicits._
    val rem = graft.ext.Dedup.queries("dedup_span_removal")(spark, sfDir).collect()
    assert(rem.nonEmpty)
    rem.foreach { r =>
      // keeper = smaller id: removal always targets the LATER doc
      assert(r.getAs[Long]("kept_from") < r.getAs[Long]("doc_id"))
      val (orig, removed) = (r.getAs[Int]("orig_chars").toLong,
        r.getAs[Long]("removed_chars"))
      assert(removed >= 30 && removed <= orig)
    }
    // one removal decision per doc
    val ids = rem.map(_.getAs[Long]("doc_id"))
    assert(ids.distinct.length == ids.length)
  }

  test("rolling zscore: anomaly implies a warmed-up window, z agrees in sign") {
    import spark.implicits._
    val z = SparkEntry.queries("rel_rolling_zscore")(spark, sfDir)
    val rows = z.collect()
    val anomalies = rows.filter(_.getAs[Boolean]("is_anomaly"))
    assert(anomalies.nonEmpty, "fixture should contain >3-sigma points")
    anomalies.foreach { r =>
      assert(r.getAs[Long]("n_window") >= 10, "verdict requires 10 baseline rows")
      assert(math.abs(r.getAs[Double]("z")) > 3.0,
        "integer predicate and float z must agree above the threshold")
    }
    // no verdict ever fires on a cold window
    rows.filter(_.getAs[Long]("n_window") < 10)
      .foreach(r => assert(!r.getAs[Boolean]("is_anomaly")))
  }

  test("unit dedup: fractions lawful, duplicated blocks exist in the fixture") {
    import spark.implicits._
    val rows = SparkEntry.queries("text_unit_dedup")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, dup) = (r.getAs[Long]("n_units"), r.getAs[Long]("n_dup"))
      assert(n >= 1 && dup >= 0 && dup <= n)
      assert(r.getAs[Double]("dup_frac") == dup.toDouble / n)
    }
    // non-degenerate: the corpus's near-dup docs share aligned blocks
    assert(rows.map(_.getAs[Long]("n_dup")).sum > 0)
  }

  test("multimodal validate: per-kind accounting consistent with the meta gate") {
    import spark.implicits._
    val v = SparkEntry.queries("multimodal_validate")(spark, sfDir).collect()
    assert(v.map(_.getAs[String]("kind")).sorted.toSeq ==
      Seq("audio", "image", "video"))
    val metaByKind = SparkEntry.queries("multimodal_meta")(spark, sfDir)
      .groupBy($"kind").agg(count(lit(1)).as("n"), sum($"n_bytes").as("b"))
      .collect().map(r => r.getAs[String]("kind") ->
        (r.getAs[Long]("n"), r.getAs[Long]("b"))).toMap
    v.foreach { r =>
      val (n, b) = metaByKind(r.getAs[String]("kind"))
      assert(r.getAs[Long]("n_media") == n)
      assert(r.getAs[Long]("total_bytes") == b)
      assert(r.getAs[Long]("min_bytes") <= r.getAs[Long]("max_bytes"))
      assert(r.getAs[Long]("n_printable") <= r.getAs[Long]("n_media"))
    }
  }

  test("domain cap: hierarchical salted top-K equals the flat per-source window") {
    // top-K commutes with the salt split — the global best-K of a
    // source all survive their salt group's local K. sf0.01 so the
    // cap actually binds (≈25 docs/source vs K=15); at sf0.001 every
    // source is under the cap and the law would hold vacuously.
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val d01 = "/root/testdata/sf0.01"
    val got = TextAnalysis.queries("text_domain_cap")(spark, d01)
      .collect().map(_.toSeq)
    val flat = Tables.documents(spark, d01)
      .selectExpr("doc_id", "source",
        "md5(concat('cap:', cast(doc_id as string))) as pri")
      .withColumn("rk", row_number().over(
        Window.partitionBy($"source").orderBy($"pri", $"doc_id")))
      .filter($"rk" <= 15)
      .select($"doc_id", $"source", $"rk".cast("long").as("rk"))
      .orderBy($"doc_id").collect().map(_.toSeq)
    assert(got.length < Tables.documents(spark, d01).count()) // cap binds
    assert(got.toSeq == flat.toSeq)
  }

  test("hll sketches: union of per-type sketches estimates like the global sketch") {
    // the mergeability law computed ENTIRELY in Spark (sketch bytes
    // never cross engines): below ~4k distincts lgK=12 HLL is in exact
    // sparse mode, so both estimates equal the exact distinct count
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val merged = ev.groupBy($"event_type")
      .agg(hll_sketch_agg($"user_id", lit(12)).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg($"sk", lit(false))))
      .first().getLong(0)
    val global = ev.agg(
      hll_sketch_estimate(hll_sketch_agg($"user_id", lit(12)))).first().getLong(0)
    val exact = ev.select($"user_id").distinct().count()
    assert(merged == global)
    assert(merged == exact)
  }

  test("mrl truncation: overlap bounded by k and identical-prefix self-consistency") {
    import spark.implicits._
    val rows = SparkEntry.queries("sim_mrl_truncate")(spark, sfDir).collect()
    assert(rows.length == 10) // one row per query vector
    rows.foreach { r =>
      val n = r.getAs[Long]("n_overlap")
      assert(n >= 0 && n <= 5)
      assert(r.getAs[Double]("recall_at_5") == n / 5.0)
    }
  }

  test("span index: memo hit on second call, invalidate re-derives and deletes the old dir") {
    // r11 advice: the memoized serving path (fingerprint keying,
    // invalidation hook, parquet round-trip) had no unit coverage — a
    // stale-serve or orphaned-dir regression only surfaced in the full
    // Verify board.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_spanmemo").toString
    def write(seed: String): Unit =
      Seq((1L, s"prefix one ${(0 until 4).map(i => s"$seed shared sentence $i").mkString(" ")} suffix one"),
          (2L, s"prefix two ${(0 until 4).map(i => s"$seed shared sentence $i").mkString(" ")} suffix two"),
          (3L, "totally unique text with no duplicated spans anywhere at all"))
        .toDF("doc_id", "text").repartition(2)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write("v1")
    val p1 = Dedup.spanIndexPath(spark, dir)
    val r1 = Dedup.queries("dedup_substring_spans")(spark, dir).collect()
    assert(r1.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    // memo hit: identical path, no re-derivation
    assert(Dedup.spanIndexPath(spark, dir) == p1)
    // rewrite (longer seed → longer shared span) + invalidate: fresh
    // derivation under a new path, old dir deleted eagerly
    write("v2 with a much longer seed string")
    Tables.invalidate(dir)
    val p2 = Dedup.spanIndexPath(spark, dir)
    assert(p2 != p1, "invalidate must force a re-derivation")
    assert(!new java.io.File(p1).exists,
      "old span-index dir must be deleted on invalidate")
    val r2 = Dedup.queries("dedup_substring_spans")(spark, dir).collect()
    assert(r2.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(r2.head.getAs[Long]("max_span") > r1.head.getAs[Long]("max_span"),
      "re-derived index must reflect the rewritten corpus")
  }

  test("incremental ANN: batch assignment equals full re-assignment on the union (maintenance law)") {
    import spark.implicits._
    val cb = graft.ext.Embeddings.trainPqCodebookBase(spark, sfDir)
    val all = Tables.embeddings(spark, sfDir)
    val batchIds = all.filter(expr(graft.ext.Embeddings.NewBatchPredicate))
      .select($"vec_id", $"embedding")
    val union = all.filter($"vec_id" >= 10).select($"vec_id", $"embedding")
    def asg(df: org.apache.spark.sql.DataFrame): Set[(Long, Int)] =
      Similarity.assignCells(df, cb).select($"vec_id", $"cell")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val incremental = asg(batchIds)
    val fullReassign = asg(union).filter(t => t._1 % 5 == 0)
    assert(incremental == fullReassign,
      "incremental-assign must equal re-assigning the union against the same centroids")
    // the base codebook is genuinely trained on less data than the full
    // one (distinct memo entries, distinct sums)
    val cbFull = graft.ext.Embeddings.trainPqCodebook(spark, sfDir)
    assert(cb != cbFull, "base codebook must differ from the full-corpus codebook")
    assert(cb.ns.sum < cbFull.ns.sum)
    // and at least one batch vector is actually served through a probed
    // cell in the gated query (reachability, not just carriage)
    val served = SparkEntry.queries("sim_knn_incremental")(spark, sfDir)
      .filter($"from_batch").count()
    assert(served >= 1, "no batch vector reachable through the probed cells")
  }

  test("pii scrub: regex classes count and redact multi-matches in pinned order") {
    import spark.implicits._
    // tricky surface: two emails (one with digits/dots in the local
    // part), a phone adjacent to words, an IP embedded in prose, a
    // dash-run that must NOT count as a phone, and a 5-octet dotted run
    // whose first four octets DO match the IPv4 class (documented \b
    // behavior: the regex is a class detector, not a validator).
    val df = Seq((0L,
      "mail a.b+c99@ex-1.example.io and x@y.co then call 800-555-0101 " +
        "from 10.0.0.7 bad: 12-34-56 also 1.2.3.4.5")).toDF("doc_id", "text")
    val out = df.select(
      regexp_count($"text", lit(TextAnalysis.piiEmailRe)).as("e"),
      regexp_count($"text", lit(TextAnalysis.piiPhoneRe)).as("p"),
      regexp_count($"text", lit(TextAnalysis.piiIpRe)).as("i"),
      regexp_replace(regexp_replace(regexp_replace($"text",
        lit(TextAnalysis.piiEmailRe), lit("<EMAIL>")),
        lit(TextAnalysis.piiPhoneRe), lit("<PHONE>")),
        lit(TextAnalysis.piiIpRe), lit("<IP>")).as("red")).first()
    assert(out.getInt(0) == 2 && out.getInt(1) == 1 && out.getInt(2) == 2)
    val red = out.getString(3)
    assert(red.contains("<EMAIL> and <EMAIL>") && red.contains("call <PHONE>")
      && red.contains("from <IP>") && red.contains("12-34-56"))
    // redacted text carries no residual match for any class
    assert(!red.matches(s".*(${TextAnalysis.piiEmailRe}|${TextAnalysis.piiPhoneRe}|${TextAnalysis.piiIpRe}).*"))
  }

  test("piiRedact operator: overlapping classes make the email→phone→ip order load-bearing") {
    import spark.implicits._
    // r12 verdict item 6: the gate's planted classes are disjoint, so
    // the pinned order passed incidentally. This fixture overlaps them:
    // a phone-shaped digit run INSIDE an email local part, and an
    // ip-shaped dotted run inside another. Count-per-pass semantics:
    // the email pass consumes both addresses whole, so the phone/ip
    // passes see (and count) only the standalone occurrences.
    val df = Seq(
      (0L, "write 555-123-4567@host.org or dial 555-123-4567 now"),
      (1L, "u.10.0.0.7@ex.io pinged 10.0.0.7 twice"),
      (2L, "plain text, no pii at all")).toDF("doc_id", "text")
    val rows = TextAnalysis.piiRedact(df, "text")
      .orderBy($"doc_id").collect()
    assert(rows(0).getAs[Int]("n_emails") == 1)
    assert(rows(0).getAs[Int]("n_phones") == 1, // NOT 2: one lives in the email
      s"phone count must exclude the digits consumed by the email pass: ${rows(0)}")
    assert(rows(0).getAs[String]("text") == "write <EMAIL> or dial <PHONE> now")
    assert(rows(1).getAs[Int]("n_emails") == 1)
    assert(rows(1).getAs[Int]("n_ips") == 1) // NOT 2: one lives in the email
    assert(rows(1).getAs[String]("text") == "<EMAIL> pinged <IP> twice")
    assert(rows(2).getAs[Int]("n_emails") == 0 && rows(2).getAs[Int]("n_phones") == 0
      && rows(2).getAs[Int]("n_ips") == 0)
    assert(rows(2).getAs[String]("text") == "plain text, no pii at all")
    // a REVERSED order would tear the address: prove the counterfactual
    // so the pinned order is a measured choice, not an assertion
    val torn = df.filter($"doc_id" === 0L).select(
      regexp_replace(regexp_replace($"text",
        lit(TextAnalysis.piiPhoneRe), lit("<PHONE>")),
        lit(TextAnalysis.piiEmailRe), lit("<EMAIL>")).as("t")).first().getString(0)
    assert(torn.contains("<PHONE>@host.org"),
      s"counterfactual broke: phone-first no longer tears emails apart: $torn")
  }

  test("incremental ANN index: memo hit, invalidation re-derives and deletes, gate serves from it") {
    import spark.implicits._
    // r12 verdict item 5: the assignment index must behave like the
    // span index — derived once per corpus snapshot, served from disk,
    // invalidation-fresh. Build a tiny corpus dir with embeddings +
    // documents so the full gate can run against it.
    val dir = java.nio.file.Files.createTempDirectory("graft_annmemo").toString
    def write(shift: Double): Unit =
      (0L until 40L).map { i =>
        (i, Array.tabulate(16)(j =>
          (math.sin(i * 17 + j) + (if (i % 5 == 0) shift else 0.0)).toFloat),
          (i % 4).toInt)
      }.toDF("vec_id", "embedding", "label")
        .repartition(2).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    write(0.0)
    val p1 = Similarity.incrementalIndexPath(spark, dir)
    // memo hit: identical path, no re-derivation
    assert(Similarity.incrementalIndexPath(spark, dir) == p1)
    // the stored index IS the assignment law: equals re-assigning the
    // batch against the same base centroids
    val cb = Embeddings.trainPqCodebookBase(spark, dir)
    val stored = spark.read.parquet(p1).select($"vec_id", $"cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val fresh = Similarity.assignCells(
        Tables.embeddings(spark, dir)
          .filter(expr(Embeddings.NewBatchPredicate))
          .select($"vec_id", $"embedding"), cb)
      .select($"vec_id", $"cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(stored == fresh, "stored index must equal a fresh assignment")
    // rewrite + invalidate: fresh derivation under a new path, old dir
    // deleted eagerly (and the #base codebook memo refreshed too —
    // same fingerprint, same hook)
    write(3.0)
    Tables.invalidate(dir)
    val p2 = Similarity.incrementalIndexPath(spark, dir)
    assert(p2 != p1, "invalidate must force a re-derivation")
    assert(!new java.io.File(p1).exists,
      "old assignment-index dir must be deleted on invalidate")
    // gate still serves end-to-end from the rebuilt index
    val served = SparkEntry.queries("sim_knn_incremental")(spark, dir)
    assert(served.count() > 0)
  }

  test("PathMemo: deriver rethrows the original failure; waiters and later callers retry") {
    val memo = new PathMemo("graft-pathmemo-test-")
    val key = "/graft-test-corpus#42"
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val boom = new RuntimeException("deterministic build failure")
    // 1) failing deriver: original exception (not a CompletionException)
    val thrown = intercept[RuntimeException] {
      memo.getOrDerive(key) { _ => attempts.incrementAndGet(); throw boom }
    }
    assert(thrown eq boom, "deriver must rethrow the ORIGINAL cause")
    // 2) a later caller retries (the failed mapping was removed)
    val ok = memo.getOrDerive(key) { out =>
      attempts.incrementAndGet()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(out, "x.txt"), "ok"): Unit
    }
    assert(attempts.get == 2 && new java.io.File(ok, "x.txt").exists)
    // 3) memo hit: no further derivation
    assert(memo.getOrDerive(key)(_ => fail("must not re-derive")) == ok)
    // 4) CONCURRENT waiter on a failing in-flight derivation retries
    //    instead of failing (r12 advice — the join() CompletionException
    //    path): deriver blocks until the waiter is provably joined on
    //    its future, then fails; the waiter must loop back and succeed.
    val key2 = "/graft-test-corpus#43"
    val derived = new java.util.concurrent.CountDownLatch(1)
    val waiterArrived = new java.util.concurrent.CountDownLatch(1)
    val waiterResult = new java.util.concurrent.CompletableFuture[String]()
    val deriver = new Thread(() => {
      try memo.getOrDerive(key2) { _ =>
        derived.countDown()
        // hold the derivation open until the waiter thread exists and
        // has had time to park on join(); 200 ms is generous for a
        // thread start + one putIfAbsent miss
        waiterArrived.await()
        Thread.sleep(200)
        throw boom
      } catch { case _: RuntimeException => () }
    })
    deriver.start()
    derived.await()
    val waiter = new Thread(() => {
      waiterArrived.countDown()
      try waiterResult.complete(memo.getOrDerive(key2) { out =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(out, "y.txt"), "retried"): Unit
      }): Unit
      catch { case t: Throwable => waiterResult.completeExceptionally(t): Unit }
    })
    waiter.start()
    deriver.join(30000); waiter.join(30000)
    val got = waiterResult.get(30, java.util.concurrent.TimeUnit.SECONDS)
    assert(new java.io.File(got, "y.txt").exists,
      "concurrent waiter must retry the derivation after the in-flight failure")
  }
}
