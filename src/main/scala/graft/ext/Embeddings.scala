package graft.ext

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-column transforms for LLM data pipelines (driver north
  * star — absent from the reference): per-class centroids and int8
  * quantization — the two operations every embedding-heavy corpus job
  * runs (cluster summaries / IVF codebook seeds, and 4× storage +
  * bandwidth compression before similarity search).
  *
  * Cross-engine float discipline (see Relational.scala header): float
  * SUMS are accumulation-order-dependent, so the centroid mean first
  * quantizes each float onto a 1e-6 integer grid with exactly-defined
  * double ops (`floor(x·1e6 + 0.5)` — every step IEEE-deterministic),
  * sums the grid values as longs (exact, order-free), and divides once
  * at the end. Quantization itself is per-element double arithmetic in
  * a fixed op order — bit-identical in any engine.
  */
object Embeddings {
  type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------------- centroids
  // Per-label mean vector, long format (label, dim, n, centroid) —
  // one posexplode (×dim rows) + one (label, dim)-keyed aggregate with
  // map-side partials; output is |labels|·dim rows, tiny at any corpus
  // size. The integer-grid sum makes the result partitioning-invariant
  // AND engine-exact (float sums are neither).
  private val centroids: Q = (s, d) => {
    import s.implicits._
    Tables.embeddings(s, d)
      .select($"label", posexplode($"embedding"))
      .select($"label", ($"pos" + 1).cast("int").as("dim"),
        expr("cast(floor(cast(col as double) * 1000000d + 0.5d) as bigint)").as("q"))
      .groupBy($"label", $"dim")
      .agg(count(lit(1)).as("n"), sum($"q").as("sq"))
      .select($"label", $"dim", $"n",
        ($"sq".cast("double") / $"n" / lit(1000000.0)).as("centroid"))
      .orderBy($"label", $"dim")
  }
  private val centroidsSql =
    """WITH e AS (
      |  SELECT label, CAST(i AS INT) AS dim,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i))
      |SELECT label, dim, COUNT(*) AS n,
      |  CAST(SUM(q) AS DOUBLE) / COUNT(*) / 1000000.0 AS centroid
      |FROM e GROUP BY label, dim ORDER BY label, dim""".stripMargin

  // ------------------------------------------------------- quantize
  // Symmetric int8 quantization: scale = 127 / max|x|, qᵢ =
  // ⌊xᵢ·scale + 0.5⌋ ∈ [-127, 127] (half-toward-+∞ — chosen because
  // floor is the rounding op both engines define identically). Pure
  // per-row map over the vector — no shuffle, the 4× compression pass
  // before ANN index build or shipping vectors across the wire. The
  // quantized vector travels as an md5 of its CSV so the oracle
  // byte-checks all 64 lanes per row without widening the result.
  private val quantize: Q = (s, d) => {
    import s.implicits._
    Tables.embeddings(s, d)
      .withColumn("maxabs",
        expr("array_max(transform(embedding, x -> abs(cast(x as double))))"))
      .withColumn("scale",
        when($"maxabs" > 0, lit(127.0) / $"maxabs").otherwise(lit(0.0)))
      .select($"vec_id", size($"embedding").as("n_dims"), $"scale",
        md5(concat_ws(",", expr(
          "transform(embedding, x -> cast(cast(floor(cast(x as double) * scale + 0.5d) as int) as string))")))
          .as("q_hash"))
      .orderBy($"vec_id")
  }
  private val quantizeSql =
    """WITH m AS (
      |  SELECT vec_id, len(embedding) AS n_dims,
      |    list_aggregate(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE))), 'max') AS maxabs,
      |    embedding
      |  FROM embeddings),
      |s AS (SELECT vec_id, n_dims,
      |    CASE WHEN maxabs > 0 THEN 127.0 / maxabs ELSE 0.0 END AS scale,
      |    embedding FROM m)
      |SELECT vec_id, CAST(n_dims AS INT) AS n_dims, scale,
      |  md5(array_to_string(list_transform(embedding,
      |    x -> CAST(CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS INT) AS VARCHAR)), ',')) AS q_hash
      |FROM s ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------ normalize
  // L2 normalization (the prep step before cosine = dot product): the
  // squared norm is an EXACT integer on the 1e-6 grid (order-free —
  // Spark folds with aggregate(), the oracle unnests and SUMs; integer
  // sums agree no matter how each engine associates), sqrt is
  // correctly-rounded per IEEE-754, and each component division is one
  // fixed-order double op. Normalized components travel as an md5 of
  // their 1e-6-grid ints. Pure map (the fold replaces a posexplode
  // shuffle). q2 < 2^53 for any realistic dim count, so the double
  // sqrt sees the integer exactly.
  private val normalize: Q = (s, d) => {
    import s.implicits._
    val g = "cast(floor(cast(x as double) * 1000000d + 0.5d) as bigint)"
    Tables.embeddings(s, d)
      .withColumn("q2", expr(s"aggregate(embedding, 0L, (acc, x) -> acc + $g * $g)"))
      .withColumn("s", sqrt($"q2".cast("double")))
      .select($"vec_id",
        ($"s" / lit(1000000.0)).as("l2_norm"),
        when($"q2" === 0, lit(null).cast("string")).otherwise(
          md5(concat_ws(",", expr(
            "transform(embedding, x -> cast(cast(floor(cast(x as double) * 1000000d / s * 1000000d + 0.5d) as bigint) as string))"))))
          .as("n_hash"))
      .orderBy($"vec_id")
  }
  private val normalizeSql =
    """WITH u AS (SELECT vec_id, unnest(embedding) AS e FROM embeddings),
      |q AS (
      |  SELECT vec_id,
      |    SUM(CAST(floor(CAST(e AS DOUBLE)*1000000 + 0.5) AS BIGINT)
      |      * CAST(floor(CAST(e AS DOUBLE)*1000000 + 0.5) AS BIGINT)) AS q2
      |  FROM u GROUP BY 1),
      |j AS (
      |  SELECT m.vec_id, m.embedding, q.q2,
      |    sqrt(CAST(q.q2 AS DOUBLE)) AS s
      |  FROM embeddings m JOIN q ON m.vec_id = q.vec_id)
      |SELECT vec_id, s / 1000000.0 AS l2_norm,
      |  CASE WHEN q2 = 0 THEN NULL ELSE
      |    md5(array_to_string(list_transform(embedding,
      |      x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000000 / s * 1000000 + 0.5)
      |             AS BIGINT) AS VARCHAR)), ','))
      |  END AS n_hash
      |FROM j ORDER BY vec_id""".stripMargin

  // --------------------------------------------------- cluster assignment
  // The k-means assignment step: every vector goes to its nearest
  // per-label centroid (the codebook the centroids query builds — the
  // IVF quantizer made oracle-checkable). Distance is EXACT integers
  // end-to-end: per dim, d = q − cm where q is the 1e-6-grid value and
  // cm = floorDiv(sq, n) the FLOORED integer centroid mean (floor is
  // the convention-proof choice — both sides derive it via an
  // exactly-divisible rewrite, so no engine's `//`/`div` convention
  // can flip it; see PqCodebook.cmArr);
  // dist² = Σ d² is an order-free long sum and the argmin ranks pure
  // BIGINTs — no division, no rounding, nothing to drift. The mean
  // folds in BEFORE the square (not the old Σ(q·n − sq)² form) so the
  // per-dim diff is ≤ ~2.2e6 REGARDLESS of cell size — the old form's
  // diff was n·(q − mean) and overflowed Long once a cell reached
  // ~10⁵ vectors (caught by the 20× scale soak). Tie break by label.
  // Scale shape: the codebook (labels × dims rows) broadcasts; the
  // vector side streams through one posexplode + one (vec_id, label)
  // aggregate.
  private def assignments(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qv = Tables.embeddings(s, d)
      .select($"vec_id", $"label".as("true_label"), posexplode($"embedding"))
      .select($"vec_id", $"true_label", ($"pos" + 1).cast("int").as("dim"),
        expr("cast(floor(cast(col as double) * 1000000d + 0.5d) as bigint)").as("q"))
    val code = Tables.embeddings(s, d)
      .select($"label", posexplode($"embedding"))
      .select($"label", ($"pos" + 1).cast("int").as("dim"),
        expr("cast(floor(cast(col as double) * 1000000d + 0.5d) as bigint)").as("cq"))
      .groupBy($"label", $"dim")
      .agg(count(lit(1)).as("n"), sum($"cq").as("sq"))
      // floor division via the exactly-divisible rewrite: pmod is the
      // nonneg residue, so the `div` dividend is a multiple of n and
      // truncation == floor — Math.floorDiv semantics, matching the
      // oracle's convention-proof form (see PqCodebook.cmArr)
      .withColumn("cm", expr("(sq - pmod(sq, n)) div n"))
    val diff = $"q" - $"cm"
    qv.join(broadcast(code), "dim")
      .groupBy($"vec_id", $"label")
      .agg(min($"true_label").as("true_label"),
        sum(diff * diff).as("s2"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"vec_id").orderBy($"s2", $"label")))
      .filter($"rk" === 1)
      .select($"vec_id", $"true_label", $"label".as("assigned_label"),
        $"s2".cast("double").as("dist2"))
  }
  private val clusterAssign: Q = (s, d) => {
    import s.implicits._
    assignments(s, d).orderBy($"vec_id")
  }
  private val clusterAssignSql =
    """WITH u AS (
      |  SELECT vec_id, label AS true_label, CAST(i AS INT) AS dim,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)),
      |code AS (
      |  -- floored mean, convention-proof: the dividend is made exactly
      |  -- divisible, so `//` floor-vs-trunc cannot matter (PqCodebook.cmArr)
      |  SELECT label, dim,
      |    CAST((SUM(q) - ((SUM(q) % COUNT(*)) + COUNT(*)) % COUNT(*))
      |      // COUNT(*) AS BIGINT) AS cm
      |  FROM (SELECT label, CAST(i AS INT) AS dim,
      |          CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
      |        FROM embeddings, unnest(generate_series(1, len(embedding))) t(i))
      |  GROUP BY 1, 2),
      |d AS (
      |  SELECT u.vec_id, MIN(u.true_label) AS true_label, code.label,
      |    SUM((u.q - code.cm) * (u.q - code.cm)) AS s2
      |  FROM u JOIN code ON u.dim = code.dim
      |  GROUP BY u.vec_id, code.label),
      |r AS (
      |  SELECT vec_id, true_label, label,
      |    CAST(s2 AS DOUBLE) AS dist2,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY s2, label) AS rk
      |  FROM d)
      |SELECT vec_id, true_label, label AS assigned_label, dist2
      |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin

  // ------------------------------------------------ product quantization
  // PQ encoding — the vector-DB compression step between int8
  // quantization and IVF: the 64-dim vector splits into 8 contiguous
  // 8-dim subspaces, and each subspace is replaced by the id of its
  // nearest per-label sub-centroid (the label codebook restricted to
  // that subspace — the same oracle-checkable quantizer sim_cluster_
  // assign uses). 64 floats → 8 small codes (with a 10-label codebook,
  // ~4 bits each): 64× compression before any distance math, and the
  // asymmetric-distance scan (query × code lookup tables) is a
  // broadcast join away. Distances are EXACT end-to-end, per the
  // clusterAssign derivation — per subspace, Σ_dims (q − cm)² with
  // cm the floored integer centroid mean is an exact BIGINT and
  // argmin needs no rounding (and no division). Scale shape: the sub-codebook (labels × dims) broadcasts;
  // vectors stream through one posexplode + one (vec, sub, label)
  // aggregate + one argmin window over labels per subspace.
  // The corpus pass is MAP-ONLY: train the codebook with one
  // map-combinable aggregate to |labels|·dims rows (collected — the
  // k-means-broadcast pattern, bounded by k·d not by corpus size),
  // then stream every vector through the PqEncodeExpr kernel + inline.
  // The previous relational formulation (posexplode ×dims → broadcast
  // join → (vec, sub, label) aggregate → argmin window) shuffled
  // dims·|labels| rows PER VECTOR — an ~80× corpus amplification that
  // at 100 TB is the whole job. Same integer-grid derivation, same
  // oracle.
  private val pqEncode: Q = (s, d) => {
    import s.implicits._
    val cb = trainPqCodebook(s, d)
    Tables.embeddings(s, d)
      .select($"vec_id",
        inline(graft.functions.PqExpressions.pqEncode($"embedding", cb)))
      .orderBy($"vec_id", $"sub")
  }

  /** Train the (label, dim) integer-grid codebook and collect it —
    * |labels|·dims rows (k·d-bounded at any corpus size; at 64 dims ×
    * 10 labels this is 640 rows off one map-combinable aggregate).
    * Shared by emb_pq_encode, sim_knn_pq, and (r11) the IVF coarse
    * quantizer — one corpus aggregate behind the whole ANN stack.
    *
    * Fingerprint-MEMOIZED (r11, the bpeRulesMemo pattern and the same
    * production contract): a PQ/IVF index is trained ONCE per corpus
    * snapshot and served many times — FAISS's train()/add()/search()
    * split — so repeated queries against an immutable snapshot reuse
    * the k·d-bounded driver-side codebook instead of re-aggregating
    * the corpus per query. Content-fingerprinted key + the
    * Tables.onInvalidate hook keep in-place regenerations fresh. */
  private val pqCodebookMemo =
    new java.util.concurrent.ConcurrentHashMap[String, graft.functions.PqCodebook]()
  graft.Tables.onInvalidate(c => pqCodebookMemo.keySet.removeIf(_.startsWith(c + "#")))

  def trainPqCodebook(s: SparkSession, d: String): graft.functions.PqCodebook =
    pqCodebookMemo.computeIfAbsent(
      new java.io.File(d).getCanonicalPath + "#" +
        graft.Tables.tableFingerprint(d, "embeddings"),
      _ => trainPqCodebookUncached(s, d))

  /** The incremental-maintenance corpus split (sim_knn_incremental):
    * `NEW BATCH` = the vectors that arrived AFTER the last index
    * train — a fixed deterministic ~20% slice of the corpus here, so
    * the gate is reproducible and the oracle can spell the identical
    * predicate. Queries (vec_id < 10) are never batch members. */
  private[graft] val NewBatchPredicate = "vec_id >= 10 AND vec_id % 5 = 0"

  /** Codebook trained on the BASE corpus only (everything EXCEPT the
    * new batch) — the FAISS train()/add()/search() split taken to its
    * incremental conclusion: between retrains, a production embedding
    * pipeline assigns arriving vectors into the EXISTING centroids
    * (add() without train()) instead of invalidating the index
    * wholesale. Own memo key (`#base` suffix) next to the full-corpus
    * codebook; same fingerprint + invalidate-hook freshness contract. */
  def trainPqCodebookBase(s: SparkSession, d: String): graft.functions.PqCodebook =
    pqCodebookMemo.computeIfAbsent(
      new java.io.File(d).getCanonicalPath + "#" +
        graft.Tables.tableFingerprint(d, "embeddings") + "#base",
      _ => trainPqCodebookUncached(s, d, Some(s"NOT ($NewBatchPredicate)")))

  private def trainPqCodebookUncached(s: SparkSession, d: String,
      rowFilter: Option[String] = None): graft.functions.PqCodebook = {
    import s.implicits._
    val rows = rowFilter.foldLeft(Tables.embeddings(s, d))((df, f) => df.filter(f))
      .select($"label", posexplode($"embedding"))
      .select($"label", ($"pos" + 1).cast("int").as("dim"),
        expr("cast(floor(cast(col as double) * 1000000d + 0.5d) as bigint)").as("cq"))
      .groupBy($"label", $"dim")
      .agg(count(lit(1)).as("n"), sum($"cq").as("sq"))
      .collect()
    val dims = rows.iterator.map(_.getInt(1)).max
    val labels = rows.iterator.map(_.getInt(0)).toSet.toIndexedSeq.sorted
    val labelIdx = labels.zipWithIndex.toMap
    val ns = new Array[Long](labels.length)
    val sq = new Array[Long](labels.length * dims)
    rows.foreach { r =>
      val li = labelIdx(r.getInt(0))
      ns(li) = r.getLong(2)
      sq(li * dims + (r.getInt(1) - 1)) = r.getLong(3)
    }
    graft.functions.PqCodebook(labels, ns.toIndexedSeq, sq.toIndexedSeq,
      dims, subDim = 8)
  }
  private val pqEncodeSql =
    """WITH u AS (
      |  SELECT vec_id, CAST(i AS INT) AS dim,
      |    CAST(floor((CAST(i AS INT) - 1) / 8) AS INT) AS sub,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)),
      |code AS (
      |  -- floored mean, convention-proof: the dividend is made exactly
      |  -- divisible, so `//` floor-vs-trunc cannot matter (PqCodebook.cmArr)
      |  SELECT label, dim,
      |    CAST((SUM(q) - ((SUM(q) % COUNT(*)) + COUNT(*)) % COUNT(*))
      |      // COUNT(*) AS BIGINT) AS cm
      |  FROM (SELECT label, CAST(i AS INT) AS dim,
      |          CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
      |        FROM embeddings, unnest(generate_series(1, len(embedding))) t(i))
      |  GROUP BY 1, 2),
      |d AS (
      |  SELECT u.vec_id, u.sub, code.label,
      |    SUM((u.q - code.cm) * (u.q - code.cm)) AS s2
      |  FROM u JOIN code ON u.dim = code.dim
      |  GROUP BY 1, 2, 3),
      |r AS (
      |  SELECT vec_id, sub, label,
      |    CAST(s2 AS DOUBLE) AS sub_dist2,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub
      |      ORDER BY s2, label) AS rk
      |  FROM d)
      |SELECT vec_id, sub, label AS code, sub_dist2
      |FROM r WHERE rk = 1 ORDER BY vec_id, sub""".stripMargin

  // ----------------------------------------------------- semantic dedup
  // Semantic near-dup detection with CLUSTER BLOCKING — the embedding
  // twin of LSH banding: vectors are first assigned to their nearest
  // centroid (the k-means assignment above), and the pair search runs
  // only WITHIN each cluster, pruning the all-pairs O(n²) to
  // O(Σ cluster²). Emitted per cluster: the 3 tightest pairs by exact
  // integer-grid squared distance (Σ(qa−qb)² is an order-free BIGINT
  // sum — the output is pure integers, nothing for engines to disagree
  // on). On a corpus with true semantic dups the same plan runs with a
  // distance threshold instead of top-3; top-3 keeps the gate
  // non-degenerate on this fixture (no planted embedding dups).
  // Scale shape: the codebook broadcast + one posexplode aggregate for
  // assignment, then ONE equi-join on the cluster id (each cluster's
  // pairs materialize on one partition's worth of keys — the blocking
  // guarantee), a zip_with fold per pair, and a per-cluster top-3
  // window over ≤ cluster² rows.
  /** Sub-bucket bit count for the auto-sized semantic-dedup blocking:
    * refine k cluster blocks with sign-bit sub-buckets until a block
    * holds ≈ 64 vectors. Returns 0 at the sf0.01 gate corpus (n=510,
    * k=10) — block ≡ cluster, the exact fixed point. r11: the oracle
    * now REPLICATES the sub-bucket assignment (same md5 plane family,
    * same count arithmetic), so the identity with the engine is
    * structural at ANY SF — the sf0.1 full-board verify caught the
    * old plain-per-cluster oracle diverging once subBits > 0.
    * INTEGER-EXACT derivation (bitLength of ⌈n/(k·64)⌉ − 1, the
    * nearDupAutoPlanes convention-proofing) so the oracle's LOG2 of
    * an integer cannot straddle the old float ratio's ceiling. Capped
    * at [[SemanticMaxSubBits]] — the plane family depth the oracle
    * inlines (covers n ≤ k·64·2¹⁶ vectors). */
  private[graft] val SemanticMaxSubBits = 16
  private[graft] def semanticSubBits(n: Long, k: Long): Int = {
    val m = (n + k * 64 - 1) / (k * 64)
    val b = if (m <= 1) 0L else 64L - java.lang.Long.numberOfLeadingZeros(m - 1)
    require(b <= SemanticMaxSubBits,
      s"semanticSubBits: n=$n k=$k needs $b sub-bits > the oracle's " +
        s"inlined plane family ($SemanticMaxSubBits) — extend both in lockstep")
    b.toInt
  }

  private val semanticDedup: Q = (s, d) => {
    import s.implicits._
    val qvecs = Tables.embeddings(s, d).select($"vec_id", expr(
      "transform(embedding, x -> cast(floor(cast(x as double) * 1000000d + 0.5d) as bigint))")
      .as("qv"))
    // AUTO-SIZED block refinement: with a FIXED cluster count the
    // within-block pair work is n²/k — quadratic once n outgrows the
    // label set (the 20× soak measured α 1.15). Blocks are therefore
    // refined by sign-bit sub-buckets until a block holds ≈ 64 vectors
    // (coarse quantizer × fine LSH — the IVF-within-cluster shape):
    // subBits = ⌈log₂(n/(k·64))⌉ ⇒ pair volume ≈ 64·n, linear. The
    // per-CLUSTER top-3 contract is kept by re-ranking the ≤ 3·2^bits
    // block winners in a second (tiny) window; a true top-3 pair that
    // crosses sub-buckets can be missed — the standard LSH recall
    // trade, taken only past the scale where exact blocking stops
    // being linear. At the sf0.01 GATE POINT (n=500, k=10) subBits=0:
    // block ≡ cluster, both windows degenerate to the exact top-3, and
    // the oracle's post-aggregate formulation matches by construction.
    val sized = Tables.embeddings(s, d)
      .agg(count(lit(1)).as("n"), count_distinct($"label").as("k")).head()
    val subBits = semanticSubBits(sized.getLong(0), sized.getLong(1))
    val subCol =
      if (subBits == 0) lit(0)
      else element_at(graft.functions.VectorExpressions.lshBandBuckets(
        $"qv", graft.ext.Similarity.hyperplanesInt(subBits, 64).flatten.toArray,
        bands = 1, planesPerBand = subBits), 1)
    // materialize the assigned+quantized vectors once: both pair-join
    // legs read va, and the assignment pipeline (codebook aggregate +
    // posexplode join + argmin window) would otherwise run twice
    val va = graft.Lineage.cut(
      assignments(s, d).select($"vec_id", $"assigned_label".as("cluster"))
        .join(qvecs, "vec_id").withColumn("sub", subCol))
    val a = va.select($"cluster", $"sub", $"vec_id".as("a_id"), $"qv".as("qa"))
    val b = va.select($"cluster", $"sub", $"vec_id".as("b_id"), $"qv".as("qb"))
    // per-block top-3 via a window, with the pair kernel codegen'd
    // (LongSquaredDistance — the HOF fold was 2× slower). A map-side
    // TopK-aggregator variant was measured and REJECTED: the typed
    // groupByKey path deserializes every pair row out of whole-stage
    // codegen, costing more than the window's pair-row shuffle saves
    // at any cluster size where top-3 matters; the window sort is
    // per-block (bounded by the blocking guarantee), not global.
    a.join(b, Seq("cluster", "sub")).filter($"a_id" < $"b_id")
      .select($"cluster", $"sub", $"a_id", $"b_id",
        graft.functions.VectorExpressions.vecL2Sq($"qa", $"qb").as("d2"))
      .withColumn("brk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"cluster", $"sub").orderBy($"d2", $"a_id", $"b_id")))
      .filter($"brk" <= 3)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"cluster").orderBy($"d2", $"a_id", $"b_id")))
      .filter($"rk" <= 3)
      .select($"cluster", $"rk".cast("int").as("rk"), $"a_id", $"b_id", $"d2")
      .orderBy($"cluster", $"rk")
  }
  // r11: the oracle replicates the auto-sized SUB-BUCKET refinement —
  // count arithmetic in `cnt` (integer-exact twin of semanticSubBits),
  // sign-bit assignment in `subs` against the same inlined md5 plane
  // family (prefix-indexed: bands=1, so plane p is family index p),
  // per-(cluster, sub) top-3 then per-cluster re-rank — exactly the
  // engine's two-window contract. At the sf0.01 fixed point (b=0) the
  // LEFT JOIN yields no plane rows, sub degenerates to 0 everywhere,
  // and this is row-identical to the old per-cluster formulation.
  private val semanticDedupSql = {
    val planeRows = graft.ext.Similarity.hyperplanesInt(SemanticMaxSubBits, 64)
      .zipWithIndex
      .map { case (p, i) =>
        s"($i, ${p.map(java.lang.Double.toString).mkString("[", ",", "]")})" }
      .mkString(",\n    ")
    s"""WITH u AS (
      |  SELECT vec_id, label AS true_label, CAST(i AS INT) AS dim,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)),
      |nk AS (
      |  SELECT COUNT(*) AS n, COUNT(DISTINCT label) AS k FROM embeddings),
      |cnt AS (
      |  SELECT CASE WHEN (n + k * 64 - 1) // (k * 64) <= 1 THEN 0
      |    ELSE CAST(CEIL(LOG2(CAST((n + k * 64 - 1) // (k * 64) AS DOUBLE))) AS INT)
      |  END AS b FROM nk),
      |planes(idx, pv) AS (VALUES
      |    $planeRows),
      |grid AS (
      |  SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]), x -> floor(x * 1000000 + 0.5)) AS gv
      |  FROM embeddings),
      |subs AS (
      |  SELECT g.vec_id,
      |    COALESCE(SUM(CASE WHEN list_dot_product(g.gv, p.pv) > 0
      |      THEN (CAST(1 AS BIGINT) << p.idx) ELSE 0 END), 0) AS sub
      |  FROM grid g CROSS JOIN cnt LEFT JOIN planes p ON p.idx < cnt.b
      |  GROUP BY 1),
      |code AS (
      |  SELECT true_label AS label, dim,
      |    CAST((SUM(q) - ((SUM(q) % COUNT(*)) + COUNT(*)) % COUNT(*))
      |      // COUNT(*) AS BIGINT) AS cm
      |  FROM u GROUP BY 1, 2),
      |dists AS (
      |  SELECT u.vec_id, code.label,
      |    SUM((u.q - code.cm) * (u.q - code.cm)) AS s2
      |  FROM u JOIN code ON u.dim = code.dim
      |  GROUP BY u.vec_id, code.label),
      |assign AS (
      |  SELECT vec_id, label AS cluster
      |  FROM (SELECT vec_id, label,
      |          ROW_NUMBER() OVER (PARTITION BY vec_id
      |            ORDER BY s2, label) AS rk
      |        FROM dists)
      |  WHERE rk = 1),
      |va AS (
      |  SELECT a.cluster, u.vec_id, u.dim, u.q
      |  FROM u JOIN assign a ON u.vec_id = a.vec_id),
      |pairs AS (
      |  SELECT a.cluster, sa.sub, a.vec_id AS a_id, b.vec_id AS b_id,
      |    CAST(SUM((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d2
      |  FROM va a JOIN va b
      |    ON a.cluster = b.cluster AND a.dim = b.dim AND a.vec_id < b.vec_id
      |  JOIN subs sa ON sa.vec_id = a.vec_id
      |  JOIN subs sb ON sb.vec_id = b.vec_id AND sb.sub = sa.sub
      |  GROUP BY 1, 2, 3, 4),
      |branked AS (
      |  SELECT cluster, a_id, b_id, d2,
      |    ROW_NUMBER() OVER (PARTITION BY cluster, sub
      |      ORDER BY d2, a_id, b_id) AS brk
      |  FROM pairs),
      |ranked AS (
      |  SELECT cluster, a_id, b_id, d2,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY cluster
      |      ORDER BY d2, a_id, b_id) AS INT) AS rk
      |  FROM branked WHERE brk <= 3)
      |SELECT cluster, rk, a_id, b_id, d2
      |FROM ranked WHERE rk <= 3 ORDER BY cluster, rk""".stripMargin
  }

  // ------------------------------------------------- k-means TRAINING
  /** Two Lloyd iterations from a deterministic seed (vec_id mod 8) —
    * k-means TRAINING, not just the one-shot assignment of
    * sim_cluster_assign. The production shape (Spark MLlib's):
    * centroids live on the driver (k·d-bounded collect, the
    * trainPqCodebook pattern), and each round is ONE map-only corpus
    * pass — argmin over the k broadcast centroids via the codegen
    * integer kernel — plus one map-side-combinable (label, dim)
    * aggregate whose output is k·d rows. The corpus is never shuffled
    * and never checkpointed; the final query emits BOTH rounds'
    * assignments from a single map pass (no self-join). Everything is
    * on the integer grid (FLOORED integer centroid means via the
    * exactly-divisible rewrite — immune to any engine's `//`/`div`
    * convention, see PqCodebook.cmArr; exact BIGINT distances), so the
    * gate hashes real per-vector assignments of a real training loop,
    * bit-for-bit across engines. */
  private val KmeansK = 8
  private val kmeansTrain: Q = (s, d) => {
    import s.implicits._
    val qvecs = Tables.embeddings(s, d).select($"vec_id", expr(
      "transform(embedding, x -> cast(floor(cast(x as double) * 1000000d + 0.5d) as bigint))")
      .as("qv"))
    // (label → integer-grid centroid) collected to the driver: k·d
    // rows off one map-combinable aggregate, bounded at any corpus size
    def centroids(assigned: DataFrame): Array[(Int, Array[Long])] =
      assigned.select($"label", posexplode($"qv"))
        .groupBy($"label", $"pos")
        .agg(sum($"col").as("sq"), count(lit(1)).as("n"))
        // floored mean via the exactly-divisible rewrite (see above)
        .select($"label", $"pos", expr("(sq - pmod(sq, n)) div n").as("cm"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (l, rows) =>
          l -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toArray }
        .toArray.sortBy(_._1)
    // map-only argmin over the broadcast centroids; (s2, label) struct
    // ordering reproduces the (distance, label) tiebreak exactly
    def assignExpr(cs: Array[(Int, Array[Long])]): Column =
      array_min(array(cs.map { case (l, arr) =>
        struct(
          graft.functions.VectorExpressions.vecL2Sq($"qv", typedLit(arr)).as("s2"),
          lit(l).as("label"))
      }: _*)).getField("label")
    val seed = qvecs.select($"vec_id", $"qv",
      pmod($"vec_id", lit(KmeansK)).cast("int").as("label"))
    val cs1 = centroids(seed)
    val cs2 = centroids(qvecs.withColumn("label", assignExpr(cs1)))
    qvecs.select($"vec_id",
      assignExpr(cs1).as("label_r1"), assignExpr(cs2).as("label_r2"))
      .orderBy($"vec_id")
  }
  private val kmeansTrainSql =
    s"""WITH u AS (
       |  SELECT vec_id, CAST(i AS INT) AS dim,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
       |  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)),
       |c0 AS (
       |  SELECT CAST(vec_id % $KmeansK AS INT) AS label, dim,
       |    CAST((SUM(q) - ((SUM(q) % COUNT(*)) + COUNT(*)) % COUNT(*))
       |      // COUNT(*) AS BIGINT) AS cm
       |  FROM u GROUP BY 1, 2),
       |a1d AS (
       |  SELECT u.vec_id, c0.label, SUM((u.q - c0.cm) * (u.q - c0.cm)) AS s2
       |  FROM u JOIN c0 ON u.dim = c0.dim GROUP BY 1, 2),
       |a1 AS (
       |  SELECT vec_id, label FROM (
       |    SELECT vec_id, label, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY s2, label) AS rk FROM a1d) WHERE rk = 1),
       |c1 AS (
       |  SELECT a1.label, u.dim,
       |    CAST((SUM(u.q) - ((SUM(u.q) % COUNT(*)) + COUNT(*)) % COUNT(*))
       |      // COUNT(*) AS BIGINT) AS cm
       |  FROM u JOIN a1 USING (vec_id) GROUP BY 1, 2),
       |a2d AS (
       |  SELECT u.vec_id, c1.label, SUM((u.q - c1.cm) * (u.q - c1.cm)) AS s2
       |  FROM u JOIN c1 ON u.dim = c1.dim GROUP BY 1, 2),
       |a2 AS (
       |  SELECT vec_id, label FROM (
       |    SELECT vec_id, label, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY s2, label) AS rk FROM a2d) WHERE rk = 1)
       |SELECT a1.vec_id, CAST(a1.label AS INT) AS label_r1,
       |  CAST(a2.label AS INT) AS label_r2
       |FROM a1 JOIN a2 USING (vec_id) ORDER BY vec_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "emb_centroids" -> centroids,
    "emb_quantize" -> quantize,
    "emb_normalize" -> normalize,
    "emb_pq_encode" -> pqEncode,
    "sim_cluster_assign" -> clusterAssign,
    "emb_kmeans_train" -> kmeansTrain,
    "sim_semantic_dedup" -> semanticDedup)

  val oracles: Map[String, String] = Map(
    "emb_centroids" -> centroidsSql,
    "emb_quantize" -> quantizeSql,
    "emb_normalize" -> normalizeSql,
    "emb_pq_encode" -> pqEncodeSql,
    "sim_cluster_assign" -> clusterAssignSql,
    "emb_kmeans_train" -> kmeansTrainSql,
    "sim_semantic_dedup" -> semanticDedupSql)
}
