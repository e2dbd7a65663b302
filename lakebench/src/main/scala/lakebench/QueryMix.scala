package lakebench

import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}

/** The analyst's path: a closed loop of one client over a fixed list of
  * read-only queries from `SparkEntry.queries`, each pass in a seeded
  * order. Families follow their share of the query board; heavy rows
  * (`dedup_dedupe`, `sim_semantic_dedup`) and two
  * train-once queries (`text_bpe_encode`, `sim_knn_ivfpq`) are included
  * on purpose. No `stream_*` or `scd2_*` query runs here,
  * so this workload is the no-change control for those layers. */
object QueryMix {
  val families: Seq[(String, Seq[String])] = Seq(
    "operators.rel" -> Seq(
      "rel_pricing_summary", "rel_nation_revenue", "rel_join_inner", "rel_window_ranks",
      "rel_sessions", "rel_star_join"),
    "operators.tpch" -> Seq("rel_order_priority"),
    "operators.sql" -> Seq("sql_segment_rollup"),
    "ext.dedup" -> Seq("dedup_dedupe"),
    "ext.sim" -> Seq("sim_semantic_dedup", "sim_knn_ivfpq"),
    "ext.text" -> Seq("text_bpe_encode", "text_bm25", "text_langid"),
    "ext.emb" -> Seq("emb_normalize"))

  /** Whole passes only, and at least four, so every run samples each
    * query the same number of times, the timed phase is long enough to
    * average over a neighbour's load bursts, and a traced run has
    * untraced passes to compare with. */
  val MinPasses = 4

  val familyOf: Map[String, String] =
    families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap

  /** Canonical text of one value: doubles to 10 significant digits so a
    * summation-order wobble in the last bits does not read as a wrong
    * answer; nested values rendered recursively. */
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d == 0.0) "0" else String.format("%.10g", Double.box(d))
    case f: Float => canon(f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case bd: java.math.BigDecimal => bd.stripTrailingZeros.toPlainString
    case other => other.toString
  }

  /** Result hash: rows rendered canonically, sorted, then folded in
    * order by SHA-256 — order-sensitive over the sorted list, so
    * duplicate rows count and cannot cancel, while the engine stays
    * free to return rows in any order. */
  def resultHash(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(8).map(x => f"$x%02x").mkString
  }

  /** Physical-plan fingerprint with expression ids, plan ids and file
    * paths normalized away. */
  def fingerprint(df: DataFrame): String = {
    val plan = df.queryExecution.sparkPlan.treeString
      .replaceAll("#\\d+L?", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("file:[^\\s,\\]]+", "<path>")
      .replaceAll("\\[\\d+\\]", "[]")
    val md = MessageDigest.getInstance("SHA-256")
    md.digest(plan.getBytes("UTF-8")).take(8).map(x => f"$x%02x").mkString
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val fns = graft.SparkEntry.queries
    val names = families.flatMap(_._2)
    val missing = names.filterNot(fns.contains)
    require(missing.isEmpty, s"queries not in SparkEntry.queries: $missing")

    def runQuery(name: String, phase: String, traced: Boolean): Op =
      recorder.op(name, phase, traced, opTimeoutS) { o =>
        val df = fns(name)(spark, dataDir)
        val rows = df.collect()
        o.resultRows = rows.length.toLong
        val h = resultHash(rows)
        o.extra("family") = familyOf(name)
        o.extra("hash") = h
        if (traced || phase == "warm") o.extra("fingerprint") = fingerprint(df)
        expectedHashes.get(name) match {
          case Some(e) if e != h => o.error = s"result hash $h != expected $e"
          case None if !recording => o.error = "no expected hash recorded"
          case _ =>
        }
      }

    // set-up: an untimed warm pass, repeated so its median time is stable
    for (_ <- 1 to Main.SetupReps) {
      val t = Clock.nowMs
      names.foreach(n => warmOps += runQuery(n, "warm", traced = false))
      setupRepMs += Clock.nowMs - t
    }
    markSetupDone()

    val rnd = new scala.util.Random(seed)
    val t0 = Clock.nowMs
    while (passes < MinPasses || Clock.nowMs - t0 < seconds * 1000.0) {
      // traced runs trace every other whole pass, so the traced and the
      // untraced side of the overhead comparison hold the same queries
      val traced = trace && passes % 2 == 0
      rnd.shuffle(names).foreach(n => ops += runQuery(n, "query", traced))
      passes += 1
    }
    measuredMs = Clock.nowMs - t0
  }
}
