package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBridge.{AdaptiveHash, materialize, owned}

import graft.graph.Fixpoint
import graft.sql.Exact.e6

/** Round-6 sixth wave: sequential-recurrence analytics (EWMA folds),
  * experimentation (CUPED variance reduction), video scene-cut
  * detection over real frame bytes, TKC-robust link analysis (SALSA),
  * winnowing document fingerprints (the MOSS selection rule) and a
  * global 4-cycle census.
  *
  * Same discipline as [[Queries]]: integral outputs (floor-scaled where
  * a ratio is reported), ORDER BY on the keys, and a DuckDB oracle twin
  * replaying the identical arithmetic. Division discipline: Spark `div`
  * truncates toward zero, DuckDB `//` floors — every division whose
  * numerator could go negative is decomposed as sign·(|x| div y) on
  * BOTH sides so the two semantics coincide.
  */
object SignalQueries {

  private val DayUs = 86400000000L

  // ------------------------------------------------------------------
  // q_ewma_daily — integer EWMA over the per-type daily revenue series
  // ------------------------------------------------------------------

  /** Daily-revenue EWMA per event type with the integer recurrence
    * e ← (7·e + v) div 8 (α = 1/8, non-negative operands by
    * construction so truncate ≡ floor). The recurrence is inherently
    * sequential, but it runs over the DAILY series, not the events: the
    * heavy part (summing cents into (type, day) cells) is an ordinary
    * distributed two-phase agg, and the fold happens inside one
    * collect_list/aggregate pair whose frame is calendar-bounded — at
    * 100 TB the day count grows with TIME, not data volume, so the
    * O(days²) prefix refold stays a few-thousand-element array op per
    * type. No driver loop, no recursive join. */
  private def qEwmaDaily(t: Tables): DataFrame = {
    val daily = t.events
      .select(expr(s"ts div $DayUs").as("day"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("day")).agg(sum(col("cents")).as("v"))
    daily.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("v")))).as("arr"))
      .select(col("event_type"), expr(
        """explode(transform(arr, (x, i) ->
          |named_struct('day', x.day, 'v', x.v,
          |'ewma', aggregate(slice(arr, 1, i + 1), -1L,
          |(acc, y) -> if(acc < 0, y.v, (7 * acc + y.v) div 8)))))"""
          .stripMargin.replace('\n', ' ')).as("r"))
      .select(col("event_type"), col("r.day").as("day"),
        col("r.v").as("v"), col("r.ewma").as("ewma"))
      .orderBy(col("event_type"), col("day"))
  }

  private val qEwmaDailySql =
    s"""WITH RECURSIVE d AS (
       |SELECT event_type, epoch_us(ts) // $DayUs AS day,
       |CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS v,
       |ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY epoch_us(ts) // $DayUs) AS rn
       |FROM events GROUP BY 1, 2),
       |r AS (
       |SELECT event_type, day, v, rn, v AS ewma FROM d WHERE rn = 1
       |UNION ALL
       |SELECT d.event_type, d.day, d.v, d.rn, (7 * r.ewma + d.v) // 8
       |FROM r JOIN d ON d.event_type = r.event_type AND d.rn = r.rn + 1)
       |SELECT event_type, day, v, ewma FROM r
       |ORDER BY event_type, day""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_cuped — CUPED variance-reduced experiment readout
  // ------------------------------------------------------------------

  /** CUPED (Deng et al., WSDM'13) adjusted A/B readout: the time range
    * splits at its midpoint into pre/post periods, users split into
    * variants by id parity, θ = cov(pre, post)/var(pre) is estimated
    * pooled, and each variant's post-period mean is reported raw and
    * adjusted (mean_post − θ·(mean_pre − grand mean_pre)). All moments
    * are EXACT: per-user sums are BIGINT cents, cross-moments
    * (pre·post ≤ 1e15 per user) accumulate into DECIMAL(38,0) — Spark's
    * decimal sum and DuckDB's HUGEINT sum are both exact integer
    * arithmetic, so the e6-floored θ and e2 adjusted means hash-match
    * without any float in the pipeline. Negative-capable divisions are
    * sign-decomposed (see object doc). Scale: two hash aggs (user,
    * variant) + two single-row broadcasts — no shuffle wider than the
    * per-user rollup. */
  private def qCuped(t: Tables): DataFrame = {
    val ev = t.events.select(col("user_id"), col("ts"),
      floor(col("value") * 100).cast("long").as("cents"))
    val mm = ev.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
      .select(expr("(lo + hi) div 2").as("mid"))
    val per = ev.crossJoin(broadcast(mm))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ts") < col("mid"), col("cents")).otherwise(0L)).as("pre"),
        sum(when(col("ts") >= col("mid"), col("cents")).otherwise(0L)).as("post"))
      .withColumn("variant", pmod(col("user_id"), lit(2L)))
      .localCheckpoint()
    val d38 = "decimal(38,0)"
    val stats = per.agg(
      count(lit(1)).cast(d38).as("n"),
      sum(col("pre").cast(d38)).as("sx"),
      sum(col("post").cast(d38)).as("sy"),
      sum((col("pre") * col("pre")).cast(d38)).as("sxx"),
      sum((col("pre") * col("post")).cast(d38)).as("sxy"))
      .select(col("n"), col("sx"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("covn"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("varn"))
      .select(col("n"), col("sx"),
        (signum(col("covn")).cast("long") *
          expr("(abs(covn) * 1000000) div varn")).as("theta_e6"))
    val vg = per.groupBy(col("variant")).agg(
      count(lit(1)).cast(d38).as("nv"),
      sum(col("pre").cast(d38)).as("spre"),
      sum(col("post").cast(d38)).as("spost"))
    vg.crossJoin(broadcast(stats))
      .withColumn("adj_num",
        col("n") * col("spost") * lit(1000000L) -
          col("theta_e6") * (col("n") * col("spre") - col("nv") * col("sx")))
      .select(col("variant"),
        col("nv").cast("long").as("n_users"),
        expr("spost div nv").as("raw_mean_cents"),
        (signum(col("adj_num")).cast("long") *
          expr("abs(adj_num) div (1000000 * nv * n)")).as("adj_mean_cents"),
        col("theta_e6"))
      .orderBy(col("variant"))
  }

  private val qCupedSql =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS us,
      |CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
      |mm AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM ev),
      |per AS (SELECT user_id,
      |CAST(SUM(CASE WHEN us < (SELECT mid FROM mm) THEN cents ELSE 0 END) AS BIGINT) AS pre,
      |CAST(SUM(CASE WHEN us >= (SELECT mid FROM mm) THEN cents ELSE 0 END) AS BIGINT) AS post,
      |user_id % 2 AS variant
      |FROM ev GROUP BY user_id),
      |st AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |CAST(SUM(CAST(pre AS HUGEINT)) AS HUGEINT) AS sx,
      |CAST(SUM(CAST(post AS HUGEINT)) AS HUGEINT) AS sy,
      |CAST(SUM(CAST(pre AS HUGEINT) * CAST(pre AS HUGEINT)) AS HUGEINT) AS sxx,
      |CAST(SUM(CAST(pre AS HUGEINT) * CAST(post AS HUGEINT)) AS HUGEINT) AS sxy
      |FROM per),
      |th AS (SELECT n, sx,
      |CASE WHEN n * sxy - sx * sy < 0 THEN -1 WHEN n * sxy - sx * sy > 0 THEN 1 ELSE 0 END
      |* (abs(n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx)) AS theta_e6
      |FROM st),
      |vg AS (SELECT variant, CAST(COUNT(*) AS HUGEINT) AS nv,
      |CAST(SUM(CAST(pre AS HUGEINT)) AS HUGEINT) AS spre,
      |CAST(SUM(CAST(post AS HUGEINT)) AS HUGEINT) AS spost
      |FROM per GROUP BY variant),
      |j AS (SELECT variant, nv, spre, spost, n, sx, theta_e6,
      |n * spost * 1000000 - theta_e6 * (n * spre - nv * sx) AS adj_num
      |FROM vg CROSS JOIN th)
      |SELECT CAST(variant AS BIGINT) AS variant, CAST(nv AS BIGINT) AS n_users,
      |CAST(spost // nv AS BIGINT) AS raw_mean_cents,
      |CAST((CASE WHEN adj_num < 0 THEN -1 WHEN adj_num > 0 THEN 1 ELSE 0 END)
      |* (abs(adj_num) // (1000000 * nv * n)) AS BIGINT) AS adj_mean_cents,
      |CAST(theta_e6 AS BIGINT) AS theta_e6
      |FROM j ORDER BY variant""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_multimodal_scenecut — frame-mean deltas over real frame bytes
  // ------------------------------------------------------------------

  /** Scene-cut detection over the concatenated-PPM video container: the
    * walker ([[graft.multimodal.Multimodal.videoFrameStats]]) reads each
    * frame's actual pixel bytes into (sum, n), the per-frame mean is
    * floor-scaled to e3, and a cut fires where the inter-frame mean
    * delta exceeds 10 000 (10 gray levels). The oracle never sees the
    * bytes — it replays the construction formulas (frame f of doc d is
    * w·h·3 bytes of i % 249), so a hash match proves the engine's
    * parser walked headers and payloads exactly. One row per
    * consecutive-frame pair. */
  private def qScenecut(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fs = multimodal.Multimodal.videoFrameStats(
      multimodal.Multimodal.documentsAsVideo(t.documents))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    fs.withColumn("mean_e3", expr("(sum_px * 1000) div n_px"))
      .withColumn("prev", lag(col("mean_e3"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("doc_id"), col("frame_idx"), col("mean_e3"),
        abs(col("mean_e3") - col("prev")).as("delta_e3"),
        (abs(col("mean_e3") - col("prev")) > 10000L).cast("int").as("is_cut"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  private val qScenecutSql =
    """WITH f AS (SELECT doc_id, fi,
      |1 + (doc_id + fi) % 8 AS w, 1 + (fi % 5) AS h
      |FROM documents CROSS JOIN range(0, 4) AS t(fi) WHERE fi < 1 + doc_id % 4),
      |s AS (SELECT doc_id, fi, w * h * 3 AS n,
      |(w * h * 3 // 249) * (249 * 248 // 2)
      |+ ((w * h * 3) % 249) * ((w * h * 3) % 249 - 1) // 2 AS sumpx
      |FROM f),
      |m AS (SELECT doc_id, fi, sumpx * 1000 // n AS mean_e3,
      |LAG(sumpx * 1000 // n) OVER (PARTITION BY doc_id ORDER BY fi) AS prev
      |FROM s)
      |SELECT doc_id, CAST(fi AS INT) AS frame_idx, CAST(mean_e3 AS BIGINT) AS mean_e3,
      |CAST(ABS(mean_e3 - prev) AS BIGINT) AS delta_e3,
      |CAST(CASE WHEN ABS(mean_e3 - prev) > 10000 THEN 1 ELSE 0 END AS INT) AS is_cut
      |FROM m WHERE prev IS NOT NULL
      |ORDER BY doc_id, frame_idx""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_graph_salsa — degree-normalized link analysis
  // ------------------------------------------------------------------

  /** SALSA on the directed customer→supplier graph
    * ([[graft.graph.Algos.salsa]], 4 L1-normalized rounds): HITS'
    * random-walk cousin — mass is divided by degree before propagating,
    * which is what makes the ranking robust to tightly-knit-community
    * inflation. Oracle unrolls the identical divide-sum-normalize
    * recurrence. */
  private def qSalsa(t: Tables): DataFrame =
    graph.Algos.salsa(
      TestGraphs.custSupp(t).select("src", "dst"), iterations = 4)
      .select(col("id"), e6(col("auth")).as("auth_e6"), e6(col("hub")).as("hub_e6"))
      .orderBy(col("id"))

  private val qSalsaSql = sql.OracleGen.salsaSql(
    s"ce AS MATERIALIZED (${TestGraphs.custSuppSql}), e AS MATERIALIZED (SELECT src, dst FROM ce)", 4)

  // ------------------------------------------------------------------
  // q_text_winnow — winnowing fingerprint selection (MOSS)
  // ------------------------------------------------------------------

  /** Winnowing (Schleimer–Wilkerson–Aiken, SIGMOD'03) fingerprint
    * selection: positional 8-gram md5 hashes, window w = 4, keep each
    * window's minimal hash with ties broken RIGHTMOST. The tie rule is
    * encoded in the sort key itself — hash ‖ zero-padded (10⁸ − pos) —
    * so one array_min per window implements select-rightmost-min
    * identically in both engines (md5 hex compares bytewise the same in
    * Spark and DuckDB). Guarantee: any shared substring ≥ w + k − 1 = 11
    * chars yields a shared fingerprint. Per-row array work only — the
    * document never leaves its partition; output is the per-doc
    * fingerprint density panel. */
  /** Winnowing panel over any (doc_id, text) frame — see
    * [[qTextWinnow]] for the selection rule. Public for spec reuse. */
  def winnowPanel(d: DataFrame): DataFrame = {
    d.select(col("doc_id"), expr(
        """CASE WHEN length(text) < 8 THEN array()
          |ELSE transform(sequence(1, length(text) - 7),
          |p -> concat(md5(substring(text, p, 8)),
          |lpad(cast(100000000 - p as string), 9, '0'))) END"""
          .stripMargin.replace('\n', ' ')).as("hs"))
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_kgrams"),
        expr(
          """CASE WHEN size(hs) = 0 THEN array()
            |ELSE array_distinct(transform(sequence(1, greatest(size(hs) - 3, 1)),
            |w -> array_min(slice(hs, w, 4)))) END"""
            .stripMargin.replace('\n', ' ')).as("sel"))
      .select(col("doc_id"), col("n_kgrams"),
        size(col("sel")).cast("long").as("n_selected"),
        coalesce(expr("array_min(transform(sel, x -> substring(x, 1, 32)))"),
          lit("")).as("fp_min"))
      .orderBy(col("doc_id"))
  }

  private def qTextWinnow(t: Tables): DataFrame =
    winnowPanel(t.documents)

  private val qTextWinnowSql =
    """WITH g AS (SELECT doc_id,
      |CASE WHEN length(text) < 8 THEN []
      |ELSE list_transform(range(1, length(text) - 6),
      |p -> md5(substring(text, CAST(p AS INT), 8))
      ||| lpad(CAST(100000000 - p AS VARCHAR), 9, '0')) END AS hs
      |FROM documents),
      |w AS (SELECT doc_id, len(hs) AS n,
      |CASE WHEN len(hs) = 0 THEN []
      |ELSE list_distinct(list_transform(range(1, greatest(len(hs) - 2, 2)),
      |s -> list_min(list_slice(hs, s, s + 3)))) END AS sel
      |FROM g)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_kgrams,
      |CAST(len(sel) AS BIGINT) AS n_selected,
      |COALESCE(list_min(list_transform(sel, x -> substring(x, 1, 32))), '') AS fp_min
      |FROM w ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_graph_squares — global 4-cycle census
  // ------------------------------------------------------------------

  /** Global 4-cycle (square) census over the part co-purchase graph:
    * wedges grouped by their ENDPOINT pair (u < w, p = #distinct
    * centers), then #C₄ = Σ C(p, 2) / 2 — each square is counted once
    * per diagonal. The wedge expansion is the same Σd² shape as
    * q_graph_transitivity's triangle pass, grouped with map-side
    * partial agg before anything wide; Σ C(p,2) is provably even, so
    * the final div 2 is exact. Single-row output. */
  /** 4-cycle census over any undirected (u < v) pair frame — see
    * [[qSquares]]. Public for spec reuse. */
  def squareCensus(cp: DataFrame): DataFrame = {
    val e = cp.select(col("u").as("src"), col("v").as("dst"))
      .union(cp.select(col("v").as("src"), col("u").as("dst")))
    val wdg = e.as("a").join(e.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .groupBy(col("a.dst").as("u"), col("b.dst").as("w"))
      .agg(count(lit(1)).as("p"))
    wdg.agg(
      count(lit(1)).as("n_endpoint_pairs"),
      sum(when(col("p") >= 2, 1L).otherwise(0L)).cast("long").as("n_pairs2"),
      expr("sum((p * (p - 1)) div 2) div 2").cast("long").as("n_squares"))
  }

  private def qSquares(t: Tables): DataFrame =
    squareCensus(TestGraphs.partCoPairs(t).localCheckpoint())

  private val qSquaresSql =
    s"""WITH cp AS MATERIALIZED (${TestGraphs.partCoPairsSql}),
       |e AS MATERIALIZED (SELECT u AS src, v AS dst FROM cp
       |UNION ALL SELECT v AS src, u AS dst FROM cp),
       |wdg AS (SELECT a.dst AS u, b.dst AS w, COUNT(*) AS p
       |FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
       |GROUP BY 1, 2)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_endpoint_pairs,
       |CAST(COUNT(*) FILTER (WHERE p >= 2) AS BIGINT) AS n_pairs2,
       |CAST(SUM(p * (p - 1) // 2) // 2 AS BIGINT) AS n_squares
       |FROM wdg""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_emb_power_iter — top principal direction by integer power iteration
  // ------------------------------------------------------------------

  /** Dominant eigendirection of the embedding covariance
    * ([[graft.sim.Similarity.powerIteration]], 6 rounds): the drift
    * axis an embedding monitor projects onto. One data-sized pass
    * (covariance), then a broadcast-sized d-row fixpoint; every step
    * exact-integer with max-|x|=1024 rescaling, so the oracle unrolls
    * the identical rounds over an independently-joined Gram matrix. */
  private def qEmbPowerIter(t: Tables): DataFrame =
    sim.Similarity.powerIteration(t.embeddings, dim = 64, rounds = 6)

  private val qEmbPowerIterSql = {
    val rounds = 6
    val steps = (1 to rounds).map { r =>
      s"""w$r AS MATERIALIZED (SELECT f.i AS j, CAST(SUM(f.c * x.x) AS BIGINT) AS w
         |FROM f JOIN x${r - 1} x ON x.j = f.j2 GROUP BY 1),
         |m$r AS (SELECT MAX(abs(w)) AS m FROM w$r),
         |x$r AS MATERIALIZED (SELECT j,
         |CASE WHEN w < 0 THEN -((-w) * 1024 // (SELECT m FROM m$r))
         |ELSE (w * 1024) // (SELECT m FROM m$r) END AS x FROM w$r)""".stripMargin.replace('\n', ' ')
    }
    ("""WITH q AS MATERIALIZED (SELECT vec_id, j,
       |CAST(FLOOR(CAST(embedding[j] AS DOUBLE) * 16384) AS BIGINT) AS qv
       |FROM embeddings, unnest(range(1, 65)) t(j)),
       |n AS (SELECT COUNT(*) AS n FROM embeddings),
       |s AS MATERIALIZED (SELECT j, CAST(SUM(qv) AS BIGINT) AS sj FROM q GROUP BY 1),
       |pp AS MATERIALIZED (SELECT a.j AS i, b.j AS j2, CAST(SUM(a.qv * b.qv) AS BIGINT) AS spp
       |FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.j >= a.j GROUP BY 1, 2),
       |cov AS MATERIALIZED (SELECT i, j2,
       |CASE WHEN n.n * spp - sa.sj * sb.sj < 0
       |THEN -((-(n.n * spp - sa.sj * sb.sj)) // 1048576)
       |ELSE (n.n * spp - sa.sj * sb.sj) // 1048576 END AS c
       |FROM pp JOIN s sa ON sa.j = pp.i JOIN s sb ON sb.j = pp.j2 CROSS JOIN n),
       |f AS MATERIALIZED (SELECT i, j2, c FROM cov
       |UNION ALL SELECT j2 AS i, i AS j2, c FROM cov WHERE i <> j2),
       |x0 AS (SELECT j, CAST(1024 AS BIGINT) AS x FROM unnest(range(1, 65)) t(j)), """
      .stripMargin.replace('\n', ' ')) +
      steps.mkString(", ") +
      s" SELECT j - 1 AS dim, x AS comp FROM x$rounds ORDER BY dim"
  }

  // ------------------------------------------------------------------
  // q_holt_linear — trend-aware double exponential smoothing
  // ------------------------------------------------------------------

  /** Holt linear (double-exponential) smoothing over the per-type daily
    * revenue series, α = 1/4, β = 1/8, integer recurrences
    *   l ← (v + 3(l+b)) div 4,  b ← (7b + (l' − l)) div 8
    * — the trend-aware companion of [[qEwmaDaily]], same
    * calendar-bounded fold shape. The trend b goes NEGATIVE on declines,
    * so the oracle decomposes every division as sign·(|x| div y) to
    * replay Spark's truncating `div` under DuckDB's flooring `//`.
    * Output adds the one-step forecast l + b per day. */
  private def qHoltLinear(t: Tables): DataFrame = {
    val daily = t.events
      .select(expr(s"ts div $DayUs").as("day"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("day")).agg(sum(col("cents")).as("v"))
    daily.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("v")))).as("arr"))
      .select(col("event_type"), expr(
        // explicit init flag in the accumulator (the EwmaDaily hasEwma
        // pattern), NOT a sign-of-l sentinel: the level can legitimately
        // go negative on a steep decline (l=100, b=-50, v=0 → l<0 two
        // steps later) and a sign sentinel would silently restart the
        // recurrence while the oracle's rn=1-anchored CTE continues it
        """explode(transform(arr, (e, i) ->
          |named_struct('day', e.day, 'v', e.v, 'st',
          |aggregate(slice(arr, 1, i + 1),
          |named_struct('init', false, 'l', 0L, 'b', 0L),
          |(acc, y) -> if(NOT acc.init,
          |named_struct('init', true, 'l', y.v, 'b', 0L),
          |named_struct('init', true,
          |'l', (y.v + 3 * (acc.l + acc.b)) div 4,
          |'b', (7 * acc.b + ((y.v + 3 * (acc.l + acc.b)) div 4 - acc.l)) div 8))))))"""
          .stripMargin.replace('\n', ' ')).as("r"))
      .select(col("event_type"), col("r.day").as("day"), col("r.v").as("v"),
        col("r.st.l").as("level"), col("r.st.b").as("trend"),
        (col("r.st.l") + col("r.st.b")).as("forecast"))
      .orderBy(col("event_type"), col("day"))
  }

  private val qHoltLinearSql =
    s"""WITH RECURSIVE d AS (
       |SELECT event_type, epoch_us(ts) // $DayUs AS day,
       |CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS v,
       |ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY epoch_us(ts) // $DayUs) AS rn
       |FROM events GROUP BY 1, 2),
       |r AS (
       |SELECT event_type, day, v, rn, v AS l, CAST(0 AS BIGINT) AS b FROM d WHERE rn = 1
       |UNION ALL
       |SELECT d.event_type, d.day, d.v, d.rn,
       |CASE WHEN d.v + 3 * (r.l + r.b) < 0 THEN -((-(d.v + 3 * (r.l + r.b))) // 4)
       |ELSE (d.v + 3 * (r.l + r.b)) // 4 END AS l,
       |CASE WHEN 7 * r.b + (CASE WHEN d.v + 3 * (r.l + r.b) < 0
       |THEN -((-(d.v + 3 * (r.l + r.b))) // 4)
       |ELSE (d.v + 3 * (r.l + r.b)) // 4 END - r.l) < 0
       |THEN -((-(7 * r.b + (CASE WHEN d.v + 3 * (r.l + r.b) < 0
       |THEN -((-(d.v + 3 * (r.l + r.b))) // 4)
       |ELSE (d.v + 3 * (r.l + r.b)) // 4 END - r.l))) // 8)
       |ELSE (7 * r.b + (CASE WHEN d.v + 3 * (r.l + r.b) < 0
       |THEN -((-(d.v + 3 * (r.l + r.b))) // 4)
       |ELSE (d.v + 3 * (r.l + r.b)) // 4 END - r.l)) // 8 END AS b
       |FROM r JOIN d ON d.event_type = r.event_type AND d.rn = r.rn + 1)
       |SELECT event_type, day, v, l AS level, b AS trend, l + b AS forecast
       |FROM r ORDER BY event_type, day""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_mix_epochs — uniform-target data-budget allocation per source
  // ------------------------------------------------------------------

  /** Training-data budget allocation: each source gets a uniform target
    * weight (e6, largest-remainder rounded so the weights sum to
    * exactly 10⁶ — the deterministic tie rule hands the remainder to
    * the largest sources first), the char budget is 2× the corpus, and
    * epochs_e3 says how many passes over each source that allocation
    * implies — the over/under-sampling panel a mixture designer reads.
    * One source-keyed agg + a window over the (bounded) source list. */
  private def qMixEpochs(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t.documents
    val src = d.groupBy(col("source")).agg(sum(col("n_chars")).as("chars"))
    val tot = src.agg(sum(col("chars")).as("t"), count(lit(1)).as("k"))
    src.crossJoin(broadcast(tot))
      .withColumn("rn", row_number().over(Window.orderBy(col("chars").desc, col("source"))))
      .select(col("source"), col("chars"),
        (expr("1000000 div k") +
          when(col("rn") <= expr("1000000 % k"), 1L).otherwise(0L)).as("weight_e6"),
        col("t"))
      .withColumn("alloc_chars", expr("(2 * t * weight_e6) div 1000000"))
      .select(col("source"), col("chars"), col("weight_e6"), col("alloc_chars"),
        expr("(alloc_chars * 1000) div chars").as("epochs_e3"))
      .orderBy(col("source"))
  }

  private val qMixEpochsSql =
    """WITH src AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars
      |FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(SUM(chars) AS BIGINT) AS t, COUNT(*) AS k FROM src),
      |wts AS (SELECT source, chars,
      |1000000 // (SELECT k FROM tot)
      |+ CASE WHEN ROW_NUMBER() OVER (ORDER BY chars DESC, source)
      |<= 1000000 % (SELECT k FROM tot) THEN 1 ELSE 0 END AS weight_e6
      |FROM src),
      |al AS (SELECT source, chars, weight_e6,
      |(2 * (SELECT t FROM tot) * weight_e6) // 1000000 AS alloc_chars FROM wts)
      |SELECT source, chars, CAST(weight_e6 AS BIGINT) AS weight_e6, alloc_chars,
      |(alloc_chars * 1000) // chars AS epochs_e3
      |FROM al ORDER BY source""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_quantile_sketch — mergeable log2-bucket quantile sketch + audit
  // ------------------------------------------------------------------

  /** Mergeable quantile sketch over order totals: the sketch is a
    * log₂-bucket histogram (bucket = bitlength(cents) − 1 — the
    * libm-free [[graft.graph.Algos.jointDegreeMatrix]] identity), i.e.
    * one tiny map-side-combinable agg whose per-partition states merge
    * by addition — the property that makes it a SKETCH (at 100 TB each
    * executor ships ≤ 64 counters). P50/P90/P99 are answered from the
    * cumulative buckets with a guaranteed ≤ 2× overestimate (the bucket
    * upper bound); the exact order statistic is computed alongside as
    * the AUDIT baseline (a full distributed sort+rank — the cost the
    * sketch avoids — via [[graft.operators.DistributedRank]], so even
    * the audit side never single-partitions) and the ratio reported.
    * The sketch/exact split is the point of the query: the cheap path
    * and its error, measured. */
  private def qQuantileSketch(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import t.spark.implicits._
    val c = t.orders
      .select(floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .filter(col("cents") > 0)
      .localCheckpoint()
    val n = c.agg(count(lit(1)).as("n"))
    val cum = c.select((length(bin(col("cents"))) - 1).cast("long").as("bkt"))
      .groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
      .withColumn("cc", sum(col("cnt")).over(Window.orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
    val qs = Seq(50L, 90L, 99L).toDF("q").crossJoin(broadcast(n))
      .select(col("q"), expr("(n * q + 99) div 100").as("r"))
    val pick = qs.join(cum, col("cc") >= col("r"))
      .groupBy(col("q"), col("r")).agg(min(col("bkt")).as("bucket"))
    // exact-audit rank: range-partitioned offset rank, not a global
    // window — the audit side must not itself be the scale-killer the
    // sketch exists to avoid
    val ranked = graft.operators.DistributedRank.withRowNumber(
      c, Seq(col("cents")), "rn")
    val ex = qs.join(ranked, col("rn") === col("r"))
      .select(col("q").as("q2"), col("cents").as("exact_cents"))
    pick.join(ex, col("q") === col("q2"))
      .select(col("q"), col("bucket"),
        expr("shiftleft(cast(1 as bigint), cast(bucket + 1 as int)) - 1").as("bucket_ub"),
        col("exact_cents"),
        expr("((shiftleft(cast(1 as bigint), cast(bucket + 1 as int)) - 1) * 1000) div exact_cents")
          .as("ub_over_exact_e3"))
      .orderBy(col("q"))
  }

  private val qQuantileSketchSql =
    """WITH c AS MATERIALIZED (SELECT cents FROM (
      |SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents FROM orders) z
      |WHERE cents > 0),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
      |b AS (SELECT length(bin(cents)) - 1 AS bkt, CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM c GROUP BY 1),
      |cum AS (SELECT bkt, cnt, CAST(SUM(cnt) OVER (ORDER BY bkt
      |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc FROM b),
      |qs AS (SELECT q, ((SELECT n FROM n) * q + 99) // 100 AS r
      |FROM (VALUES (50), (90), (99)) t(q)),
      |pick AS (SELECT q, r, MIN(bkt) AS bkt FROM qs JOIN cum ON cc >= r GROUP BY 1, 2),
      |ex AS (SELECT q, MIN(cents) AS exact_cents FROM qs JOIN
      |(SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn FROM c) z
      |ON rn = r GROUP BY 1)
      |SELECT CAST(p.q AS BIGINT) AS q, CAST(p.bkt AS BIGINT) AS bucket,
      |CAST((CAST(1 AS BIGINT) << CAST(p.bkt + 1 AS INT)) - 1 AS BIGINT) AS bucket_ub,
      |e.exact_cents,
      |(((CAST(1 AS BIGINT) << CAST(p.bkt + 1 AS INT)) - 1) * 1000) // e.exact_cents
      |AS ub_over_exact_e3
      |FROM pick p JOIN ex e ON e.q = p.q ORDER BY q""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_path_trigrams — frequent in-session event-type trigrams
  // ------------------------------------------------------------------

  /** Top-20 in-session event-type trigrams (the order-3 companion to
    * q_markov's bigram transition matrix): sessionize with the shared
    * 30-minute gap rule, slide a lead/lead window inside each session,
    * count (t1, t2, t3) and cut at 20 under the deterministic total
    * order (cnt DESC, then the trigram itself) — the path-mining panel
    * behind "what do users do right before X". Per-user windows only;
    * the global sort runs on the (tiny) distinct-trigram frame. */
  private def qPathTrigrams(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sess = t.events
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("ts") - col("prev") > lit(1800000000L), 1)
          .otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ws = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("ts"), col("event_id"))
    sess
      .withColumn("t2", lead(col("event_type"), 1).over(ws))
      .withColumn("t3", lead(col("event_type"), 2).over(ws))
      .filter(col("t3").isNotNull)
      .groupBy(col("event_type").as("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t1"), col("t2"), col("t3"))
      .limit(20)
  }

  private val qPathTrigramsSql =
    """WITH l AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
      |LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |FROM events),
      |m AS (SELECT user_id, event_type, us, event_id,
      |SUM(CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END)
      |OVER (PARTITION BY user_id ORDER BY us, event_id
      |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM l),
      |g AS (SELECT user_id, sid, event_type,
      |LEAD(event_type, 1) OVER (PARTITION BY user_id, sid ORDER BY us, event_id) AS t2,
      |LEAD(event_type, 2) OVER (PARTITION BY user_id, sid ORDER BY us, event_id) AS t3
      |FROM m),
      |t AS (SELECT event_type AS t1, t2, t3, COUNT(*) AS cnt
      |FROM g WHERE t3 IS NOT NULL GROUP BY 1, 2, 3)
      |SELECT t1, t2, t3, cnt FROM t
      |ORDER BY cnt DESC, t1, t2, t3 LIMIT 20""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_multimodal_vad — energy-threshold voice-activity segments
  // ------------------------------------------------------------------

  /** Voice-activity detection over the parsed WAV corpus: per-frame
    * PCM energies (8-sample frames, real little-endian sample decode —
    * [[graft.multimodal.Multimodal.wavFrameEnergies]]), a frame is
    * active when its mean |amplitude| exceeds the clip's mean
    * (cross-multiplied — no division), and activity RUNS become
    * segments via the gaps-islands identity. The oracle replays the
    * construction-formula sample streams, so a hash match proves the
    * engine decoded the actual PCM bytes. Per-doc segment panel; docs
    * whose payload fails to parse keep the −1 sentinel row. */
  /** VAD panel over any (doc_id, text) frame (docs→WAV adapter + real
    * PCM decode). Public for CLI/spec reuse. */
  def vadPanel(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fr = multimodal.Multimodal.wavFrameEnergies(
      multimodal.Multimodal.documentsAsWav(d))
    val tt = fr.groupBy(col("doc_id"))
      .agg(sum(col("f_sum")).as("ts_"), sum(col("f_n")).as("tn"))
    val act = fr.join(tt, Seq("doc_id"))
      .withColumn("ia", col("f_sum") * col("tn") > col("ts_") * col("f_n"))
    val bs = act.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("ia"), 1L).otherwise(0L)).as("n_active"))
    val rg = act.filter(col("ia"))
      .withColumn("grp", col("frame_idx") -
        row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))))
      .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("c"))
    val seg = rg.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"), max(col("c")).as("max_run"))
    d.select(col("doc_id"))
      .join(bs, Seq("doc_id"), "left")
      .join(seg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_frames"), lit(-1L)).as("n_frames"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("max_run"), lit(0L)).as("max_run"))
      .orderBy(col("doc_id"))
  }

  private def qMultimodalVad(t: Tables): DataFrame =
    vadPanel(t.documents)

  private val qMultimodalVadSql =
    """WITH p AS (SELECT doc_id, 10 + doc_id % 50 AS ns FROM documents),
      |z AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
      |THEN list_transform(range(0, ns), i -> ABS((i % 253) - 128))
      |ELSE list_transform(range(0, 2 * ns), k ->
      |ABS((2 * k) % 253 + ((2 * k + 1) % 253) * 256 -
      |CASE WHEN (2 * k) % 253 + ((2 * k + 1) % 253) * 256 >= 32768
      |THEN 65536 ELSE 0 END)) END AS l FROM p),
      |sm AS (SELECT doc_id, unnest(l) AS a, generate_subscripts(l, 1) - 1 AS k FROM z),
      |fr AS (SELECT doc_id, k // 8 AS fi, CAST(SUM(a) AS BIGINT) AS fsum,
      |CAST(COUNT(*) AS BIGINT) AS fn FROM sm GROUP BY 1, 2),
      |tt AS (SELECT doc_id, CAST(SUM(fsum) AS BIGINT) AS ts, CAST(SUM(fn) AS BIGINT) AS tn
      |FROM fr GROUP BY 1),
      |act AS (SELECT fr.doc_id, fi, (fsum * tn > ts * fn) AS ia
      |FROM fr JOIN tt USING (doc_id)),
      |bs AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
      |CAST(COUNT(*) FILTER (WHERE ia) AS BIGINT) AS n_active FROM act GROUP BY 1),
      |runs AS (SELECT doc_id, fi - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fi) AS grp
      |FROM act WHERE ia),
      |rg AS (SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS c FROM runs GROUP BY 1, 2),
      |seg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments, MAX(c) AS max_run
      |FROM rg GROUP BY 1)
      |SELECT d.doc_id, COALESCE(bs.n_frames, -1) AS n_frames,
      |COALESCE(bs.n_active, 0) AS n_active,
      |COALESCE(seg.n_segments, 0) AS n_segments, COALESCE(seg.max_run, 0) AS max_run
      |FROM documents d LEFT JOIN bs ON bs.doc_id = d.doc_id
      |LEFT JOIN seg ON seg.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_graph_sample_fanout — GraphSAGE-style bounded neighbor sampling
  // ------------------------------------------------------------------

  /** Deterministic fixed-fanout neighbor sampling (the GraphSAGE
    * data-prep step): each vertex keeps its top-3 neighbors under the
    * hash order md5(src:dst) — a reproducible "random" sample both
    * engines rank identically — and the 2-hop frontier is expanded
    * through the SAMPLED lists only, so the per-vertex expansion is
    * bounded 3² = 9 paths whatever the degree distribution. That bound
    * is the point at 100 TB: hub vertices cost the same as leaves.
    * Output: per-vertex sampled-2-hop panel. */
  private def qSampleFanout(t: Tables): DataFrame = owned { o =>
    import org.apache.spark.sql.expressions.Window
    val cp = o(TestGraphs.partCoPairs(t).localCheckpoint())
    val e = cp.select(col("u").as("src"), col("v").as("dst"))
      .union(cp.select(col("v").as("src"), col("u").as("dst")))
    val h1 = e.withColumn("r", row_number().over(
        Window.partitionBy(col("src")).orderBy(
          md5(concat(col("src").cast("string"), lit(":"), col("dst").cast("string"))),
          col("dst"))))
      .filter(col("r") <= 3).select(col("src"), col("dst"))
      .localCheckpoint()
    h1.as("a").join(h1.as("b"),
        col("a.dst") === col("b.src") && col("b.dst") =!= col("a.src"))
      .groupBy(col("a.src").as("src"))
      .agg(countDistinct(col("b.dst")).as("n_2hop"),
        count(lit(1)).as("n_paths"))
      .orderBy(col("src"))
  }

  private val qSampleFanoutSql =
    s"""WITH cp AS MATERIALIZED (${TestGraphs.partCoPairsSql}),
       |e AS MATERIALIZED (SELECT u AS src, v AS dst FROM cp
       |UNION ALL SELECT v AS src, u AS dst FROM cp),
       |rk AS (SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |ORDER BY md5(CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)), dst) AS r FROM e),
       |h1 AS MATERIALIZED (SELECT src, dst FROM rk WHERE r <= 3),
       |h2 AS (SELECT a.src, b.dst AS dst2 FROM h1 a
       |JOIN h1 b ON a.dst = b.src AND b.dst <> a.src)
       |SELECT src, CAST(COUNT(DISTINCT dst2) AS BIGINT) AS n_2hop,
       |CAST(COUNT(*) AS BIGINT) AS n_paths
       |FROM h2 GROUP BY 1 ORDER BY src""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_graph_negative_samples — hash-derived link-prediction negatives
  // ------------------------------------------------------------------

  /** Deterministic negative sampling for link prediction: 4 hash-derived
    * candidate targets per vertex (h60(src#s) mod |V| → the s-th
    * pseudo-random vertex, identical in both engines via the shared
    * md5-hex-prefix idiom), self-loops and TRUE edges anti-joined away,
    * first 2 survivors kept per vertex under the (s, dst) order. The
    * classic trainer-side negatives generator: candidate volume is a
    * constant per vertex, the anti-join is one equi-join against the
    * edge list, and nothing depends on degree. The id-compaction is the
    * standard zipWithIndex-style dense id-map, built distributed via
    * [[graft.operators.DistributedRank]] (range-partitioned offset
    * rank — no global window over the vertex list). */
  private def qNegativeSamples(t: Tables): DataFrame = owned { o =>
    import org.apache.spark.sql.expressions.Window
    val cp = o(TestGraphs.partCoPairs(t).localCheckpoint())
    val e = cp.select(col("u").as("src"), col("v").as("dst"))
      .union(cp.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint()
    val vx = e.select(col("src").as("id")).distinct().localCheckpoint()
    val n = vx.agg(count(lit(1)).as("n"))
    val ids = graft.operators.DistributedRank.withRowNumber(
        vx, Seq(col("id")), "__rn")
      .select(col("id"), (col("__rn") - 1).as("idx"))
    val cand = vx.crossJoin(broadcast(n))
      .select(col("id").as("src"), col("n"),
        explode(expr("sequence(0, 3)")).as("s"))
      .withColumn("tidx",
        expr("cast(conv(substring(md5(concat(cast(src as string), '#', cast(s as string))), 1, 15), 16, 10) as bigint) % n"))
    val mapped = cand.join(ids, col("tidx") === col("idx"))
      .filter(col("id") =!= col("src"))
      .select(col("src"), col("id").as("dst"), col("s"))
    val neg = mapped.join(e, Seq("src", "dst"), "left_anti")
    neg.withColumn("r", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("s"), col("dst"))))
      .filter(col("r") <= 2)
      .select(col("src"), col("dst"))
      .orderBy(col("src"), col("dst"))
  }

  private val qNegativeSamplesSql =
    s"""WITH cp AS MATERIALIZED (${TestGraphs.partCoPairsSql}),
       |e AS MATERIALIZED (SELECT u AS src, v AS dst FROM cp
       |UNION ALL SELECT v AS src, u AS dst FROM cp),
       |vx AS MATERIALIZED (SELECT DISTINCT src AS id FROM e),
       |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vx),
       |ids AS MATERIALIZED (SELECT id, ROW_NUMBER() OVER (ORDER BY id) - 1 AS idx FROM vx),
       |cand AS (SELECT v.id AS src, t.s,
       |CAST(('0x' || substring(md5(CAST(v.id AS VARCHAR) || '#' || CAST(t.s AS VARCHAR)), 1, 15)) AS BIGINT)
       |% (SELECT n FROM nv) AS tidx
       |FROM vx v CROSS JOIN range(0, 4) t(s)),
       |cmap AS (SELECT c.src, i.id AS dst, c.s FROM cand c JOIN ids i ON i.idx = c.tidx
       |WHERE i.id <> c.src),
       |neg AS (SELECT cm.src, cm.dst, cm.s FROM cmap cm
       |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = cm.src AND e.dst = cm.dst)),
       |rk AS (SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY s, dst) AS r FROM neg)
       |SELECT src, dst FROM rk WHERE r <= 2
       |ORDER BY src, dst""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_session_survival — session-duration survival curve
  // ------------------------------------------------------------------

  /** Session-length survival function: sessionize with the shared
    * 30-minute gap rule, then for each horizon (1, 5, 10, 30 minutes)
    * report how many sessions survive at least that long and the e6
    * share — the retention-of-attention curve product teams read. One
    * sessionization pass + a 4-row horizon join (each session lands in
    * ≤ 4 horizon buckets — constant fan-out). */
  private def qSessionSurvival(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import t.spark.implicits._
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sess = t.events
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("ts") - col("prev") > lit(1800000000L), 1)
          .otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg((max(col("ts")) - min(col("ts"))).as("dur_us"))
      .localCheckpoint()
    val tot = sess.agg(count(lit(1)).as("total"))
    val hs = Seq(1L, 5L, 10L, 30L).toDF("h_min")
    hs.crossJoin(sess)
      .filter(col("dur_us") >= col("h_min") * lit(60000000L))
      .groupBy(col("h_min")).agg(count(lit(1)).as("n_alive"))
      .crossJoin(broadcast(tot))
      .select(col("h_min"), col("n_alive"), col("total"),
        expr("(n_alive * 1000000) div total").as("share_e6"))
      .orderBy(col("h_min"))
  }

  private val qSessionSurvivalSql =
    """WITH l AS (SELECT user_id, epoch_us(ts) AS us, event_id,
      |LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |FROM events),
      |m AS (SELECT user_id, us,
      |SUM(CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END)
      |OVER (PARTITION BY user_id ORDER BY us, event_id
      |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM l),
      |sess AS MATERIALIZED (SELECT user_id, sid, MAX(us) - MIN(us) AS dur_us
      |FROM m GROUP BY 1, 2),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM sess),
      |hz AS (SELECT h_min FROM (VALUES (1), (5), (10), (30)) t(h_min))
      |SELECT CAST(h_min AS BIGINT) AS h_min,
      |CAST(COUNT(*) AS BIGINT) AS n_alive,
      |(SELECT total FROM tot) AS total,
      |(CAST(COUNT(*) AS BIGINT) * 1000000) // (SELECT total FROM tot) AS share_e6
      |FROM hz JOIN sess ON dur_us >= h_min * 60000000
      |GROUP BY h_min ORDER BY h_min""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_graph_rwr_multi — batched multi-source personalized PageRank
  // ------------------------------------------------------------------

  /** Four personalized-PageRank problems in ONE tagged frame
    * ([[graft.graph.Algos.rwrMulti]], 5 rounds on the symmetrized
    * customer–supplier graph): each round's edge shuffle and (dst, tag)
    * aggregation serve all sources at once — the batching that makes
    * thousand-source personalization viable at warehouse scale, where
    * S independent q_graph_rwr runs would pay S edge shuffles per
    * round. Oracle unrolls the identical tagged recurrence. */
  private def qRwrMulti(t: Tables): DataFrame =
    graph.Algos.rwrMulti(TestGraphs.custSuppSym(t), nSources = 4,
        iterations = 5)
      .select(col("id"), col("tag"), e6(col("pr")).as("pr_e6"))
      .orderBy(col("tag"), col("id"))

  private val qRwrMultiSql =
    sql.OracleGen.rwrMultiSql(TestGraphs.custSuppSymSql, 4, 5, 0.85, 0.15)

  // ------------------------------------------------------------------
  // q_graph_k4 — 4-clique census
  // ------------------------------------------------------------------

  /** Global K4 (4-clique) census over the part co-purchase graph:
    * orient all edges low→high, enumerate oriented triangles
    * (x < y < z) by the standard two-join wedge closure, then extend
    * each triangle by the z→d edge list and keep extensions where
    * (x, d) and (y, d) both exist (two LEFT SEMI probes against the
    * oriented edge list — membership checks, not expansions). The
    * orientation means every clique is counted exactly once and the
    * extension fan-out is out-degree-bounded in the oriented (acyclic)
    * graph — the same arboricity argument as the triangle pass.
    * Single-row (n_triangles, n_k4) output. */
  private def qK4(t: Tables): DataFrame = {
    // Round-14: the edge list is checkpointed with DECLARED hash(u)
    // partitioning, so the wedge self-join (both sides keyed u) runs
    // with ZERO exchanges, and every join against cp is pinned to a
    // SHUFFLED HASH JOIN building on the cp side — the quadratic-ish
    // frames (wedges, triangle extensions) stream unsorted instead of
    // paying a SortMergeJoin sort each (the before plan carried 18
    // Exchanges and sorted the wedge frame twice; measured 35.8 s →
    // see OPTIMIZATION_r14.md). Build-side size is one cp partition —
    // |E|/np rows — the same bound the jaccard prefix join pins SHJ on.
    // That bound assumes roughly uniform hash(u) mass (ADVICE r14): a
    // shuffled-hash build does NOT spill, so a degree-skewed graph that
    // concentrates |E| under few u values can OOM a build task where
    // the old sort-merge would have spilled. PLANS.md r15 records the
    // sizing rule; np (shuffle.partitions) is the at-scale safety valve.
    val cp = materialize(TestGraphs.partCoPairs(t), AdaptiveHash("u"))
    val tri = cp.as("a")
      .join(cp.as("b").hint("shuffle_hash"),
        col("b.u") === col("a.u") && col("b.v") > col("a.v"))
      .join(cp.as("c").hint("shuffle_hash"),
        col("c.u") === col("a.v") && col("c.v") === col("b.v"))
      .select(col("a.u").as("x"), col("a.v").as("y"), col("b.v").as("z"))
      .localCheckpoint()
    val ext = tri
      .join(cp.select(col("u").as("z"), col("v").as("d")).hint("shuffle_hash"),
        Seq("z"))
      .join(cp.select(col("u").as("x"), col("v").as("d")).hint("shuffle_hash"),
        Seq("x", "d"), "left_semi")
      .join(cp.select(col("u").as("y"), col("v").as("d")).hint("shuffle_hash"),
        Seq("y", "d"), "left_semi")
    tri.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(ext.agg(count(lit(1)).as("n_k4")))
  }

  private val qK4Sql =
    s"""WITH cp AS MATERIALIZED (${TestGraphs.partCoPairsSql}),
       |t AS MATERIALIZED (SELECT a.u AS x, a.v AS y, b.v AS z FROM cp a
       |JOIN cp b ON b.u = a.u AND b.v > a.v
       |JOIN cp c ON c.u = a.v AND c.v = b.v),
       |k4 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_k4 FROM t
       |JOIN cp e1 ON e1.u = t.z
       |JOIN cp e2 ON e2.u = t.x AND e2.v = e1.v
       |JOIN cp e3 ON e3.u = t.y AND e3.v = e1.v)
       |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS n_triangles, n_k4
       |FROM k4""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_source_drift_tv — pairwise total-variation drift between sources
  // ------------------------------------------------------------------

  /** Pairwise corpus-drift matrix: total-variation distance between the
    * unigram distributions of every source pair, EXACT in integers —
    * TV = ½ Σ_w |c₁(w)·n₂ − c₂(w)·n₁| / (n₁·n₂), and the union over
    * vocabularies collapses onto the INTERSECTION via the identity
    * Σ_{only-in-1} c₁·n₂ = n₁·n₂ − Σ_∩ c₁·n₂ (Σc₁ = n₁), so the one
    * join is per-source term frequencies keyed on token — never a doc-
    * or corpus-sized frame. The drift monitor that says which data
    * sources have diverged vocabularies before a mixture is trained. */
  private def qSourceDriftTv(t: Tables): DataFrame = {
    val tf = t.documents
      .select(col("source"), explode(text.TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val tot = tf.groupBy(col("source")).agg(sum(col("c")).cast("long").as("n"))
    val a = tf.join(tot, Seq("source"))
      .select(col("source").as("s1"), col("tok"), col("c").as("c1"), col("n").as("n1"))
    val b = tf.join(tot, Seq("source"))
      .select(col("source").as("s2"), col("tok"), col("c").as("c2"), col("n").as("n2"))
    a.join(b, Seq("tok")).filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("n_common"),
        sum(abs(col("c1") * col("n2") - col("c2") * col("n1"))).as("ai"),
        sum(col("c1") * col("n2")).as("bi"),
        sum(col("c2") * col("n1")).as("ci"))
      .select(col("s1"), col("s2"), col("n_common"),
        expr("((ai + (n1 * n2 - bi) + (n1 * n2 - ci)) * 1000000) div (2 * n1 * n2)")
          .as("tv_e6"))
      .orderBy(col("s1"), col("s2"))
  }

  private val qSourceDriftTvSql =
    s"""WITH tk AS MATERIALIZED (SELECT source,
       |unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents),
       |tf AS MATERIALIZED (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
       |FROM tk GROUP BY 1, 2),
       |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM tf GROUP BY 1),
       |j AS (SELECT a.source AS s1, b.source AS s2, ta.n AS n1, tb.n AS n2,
       |COUNT(*) AS n_common,
       |CAST(SUM(ABS(a.c * tb.n - b.c * ta.n)) AS BIGINT) AS ai,
       |CAST(SUM(a.c * tb.n) AS BIGINT) AS bi,
       |CAST(SUM(b.c * ta.n) AS BIGINT) AS ci
       |FROM tf a JOIN tf b ON a.tok = b.tok AND a.source < b.source
       |JOIN tot ta ON ta.source = a.source JOIN tot tb ON tb.source = b.source
       |GROUP BY 1, 2, 3, 4)
       |SELECT s1, s2, n_common,
       |((ai + (n1 * n2 - bi) + (n1 * n2 - ci)) * 1000000) // (2 * n1 * n2) AS tv_e6
       |FROM j ORDER BY s1, s2""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_markov_attribution — removal-effect channel attribution
  // ------------------------------------------------------------------

  /** Markov removal-effect attribution (Anderl et al.): user journeys
    * (events up to first purchase, start and null/purchase absorbing
    * states) build a transition matrix in e6 integers; conversion
    * probability is 12 steps of the tagged vector–matrix recurrence
    * p′(k) = Σⱼ (p(j)·T(j,k)) div 10⁶, and each channel's removal
    * effect re-runs the SAME recurrence on a matrix whose into-channel
    * mass is redirected to null. ALL variants (full + one per channel)
    * advance in one tagged frame — the q_graph_rwr_multi batching — so
    * the journey scan and transition aggregation are paid once however
    * many channels exist. Per-step truncating division is identical in
    * both engines; the final effect ratio is sign-decomposed. The
    * matrix frames are channel²-sized (tiny metadata), never data-sized
    * — the only corpus pass is the journey construction. */
  private def qMarkovAttribution(t: Tables): DataFrame = owned { o =>
    import org.apache.spark.sql.expressions.Window
    import t.spark.implicits._
    val ev0 = t.events.select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val fp = ev0.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts")).as("fts"))
    val ev = ev0.join(fp, Seq("user_id"), "left")
      .filter(col("fts").isNull || col("ts") <= col("fts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val seq0 = o(ev.withColumn("rn", row_number().over(w))
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .localCheckpoint())
    val tr = seq0.filter(col("rn") === 1)
      .select(lit("start").as("j"), col("event_type").as("k"))
      .unionAll(seq0.filter(col("event_type") =!= "purchase")
        .select(col("event_type").as("j"), coalesce(col("nxt"), lit("null")).as("k")))
    val cnt = o(tr.groupBy(col("j"), col("k")).agg(count(lit(1)).as("c"))
      .localCheckpoint())
    val tm = cnt
      .withColumn("rt", sum(col("c")).over(Window.partitionBy(col("j"))))
      .select(col("j"), col("k"), expr("(c * 1000000) div rt").as("prob"))
      .unionAll(Seq(("purchase", "purchase", 1000000L), ("null", "null", 1000000L))
        .toDF("j", "k", "prob"))
    val vars = o(cnt.select(col("j").as("v")).filter(col("v") =!= "start").distinct()
      .unionAll(Seq("FULL").toDF("v"))
      .localCheckpoint())
    val tt = o(tm.crossJoin(broadcast(vars))
      .filter(!(col("j") === col("v") && col("v") =!= "FULL"))
      .select(col("v"), col("j"),
        when(col("k") === col("v") && col("v") =!= "FULL", lit("null"))
          .otherwise(col("k")).as("k"),
        col("prob"))
      .groupBy(col("v"), col("j"), col("k")).agg(sum(col("prob")).as("prob"))
      .localCheckpoint())
    // each step is ≤ channels·states rows, checkpointed to keep the
    // 12-step plan flat
    val (p, _) = Fixpoint.run(vars.select(col("v"), lit("start").as("j"),
        lit(1000000L).as("val")).localCheckpoint(), Fixpoint.checkpointing, 12) { (p, _, _) =>
      p.join(tt, Seq("v", "j"))
        .select(col("v"), col("k").as("j"),
          expr("(val * prob) div 1000000").as("contrib"))
        .groupBy(col("v"), col("j")).agg(sum(col("contrib")).as("val"))
    }
    val pc = o(p).groupBy(col("v"))
      .agg(coalesce(max(when(col("j") === "purchase", col("val"))), lit(0L)).as("p_conv"))
      .localCheckpoint()
    val full = pc.filter(col("v") === "FULL").select(col("p_conv").as("p_full_e6"))
    pc.filter(col("v") =!= "FULL").crossJoin(broadcast(full))
      .select(col("v").as("channel"), col("p_full_e6"),
        col("p_conv").as("p_removed_e6"),
        when(col("p_full_e6") > 0,
          signum(col("p_full_e6") - col("p_conv")).cast("long") *
            expr("(abs(p_full_e6 - p_conv) * 1000000) div p_full_e6"))
          .otherwise(lit(0L)).as("removal_effect_e6"))
      .orderBy(col("channel"))
  }

  private val qMarkovAttributionSql = {
    val steps = (1 to 12).map { i =>
      s"""p$i AS MATERIALIZED (SELECT p.v, t.k AS state,
         |CAST(SUM((p.val * t.prob) // 1000000) AS BIGINT) AS val
         |FROM p${i - 1} p JOIN tt t ON t.v = p.v AND t.j = p.state
         |GROUP BY 1, 2)""".stripMargin.replace('\n', ' ')
    }.mkString(", ")
    s"""WITH fp AS (SELECT user_id, MIN(epoch_us(ts)) AS fts FROM events
       |WHERE event_type = 'purchase' GROUP BY 1),
       |ev AS (SELECT e.user_id, e.event_type, epoch_us(e.ts) AS us, e.event_id, fp.fts
       |FROM events e LEFT JOIN fp ON fp.user_id = e.user_id
       |WHERE fp.fts IS NULL OR epoch_us(e.ts) <= fp.fts),
       |sq AS (SELECT user_id, event_type, us, event_id,
       |ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn,
       |LEAD(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt
       |FROM ev),
       |tr AS (
       |SELECT 'start' AS j, event_type AS k FROM sq WHERE rn = 1
       |UNION ALL
       |SELECT event_type AS j, COALESCE(nxt, 'null') AS k FROM sq
       |WHERE event_type <> 'purchase'),
       |cnt AS (SELECT j, k, CAST(COUNT(*) AS BIGINT) AS c FROM tr GROUP BY 1, 2),
       |tm0 AS (SELECT j, k,
       |(c * 1000000) // CAST(SUM(c) OVER (PARTITION BY j) AS BIGINT) AS prob FROM cnt),
       |tm AS (SELECT j, k, prob FROM tm0
       |UNION ALL SELECT 'purchase', 'purchase', CAST(1000000 AS BIGINT)
       |UNION ALL SELECT 'null', 'null', CAST(1000000 AS BIGINT)),
       |vars AS (SELECT DISTINCT j AS v FROM cnt WHERE j NOT IN ('start')
       |UNION ALL SELECT 'FULL'),
       |tt AS MATERIALIZED (SELECT vars.v, tm.j,
       |CASE WHEN tm.k = vars.v AND vars.v <> 'FULL' THEN 'null' ELSE tm.k END AS k,
       |CAST(SUM(prob) AS BIGINT) AS prob
       |FROM tm CROSS JOIN vars
       |WHERE NOT (tm.j = vars.v AND vars.v <> 'FULL')
       |GROUP BY 1, 2, 3),
       |p0 AS (SELECT v, 'start' AS state, CAST(1000000 AS BIGINT) AS val FROM vars),
       |$steps,
       |pc AS (SELECT v, COALESCE(MAX(CASE WHEN state = 'purchase' THEN val END), 0) AS p_conv
       |FROM p12 GROUP BY 1)
       |SELECT c.v AS channel, f.p_conv AS p_full_e6, c.p_conv AS p_removed_e6,
       |CASE WHEN f.p_conv > 0 THEN
       |(CASE WHEN f.p_conv - c.p_conv < 0 THEN -1 WHEN f.p_conv - c.p_conv > 0 THEN 1 ELSE 0 END)
       |* (ABS(f.p_conv - c.p_conv) * 1000000 // f.p_conv)
       |ELSE 0 END AS removal_effect_e6
       |FROM pc c CROSS JOIN (SELECT p_conv FROM pc WHERE v = 'FULL') f
       |WHERE c.v <> 'FULL'
       |ORDER BY channel""".stripMargin.replace('\n', ' ')
  }

  // ------------------------------------------------------------------
  // q_item_cf — item-item collaborative filtering (squared cosine)
  // ------------------------------------------------------------------

  /** Item-item collaborative filtering over the customer–part purchase
    * matrix: co-occurrence counts normalized by popularity as SQUARED
    * cosine (c²·10⁶ div (pop₁·pop₂) — monotone in cosine, so the top-5
    * ranking is identical and no sqrt enters the integer pipeline),
    * top-5 similar items per item under a deterministic tiebreak. The
    * self-join is keyed on USER with a 200-distinct-items hub cap —
    * per-user pair fan-out is capped at a constant, so a power user
    * can't quadratically explode the shuffle at warehouse scale (the
    * contamination df-cap discipline). */
  private def qItemCf(t: Tables): DataFrame = owned { o =>
    import org.apache.spark.sql.expressions.Window
    // Round-14: both checkpoints declare hash(u) partitioning (the k4
    // treatment), so the u-keyed chain — the ni<=200 degree aggregation,
    // its semi-join, and the quadratic co-occurrence self-join below —
    // runs with zero exchanges of the user-item frame; the self-join is
    // pinned to a shuffled-hash build (one ui partition per task)
    // instead of sorting both sides.
    val ui0 = o(materialize(
      t.orders.join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("u"), col("l_partkey").as("i")).distinct(),
      AdaptiveHash("u")))
    val keep = ui0.groupBy(col("u")).agg(count(lit(1)).as("ni"))
      .filter(col("ni") <= 200).select(col("u"))
    val ui = materialize(ui0.join(keep, Seq("u"), "left_semi"), AdaptiveHash("u"))
    val pop = ui.groupBy(col("i")).agg(count(lit(1)).as("p"))
    val co = ui.as("a").join(ui.as("b").hint("shuffle_hash"),
        col("a.u") === col("b.u") && col("a.i") =!= col("b.i"))
      .groupBy(col("a.i").as("i1"), col("b.i").as("i2"))
      .agg(count(lit(1)).as("c"))
    val sim = co
      .join(pop.select(col("i").as("i1"), col("p").as("p1")), Seq("i1"))
      .join(pop.select(col("i").as("i2"), col("p").as("p2")), Seq("i2"))
      .select(col("i1"), col("i2"), col("c"),
        expr("(c * c * 1000000) div (p1 * p2)").as("cos2_e6"))
    sim.withColumn("r", row_number().over(
        Window.partitionBy(col("i1")).orderBy(col("cos2_e6").desc, col("i2"))))
      .filter(col("r") <= 5)
      .select(col("i1"), col("i2"), col("c"), col("cos2_e6"))
      .orderBy(col("i1"), col("cos2_e6").desc, col("i2"))
  }

  private val qItemCfSql =
    """WITH ui0 AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
      |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |keep AS (SELECT u FROM ui0 GROUP BY u HAVING COUNT(*) <= 200),
      |ui AS MATERIALIZED (SELECT ui0.u, ui0.i FROM ui0 JOIN keep ON keep.u = ui0.u),
      |pop AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS p FROM ui GROUP BY 1),
      |co AS (SELECT a.i AS i1, b.i AS i2, CAST(COUNT(*) AS BIGINT) AS c
      |FROM ui a JOIN ui b ON a.u = b.u AND a.i <> b.i GROUP BY 1, 2),
      |sim AS (SELECT i1, i2, c, (c * c * 1000000) // (pa.p * pb.p) AS cos2_e6
      |FROM co JOIN pop pa ON pa.i = co.i1 JOIN pop pb ON pb.i = co.i2),
      |rk AS (SELECT i1, i2, c, cos2_e6,
      |ROW_NUMBER() OVER (PARTITION BY i1 ORDER BY cos2_e6 DESC, i2) AS r FROM sim)
      |SELECT i1, i2, c, cos2_e6 FROM rk WHERE r <= 5
      |ORDER BY i1, cos2_e6 DESC, i2""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_stl_lite — moving-average trend / day-of-week seasonal / residual
  // ------------------------------------------------------------------

  /** STL-lite decomposition of the daily revenue series: trend = 7-day
    * centered moving average (full windows only), seasonal = per
    * day-of-week mean of the detrended series (sign-decomposed
    * division — detrended values go negative), residual = v − trend −
    * seasonal. The one global window runs over the DAILY frame
    * (calendar-bounded, like the EWMA fold) — the corpus pass is the
    * (day) rollup. The anomaly triage view: which part of a spike is
    * trend, which is weekday rhythm, which is genuinely new. */
  private def qStlLite(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t.events
      .select(expr(s"ts div $DayUs").as("day"),
        floor(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("v"))
    val w = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val tr = d
      .withColumn("wn", count(lit(1)).over(w))
      .withColumn("trend",
        when(col("wn") === 7, expr("sum(v) over (order by day rows between 3 preceding and 3 following) div 7")))
      .filter(col("trend").isNotNull)
      .select(col("day"), col("v"), col("trend"),
        pmod(col("day"), lit(7L)).as("dow"),
        (col("v") - col("trend")).as("detr"))
      .localCheckpoint()
    val se = tr.groupBy(col("dow"))
      .agg(sum(col("detr")).as("sd"), count(lit(1)).as("cn"))
      .select(col("dow"),
        (signum(col("sd")).cast("long") * expr("abs(sd) div cn")).as("seas"))
    tr.join(se, Seq("dow"))
      .select(col("day"), col("v"), col("trend"), col("seas"),
        (col("v") - col("trend") - col("seas")).as("resid"))
      .orderBy(col("day"))
  }

  private val qStlLiteSql =
    s"""WITH d AS (SELECT epoch_us(ts) // $DayUs AS day,
       |CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS v
       |FROM events GROUP BY 1),
       |tr AS (SELECT day, v,
       |CASE WHEN COUNT(*) OVER w = 7 THEN CAST(SUM(v) OVER w AS BIGINT) // 7
       |ELSE NULL END AS trend
       |FROM d WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       |de AS (SELECT day, v, trend, day % 7 AS dow, v - trend AS detr
       |FROM tr WHERE trend IS NOT NULL),
       |se AS (SELECT dow,
       |(CASE WHEN SUM(detr) < 0 THEN -1 WHEN SUM(detr) > 0 THEN 1 ELSE 0 END)
       |* (CAST(ABS(SUM(detr)) AS BIGINT) // COUNT(*)) AS seas
       |FROM de GROUP BY 1)
       |SELECT de.day, de.v, de.trend, se.seas, de.v - de.trend - se.seas AS resid
       |FROM de JOIN se ON se.dow = de.dow ORDER BY day""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_asof_nearest — nearest-event temporal join
  // ------------------------------------------------------------------

  /** Nearest-event join: every signup matched to the SAME USER's
    * closest purchase by absolute time distance (ties → earlier, then
    * smaller id) — the symmetric companion of the backward-only
    * q_asof_purchase. The join is user-keyed (per-user signup×purchase
    * fan-out, never cross-user), then one per-signup rank window picks
    * the minimum — the standard nearest-neighbor-in-time shape. */
  private def qAsofNearest(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t.events.localCheckpoint()
    val sg = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id"), col("ts").as("us"))
    val pu = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"), col("ts").as("pus"))
    sg.join(pu, Seq("user_id"))
      .withColumn("abs_dt_us", abs(col("us") - col("pus")))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("event_id"))
          .orderBy(col("abs_dt_us"), col("pus"), col("pid"))))
      .filter(col("r") === 1)
      .select(col("user_id"), col("event_id"), col("pid"), col("abs_dt_us"))
      .orderBy(col("event_id"))
  }

  private val qAsofNearestSql =
    """WITH s AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
      |WHERE event_type = 'signup'),
      |p AS (SELECT user_id, event_id AS pid, epoch_us(ts) AS pus FROM events
      |WHERE event_type = 'purchase'),
      |j AS (SELECT s.user_id, s.event_id, p.pid, ABS(s.us - p.pus) AS adt,
      |ROW_NUMBER() OVER (PARTITION BY s.event_id
      |ORDER BY ABS(s.us - p.pus), p.pus, p.pid) AS r
      |FROM s JOIN p ON p.user_id = s.user_id)
      |SELECT user_id, event_id, pid, CAST(adt AS BIGINT) AS abs_dt_us
      |FROM j WHERE r = 1 ORDER BY event_id""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_winnow_matches — cross-document winnowing match step (MOSS)
  // ------------------------------------------------------------------

  /** The MOSS match step over [[winnowPanel]]'s fingerprints: each
    * doc's selected hashes (position-deduped to the 32-char hash),
    * fingerprints shared by more than 50 docs dropped (the
    * boilerplate-fingerprint df cap — the same hub discipline as
    * contamination grams), then a fingerprint-keyed equi-join counts
    * shared fingerprints per doc pair and the top-50 pairs report. The
    * candidate volume is Σ df² over KEPT fingerprints — capped by
    * construction, never all-pairs. Completes the plagiarism-detection
    * story: select → index → match. */
  private def qWinnowMatches(t: Tables): DataFrame = owned { o =>
    val d = t.documents
    val sel = o(d.select(col("doc_id"), expr(
        """CASE WHEN length(text) < 8 THEN array()
          |ELSE transform(sequence(1, length(text) - 7),
          |p -> concat(md5(substring(text, p, 8)),
          |lpad(cast(100000000 - p as string), 9, '0'))) END"""
          .stripMargin.replace('\n', ' ')).as("hs"))
      .select(col("doc_id"), expr(
        """CASE WHEN size(hs) = 0 THEN array()
          |ELSE array_distinct(transform(sequence(1, greatest(size(hs) - 3, 1)),
          |w -> substring(array_min(slice(hs, w, 4)), 1, 32))) END"""
          .stripMargin.replace('\n', ' ')).as("sel32"))
      // materialize BEFORE the explode: projection collapse would
      // otherwise inline the hs construction into every generated row,
      // turning the per-doc O(n·w) selection into O(n²·w) md5 work
      .localCheckpoint())
    val fp = sel.select(col("doc_id"), explode(col("sel32")).as("f"))
    val keep = fp.groupBy(col("f")).agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") <= 50).select(col("f"))
    val fpk = fp.join(keep, Seq("f"), "left_semi").localCheckpoint()
    fpk.as("a").join(fpk.as("b"),
        col("a.f") === col("b.f") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2)
      // orderBy+limit compiles to TakeOrderedAndProject — a distributed
      // per-partition top-k merged on the driver, NOT a single-partition
      // global rank window (measured: the window form hangs a single
      // thread on the full pair frame at sf0.1)
      .orderBy(col("shared").desc, col("a"), col("b"))
      .limit(50)
      .orderBy(col("shared").desc, col("a"), col("b"))
  }

  private val qWinnowMatchesSql =
    """WITH g AS (SELECT doc_id,
      |CASE WHEN length(text) < 8 THEN []
      |ELSE list_transform(range(1, length(text) - 6),
      |p -> md5(substring(text, CAST(p AS INT), 8))
      ||| lpad(CAST(100000000 - p AS VARCHAR), 9, '0')) END AS hs
      |FROM documents),
      |w AS (SELECT doc_id,
      |CASE WHEN len(hs) = 0 THEN []
      |ELSE list_distinct(list_transform(list_transform(range(1, greatest(len(hs) - 2, 2)),
      |s -> list_min(list_slice(hs, s, s + 3))), x -> substring(x, 1, 32))) END AS sel
      |FROM g),
      |fp AS MATERIALIZED (SELECT doc_id, unnest(sel) AS f FROM w),
      |dfc AS (SELECT f FROM fp GROUP BY f HAVING COUNT(*) <= 50),
      |fpk AS MATERIALIZED (SELECT fp.doc_id, fp.f FROM fp JOIN dfc ON dfc.f = fp.f),
      |pr AS (SELECT a.doc_id AS a, b.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS shared
      |FROM fpk a JOIN fpk b ON a.f = b.f AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |rk AS (SELECT a, b, shared,
      |ROW_NUMBER() OVER (ORDER BY shared DESC, a, b) AS r FROM pr WHERE shared >= 2)
      |SELECT a, b, shared FROM rk WHERE r <= 50
      |ORDER BY shared DESC, a, b""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_multimodal_dhash — gradient (difference) perceptual hash
  // ------------------------------------------------------------------

  /** dHash of every document-as-image
    * ([[graft.multimodal.Multimodal.differenceHash]], 61 cells): bit c
    * fires when cell c+1's mean exceeds cell c's — the gradient
    * companion of q_multimodal_ahash (brightness) and
    * q_multimodal_phash (frequency); together the three cover the
    * classic perceptual-hash family. Exact cross-multiplied integer
    * rule, −1 sentinels preserved. */
  private def qMultimodalDhash(t: Tables): DataFrame =
    multimodal.Multimodal.differenceHash(
      multimodal.Multimodal.documentsAsPpm(t.documents))
      .orderBy(col("doc_id"))

  private val qMultimodalDhashSql =
    """WITH px AS MATERIALIZED (SELECT doc_id,
      |ascii(substring(text, CAST(i AS INT), 1)) AS v,
      |((i - 1) * 61) // length(text) AS cell
      |FROM documents, unnest(range(1, length(text) + 1)) AS t(i)),
      |cl AS (SELECT doc_id, cell, CAST(SUM(v) AS BIGINT) AS s,
      |CAST(COUNT(*) AS BIGINT) AS nc FROM px GROUP BY 1, 2),
      |h AS (SELECT a.doc_id,
      |CAST(SUM(CASE WHEN b.s * a.nc > a.s * b.nc
      |THEN (CAST(1 AS BIGINT) << CAST(a.cell AS INT)) ELSE 0 END) AS BIGINT) AS dhash
      |FROM cl a JOIN cl b ON b.doc_id = a.doc_id AND b.cell = a.cell + 1 GROUP BY 1),
      |n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_px FROM px GROUP BY 1)
      |SELECT d.doc_id, COALESCE(n.n_px, 0) AS n_px, COALESCE(h.dhash, -1) AS dhash
      |FROM documents d LEFT JOIN n ON d.doc_id = n.doc_id
      |LEFT JOIN h ON h.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // TPC-H classics over the available columns: q10 / q13 / q18 shapes
  // ------------------------------------------------------------------

  /** TPC-H Q10 shape — returned-item revenue per customer, top 20: the
    * canonical 3-way join + agg + top-k. Revenue in exact floor-cents;
    * Catalyst broadcast-joins the customer dim and the top-k compiles
    * to TakeOrderedAndProject. */
  private def q10Returned(t: Tables): DataFrame =
    t.customer.join(t.orders, col("o_custkey") === col("c_custkey"))
      .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_returnflag") === "R")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long")).cast("long").as("rev_cents"))
      .orderBy(col("rev_cents").desc, col("c_custkey"))
      .limit(20)

  private val q10ReturnedSql =
    """SELECT c_custkey, c_name,
      |CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
      |AS rev_cents
      |FROM customer JOIN orders ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE l_returnflag = 'R'
      |GROUP BY 1, 2 ORDER BY rev_cents DESC, c_custkey
      |LIMIT 20""".stripMargin.replace('\n', ' ')

  /** TPC-H Q13 shape — customer distribution by order count, including
    * zero-order customers (the LEFT JOIN is the point of the query). */
  private def q13Custdist(t: Tables): DataFrame =
    t.customer.join(t.orders, col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  private val q13CustdistSql =
    """WITH co AS (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |FROM customer LEFT JOIN orders ON o_custkey = c_custkey GROUP BY 1)
      |SELECT c_count, COUNT(*) AS custdist FROM co GROUP BY 1
      |ORDER BY custdist DESC, c_count DESC""".stripMargin.replace('\n', ' ')

  /** TPC-H Q18 shape — large-volume orders (Σqty > 150), top 20 by
    * price: the semi-join-on-aggregate pattern (the HAVING subquery
    * prunes BEFORE the wide join). */
  private def q18Large(t: Tables): DataFrame = {
    val big = t.lineitem.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sq")).filter(col("sq") > 150)
      .select(col("l_orderkey"))
    big.join(t.orders, col("o_orderkey") === col("l_orderkey"))
      .join(t.customer, col("c_custkey") === col("o_custkey"))
      .join(t.lineitem, Seq("l_orderkey"))
      .groupBy(col("c_custkey"), col("o_orderkey"),
        floor(col("o_totalprice") * 100).cast("long").as("price_cents"))
      .agg(floor(sum(col("l_quantity"))).cast("long").as("qty"))
      .orderBy(col("price_cents").desc, col("o_orderkey"))
      .limit(20)
  }

  private val q18LargeSql =
    """WITH big AS (SELECT l_orderkey FROM lineitem GROUP BY 1
      |HAVING SUM(l_quantity) > 150)
      |SELECT c_custkey, o_orderkey,
      |CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents,
      |CAST(FLOOR(SUM(l_quantity)) AS BIGINT) AS qty
      |FROM big JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN lineitem USING (l_orderkey)
      |GROUP BY 1, 2, 3 ORDER BY price_cents DESC, o_orderkey
      |LIMIT 20""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_dispersion — over/under-dispersion of daily event counts
  // ------------------------------------------------------------------

  /** Index of dispersion (variance/mean) of daily counts per event
    * type: >1e6 = over-dispersed (bursty — a Poisson model would
    * under-alert), <1e6 = under-dispersed (throttled). Exact integer
    * moments: (k·Σn² − S²)·10⁶ div (S·(k−1)). One (type, day) rollup +
    * one per-type scalar row. */
  private def qDispersion(t: Tables): DataFrame =
    t.events.select(col("event_type"), expr(s"ts div $DayUs").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("k"), sum(col("n")).as("s"),
        sum(col("n") * col("n")).as("ss"))
      .filter(col("k") > 1 && col("s") > 0)
      .select(col("event_type"), col("k"), col("s"),
        expr("((k * ss - s * s) * 1000000) div (s * (k - 1))").as("dispersion_e6"))
      .orderBy(col("event_type"))

  private val qDispersionSql =
    s"""WITH d AS (SELECT event_type, epoch_us(ts) // $DayUs AS day,
       |CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
       |st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k,
       |CAST(SUM(n) AS BIGINT) AS s, CAST(SUM(n * n) AS BIGINT) AS ss
       |FROM d GROUP BY 1)
       |SELECT event_type, k, s,
       |((k * ss - s * s) * 1000000) // (s * (k - 1)) AS dispersion_e6
       |FROM st WHERE k > 1 AND s > 0
       |ORDER BY event_type""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_graph_homophily — categorical (attribute) assortativity
  // ------------------------------------------------------------------

  /** Nation homophily of the customer–supplier trade graph: observed
    * same-nation edge share vs the share expected under random mixing
    * (Σ d_c(n)·d_s(n) / m²), combined as the standard homophily index
    * (obs − exp)/(1 − exp) — the categorical companion of the
    * degree-assortativity panel. The numerator can go NEGATIVE
    * (heterophily), so the division is sign-decomposed. One edge scan +
    * two nation-keyed margins (≤ 25 rows each). */
  private def qHomophily(t: Tables): DataFrame = {
    val e = t.orders.join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sp")).distinct()
    val en = e
      .join(t.customer.select(col("c_custkey").as("c"), col("c_nationkey").as("cn")), Seq("c"))
      .join(t.supplier.select(col("s_suppkey").as("sp"), col("s_nationkey").as("sn")), Seq("sp"))
      .select(col("cn"), col("sn")).localCheckpoint()
    val tot = en.agg(count(lit(1)).as("m"),
      sum(when(col("cn") === col("sn"), 1L).otherwise(0L)).as("same"))
    val exn = en.groupBy(col("cn").as("nk")).agg(count(lit(1)).as("dc"))
      .join(en.groupBy(col("sn").as("nk")).agg(count(lit(1)).as("ds")), Seq("nk"))
      .agg(sum(col("dc") * col("ds")).as("en"))
    tot.crossJoin(broadcast(exn))
      .select(col("m"), col("same"),
        expr("(same * 1000000) div m").as("observed_e6"),
        expr("(en * 1000000) div (m * m)").as("expected_e6"),
        when(col("m") * col("m") - col("en") > 0,
          signum(col("same") * col("m") - col("en")).cast("long") *
            expr("(abs(same * m - en) * 1000000) div (m * m - en)"))
          .otherwise(lit(0L)).as("homophily_e6"))
  }

  private val qHomophilySql =
    """WITH e AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS sp
      |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |en AS MATERIALIZED (SELECT cu.c_nationkey AS cn, su.s_nationkey AS sn
      |FROM e JOIN customer cu ON cu.c_custkey = e.c
      |JOIN supplier su ON su.s_suppkey = e.sp),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
      |CAST(COUNT(*) FILTER (WHERE cn = sn) AS BIGINT) AS same FROM en),
      |mc AS (SELECT cn AS nk, CAST(COUNT(*) AS BIGINT) AS dc FROM en GROUP BY 1),
      |ms AS (SELECT sn AS nk, CAST(COUNT(*) AS BIGINT) AS ds FROM en GROUP BY 1),
      |ex AS (SELECT CAST(SUM(mc.dc * ms.ds) AS BIGINT) AS en FROM mc JOIN ms USING (nk))
      |SELECT m, same, (same * 1000000) // m AS observed_e6,
      |(en * 1000000) // (m * m) AS expected_e6,
      |CASE WHEN m * m - en > 0 THEN
      |(CASE WHEN same * m - en < 0 THEN -1 WHEN same * m - en > 0 THEN 1 ELSE 0 END)
      |* (ABS(same * m - en) * 1000000 // (m * m - en))
      |ELSE 0 END AS homophily_e6
      |FROM tot CROSS JOIN ex""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_growth_accounting — new / retained / resurrected / churned
  // ------------------------------------------------------------------

  /** Daily growth accounting: every active user classified as new
    * (first day), retained (also active yesterday) or resurrected
    * (returning after a gap), plus yesterday's actives who went silent
    * (churned) — the canonical DAU-decomposition every growth team
    * reads. Built from the deduped (user, day) frame with two
    * shifted self-joins (day±1); no window wider than the user-day
    * rollup. */
  private def qGrowthAccounting(t: Tables): DataFrame = {
    val ud = t.events.select(col("user_id"), expr(s"ts div $DayUs").as("day"))
      .distinct().localCheckpoint()
    val fu = ud.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    val prev = ud.select(col("user_id"), (col("day") + 1).as("day"), lit(1).as("wp"))
    val st = ud.join(fu, Seq("user_id")).join(prev, Seq("user_id", "day"), "left")
    val cls = st.groupBy(col("day")).agg(
      sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("new_users"),
      sum(when(col("day") > col("first_day") && col("wp").isNotNull, 1L).otherwise(0L)).as("retained"),
      sum(when(col("day") > col("first_day") && col("wp").isNull, 1L).otherwise(0L)).as("resurrected"))
    val nxt = ud.select(col("user_id"), (col("day") - 1).as("day"), lit(1).as("hn"))
    val ch = ud.join(nxt, Seq("user_id", "day"), "left")
      .filter(col("hn").isNull)
      .groupBy((col("day") + 1).as("day")).agg(count(lit(1)).as("churned"))
    cls.join(ch, Seq("day"), "left")
      .select(col("day"), col("new_users"), col("retained"), col("resurrected"),
        coalesce(col("churned"), lit(0L)).as("churned"))
      .orderBy(col("day"))
  }

  private val qGrowthAccountingSql =
    s"""WITH ud AS MATERIALIZED (SELECT DISTINCT user_id,
       |epoch_us(ts) // $DayUs AS day FROM events),
       |fu AS (SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY 1),
       |st AS (SELECT ud.day, ud.user_id, fu.first_day,
       |EXISTS (SELECT 1 FROM ud p WHERE p.user_id = ud.user_id
       |AND p.day = ud.day - 1) AS wp
       |FROM ud JOIN fu USING (user_id)),
       |cls AS (SELECT day,
       |CAST(COUNT(*) FILTER (WHERE day = first_day) AS BIGINT) AS new_users,
       |CAST(COUNT(*) FILTER (WHERE day > first_day AND wp) AS BIGINT) AS retained,
       |CAST(COUNT(*) FILTER (WHERE day > first_day AND NOT wp) AS BIGINT) AS resurrected
       |FROM st GROUP BY 1),
       |ch AS (SELECT day + 1 AS day, CAST(COUNT(*) AS BIGINT) AS churned FROM ud s
       |WHERE NOT EXISTS (SELECT 1 FROM ud n WHERE n.user_id = s.user_id
       |AND n.day = s.day + 1) GROUP BY 1)
       |SELECT c.day, new_users, retained, resurrected,
       |COALESCE(ch.churned, 0) AS churned
       |FROM cls c LEFT JOIN ch ON ch.day = c.day
       |ORDER BY c.day""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_graph_component_sizes — WCC size histogram
  // ------------------------------------------------------------------

  /** Component-size histogram of the event-chain graph: run the real
    * FastSV WCC ([[graft.graph.Algos.wcc]]), roll components up to
    * sizes, sizes up to a histogram — the fragmentation panel read
    * before any per-component work is scheduled. The oracle exploits
    * the chain structure independently (a user's events form one
    * component, so sizes are per-user event counts): a hash match
    * proves the ENGINE's fixpoint found exactly those components. */
  private def qComponentSizes(t: Tables): DataFrame =
    graph.Algos.wcc(graph.Prep.makeSymmetric(TestGraphs.eventChain(t)))
      .groupBy(col("component")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_components"))
      .orderBy(col("sz"))

  // HAVING >= 2 matches the engine's edge-derived vertex set: a
  // single-event user produces no eventChain edge, hence no vertex and
  // no size-1 component (current generators emit ≥ 2 events per user, so
  // the clause is a no-op today — but the parity must not depend on an
  // unstated generator floor)
  private val qComponentSizesSql =
    """WITH cs AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS sz
      |FROM events GROUP BY 1 HAVING COUNT(*) >= 2)
      |SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_components
      |FROM cs GROUP BY 1 ORDER BY sz""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_markov_entropy — per-state transition entropy (predictability)
  // ------------------------------------------------------------------

  /** Per-state entropy of the journey transition matrix (the
    * q_markov_attribution construction): floor-log2 Shannon bits of
    * "what happens next" from each state — low entropy = predictable
    * flows (automate them), high = genuine user choice. Same
    * libm-free ilog2 = bitlength−1 recipe as the corpus entropy
    * panel. */
  private def qMarkovEntropy(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev0 = t.events.select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val fp = ev0.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts")).as("fts"))
    val ev = ev0.join(fp, Seq("user_id"), "left")
      .filter(col("fts").isNull || col("ts") <= col("fts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val seq0 = ev.withColumn("rn", row_number().over(w))
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
    val tr = seq0.filter(col("rn") === 1)
      .select(lit("start").as("j"), col("event_type").as("k"))
      .unionAll(seq0.filter(col("event_type") =!= "purchase")
        .select(col("event_type").as("j"), coalesce(col("nxt"), lit("null")).as("k")))
    tr.groupBy(col("j"), col("k")).agg(count(lit(1)).as("c"))
      .withColumn("rt", sum(col("c")).over(Window.partitionBy(col("j"))))
      .groupBy(col("j"), col("rt"))
      .agg(count(lit(1)).as("n_next"),
        expr("cast(sum(c * (length(bin(rt div c)) - 1)) as bigint)").as("hb"))
      .select(col("j").as("state"), col("rt").as("n_transitions"), col("n_next"),
        expr("(hb * 1000000) div rt").as("entropy_floor_e6"))
      .orderBy(col("state"))
  }

  private val qMarkovEntropySql =
    """WITH fp AS (SELECT user_id, MIN(epoch_us(ts)) AS fts FROM events
      |WHERE event_type = 'purchase' GROUP BY 1),
      |ev AS (SELECT e.user_id, e.event_type, epoch_us(e.ts) AS us, e.event_id
      |FROM events e LEFT JOIN fp ON fp.user_id = e.user_id
      |WHERE fp.fts IS NULL OR epoch_us(e.ts) <= fp.fts),
      |sq AS (SELECT user_id, event_type, us, event_id,
      |ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn,
      |LEAD(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt
      |FROM ev),
      |tr AS (
      |SELECT 'start' AS j, event_type AS k FROM sq WHERE rn = 1
      |UNION ALL
      |SELECT event_type AS j, COALESCE(nxt, 'null') AS k FROM sq
      |WHERE event_type <> 'purchase'),
      |cnt AS (SELECT j, k, CAST(COUNT(*) AS BIGINT) AS c FROM tr GROUP BY 1, 2),
      |wt AS (SELECT j, k, c, CAST(SUM(c) OVER (PARTITION BY j) AS BIGINT) AS rt FROM cnt),
      |ag AS (SELECT j, rt, CAST(COUNT(*) AS BIGINT) AS n_next,
      |CAST(SUM(c * (length(bin(rt // c)) - 1)) AS BIGINT) AS hb
      |FROM wt GROUP BY 1, 2)
      |SELECT j AS state, rt AS n_transitions, n_next,
      |(hb * 1000000) // rt AS entropy_floor_e6
      |FROM ag ORDER BY state""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------

  val queries: Seq[Query] = Seq(
    Query("q_ewma_daily", qEwmaDaily, qEwmaDailySql),
    Query("q_cuped", qCuped, qCupedSql),
    Query("q_multimodal_scenecut", qScenecut, qScenecutSql),
    Query("q_graph_salsa", qSalsa, qSalsaSql),
    Query("q_text_winnow", qTextWinnow, qTextWinnowSql),
    Query("q_graph_squares", qSquares, qSquaresSql),
    Query("q_emb_power_iter", qEmbPowerIter, qEmbPowerIterSql),
    Query("q_holt_linear", qHoltLinear, qHoltLinearSql),
    Query("q_mix_epochs", qMixEpochs, qMixEpochsSql),
    Query("q_quantile_sketch", qQuantileSketch, qQuantileSketchSql),
    Query("q_path_trigrams", qPathTrigrams, qPathTrigramsSql),
    Query("q_multimodal_vad", qMultimodalVad, qMultimodalVadSql),
    Query("q_graph_sample_fanout", qSampleFanout, qSampleFanoutSql),
    Query("q_graph_negative_samples", qNegativeSamples, qNegativeSamplesSql),
    Query("q_session_survival", qSessionSurvival, qSessionSurvivalSql),
    Query("q_graph_rwr_multi", qRwrMulti, qRwrMultiSql),
    Query("q_graph_k4", qK4, qK4Sql),
    Query("q_source_drift_tv", qSourceDriftTv, qSourceDriftTvSql),
    Query("q_markov_attribution", qMarkovAttribution, qMarkovAttributionSql),
    Query("q_item_cf", qItemCf, qItemCfSql),
    Query("q_stl_lite", qStlLite, qStlLiteSql),
    Query("q_asof_nearest", qAsofNearest, qAsofNearestSql),
    Query("q_winnow_matches", qWinnowMatches, qWinnowMatchesSql),
    Query("q_multimodal_dhash", qMultimodalDhash, qMultimodalDhashSql),
    Query("q10_returned", q10Returned, q10ReturnedSql),
    Query("q13_custdist", q13Custdist, q13CustdistSql),
    Query("q18_large", q18Large, q18LargeSql),
    Query("q_dispersion", qDispersion, qDispersionSql),
    Query("q_graph_homophily", qHomophily, qHomophilySql),
    Query("q_growth_accounting", qGrowthAccounting, qGrowthAccountingSql),
    Query("q_graph_component_sizes", qComponentSizes, qComponentSizesSql),
    Query("q_markov_entropy", qMarkovEntropy, qMarkovEntropySql))
}
