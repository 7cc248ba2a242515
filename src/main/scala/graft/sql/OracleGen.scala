package graft.sql

/** Generators for the DuckDB oracle side of iterative graph queries.
  *
  * Fixed-point algorithms (WCC, SSSP, BFS, max-prop, MIS, SCC) converge to
  * a *unique* answer, so the oracle simply unrolls enough relaxation
  * rounds as chained CTEs; fixed-iteration algorithms (PageRank) are
  * unrolled exactly as many times as the Spark side runs. Each generator
  * takes a `withBody` fragment that must define an edge CTE `e`
  * (see graft.TestGraphs.*Sql).
  */
object OracleGen {

  /** K rounds of Bellman-Ford relaxation from the minimum `src` vertex.
    * Result: (id, dist) for reached vertices, ordered by id. */
  def ssspSql(withBody: String, k: Int): String = {
    val steps = (1 to k).map { i =>
      s"""d$i AS MATERIALIZED (SELECT id, MIN(dist) AS dist FROM (
         |SELECT id, dist FROM d${i - 1}
         |UNION ALL
         |SELECT e.dst AS id, d.dist + e.w AS dist FROM d${i - 1} d JOIN e ON d.id = e.src
         |) t GROUP BY id)""".stripMargin.replace('\n', ' ')
    }
    (s"WITH $withBody, " +
      "d0 AS MATERIALIZED (SELECT (SELECT MIN(src) FROM e) AS id, CAST(0 AS BIGINT) AS dist), " +
      steps.mkString(", ") +
      s" SELECT id, dist FROM d$k ORDER BY id")
  }

  /** K rounds of unweighted hop relaxation from the minimum `src` vertex
    * (mirrors the engine's min-id source pick). */
  def bfsMinSourceSql(withBody: String, k: Int): String = {
    val seed = "SELECT (SELECT MIN(src) FROM e) AS id, CAST(0 AS BIGINT) AS level"
    val steps = (1 to k).map { i =>
      s"""d$i AS MATERIALIZED (SELECT id, MIN(level) AS level FROM (
         |SELECT id, level FROM d${i - 1}
         |UNION ALL
         |SELECT e.dst AS id, d.level + 1 AS level FROM d${i - 1} d JOIN e ON d.id = e.src
         |) t GROUP BY id)""".stripMargin.replace('\n', ' ')
    }
    s"WITH $withBody, d0 AS MATERIALIZED ($seed), " + steps.mkString(", ") +
      s" SELECT id, level FROM d$k ORDER BY id"
  }

  /** Double-sweep diameter replay (graft.graph.Algos.doubleSweep): BFS
    * from min src (d-chain), farthest-reached pick (level desc, id), BFS
    * from it (f-chain), one-row output. */
  def doubleSweepSql(withBody: String, k: Int): String = {
    def chain(p: String, seed: String) =
      s"${p}0 AS MATERIALIZED ($seed), " + (1 to k).map { i =>
        s"""$p$i AS MATERIALIZED (SELECT id, MIN(level) AS level FROM (
           |SELECT id, level FROM $p${i - 1}
           |UNION ALL
           |SELECT e.dst AS id, d.level + 1 AS level FROM $p${i - 1} d JOIN e ON d.id = e.src
           |) t GROUP BY id)""".stripMargin.replace('\n', ' ')
      }.mkString(", ")
    (s"WITH $withBody, " +
      chain("d", "SELECT (SELECT MIN(src) FROM e) AS id, CAST(0 AS BIGINT) AS level") + ", " +
      s"far AS MATERIALIZED (SELECT id FROM d$k ORDER BY level DESC, id LIMIT 1), " +
      chain("f", "SELECT (SELECT id FROM far) AS id, CAST(0 AS BIGINT) AS level") +
      s" SELECT (SELECT MIN(src) FROM e) AS start_id, (SELECT id FROM far) AS far_id," +
      s" (SELECT MAX(level) FROM f$k) AS diameter_lb")
  }

  /** K rounds of min- or max-label propagation over all vertices of `e`.
    * outName: result column name (component / max_id). */
  def labelPropSql(withBody: String, k: Int, isMin: Boolean, outName: String): String = {
    val f = if (isMin) "MIN" else "MAX"
    val steps = (1 to k).map { i =>
      s"""l$i AS MATERIALIZED (SELECT id, $f(lbl) AS lbl FROM (
         |SELECT id, lbl FROM l${i - 1}
         |UNION ALL
         |SELECT e.dst AS id, l.lbl AS lbl FROM l${i - 1} l JOIN e ON l.id = e.src
         |) t GROUP BY id)""".stripMargin.replace('\n', ' ')
    }
    (s"WITH $withBody, v AS MATERIALIZED (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e), " +
      "l0 AS MATERIALIZED (SELECT id, id AS lbl FROM v), " + steps.mkString(", ") +
      s" SELECT id, lbl AS $outName FROM l$k ORDER BY id")
  }

  /** DuckDB twin of the md5-prefix uniform (first 6 hex digits as a
    * BIGINT): digit-by-digit base-16 accumulation. */
  def hex6(h: String): String =
    s"""CAST(list_sum(list_transform(range(0, 6), i ->
       |(strpos('0123456789abcdef', substring($h, CAST(i + 1 AS INT), 1)) - 1)
       |* CAST(power(16, 5 - i) AS BIGINT))) AS BIGINT)""".stripMargin.replace('\n', ' ')

  /** `len`-step deterministic random walks (one per vertex): step i picks
    * dst-sorted neighbor index md5(walk:i:cur) mod outdeg. Mirrors
    * graft.graph.Algos.randomWalks. */
  def walksSql(withBody: String, len: Int): String = {
    val steps = (1 to len).map { i =>
      val h = hex6(s"md5(CAST(w.walk AS VARCHAR) || ':$i:' || CAST(w.cur AS VARCHAR))")
      s"""w$i AS MATERIALIZED (SELECT w.walk, a.dst AS cur
         |FROM w${i - 1} w
         |JOIN deg d ON d.src = w.cur
         |JOIN adj a ON a.src = w.cur AND a.idx = $h % d.deg)""".stripMargin.replace('\n', ' ')
    }
    val outs = (s"SELECT walk, 0 AS step, walk AS vertex FROM w0" +:
      (1 to len).map(i => s"SELECT walk, $i AS step, cur AS vertex FROM w$i")).mkString(" UNION ALL ")
    (s"WITH $withBody, ed AS MATERIALIZED (SELECT DISTINCT src, dst FROM e), " +
      "adj AS MATERIALIZED (SELECT src, dst, CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS BIGINT) AS idx FROM ed), " +
      "deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM adj GROUP BY src), " +
      "v AS MATERIALIZED (SELECT DISTINCT src AS id FROM ed UNION SELECT DISTINCT dst FROM ed), " +
      "w0 AS MATERIALIZED (SELECT id AS walk, id AS cur FROM v), " +
      steps.mkString(", ") +
      s" SELECT walk, step, vertex FROM ($outs) z ORDER BY walk, step")
  }

  /** Tagged multi-source BFS eccentricities: the `nSources` smallest
    * vertices each run a BFS (state keyed (id, tag)); after k rounds,
    * per-source max level + reach count. Mirrors
    * graft.graph.Algos.eccentricities. */
  def eccSql(withBody: String, nSources: Int, k: Int): String = {
    val steps = (1 to k).map { i =>
      s"""d$i AS MATERIALIZED (SELECT id, tag, MIN(level) AS level FROM (
         |SELECT id, tag, level FROM d${i - 1}
         |UNION ALL
         |SELECT e.dst AS id, d.tag, d.level + 1 AS level
         |FROM d${i - 1} d JOIN e ON d.id = e.src
         |) t GROUP BY id, tag)""".stripMargin.replace('\n', ' ')
    }
    (s"WITH $withBody, d0 AS MATERIALIZED (SELECT src AS id, src AS tag, CAST(0 AS BIGINT) AS level " +
      s"FROM (SELECT DISTINCT src FROM e ORDER BY src LIMIT $nSources)), " +
      steps.mkString(", ") +
      s" SELECT tag AS source, MAX(level) AS ecc, COUNT(*) AS n_reached, " +
      s"CAST(SUM(level) AS BIGINT) AS dist_sum " +
      s"FROM d$k GROUP BY tag ORDER BY source")
  }

  /** K rounds of synchronous label-propagation community detection
    * (neighborhood mode, ties → min label, keep-old when no in-edges).
    * Mirrors graft.graph.Algos.lpa exactly. */
  def lpaSql(withBody: String, k: Int): String =
    s"WITH ${lpaBody(withBody, k)} SELECT id, lbl AS community FROM l$k ORDER BY id"

  /** The shared CTE chain behind lpaSql/modularitySql: binds v, l0..l$k. */
  private def lpaBody(withBody: String, k: Int): String = {
    val steps = (1 to k).map { i =>
      s"""c$i AS (SELECT e.dst AS id, l.lbl AS lbl, COUNT(*) AS c
         |FROM l${i - 1} l JOIN e ON l.id = e.src GROUP BY 1, 2),
         |p$i AS (SELECT id, lbl FROM (
         |SELECT id, lbl, ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
         |FROM c$i) t WHERE rn = 1),
         |l$i AS MATERIALIZED (SELECT l.id, COALESCE(p.lbl, l.lbl) AS lbl
         |FROM l${i - 1} l LEFT JOIN p$i p ON p.id = l.id)""".stripMargin.replace('\n', ' ')
    }
    (s"$withBody, v AS MATERIALIZED (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e), " +
      "l0 AS MATERIALIZED (SELECT id, id AS lbl FROM v), " + steps.mkString(", "))
  }

  /** Per-community modularity summand over the k-round LPA partition:
    * i2/m2 − (d/m2)² with exact integer inputs and one scalar m2.
    * Mirrors graft.graph.Algos.modularity composed with Algos.lpa. */
  def modularitySql(withBody: String, k: Int): String =
    (s"WITH ${lpaBody(withBody, k)}, " +
      s"lab AS MATERIALIZED (SELECT id, lbl FROM l$k), " +
      "m AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS m2 FROM e), " +
      "deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS d FROM e GROUP BY src), " +
      "cd AS MATERIALIZED (SELECT lab.lbl AS community, COUNT(*) AS n_members, " +
      "CAST(SUM(COALESCE(deg.d, 0)) AS BIGINT) AS deg_sum " +
      "FROM lab LEFT JOIN deg ON deg.id = lab.id GROUP BY 1), " +
      "ie AS MATERIALIZED (SELECT la.lbl AS community, COUNT(*) AS internal2 " +
      "FROM e JOIN lab la ON la.id = e.src JOIN lab lb ON lb.id = e.dst AND la.lbl = lb.lbl GROUP BY 1) " +
      "SELECT cd.community, cd.n_members, CAST(COALESCE(ie.internal2, 0) AS BIGINT) AS internal2, cd.deg_sum, " +
      "CAST(FLOOR((COALESCE(ie.internal2, 0) / (SELECT m2 FROM m) " +
      "- (cd.deg_sum / (SELECT m2 FROM m)) * (cd.deg_sum / (SELECT m2 FROM m))) * 1000000) AS BIGINT) AS contrib_e6 " +
      "FROM cd LEFT JOIN ie ON ie.community = cd.community ORDER BY cd.community")

  /** Tagged multi-source harmonic centrality: the eccSql BFS with the
    * Σ 1/level aggregate. Mirrors graft.graph.Algos.harmonicCentrality. */
  def harmonicSql(withBody: String, nSources: Int, k: Int): String = {
    val steps = (1 to k).map { i =>
      s"""d$i AS MATERIALIZED (SELECT id, tag, MIN(level) AS level FROM (
         |SELECT id, tag, level FROM d${i - 1}
         |UNION ALL
         |SELECT e.dst AS id, d.tag, d.level + 1 AS level
         |FROM d${i - 1} d JOIN e ON d.id = e.src
         |) t GROUP BY id, tag)""".stripMargin.replace('\n', ' ')
    }
    (s"WITH $withBody, d0 AS MATERIALIZED (SELECT src AS id, src AS tag, CAST(0 AS BIGINT) AS level " +
      s"FROM (SELECT DISTINCT src FROM e ORDER BY src LIMIT $nSources)), " +
      steps.mkString(", ") +
      s" SELECT tag AS source, " +
      // exact rational form: Σ (720720 // d) — the double Σ 1/d can sit
      // exactly on a floor boundary and flip with summation order
      "CAST((CAST(SUM(CASE WHEN level > 0 THEN 720720 // level ELSE 0 END) AS BIGINT) * 1000000) // 720720 AS BIGINT) AS harmonic_e6, " +
      s"COUNT(*) AS n_reached FROM d$k GROUP BY tag ORDER BY source")
  }

  /** K rounds of earliest-arrival temporal relaxation from the minimum
    * `src` vertex (time-respecting paths: an edge (u, v, t) relaxes only
    * when arr(u) ≤ t). Mirrors graft.graph.Algos.temporalReach
    * round-for-round. `withBody` must bind e(src, dst, t). */
  def temporalReachSql(withBody: String, k: Int): String = {
    val steps = (1 to k).map { i =>
      s"""d$i AS MATERIALIZED (SELECT id, MIN(arr) AS arr FROM (
         |SELECT id, arr FROM d${i - 1}
         |UNION ALL
         |SELECT e.dst AS id, e.t AS arr FROM d${i - 1} d
         |JOIN e ON d.id = e.src AND e.t >= d.arr
         |) t GROUP BY id)""".stripMargin.replace('\n', ' ')
    }
    (s"WITH $withBody, " +
      "d0 AS MATERIALIZED (SELECT (SELECT MIN(src) FROM e) AS id, CAST(0 AS BIGINT) AS arr), " +
      steps.mkString(", ") +
      s" SELECT id, arr FROM d$k ORDER BY id")
  }

  /** Source-sampled Brandes betweenness: k BFS-level rounds, then σ by
    * level DP, then the backward δ recurrence unrolled deepest-first.
    * Mirrors graft.graph.Algos.betweenness arithmetic exactly
    * ((σ_v/σ_w)·(1+δ_w) on identical operands); output floored at e4. */
  def betweennessSql(withBody: String, nSources: Int, k: Int): String = {
    val lvSteps = (1 to k).map { i =>
      s"""d$i AS MATERIALIZED (SELECT id, tag, MIN(level) AS level FROM (
         |SELECT id, tag, level FROM d${i - 1}
         |UNION ALL
         |SELECT e.dst AS id, d.tag, d.level + 1 AS level
         |FROM d${i - 1} d JOIN e ON d.id = e.src
         |) t GROUP BY id, tag)""".stripMargin.replace('\n', ' ')
    }
    val sigSteps = (1 to k).map { l =>
      s"""s$l AS MATERIALIZED (SELECT lv.id, lv.tag, CAST($l AS BIGINT) AS level,
         |CAST(SUM(sp.sigma) AS BIGINT) AS sigma
         |FROM lv JOIN e ON e.dst = lv.id
         |JOIN s${l - 1} sp ON sp.id = e.src AND sp.tag = lv.tag
         |WHERE lv.level = $l GROUP BY lv.id, lv.tag)""".stripMargin.replace('\n', ' ')
    }
    val sigUnion = (0 to k).map(l => s"SELECT id, tag, level, sigma FROM s$l").mkString(" UNION ALL ")
    val delSteps = (k - 1 to 1 by -1).map { l =>
      s"""del$l AS MATERIALIZED (SELECT v.id, v.tag,
         |SUM((CAST(v.sigma AS DOUBLE) / w.sigma) * (1.0 + COALESCE(dw.delta, CAST(0 AS DOUBLE)))) AS delta
         |FROM sig v JOIN e ON e.src = v.id
         |JOIN sig w ON w.id = e.dst AND w.tag = v.tag AND w.level = v.level + 1
         |LEFT JOIN del${l + 1} dw ON dw.id = w.id AND dw.tag = w.tag
         |WHERE v.level = $l GROUP BY v.id, v.tag)""".stripMargin.replace('\n', ' ')
    }
    val delUnion = (1 to k - 1).map(l => s"SELECT id, delta FROM del$l").mkString(" UNION ALL ")
    (s"WITH $withBody, " +
      s"d0 AS MATERIALIZED (SELECT src AS id, src AS tag, CAST(0 AS BIGINT) AS level " +
      s"FROM (SELECT DISTINCT src FROM e ORDER BY src LIMIT $nSources)), " +
      lvSteps.mkString(", ") + ", " +
      s"lv AS MATERIALIZED (SELECT id, tag, level FROM d$k), " +
      "s0 AS MATERIALIZED (SELECT id, tag, CAST(0 AS BIGINT) AS level, CAST(1 AS BIGINT) AS sigma FROM lv WHERE level = 0), " +
      sigSteps.mkString(", ") + ", " +
      s"sig AS MATERIALIZED ($sigUnion), " +
      s"del$k AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS BIGINT) AS tag, CAST(NULL AS DOUBLE) AS delta WHERE 1 = 0), " +
      delSteps.mkString(", ") + " " +
      s"SELECT id, CAST(FLOOR(SUM(delta) * 10000) AS BIGINT) AS bc_e4 " +
      s"FROM ($delUnion) u GROUP BY id ORDER BY id")
  }

  /** K L1-normalized HITS rounds: a from h (normalize), h from a
    * (normalize). Mirrors graft.graph.Algos.hits arithmetic exactly;
    * final values floor-scaled to e6. */
  def hitsSql(withBody: String, k: Int): String = {
    val steps = (1 to k).map { i =>
      s"""ar$i AS MATERIALIZED (SELECT v.id, COALESCE(s.x, CAST(0 AS DOUBLE)) AS a FROM v
         |LEFT JOIN (SELECT e.dst AS id, SUM(h.h) AS x FROM h${i - 1} h JOIN e ON h.id = e.src GROUP BY e.dst) s
         |ON v.id = s.id),
         |a$i AS MATERIALIZED (SELECT id, a / (SELECT SUM(a) FROM ar$i) AS a FROM ar$i),
         |hr$i AS MATERIALIZED (SELECT v.id, COALESCE(s.x, CAST(0 AS DOUBLE)) AS h FROM v
         |LEFT JOIN (SELECT e.src AS id, SUM(a.a) AS x FROM a$i a JOIN e ON a.id = e.dst GROUP BY e.src) s
         |ON v.id = s.id),
         |h$i AS MATERIALIZED (SELECT id, h / (SELECT SUM(h) FROM hr$i) AS h FROM hr$i)""".stripMargin.replace('\n', ' ')
    }
    (s"WITH $withBody, v AS MATERIALIZED (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e), " +
      "h0 AS MATERIALIZED (SELECT id, CAST(1 AS DOUBLE) AS h FROM v), " +
      steps.mkString(", ") +
      s" SELECT a.id, CAST(FLOOR(a.a * 1000000) AS BIGINT) AS auth_e6, " +
      s"CAST(FLOOR(h.h * 1000000) AS BIGINT) AS hub_e6 " +
      s"FROM a$k a JOIN h$k h ON a.id = h.id ORDER BY a.id")
  }

  /** K PageRank iterations with teleport resetProb/n over a graph with no
    * dangling vertices (symmetric e). Mirrors graft.graph.Algos.pagerank
    * arithmetic exactly; final values rounded to `digits`. */
  def pagerankSql(withBody: String, k: Int, damping: Double, resetProb: Double): String = {
    val steps = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (SELECT v.id AS id,
         |(SELECT $resetProb / n FROM nn) + $damping * COALESCE(s.c, 0) AS pr
         |FROM v LEFT JOIN (
         |SELECT e.dst AS id, SUM(p.pr / d.outdeg) AS c
         |FROM p${i - 1} p JOIN e ON p.id = e.src JOIN deg d ON d.id = p.id
         |GROUP BY e.dst) s ON v.id = s.id)""".stripMargin.replace('\n', ' ')
    }
    (s"WITH $withBody, v AS MATERIALIZED (SELECT DISTINCT src AS id FROM e), " +
      "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM v), " +
      "deg AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM e GROUP BY src), " +
      "p0 AS MATERIALIZED (SELECT id, (SELECT 1.0 / n FROM nn) AS pr FROM v), " +
      steps.mkString(", ") +
      s" SELECT id, CAST(FLOOR(pr * 1000000) AS BIGINT) AS pr_e6 FROM p$k ORDER BY id")
  }

  /** K weighted-PageRank iterations (contribution pr·w/Σw). Mirrors
    * graft.graph.Algos.pagerankWeighted arithmetic exactly. */
  def pagerankWeightedSql(withBody: String, k: Int, damping: Double, resetProb: Double): String = {
    val steps = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (SELECT v.id AS id,
         |(SELECT $resetProb / n FROM nn) + $damping * COALESCE(s.c, 0) AS pr
         |FROM v LEFT JOIN (
         |SELECT e.dst AS id, SUM(p.pr * e.w / d.wsum) AS c
         |FROM p${i - 1} p JOIN e ON p.id = e.src JOIN deg d ON d.id = p.id
         |GROUP BY e.dst) s ON v.id = s.id)""".stripMargin.replace('\n', ' ')
    }
    (s"WITH $withBody, v AS MATERIALIZED (SELECT DISTINCT src AS id FROM e), " +
      "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM v), " +
      "deg AS MATERIALIZED (SELECT src AS id, CAST(SUM(w) AS DOUBLE) AS wsum FROM e GROUP BY src), " +
      "p0 AS MATERIALIZED (SELECT id, (SELECT 1.0 / n FROM nn) AS pr FROM v), " +
      steps.mkString(", ") +
      s" SELECT id, CAST(FLOOR(pr * 1000000) AS BIGINT) AS pr_e6 FROM p$k ORDER BY id")
  }

  /** K random-walk-with-restart iterations: restart mass resetProb goes
    * to the min-src source vertex only (personalized PageRank). Mirrors
    * graft.graph.Algos.randomWalkWithRestart. */
  def rwrSql(withBody: String, k: Int, damping: Double, resetProb: Double): String = {
    val steps = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (SELECT v.id AS id,
         |CASE WHEN v.id = (SELECT s FROM sv) THEN CAST($resetProb AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
         |+ $damping * COALESCE(s.c, 0) AS pr
         |FROM v LEFT JOIN (
         |SELECT e.dst AS id, SUM(p.pr / d.outdeg) AS c
         |FROM p${i - 1} p JOIN e ON p.id = e.src JOIN deg d ON d.id = p.id
         |GROUP BY e.dst) s ON v.id = s.id)""".stripMargin.replace('\n', ' ')
    }
    (s"WITH $withBody, v AS MATERIALIZED (SELECT DISTINCT src AS id FROM e), " +
      "sv AS (SELECT MIN(src) AS s FROM e), " +
      "deg AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM e GROUP BY src), " +
      "p0 AS MATERIALIZED (SELECT id, CASE WHEN id = (SELECT s FROM sv) THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS pr FROM v), " +
      steps.mkString(", ") +
      s" SELECT id, CAST(FLOOR(pr * 1000000) AS BIGINT) AS pr_e6 FROM p$k ORDER BY id")
  }

  /** K batched multi-source RWR rounds mirroring
    * [[graft.graph.Algos.rwrMulti]]: the `nSources` smallest distinct
    * sources advance as (id, tag) pairs; per round one tagged
    * contribution aggregation + the per-tag restart mass. */
  def rwrMultiSql(withBody: String, nSources: Int, k: Int,
                  damping: Double, resetProb: Double): String = {
    val steps = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (SELECT vt.id, vt.tag,
         |CASE WHEN vt.id = vt.tag THEN CAST($resetProb AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
         |+ $damping * COALESCE(s.c, 0) AS pr
         |FROM (SELECT v.id, sv.tag FROM v CROSS JOIN sv) vt LEFT JOIN (
         |SELECT e.dst AS id, p.tag, SUM(p.pr / d.outdeg) AS c
         |FROM p${i - 1} p JOIN e ON p.id = e.src JOIN deg d ON d.id = p.id
         |GROUP BY e.dst, p.tag) s ON vt.id = s.id AND vt.tag = s.tag)""".stripMargin.replace('\n', ' ')
    }
    (s"WITH $withBody, v AS MATERIALIZED (SELECT DISTINCT src AS id FROM e), " +
      s"sv AS MATERIALIZED (SELECT src AS tag FROM (SELECT DISTINCT src FROM e ORDER BY src LIMIT $nSources)), " +
      "deg AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM e GROUP BY src), " +
      "p0 AS MATERIALIZED (SELECT v.id, sv.tag, CASE WHEN v.id = sv.tag THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS pr FROM v CROSS JOIN sv), " +
      steps.mkString(", ") +
      s" SELECT id, tag, CAST(FLOOR(pr * 1000000) AS BIGINT) AS pr_e6 FROM p$k ORDER BY tag, id")
  }

  /** K rounds of deterministic id-priority maximal-independent-set:
    * a vertex enters (st=1) when smaller than all undecided neighbors;
    * neighbors leave (st=2). */
  def misSql(withBody: String, k: Int): String = {
    val steps = (1 to k).map { i =>
      s"""ni$i AS MATERIALIZED (SELECT a.id FROM s${i - 1} a WHERE a.st = 0 AND NOT EXISTS (
         |SELECT 1 FROM e JOIN s${i - 1} b ON e.dst = b.id
         |WHERE e.src = a.id AND b.st = 0 AND b.id < a.id)),
         |no$i AS MATERIALIZED (SELECT DISTINCT e.dst AS id FROM ni$i n JOIN e ON e.src = n.id),
         |s$i AS MATERIALIZED (SELECT s.id,
         |CASE WHEN s.st <> 0 THEN s.st
         |WHEN s.id IN (SELECT id FROM ni$i) THEN 1
         |WHEN s.id IN (SELECT id FROM no$i) THEN 2
         |ELSE 0 END AS st FROM s${i - 1} s)""".stripMargin.replace('\n', ' ')
    }
    (s"WITH $withBody, v AS MATERIALIZED (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e), " +
      "s0 AS MATERIALIZED (SELECT id, 0 AS st FROM v), " + steps.mkString(", ") +
      s" SELECT id, CAST(st = 1 AS INT) AS in_set FROM s$k ORDER BY id")
  }

  /** R peeling rounds of k-core over symmetric edges (unique fixpoint;
    * R must cover convergence). Result: surviving (id, deg). */
  def kCoreSql(withBody: String, k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""e$i AS MATERIALIZED (SELECT x.src, x.dst FROM e${i - 1} x
         |JOIN (SELECT src FROM e${i - 1} GROUP BY src HAVING COUNT(*) >= $k) ks ON x.src = ks.src
         |JOIN (SELECT src FROM e${i - 1} GROUP BY src HAVING COUNT(*) >= $k) kd ON x.dst = kd.src)""".stripMargin.replace('\n', ' ')
    }
    (s"WITH $withBody, e0 AS MATERIALIZED (SELECT src, dst FROM e), " +
      steps.mkString(", ") +
      s" SELECT src AS id, COUNT(*) AS deg FROM e$rounds GROUP BY src ORDER BY id")
  }

  /** R support-peel rounds of k-truss over canonical pairs (unique
    * fixpoint; R must cover convergence — trailing rounds are no-ops).
    * Per round: enumerate triangles with the x<y<z triple join, credit
    * each triangle's three edges, drop edges under k−2 — the exact
    * recurrence graft.graph.Algos.kTruss runs. `withBody` must bind
    * e0(u, v). Result: surviving (u, v, support). */
  def kTrussSql(withBody: String, k: Int, rounds: Int): String = {
    def supCtes(i: Int) =
      s"""t$i AS MATERIALIZED (SELECT a.u AS x, a.v AS y, b.v AS z FROM e$i a
         |JOIN e$i b ON b.u = a.u AND b.v > a.v
         |JOIN e$i c ON c.u = a.v AND c.v = b.v),
         |s$i AS MATERIALIZED (SELECT u, v, COUNT(*) AS sup FROM (
         |SELECT x AS u, y AS v FROM t$i UNION ALL SELECT x, z FROM t$i
         |UNION ALL SELECT y, z FROM t$i) cr$i GROUP BY u, v)""".stripMargin.replace('\n', ' ')
    val steps = (0 until rounds).map { i =>
      s"""${supCtes(i)},
         |e${i + 1} AS MATERIALIZED (SELECT e.u, e.v FROM e$i e
         |LEFT JOIN s$i s ON s.u = e.u AND s.v = e.v
         |WHERE COALESCE(s.sup, 0) >= ${k - 2})""".stripMargin.replace('\n', ' ')
    }
    (s"WITH $withBody, " + steps.mkString(", ") + s", ${supCtes(rounds)} " +
      s"SELECT e.u, e.v, CAST(COALESCE(s.sup, 0) AS BIGINT) AS support " +
      s"FROM e$rounds e LEFT JOIN s$rounds s ON s.u = e.u AND s.v = e.v " +
      "ORDER BY e.u, e.v")
  }

  /** AND-model deadlock: deadlocked(v) ⟺ v reaches a cycle. Oracle via
    * K-fold path-doubling closure (mirrors graft.graph.Algos.deadlock's
    * SCC + backward-reach result). */
  def deadlockSql(withBody: String, k: Int): String = {
    val steps = (1 to k).map { i =>
      s"""c$i AS MATERIALIZED (SELECT DISTINCT x.a, y.b FROM c${i - 1} x JOIN c${i - 1} y ON x.b = y.a)"""
    }
    (s"WITH $withBody, v AS MATERIALIZED (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e), " +
      "c0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM e UNION SELECT id AS a, id AS b FROM v), " +
      steps.mkString(", ") +
      s" , cyc AS MATERIALIZED (SELECT DISTINCT f.a AS id FROM c$k f JOIN c$k r ON f.a = r.b AND f.b = r.a AND f.a <> f.b" +
      "  UNION SELECT src FROM e WHERE src = dst), " +
      s"dl AS MATERIALIZED (SELECT DISTINCT c.a AS id FROM c$k c JOIN cyc ON c.b = cyc.id) " +
      "SELECT v.id, CAST(CASE WHEN v.id IN (SELECT id FROM dl) THEN 1 ELSE 0 END AS INT) AS deadlocked " +
      "FROM v ORDER BY id")
  }

  /** Bracha-Toueg OR/N-of-M deadlock oracle: `rounds` unrolled NOTIFY
    * hops (reachability from the initiator) then `rounds` unrolled GRANT
    * rounds — f(i) adds every (src, tag) group whose targets are all in
    * f(i-1). The exact recurrence graft.graph.Algos.brachaToueg runs, so
    * even a partial (non-converged) fixpoint matches round-for-round.
    * `withBody` must bind e(src, dst, tag). */
  def brachaTouegSql(withBody: String, initiator: Long, rounds: Int): String = {
    val notify = (1 to rounds).map { i =>
      s"""n$i AS MATERIALIZED (SELECT id FROM n${i - 1} UNION
         |SELECT e.dst AS id FROM e JOIN n${i - 1} p ON e.src = p.id)""".stripMargin.replace('\n', ' ')
    }
    val grant = (1 to rounds).map { i =>
      s"""f$i AS MATERIALIZED (SELECT id FROM f${i - 1} UNION
         |SELECT src AS id FROM (SELECT e.src, e.tag, COUNT(*) AS t, COUNT(f.id) AS g
         |FROM e LEFT JOIN f${i - 1} f ON e.dst = f.id GROUP BY e.src, e.tag) s
         |WHERE t = g)""".stripMargin.replace('\n', ' ')
    }
    (s"WITH $withBody, " +
      "v AS MATERIALIZED (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e), " +
      s"n0 AS MATERIALIZED (SELECT CAST($initiator AS BIGINT) AS id), " +
      notify.mkString(", ") + ", " +
      s"nn AS MATERIALIZED (SELECT id FROM n$rounds), " +
      "f0 AS MATERIALIZED (SELECT id FROM nn WHERE id NOT IN (SELECT src FROM e)), " +
      grant.mkString(", ") + " " +
      "SELECT v.id, " +
      "CAST(CASE WHEN v.id IN (SELECT id FROM nn) THEN 1 ELSE 0 END AS INT) AS notified, " +
      s"CAST(CASE WHEN v.id IN (SELECT id FROM f$rounds) THEN 1 ELSE 0 END AS INT) AS free " +
      "FROM v ORDER BY id")
  }

  /** Borůvka minimum-spanning-forest replay — the DuckDB twin of
    * graft.graph.Algos.mst. `withBody` must define `ew(u, v, w)`
    * (canonical pairs, integral weights). Deterministic because both
    * engines pick each component's min edge under the same total order
    * (w, u, v), which makes the MSF unique (Kruskal-equal, pinned by
    * AlgosSpec).
    *
    * Per unrolled round r: rank cross-component edges per component
    * (window, same (w,u,v) order as the engine's min(struct)); the rn=1
    * rows are both the chosen edges and the component-level parent
    * pointers. Contraction exploits Borůvka's 2-cycle lemma: the min-edge
    * functional graph's only cycles are mutual-min 2-cycles, so after
    * rooting each 2-cycle at its smaller id, `jumps` pointer-doubling
    * steps (depth 2^jumps) collapse every component to its root — no
    * nested fixpoint needed. Rounds are idempotent once converged (no
    * cross edges → labels carried unchanged), so `rounds` only needs to
    * be ≥ log2(n). */
  def boruvkaSql(withBody: String, rounds: Int, jumps: Int): String = {
    val rounds_ = (1 to rounds).map { r =>
      val doubling = (1 to jumps).map { j =>
        s"""q${r}_$j AS MATERIALIZED (SELECT a.comp, b.par
           |FROM q${r}_${j - 1} a JOIN q${r}_${j - 1} b ON b.comp = a.par)""".stripMargin.replace('\n', ' ')
      }
      s"""lab$r AS MATERIALIZED (
         |SELECT e.u, e.v, e.w, cu.c AS cu, cv.c AS cv FROM ed e
         |JOIN c${r - 1} cu ON cu.id = e.u JOIN c${r - 1} cv ON cv.id = e.v
         |WHERE cu.c <> cv.c),
         |rk$r AS MATERIALIZED (
         |SELECT comp, par, u, v, w,
         |ROW_NUMBER() OVER (PARTITION BY comp ORDER BY w, u, v) AS rn FROM (
         |SELECT cu AS comp, cv AS par, u, v, w FROM lab$r
         |UNION ALL SELECT cv AS comp, cu AS par, u, v, w FROM lab$r) t),
         |cand$r AS MATERIALIZED (SELECT DISTINCT u, v, w FROM rk$r WHERE rn = 1),
         |mp$r AS MATERIALIZED (SELECT comp, par FROM rk$r WHERE rn = 1),
         |q${r}_0 AS MATERIALIZED (
         |SELECT a.comp, CASE WHEN b.par = a.comp THEN LEAST(a.comp, a.par)
         |ELSE a.par END AS par FROM mp$r a JOIN mp$r b ON b.comp = a.par),
         |${doubling.mkString(", ")},
         |c$r AS MATERIALIZED (
         |SELECT c.id, COALESCE(q.par, c.c) AS c
         |FROM c${r - 1} c LEFT JOIN q${r}_$jumps q ON q.comp = c.c)""".stripMargin.replace('\n', ' ')
    }
    val out = (1 to rounds).map(r => s"SELECT u, v, w FROM cand$r").mkString(" UNION ALL ")
    (s"WITH $withBody, ed AS MATERIALIZED (SELECT DISTINCT u, v, w FROM ew), " +
      "v0 AS MATERIALIZED (SELECT DISTINCT u AS id FROM ed UNION SELECT DISTINCT v FROM ed), " +
      "c0 AS MATERIALIZED (SELECT id, id AS c FROM v0), " +
      rounds_.mkString(", ") +
      s" SELECT u, v, w FROM ($out) z ORDER BY u, v")
  }

  /** SCC labels (comp = max id in the component) via K-fold path-doubling
    * transitive closure — oracle-only; the engine uses FB-coloring. */
  def sccSql(withBody: String, k: Int): String = {
    val steps = (1 to k).map { i =>
      s"""c$i AS MATERIALIZED (SELECT DISTINCT x.a, y.b FROM c${i - 1} x JOIN c${i - 1} y ON x.b = y.a)"""
    }
    (s"WITH $withBody, v AS MATERIALIZED (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e), " +
      "c0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM e UNION SELECT id AS a, id AS b FROM v), " +
      steps.mkString(", ") +
      s" SELECT f.a AS id, MAX(f.b) AS comp FROM c$k f JOIN c$k r ON f.a = r.b AND f.b = r.a" +
      " GROUP BY f.a ORDER BY id")
  }

  /** K degree-normalized SALSA rounds mirroring
    * [[graft.graph.Algos.salsa]]'s arithmetic exactly: per-edge
    * h/outdeg (resp. a/indeg) contributions summed per target, then an
    * L1 normalize — the same sum+divide-only discipline as [[hitsSql]],
    * floor-scaled to e6 by the SELECT tail. */
  def salsaSql(withBody: String, k: Int): String = {
    val steps = (1 to k).map { i =>
      s"""ar$i AS MATERIALIZED (SELECT v.id, COALESCE(s.x, CAST(0 AS DOUBLE)) AS a FROM v
         |LEFT JOIN (SELECT e.dst AS id, SUM(h.h / d.od) AS x FROM h${i - 1} h
         |JOIN e ON h.id = e.src JOIN odeg d ON d.id = h.id GROUP BY e.dst) s
         |ON v.id = s.id),
         |a$i AS MATERIALIZED (SELECT id, a / (SELECT SUM(a) FROM ar$i) AS a FROM ar$i),
         |hr$i AS MATERIALIZED (SELECT v.id, COALESCE(s.x, CAST(0 AS DOUBLE)) AS h FROM v
         |LEFT JOIN (SELECT e.src AS id, SUM(a.a / d.idg) AS x FROM a$i a
         |JOIN e ON a.id = e.dst JOIN ideg d ON d.id = a.id GROUP BY e.src) s
         |ON v.id = s.id),
         |h$i AS MATERIALIZED (SELECT id, h / (SELECT SUM(h) FROM hr$i) AS h FROM hr$i)""".stripMargin.replace('\n', ' ')
    }
    (s"WITH $withBody, v AS MATERIALIZED (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e), " +
      "odeg AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS od FROM e GROUP BY 1), " +
      "ideg AS MATERIALIZED (SELECT dst AS id, CAST(COUNT(*) AS DOUBLE) AS idg FROM e GROUP BY 1), " +
      "h0 AS MATERIALIZED (SELECT id, CAST(1 AS DOUBLE) AS h FROM v), " +
      steps.mkString(", ") +
      s" SELECT a.id, CAST(FLOOR(a.a * 1000000) AS BIGINT) AS auth_e6, " +
      s"CAST(FLOOR(h.h * 1000000) AS BIGINT) AS hub_e6 " +
      s"FROM a$k a JOIN h$k h ON a.id = h.id ORDER BY a.id")
  }
}
