package graft

import org.apache.spark.sql.DataFrame

import graft.pipeline.Retrieval

/** Retrieval query corpus (round 6): BM25 term scoring, hybrid
  * sparse+dense reciprocal-rank fusion, and MMR diversification — the
  * query-side retrieval surface over the same documents/embeddings
  * tables the dedup and ANN families index. All-integer scoring (exact
  * rationals for BM25's k1/b, pure linear forms for RRF/MMR), so every
  * oracle is hash-exact.
  */
object RetrievalQueries {

  private val Terms = Seq("spark", "vector", "merge")
  private def termsSql = Terms.map(t => s"'$t'").mkString("(", ", ", ")")

  private def tokSql(src: String) =
    s"SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token FROM $src"

  private val cosSql: (String, String) => String = (x, y) =>
    s"""(list_sum(list_transform(range(1, 65), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))
       |/ (sqrt(list_sum(list_transform(range(1, 65), i -> CAST($x[i] AS DOUBLE) * CAST($x[i] AS DOUBLE))))
       |* sqrt(list_sum(list_transform(range(1, 65), i -> CAST($y[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))))))""".stripMargin.replace('\n', ' ')

  /** The shared BM25 CTE chain over token source `toks` (must provide
    * (doc_id, token)); yields `bm` = (doc_id, n_terms, score_e6). */
  private def bm25Ctes = s"""dl AS MATERIALIZED (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
     |tot AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS n_toks FROM dl),
     |tf AS MATERIALIZED (SELECT doc_id, token, COUNT(*) AS tf FROM toks
     |WHERE token IN $termsSql GROUP BY 1, 2),
     |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
     |sc AS (SELECT tf.doc_id,
     |(n_docs * 1000000) // df.df AS idf_e6,
     |(tf.tf * 44 * n_toks * 1000000) // (20 * n_toks * tf.tf + 6 * n_toks + 18 * dl.dl * n_docs) AS sat_e6
     |FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN tot),
     |bm AS (SELECT doc_id, COUNT(*) AS n_terms,
     |CAST(SUM((idf_e6 * sat_e6) // 1000000) AS BIGINT) AS score_e6 FROM sc GROUP BY 1)""".stripMargin.replace('\n', ' ')

  // --- q_bm25 -----------------------------------------------------------

  private def qBm25(t: Tables): DataFrame =
    Retrieval.bm25(t.documents, Terms, k = 15)

  private val qBm25Sql =
    s"""WITH toks AS MATERIALIZED (${tokSql("documents")}),
       |$bm25Ctes
       |SELECT doc_id, n_terms, score_e6 FROM bm
       |QUALIFY ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id) <= 15
       |ORDER BY score_e6 DESC, doc_id""".stripMargin.replace('\n', ' ')

  // --- q_retrieval_prf --------------------------------------------------

  /** RM3-shaped pseudo-relevance feedback: seed BM25 → top-3 docs →
    * 2 most frequent non-seed tokens join the query → re-scored. */
  private def qPrf(t: Tables): DataFrame =
    Retrieval.prfExpand(t.documents, Terms,
      fbDocs = 3, nExpand = 2, k = 15)

  private val qPrfSql =
    s"""WITH toks AS MATERIALIZED (${tokSql("documents")}),
       |$bm25Ctes,
       |t1 AS (SELECT doc_id FROM bm
       |QUALIFY ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id) <= 3),
       |exp AS (SELECT token FROM toks JOIN t1 USING (doc_id)
       |WHERE token NOT IN $termsSql
       |GROUP BY token ORDER BY COUNT(*) DESC, token LIMIT 2),
       |tm2 AS (SELECT DISTINCT token FROM (
       |SELECT unnest([${Terms.map(t => s"'$t'").mkString(", ")}]) AS token
       |UNION ALL SELECT token FROM exp) z),
       |tf2 AS MATERIALIZED (SELECT doc_id, token, COUNT(*) AS tf
       |FROM toks JOIN tm2 USING (token) GROUP BY 1, 2),
       |df2 AS (SELECT token, COUNT(*) AS df FROM tf2 GROUP BY 1),
       |sc2 AS (SELECT tf2.doc_id,
       |(n_docs * 1000000) // df2.df AS idf_e6,
       |(tf2.tf * 44 * n_toks * 1000000) // (20 * n_toks * tf2.tf + 6 * n_toks + 18 * dl.dl * n_docs) AS sat_e6
       |FROM tf2 JOIN df2 USING (token) JOIN dl USING (doc_id) CROSS JOIN tot),
       |bm2 AS (SELECT doc_id, COUNT(*) AS n_terms,
       |CAST(SUM((idf_e6 * sat_e6) // 1000000) AS BIGINT) AS score_e6 FROM sc2 GROUP BY 1)
       |SELECT doc_id, n_terms, score_e6 FROM bm2
       |QUALIFY ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id) <= 15
       |ORDER BY score_e6 DESC, doc_id""".stripMargin.replace('\n', ' ')

  // --- q_retrieval_hybrid ----------------------------------------------

  private def qHybrid(t: Tables): DataFrame =
    Retrieval.hybridRrf(t.documents, t.embeddings, Terms, queryVecId = 0L, k = 10)

  private val HybridCand = 50

  private val qHybridSql =
    s"""WITH j AS MATERIALIZED (SELECT d.doc_id, d.text, e.embedding
       |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
       |toks AS MATERIALIZED (${tokSql("j")}),
       |$bm25Ctes,
       |sp AS (SELECT doc_id, score_e6 FROM bm WHERE doc_id <> 0
       |ORDER BY score_e6 DESC, doc_id LIMIT $HybridCand),
       |spr AS (SELECT doc_id,
       |CAST(ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS rank_bm25 FROM sp),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |dense AS (SELECT j.doc_id,
       |CAST(FLOOR(${cosSql("q.qv", "j.embedding")} * 10000) AS BIGINT) AS rcos_e4
       |FROM j, q WHERE j.doc_id <> 0),
       |de AS (SELECT doc_id, rcos_e4 FROM dense
       |ORDER BY rcos_e4 DESC, doc_id LIMIT $HybridCand),
       |der AS (SELECT doc_id,
       |CAST(ROW_NUMBER() OVER (ORDER BY rcos_e4 DESC, doc_id) AS BIGINT) AS rank_vec FROM de),
       |f AS (SELECT COALESCE(spr.doc_id, der.doc_id) AS doc_id,
       |COALESCE(rank_bm25, 0) AS rank_bm25, COALESCE(rank_vec, 0) AS rank_vec
       |FROM spr FULL JOIN der ON spr.doc_id = der.doc_id),
       |g AS (SELECT doc_id, rank_bm25, rank_vec,
       |CAST(CASE WHEN rank_bm25 > 0 THEN 1000000 // (60 + rank_bm25) ELSE 0 END
       |+ CASE WHEN rank_vec > 0 THEN 1000000 // (60 + rank_vec) ELSE 0 END AS BIGINT) AS rrf_e6
       |FROM f)
       |SELECT doc_id, rank_bm25, rank_vec, rrf_e6 FROM
       |(SELECT * FROM g ORDER BY rrf_e6 DESC, doc_id LIMIT 10) z
       |ORDER BY rrf_e6 DESC, doc_id""".stripMargin.replace('\n', ' ')

  // --- q_ann_mmr --------------------------------------------------------

  private val MmrCand = 12
  private val MmrK = 6

  private def qMmr(t: Tables): DataFrame =
    Retrieval.mmrRerank(t.embeddings, queryVecId = 0L,
      nCand = MmrCand, k = MmrK)

  /** Unrolled greedy chain: p{i} is step i's pick, sel{i} the picked-set
    * prefix. Same integer MMR form as the engine (7·rel − 3·maxsim). */
  private val qMmrSql = {
    val head =
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |c0 AS MATERIALIZED (SELECT e.vec_id, e.embedding,
         |CAST(FLOOR(${cosSql("q.qv", "e.embedding")} * 10000) AS BIGINT) AS rel_e4
         |FROM embeddings e, q WHERE e.vec_id <> 0
         |QUALIFY ROW_NUMBER() OVER (ORDER BY rel_e4 DESC, vec_id) <= $MmrCand),
         |p1 AS (SELECT vec_id, rel_e4, 7 * rel_e4 AS mmr, 1 AS step FROM c0
         |ORDER BY mmr DESC, vec_id LIMIT 1),
         |sel1 AS (SELECT vec_id FROM p1)""".stripMargin.replace('\n', ' ')
    val steps = (2 to MmrK).map { i =>
      s"""m$i AS (SELECT c.vec_id, c.rel_e4,
         |MAX(CAST(FLOOR(${cosSql("c.embedding", "s.embedding")} * 10000) AS BIGINT)) AS ms
         |FROM c0 c, c0 s
         |WHERE s.vec_id IN (SELECT vec_id FROM sel${i - 1})
         |AND c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
         |GROUP BY 1, 2),
         |p$i AS (SELECT vec_id, rel_e4, 7 * rel_e4 - 3 * ms AS mmr, $i AS step FROM m$i
         |ORDER BY mmr DESC, vec_id LIMIT 1),
         |sel$i AS (SELECT vec_id FROM sel${i - 1} UNION ALL SELECT vec_id FROM p$i)""".stripMargin.replace('\n', ' ')
    }
    val union = (1 to MmrK).map(i => s"SELECT * FROM p$i").mkString(" UNION ALL ")
    s"""$head, ${steps.mkString(", ")}
       |SELECT CAST(step AS BIGINT) AS step, vec_id, rel_e4, CAST(mmr AS BIGINT) AS mmr
       |FROM ($union) ORDER BY step""".stripMargin.replace('\n', ' ')
  }

  // --- q_retrieval_ndcg -------------------------------------------------

  /** [[Retrieval.evalRanking]]: P@10 / MRR / NDCG@10 of the per-term tf
    * ranking against graded pseudo-qrels (rel = 2 at tf ≥ 3, 1 at
    * tf = 2). The discount table ⌊10⁶/log₂(r+1)⌋ is generated once in
    * Scala and spliced into both plans as literals; the disc JOIN is
    * also the top-k cut (ranks > k have no discount row). */
  private def qNdcg(t: Tables): DataFrame =
    Retrieval.evalRanking(t.documents, Terms, k = 10)

  private val qNdcgSql = {
    val discRows = Retrieval.ndcgDiscE6(10)
      .map { case (r, d) => s"($r, $d)" }.mkString(", ")
    s"""WITH toks AS MATERIALIZED (${tokSql("documents")}),
       |tf AS MATERIALIZED (SELECT token, doc_id, COUNT(*) AS tf FROM toks
       |WHERE token IN $termsSql GROUP BY 1, 2),
       |r AS (SELECT token, doc_id, tf,
       |CASE WHEN tf >= 3 THEN 2 WHEN tf = 2 THEN 1 ELSE 0 END AS rel FROM tf),
       |disc AS (SELECT CAST(rank AS BIGINT) AS rank, CAST(d AS BIGINT) AS disc_e6
       |FROM (VALUES $discRows) v(rank, d)),
       |rk AS (SELECT token, rel,
       |CAST(ROW_NUMBER() OVER (PARTITION BY token ORDER BY tf DESC, doc_id) AS BIGINT) AS rank
       |FROM r),
       |topk AS (SELECT rk.token, rel, rank, disc_e6 FROM rk JOIN disc USING (rank)),
       |dcg AS (SELECT token,
       |CAST(SUM((CASE rel WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END) * disc_e6) AS BIGINT) AS dcg_num,
       |CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_k,
       |MIN(CASE WHEN rel > 0 THEN rank END) AS first_rel FROM topk GROUP BY 1),
       |irk AS (SELECT token, rel,
       |CAST(ROW_NUMBER() OVER (PARTITION BY token ORDER BY rel DESC, doc_id) AS BIGINT) AS rank
       |FROM r WHERE rel > 0),
       |ideal AS (SELECT token,
       |CAST(SUM((CASE rel WHEN 2 THEN 3 ELSE 1 END) * disc_e6) AS BIGINT) AS idcg_num
       |FROM irk JOIN disc USING (rank) GROUP BY 1),
       |nr AS (SELECT token, CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel
       |FROM r GROUP BY 1)
       |SELECT nr.token, n_rel, COALESCE(hits_at_k, 0) AS hits_at_k,
       |COALESCE(1000000 // first_rel, 0) AS mrr_e6,
       |COALESCE(dcg_num, 0) AS dcg_num, COALESCE(idcg_num, 0) AS idcg_num,
       |CASE WHEN COALESCE(idcg_num, 0) > 0 THEN (dcg_num * 1000000) // idcg_num
       |ELSE CAST(0 AS BIGINT) END AS ndcg_e6
       |FROM nr LEFT JOIN dcg USING (token) LEFT JOIN ideal USING (token)
       |ORDER BY token""".stripMargin.replace('\n', ' ')
  }

  // --- q_text_textrank --------------------------------------------------

  private val TrVocab = 150
  private val TrIters = 10
  private val TrTopK = 25

  /** [[Retrieval.textRank]]: integer PageRank keyword extraction over
    * the adjacent-token co-occurrence graph (vocab capped at the 150
    * most frequent tokens). The oracle unrolls the same 10 damped
    * rounds; the per-round arithmetic is floor-division-exact, so the
    * final scores hash-match. */
  private def qTextRank(t: Tables): DataFrame =
    Retrieval.textRank(t.documents,
      vocab = TrVocab, iters = TrIters, topK = TrTopK)

  private val qTextRankSql = {
    val rounds = (1 to TrIters).map { i =>
      s"""pr$i AS MATERIALIZED (SELECT n.token,
         |150000 + (850 * COALESCE(c.s, 0)) // 1000 AS pr FROM nodes n
         |LEFT JOIN (SELECT e.dst AS token, CAST(SUM(p.pr // d.deg) AS BIGINT) AS s
         |FROM edges e JOIN deg d ON d.src = e.src
         |JOIN pr${i - 1} p ON p.token = e.src GROUP BY 1) c ON c.token = n.token)""".stripMargin.replace('\n', ' ')
    }.mkString(", ")
    s"""WITH pos AS MATERIALIZED (SELECT doc_id, i AS pos, arr[i] AS token FROM (
       |SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr FROM documents) d,
       |unnest(range(1, len(arr) + 1)) t(i)),
       |top AS MATERIALIZED (SELECT token FROM pos GROUP BY token
       |ORDER BY COUNT(*) DESC, token LIMIT $TrVocab),
       |iv AS MATERIALIZED (SELECT pos.doc_id, pos.pos, pos.token
       |FROM pos JOIN top USING (token)),
       |pairs AS MATERIALIZED (SELECT DISTINCT least(a.token, b.token) AS u,
       |greatest(a.token, b.token) AS v
       |FROM iv a JOIN iv b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |AND a.token <> b.token),
       |edges AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
       |UNION ALL SELECT v AS src, u AS dst FROM pairs),
       |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
       |nodes AS (SELECT src AS token FROM deg),
       |pr0 AS (SELECT token, CAST(1000000 AS BIGINT) AS pr FROM nodes),
       |$rounds
       |SELECT token, CAST(pr AS BIGINT) AS textrank_e6 FROM pr$TrIters
       |QUALIFY ROW_NUMBER() OVER (ORDER BY pr DESC, token) <= $TrTopK
       |ORDER BY textrank_e6 DESC, token""".stripMargin.replace('\n', ' ')
  }

  // --- registry ---------------------------------------------------------

  val queries: Seq[Query] = Seq(
    Query("q_bm25", qBm25, qBm25Sql),
    Query("q_retrieval_prf", qPrf, qPrfSql),
    Query("q_retrieval_hybrid", qHybrid, qHybridSql),
    Query("q_retrieval_ndcg", qNdcg, qNdcgSql),
    Query("q_text_textrank", qTextRank, qTextRankSql),
    Query("q_ann_mmr", qMmr, qMmrSql))
}
