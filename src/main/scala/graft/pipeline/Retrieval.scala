package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBridge.owned

import graft.graph.Fixpoint
import graft.sim.Similarity
import graft.sql.Exact.idiv
import graft.text.TextFunctions.tokens

/** Sparse (BM25), dense (cosine) and hybrid retrieval over the corpus —
  * the query-side counterpart of the indexing operators
  * ([[Corpus.invertedIndex]], [[graft.sim.Similarity]]): score documents
  * for a term query, fuse sparse and dense rank lists, and diversify a
  * candidate list. The training-data angle: dedup-aware sampling and
  * eval-set retrieval both start from exactly these primitives.
  *
  * Exactness discipline: BM25's k1=1.2 / b=0.75 are carried as the exact
  * rationals 6/5 and 3/4, the whole per-term score is evaluated in BIGINT
  * with a single floor division at the end, and the fusion/diversification
  * scores are pure integer linear forms — the DuckDB oracles replay every
  * operation bit-for-bit (no float appears anywhere).
  */
object Retrieval {

  /** BM25 document scores for a bag-of-terms query.
    *
    * With k1 = 6/5 and b = 3/4, the per-term score
    * idf · tf·(k1+1) / (tf + k1·(1−b + b·L·N/A)) over doc length L,
    * corpus doc count N and corpus token count A reduces to the exact
    * rational idf · tf·44·A / (20·A·tf + 6·A + 18·L·N). It is evaluated
    * as sat_e6 = (tf·44·A·10⁶) // (20·A·tf + 6·A + 18·L·N) (the
    * saturation·(k1+1) factor, e6-scaled) times idf_e6 = (N·10⁶) // df,
    * then de-scaled once — identical operation order in the oracle, so
    * the comparison is hash-exact. (The e6 BIGINT pipeline exists for
    * oracle exactness; magnitudes stay < 2⁶³ through corpus sizes ~10⁹
    * tokens, and a production deployment would run the same plan shape
    * in double.)
    *
    * Scale shape: ONE explode over the corpus feeds both the per-doc
    * length aggregate and the term-filtered tf aggregate (the filter is
    * applied before the tf shuffle, so only query-term postings move);
    * N/A/df are broadcast scalars. No driver-side data, no all-pairs.
    */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val s = docs.sparkSession
    import s.implicits._
    bm25WithTerms(toks, terms.toDF("token"), k)
  }

  /** Per-doc BM25 scores (no cut) over an exploded (doc_id, token) frame
    * and a DYNAMIC term frame (broadcast): (doc_id, n_terms, score_e6),
    * one row per doc with ≥ 1 query-term hit. */
  private def bm25Scores(toks: DataFrame, termsDf: DataFrame): DataFrame = {
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_toks"))
    val tf = toks.join(broadcast(termsDf.distinct()), Seq("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("token"))
      .join(dl, Seq("doc_id"))
      .join(broadcast(totals), lit(true))
      .withColumn("idf_e6", idiv(col("n_docs") * lit(1000000L), col("df")))
      .withColumn("sat_e6", idiv(
        col("tf") * lit(44L) * col("n_toks") * lit(1000000L),
        lit(20L) * col("n_toks") * col("tf") + lit(6L) * col("n_toks")
          + lit(18L) * col("dl") * col("n_docs")))
      .withColumn("term_e6", idiv(col("idf_e6") * col("sat_e6"), lit(1000000L)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("term_e6")).cast("long").as("score_e6"))
  }

  /** [[bm25Scores]] cut to the global top k — `orderBy(...).limit(k)`,
    * which Spark compiles to TakeOrderedAndProject (per-partition top-k
    * heaps merged on the driver), NEVER a zero-partitionBy rank window
    * (that would single-partition-sort the whole scored corpus). */
  private def bm25WithTerms(toks: DataFrame, termsDf: DataFrame, k: Int): DataFrame =
    bm25Scores(toks, termsDf)
      .orderBy(col("score_e6").desc, col("doc_id")).limit(k)
      .orderBy(col("score_e6").desc, col("doc_id"))

  /** Pseudo-relevance feedback (RM3-shaped two-stage retrieval): score
    * the seed terms, take the top `fbDocs` documents, harvest their
    * `nExpand` most frequent non-seed tokens as expansion terms, and
    * re-score with seed ∪ expansion. The expansion term set never
    * touches the driver — it flows as a broadcast frame into the
    * second stage. One corpus explode (persisted) feeds both stages. */
  def prfExpand(docs: DataFrame, seed: Seq[String], fbDocs: Int,
                nExpand: Int, k: Int): DataFrame = owned { o =>
    val s = docs.sparkSession
    import s.implicits._
    val toks = o(docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val top1 = bm25WithTerms(toks, seed.toDF("token"), fbDocs).select(col("doc_id"))
    val expansion = toks.join(broadcast(top1), Seq("doc_id"))
      .filter(!col("token").isin(seed: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token")).limit(nExpand)
      .select(col("token"))
    bm25WithTerms(toks, seed.toDF("token").unionByName(expansion), k).localCheckpoint()
  }

  /** Hybrid sparse+dense retrieval via reciprocal-rank fusion over CUT
    * rank lists (the production RRF shape): take the top `nCand` docs of
    * the intersection corpus (docs that carry an embedding) once by BM25
    * and once by cosine to the query vector — each cut is an
    * `orderBy(...).limit(nCand)` (TakeOrderedAndProject, distributed
    * top-k heaps) — rank WITHIN each bounded nCand-row list, full-outer
    * fuse on doc_id with rrf_e6 = Σ_lists 10⁶//(60+rank) (a doc absent
    * from one list contributes 0 for it; its reported rank is 0), and
    * cut the fused frame to the final top k.
    *
    * Scale shape: the BM25 side is [[bm25Scores]]' postings-only
    * aggregate; the dense side is one broadcast (single query vector)
    * scan; every global sort is a limit-k TakeOrderedAndProject and the
    * only rank windows run over ≤ nCand-row post-limit frames — no
    * zero-partitionBy window ever sees a data-sized frame.
    */
  def hybridRrf(docs: DataFrame, emb: DataFrame, terms: Seq[String],
                queryVecId: Long, k: Int, nCand: Int = 50): DataFrame = {
    val joined = docs.join(emb, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("embedding"))
    val qv = emb.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qv"))
    val s = docs.sparkSession
    import s.implicits._
    val toks = joined.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    // corpus stats (N, A, df) are over the FULL intersection corpus; the
    // query doc is dropped from the scored list before the cut
    val sparse = bm25Scores(toks, terms.toDF("token"))
      .filter(col("doc_id") =!= queryVecId)
      .orderBy(col("score_e6").desc, col("doc_id")).limit(nCand)
      .withColumn("rank_bm25", row_number().over( // bounded: ≤ nCand rows
        Window.orderBy(col("score_e6").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("rank_bm25"))
    val dense = joined.join(broadcast(qv), lit(true))
      .filter(col("doc_id") =!= queryVecId)
      .select(col("doc_id"),
        graft.sql.Exact.e4(Similarity.cosine(col("qv"), col("embedding"))).as("rcos_e4"))
      .orderBy(col("rcos_e4").desc, col("doc_id")).limit(nCand)
      .withColumn("rank_vec", row_number().over( // bounded: ≤ nCand rows
        Window.orderBy(col("rcos_e4").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("rank_vec"))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rank_bm25"), lit(0L)).as("rank_bm25"),
        coalesce(col("rank_vec"), lit(0L)).as("rank_vec"))
      .withColumn("rrf_e6",
        when(col("rank_bm25") > 0,
          idiv(lit(1000000L), lit(60L) + col("rank_bm25"))).otherwise(lit(0L))
          + when(col("rank_vec") > 0,
            idiv(lit(1000000L), lit(60L) + col("rank_vec"))).otherwise(lit(0L)))
      .orderBy(col("rrf_e6").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), col("rank_bm25"), col("rank_vec"), col("rrf_e6"))
      .orderBy(col("rrf_e6").desc, col("doc_id"))
  }

  /** Maximal-marginal-relevance diversification of a dense candidate
    * list: fetch nCand brute-force neighbors of the query vector, then
    * greedily pick k of them maximizing λ·rel − (1−λ)·max-sim-to-picked
    * with λ = 0.7, carried ×10 so the score is the pure integer form
    * mmr = 7·rel_e4 − 3·maxsim_e4 (sign-safe: no integer division whose
    * floor/truncation semantics could diverge on negatives). Step 1 has
    * no picked set and scores 7·rel_e4.
    *
    * Scale shape: candidate generation is the [[Similarity.bruteTopK]]
    * scan (swap in the IVF probe at warehouse scale — same contract);
    * the greedy loop is k driver rounds over the nCand-row candidate
    * frame with only picked IDs (k scalars) held on the driver.
    */
  def mmrRerank(emb: DataFrame, queryVecId: Long, nCand: Int, k: Int): DataFrame = owned { o =>
    val qv = emb.filter(col("vec_id") === queryVecId)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val cand = o(Similarity.bruteTopK(
        emb.select(col("vec_id"), col("embedding")), qv, nCand)
      .select(col("n_id").as("vec_id"), col("rcos_e4").as("rel_e4"))
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    var picked = Vector.empty[(Long, Long, Long, Int)] // (vec_id, rel_e4, mmr, step)
    (1 to k).foreach { step =>
      val pickedIds = picked.map(_._1)
      val scored =
        if (pickedIds.isEmpty)
          cand.select(col("vec_id"), col("rel_e4"),
            (lit(7L) * col("rel_e4")).as("mmr"))
        else {
          val sel = cand.filter(col("vec_id").isin(pickedIds: _*))
            .select(col("vec_id").as("s_id"), col("embedding").as("sv"))
          cand.filter(!col("vec_id").isin(pickedIds: _*))
            .join(broadcast(sel), lit(true))
            .withColumn("sim_e4",
              graft.sql.Exact.e4(Similarity.cosine(col("embedding"), col("sv"))))
            .groupBy(col("vec_id"), col("rel_e4"))
            .agg(max(col("sim_e4")).as("maxsim_e4"))
            .select(col("vec_id"), col("rel_e4"),
              (lit(7L) * col("rel_e4") - lit(3L) * col("maxsim_e4")).as("mmr"))
        }
      val row = scored.orderBy(col("mmr").desc, col("vec_id")).limit(1).collect()(0)
      picked :+= ((row.getLong(0), row.getLong(1), row.getLong(2), step))
    }
    val s = emb.sparkSession
    import s.implicits._
    picked.toDF("vec_id", "rel_e4", "mmr", "step")
      .select(col("step").cast("long"), col("vec_id"), col("rel_e4"), col("mmr"))
      .orderBy(col("step"))
  }

  /** Integer discount table ⌊10⁶ / log₂(r+1)⌋ for ranks 1..k, computed
    * ONCE here and spliced as literals into both engines' plans (the
    * shared-constant-table pattern; no runtime libm anywhere). */
  def ndcgDiscE6(k: Int): Seq[(Long, Long)] =
    (1 to k).map(r =>
      r.toLong -> math.floor(1e6 / (math.log(r + 1.0) / math.log(2.0))).toLong)

  /** Ranking-quality evaluation (P@k / MRR / NDCG@k) of a per-term
    * tf ranking against deterministic graded pseudo-qrels
    * (rel = 2 if tf ≥ 3, 1 if tf = 2, 0 otherwise) — the eval harness a
    * retrieval stack runs after every index build. All metrics are
    * integer: gains are 2^rel − 1, discounts come from [[ndcgDiscE6]]'s
    * shared literal table, MRR is 10⁶ div first-relevant-rank, and
    * NDCG = 10⁶·DCG div IDCG with IDCG over the corpus-ideal ordering
    * (rel desc, doc_id), so a better-than-ideal ranking is impossible
    * by construction.
    *
    * Scale shape: one corpus explode filtered to the query terms (only
    * query-term postings shuffle), per-term rank windows partitioned by
    * term, and a broadcast of the k-row discount table. Output is one
    * row per query term. */
  def evalRanking(docs: DataFrame, terms: Seq[String], k: Int = 10): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .withColumn("rel",
        when(col("tf") >= 3, 2L).when(col("tf") === 2, 1L).otherwise(0L))
      .localCheckpoint()
    val disc = broadcast(ndcgDiscE6(k).toDF("rank", "disc_e6"))
    val ranked = tf
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("token"))
          .orderBy(col("tf").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= k)
      .join(disc, Seq("rank"))
      .withColumn("gain",
        when(col("rel") === 2, 3L).when(col("rel") === 1, 1L).otherwise(0L))
    val dcg = ranked.groupBy(col("token")).agg(
      sum(col("gain") * col("disc_e6")).cast("long").as("dcg_num"),
      sum(when(col("rel") > 0, 1L).otherwise(0L)).cast("long").as("hits_at_k"),
      min(when(col("rel") > 0, col("rank"))).as("first_rel"))
    val ideal = tf.filter(col("rel") > 0)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("token"))
          .orderBy(col("rel").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= k)
      .join(disc, Seq("rank"))
      .withColumn("gain",
        when(col("rel") === 2, 3L).when(col("rel") === 1, 1L).otherwise(0L))
      .groupBy(col("token"))
      .agg(sum(col("gain") * col("disc_e6")).cast("long").as("idcg_num"))
    val nRel = tf.groupBy(col("token"))
      .agg(sum(when(col("rel") > 0, 1L).otherwise(0L)).cast("long").as("n_rel"))
    nRel
      .join(dcg, Seq("token"), "left")
      .join(ideal, Seq("token"), "left")
      .select(col("token"), col("n_rel"),
        coalesce(col("hits_at_k"), lit(0L)).as("hits_at_k"),
        coalesce(idiv(lit(1000000L), col("first_rel")), lit(0L)).as("mrr_e6"),
        coalesce(col("dcg_num"), lit(0L)).as("dcg_num"),
        coalesce(col("idcg_num"), lit(0L)).as("idcg_num"),
        when(coalesce(col("idcg_num"), lit(0L)) > 0,
          idiv(col("dcg_num") * lit(1000000L), col("idcg_num")))
          .otherwise(lit(0L)).as("ndcg_e6"))
      .orderBy(col("token"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    * the corpus-global token co-occurrence graph (adjacent-token edges,
    * vocabulary capped to the `vocab` most frequent tokens — the hub-cap
    * discipline that keeps the graph size corpus-independent). The
    * iteration is pure-integer: pr⁰ = 10⁶;
    * prᵗ⁺¹ = 150000 + (850·Σ_{u∼v} (prᵗ(u) div deg(u))) div 1000 — the
    * d=0.85 damped walk with one floor division per contribution,
    * replayed identically by the oracle's unrolled CTE chain.
    *
    * Scale shape: one positional explode + one self-join on
    * (doc, pos+1) builds the edge list; each round is one equi-join +
    * groupBy over a ≤vocab²-edge frame (vocab is a constant), with the
    * per-round frame checkpointed. */
  def textRank(docs: DataFrame, vocab: Int, iters: Int, topK: Int): DataFrame = owned { o =>
    val pos = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "token")))
    val top = pos.groupBy(col("token")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token")).limit(vocab)
      .select(col("token"))
    val inVocab = pos.join(broadcast(top), Seq("token"))
      .select(col("doc_id"), col("pos"), col("token"))
    val pairs = inVocab.as("a").join(inVocab.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("b.pos") === col("a.pos") + 1
          && col("a.token") =!= col("b.token"))
      .select(least(col("a.token"), col("b.token")).as("u"),
        greatest(col("a.token"), col("b.token")).as("v"))
      .distinct()
    val edges = o(pairs.select(col("u").as("src"), col("v").as("dst"))
      .union(pairs.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint())
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val (pr, _) = Fixpoint.run(deg.select(col("src").as("token"), lit(1000000L).as("pr"))
        .localCheckpoint(), Fixpoint.checkpointing, iters) { (pr, _, _) =>
      val contrib = edges
        .join(deg, Seq("src"))
        .join(pr.select(col("token").as("src"), col("pr")), Seq("src"))
        .select(col("dst").as("token"), expr("pr div deg").as("c"))
        .groupBy(col("token")).agg(sum(col("c")).cast("long").as("s"))
      pr.select(col("token")).join(contrib, Seq("token"), "left")
        .select(col("token"),
          (lit(150000L) + expr("(850 * coalesce(s, 0)) div 1000")).as("pr"))
    }
    o(pr).orderBy(col("pr").desc, col("token")).limit(topK)
      .select(col("token"), col("pr").as("textrank_e6"))
      .orderBy(col("textrank_e6").desc, col("token"))
      .localCheckpoint()
  }
}
