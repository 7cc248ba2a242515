package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.Corpus
import graft.text.TextFunctions
import graft.text.TextFunctions.{alphaCount, langId, qualityScore, tokenCount, tokensSql, wordHits}

/** Corpus-pipeline query corpus (round-4 surface): repetition filtering,
  * TF-IDF keywords, vocabulary, deterministic stratified sampling, PII
  * scrubbing, sequence packing, and mixing stats — each with a DuckDB
  * oracle built from identical arithmetic (md5-derived uniforms, exact
  * BIGINT integer division `//`, no floats anywhere).
  */
object CorpusQueries {

  /** DuckDB twin of Corpus.md5Uniform limited to `h`'s first 6 hex
    * digits: digit-by-digit base-16 accumulation (strpos on the hex
    * alphabet), exact BIGINT. */
  private def hex6Sql(h: String) =
    s"""CAST(list_sum(list_transform(range(0, 6), i ->
       |(strpos('0123456789abcdef', substring($h, CAST(i + 1 AS INT), 1)) - 1)
       |* CAST(power(16, 5 - i) AS BIGINT))) AS BIGINT)""".stripMargin.replace('\n', ' ')

  // --- repetition -------------------------------------------------------

  private def qTextRepetition(t: Tables): DataFrame =
    Corpus.repetitionStats(t.documents).orderBy(col("doc_id"))

  private val qTextRepetitionSql =
    s"""WITH toks AS MATERIALIZED (SELECT doc_id, $tokensSql AS tok FROM documents),
       |g AS MATERIALIZED (SELECT doc_id, concat_ws(' ', tok[CAST(i AS INT)], tok[CAST(i + 1 AS INT)]) AS gram
       |FROM toks, unnest(range(1, greatest(len(tok) - 1, 1) + 1)) AS t(i)),
       |c AS MATERIALIZED (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2)
       |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams, COUNT(*) AS n_uniq,
       |CAST(MAX(cnt) AS BIGINT) AS top_cnt,
       |CAST((MAX(cnt) * 1000000) // SUM(cnt) AS BIGINT) AS top_frac_e6,
       |CAST(((SUM(cnt) - COUNT(*)) * 1000000) // SUM(cnt) AS BIGINT) AS dup_frac_e6
       |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  // --- TF-IDF keywords --------------------------------------------------

  private def qTfidf(t: Tables): DataFrame =
    Corpus.tfIdfTopK(t.documents, k = 3)
      .drop("rank")
      .orderBy(col("doc_id"), col("score_e6").desc, col("token"))

  private val qTfidfSql =
    s"""WITH toks AS MATERIALIZED (SELECT doc_id, unnest($tokensSql) AS token FROM documents),
       |tf AS MATERIALIZED (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |df AS MATERIALIZED (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents)
       |SELECT doc_id, token, tf, score_e6 FROM (
       |SELECT tf.doc_id, tf.token, tf.tf,
       |CAST((tf.tf * n.n_docs * 1000000) // df.df AS BIGINT) AS score_e6,
       |ROW_NUMBER() OVER (PARTITION BY tf.doc_id
       |ORDER BY (tf.tf * n.n_docs * 1000000) // df.df DESC, tf.token) AS rnk
       |FROM tf JOIN df USING (token) CROSS JOIN n) z
       |WHERE rnk <= 3 ORDER BY doc_id, score_e6 DESC, token""".stripMargin.replace('\n', ' ')

  // --- vocabulary -------------------------------------------------------

  private def qVocab(t: Tables): DataFrame =
    Corpus.vocabulary(t.documents, topN = 100)

  private val qVocabSql =
    s"""WITH toks AS MATERIALIZED (SELECT doc_id, unnest($tokensSql) AS token FROM documents)
       |SELECT token, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS n_docs
       |FROM toks GROUP BY token ORDER BY cnt DESC, token LIMIT 100""".stripMargin.replace('\n', ' ')

  // --- stratified sampling ----------------------------------------------

  private def qSampleStratified(t: Tables): DataFrame =
    Corpus.stratifiedSample(t.documents)
      .select(col("doc_id"), col("source"), col("rate_permille"))
      .orderBy(col("doc_id"))

  private val qSampleStratifiedSql =
    s"""WITH b AS (SELECT doc_id, source,
       |50 + 50 * (strpos('0123456789abcdef', substring(md5(source), 1, 1)) - 1) AS rate_permille,
       |${hex6Sql("md5(CAST(doc_id AS VARCHAR) || ':' || source)")} % 1000 AS u
       |FROM documents)
       |SELECT doc_id, source, CAST(rate_permille AS BIGINT) AS rate_permille
       |FROM b WHERE u < rate_permille ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  /** Exact-K deterministic sample: 12 docs per source, md5-ranked. */
  private def qSampleTopK(t: Tables): DataFrame =
    Corpus.sampleExactK(t.documents, k = 12)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  private val qSampleTopKSql =
    s"""SELECT doc_id, source FROM (
       |SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source
       |ORDER BY ${hex6Sql("md5(CAST(doc_id AS VARCHAR) || ':' || source)")}, doc_id) AS rn
       |FROM documents) t WHERE rn <= 12 ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  // --- PII scrubbing ----------------------------------------------------

  /** The synthetic corpus carries no PII, so (like the embedding-dedup
    * positives) deterministic emails/ids are planted on every 5th doc in
    * BOTH engines — the scrub path is then exercised on real matches,
    * not just proven non-firing. */
  private def planted(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(5L)) === 0,
        concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
          lit("@example.com ref 99"), col("doc_id").cast("string"), lit("00")))
        .otherwise(col("text")).as("text"))

  private def qPiiScrub(t: Tables): DataFrame =
    Corpus.piiScrub(planted(t.documents)).orderBy(col("doc_id"))

  private val qPiiScrubSql =
    s"""WITH p AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
       |THEN text || ' contact u' || CAST(doc_id AS VARCHAR) ||
       |'@example.com ref 99' || CAST(doc_id AS VARCHAR) || '00'
       |ELSE text END AS text FROM documents)
       |SELECT doc_id,
       |CAST(len(regexp_extract_all(text, '${Corpus.EmailPattern}')) AS BIGINT) AS n_emails,
       |CAST(len(regexp_extract_all(text, '${Corpus.IdRunPattern}')) AS BIGINT) AS n_id_runs,
       |md5(regexp_replace(regexp_replace(text, '${Corpus.EmailPattern}', '<EMAIL>', 'g'),
       |'${Corpus.IdRunPattern}', '<ID>', 'g')) AS scrubbed_md5
       |FROM p ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  // --- markup stripping ---------------------------------------------------

  /** The synthetic corpus carries no markup, so tags + escaped entities
    * are planted on every 4th doc in BOTH engines (the PII-scrub
    * pattern): the strip chain is exercised on real matches. */
  private def qTextMarkup(t: Tables): DataFrame = {
    val planted = t.documents.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(4L)) === 0,
        concat(lit("<p class=\"x\">"), col("text"),
          lit("</p> <a href=\"y\">link&amp;here &lt;tag&gt;</a>")))
        .otherwise(col("text")).as("text"))
    Corpus.stripMarkup(planted).orderBy(col("doc_id"))
  }

  private val qTextMarkupSql = {
    val strip = """trim(regexp_replace(
      |replace(replace(replace(replace(replace(
      |regexp_replace(text, '<[^>]*>', ' ', 'g'),
      |'&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
      |'\s+', ' ', 'g'))""".stripMargin.replace('\n', ' ')
    s"""WITH p AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0
       |THEN '<p class="x">' || text || '</p> <a href="y">link&amp;here &lt;tag&gt;</a>'
       |ELSE text END AS text FROM documents)
       |SELECT doc_id,
       |CAST(len(regexp_extract_all(text, '<[^>]*>')) AS BIGINT) AS n_tags,
       |CAST(length($strip) AS BIGINT) AS clean_len,
       |md5($strip) AS clean_md5
       |FROM p ORDER BY doc_id""".stripMargin.replace('\n', ' ')
  }

  // --- sequence packing -------------------------------------------------

  private def qPackChunks(t: Tables): DataFrame =
    Corpus.chunkPack(t.documents, budget = 512).orderBy(col("doc_id"))

  private val qPackChunksSql =
    s"""WITH b AS (SELECT doc_id, source,
       |CAST(len($tokensSql) AS BIGINT) AS n_tokens FROM documents),
       |r AS (SELECT doc_id, source, n_tokens,
       |SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS strt FROM b)
       |SELECT doc_id, source, n_tokens,
       |CAST(strt // 512 AS BIGINT) AS chunk, CAST(strt % 512 AS BIGINT) AS offset
       |FROM r ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  // --- mixing stats -----------------------------------------------------

  private def qMixStats(t: Tables): DataFrame =
    Corpus.mixingStats(t.documents).orderBy(col("source"))

  private val qMixStatsSql =
    s"""WITH b AS MATERIALIZED (SELECT source, COUNT(*) AS n_docs,
       |CAST(SUM(len($tokensSql)) AS BIGINT) AS n_tokens
       |FROM documents GROUP BY source)
       |SELECT source, n_docs, n_tokens,
       |CAST((n_tokens * 1000000) // (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM b) AS BIGINT) AS share_e6
       |FROM b ORDER BY source""".stripMargin.replace('\n', ' ')

  // --- composite quality-filter pass ------------------------------------

  private val qfStop = Seq("the", "a", "of", "to", "in", "and", "is")

  /** The end-to-end filter pass a pre-training pipeline runs: keep docs
    * with composite quality ≥ 0.3, 2-gram duplicate fraction ≤ 0.1, and
    * predicted language en; report per-source kept doc/token counts.
    * Composes the quality, repetition, and lang-id signals in one plan —
    * each a codegen'd column expression, joined on doc_id. */
  private def qQualityFilter(t: Tables): DataFrame = {
    val d = t.documents
    val sig = d.select(col("doc_id"), col("source"),
        wordHits(col("text"), qfStop).as("n_stop"),
        tokenCount(col("text")).as("n_tokens"),
        alphaCount(col("text")).as("n_alpha"),
        length(col("text")).cast("long").as("n_len"),
        langId(col("text")).as("pred_lang"))
      .withColumn("score_e6", graft.sql.Exact.e6(
        qualityScore(col("n_stop"), col("n_tokens"), col("n_alpha"), col("n_len"))))
    val rep = Corpus.repetitionStats(d).select(col("doc_id"), col("dup_frac_e6"))
    sig.join(rep, Seq("doc_id"))
      .filter(col("score_e6") >= 300000 && col("dup_frac_e6") <= 100000 &&
        col("pred_lang") === "en")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_tokens")).as("kept_tokens"))
      .orderBy(col("source"))
  }

  private val qQualityFilterSql = {
    val sw = qfStop.map(w => s"'$w'").mkString(", ")
    val profs = TextFunctions.langProfiles.map { case (name, ws) =>
      val l = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter($tokensSql, t -> t IN ($l))) AS BIGINT) AS s_$name"
    }.mkString(", ")
    s"""WITH b AS MATERIALIZED (SELECT doc_id, source,
       |CAST(len(list_filter($tokensSql, t -> t IN ($sw))) AS BIGINT) AS n_stop,
       |CAST(len($tokensSql) AS BIGINT) AS n_tokens,
       |CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
       |CAST(length(text) AS BIGINT) AS n_len, $profs FROM documents),
       |sig AS MATERIALIZED (SELECT doc_id, source, n_tokens,
       |CAST(FLOOR((0.4 * (n_stop / n_tokens) + 0.4 * LEAST(n_tokens / 200.0, 1.0)
       |+ 0.2 * (n_alpha / n_len)) * 1000000) AS BIGINT) AS score_e6,
       |CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
       |WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS pred_lang FROM b),
       |toks AS MATERIALIZED (SELECT doc_id, $tokensSql AS tok FROM documents),
       |g AS MATERIALIZED (SELECT doc_id, concat_ws(' ', tok[CAST(i AS INT)], tok[CAST(i + 1 AS INT)]) AS gram
       |FROM toks, unnest(range(1, greatest(len(tok) - 1, 1) + 1)) AS t(i)),
       |c AS MATERIALIZED (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
       |dp AS MATERIALIZED (SELECT doc_id,
       |CAST(((SUM(cnt) - COUNT(*)) * 1000000) // SUM(cnt) AS BIGINT) AS dup_frac_e6
       |FROM c GROUP BY doc_id)
       |SELECT source, COUNT(*) AS kept_docs, CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
       |FROM sig JOIN dp USING (doc_id)
       |WHERE score_e6 >= 300000 AND dup_frac_e6 <= 100000 AND pred_lang = 'en'
       |GROUP BY source ORDER BY source""".stripMargin.replace('\n', ' ')
  }

  // --- train/eval contamination -----------------------------------------

  /** Eval set = the 20 lowest doc ids (a stand-in benchmark); corpus =
    * the rest. For each eval doc: the most-overlapping training doc by
    * shared distinct word 3-grams. */
  private def qContamination(t: Tables): DataFrame = {
    val d = t.documents
    Corpus.contamination(d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20))
      .orderBy(col("eval_id"))
  }

  private val qContaminationSql =
    s"""WITH g0 AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(
       |list_transform(range(1, greatest(len($tokensSql) - 2, 1) + 1),
       |i -> concat_ws(' ', $tokensSql[i], $tokensSql[i+1], $tokensSql[i+2])))) AS gram
       |FROM documents),
       |g AS MATERIALIZED (SELECT doc_id,
       |CAST(('0x' || substring(md5(gram), 1, 15)) AS BIGINT) AS gk FROM g0),
       |cg AS MATERIALIZED (SELECT doc_id AS train_id, gk FROM g WHERE train_id >= 20),
       |rare AS MATERIALIZED (SELECT gk FROM cg GROUP BY gk HAVING COUNT(*) <= 1000),
       |eg AS MATERIALIZED (SELECT doc_id AS eval_id, gk FROM g WHERE eval_id < 20),
       |es AS MATERIALIZED (SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS n_grams
       |FROM eg GROUP BY eval_id),
       |ov AS MATERIALIZED (SELECT eg.eval_id, cg.train_id, COUNT(*) AS shared
       |FROM eg JOIN rare USING (gk) JOIN cg USING (gk)
       |GROUP BY eg.eval_id, cg.train_id),
       |best AS (SELECT eval_id, train_id, shared FROM ov
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY eval_id
       |ORDER BY shared DESC, train_id) = 1)
       |SELECT b.eval_id, b.train_id, b.shared,
       |CAST((b.shared * 1000000) // es.n_grams AS BIGINT) AS overlap_e6
       |FROM best b JOIN es USING (eval_id) ORDER BY eval_id""".stripMargin.replace('\n', ' ')

  // --- BPE vocabulary training -------------------------------------------

  /** Real BPE training, 10 merges. The oracle unrolls every round: pair
    * counts → deterministic argmax → the parity-rule rewrite (the closed
    * form of left-to-right non-overlapping merging — overlapping matches
    * only arise in equal-symbol runs, where the rule keeps every even
    * offset). A hash match proves the kernel's greedy walk round-for-
    * round. */
  private def qBpeTrain(t: Tables): DataFrame =
    Corpus.bpeTrain(t.documents, numMerges = 10).orderBy(col("rank"))

  private val qBpeTrainSql = {
    val n = 10
    def round(t: Int): String = {
      val m = "(sym[CAST(i AS INT)] = b.l AND sym[CAST(i + 1 AS INT)] = b.r)"
      val mj = "(sym[CAST(j AS INT)] = b.l AND sym[CAST(j + 1 AS INT)] = b.r)"
      s"""p$t AS MATERIALIZED (SELECT sym[CAST(i AS INT)] AS l,
         |sym[CAST(i + 1 AS INT)] AS r, SUM(cnt) AS c
         |FROM w$t, unnest(range(1, len(sym))) AS u$t(i) GROUP BY 1, 2),
         |b$t AS MATERIALIZED (SELECT l, r, c FROM p$t ORDER BY c DESC, l, r LIMIT 1),
         |w${t + 1} AS MATERIALIZED (SELECT cnt,
         |CASE WHEN len(sym) < 2 THEN sym ELSE
         |list_filter(list_transform(range(1, len(sym) + 1), i ->
         |CASE WHEN list_contains(sel, i) THEN sym[CAST(i AS INT)] || sym[CAST(i + 1 AS INT)]
         |WHEN list_contains(sel, i - 1) THEN NULL
         |ELSE sym[CAST(i AS INT)] END), x -> x IS NOT NULL) END AS sym FROM (
         |SELECT cnt, sym, list_filter(range(1, len(sym)), i -> $m AND
         |((i - 1 - COALESCE(list_max(list_filter(range(1, i), j -> NOT $mj)), 0)) % 2 = 0)) AS sel
         |FROM w$t, b$t b) z$t)""".stripMargin.replace('\n', ' ')
    }
    val rounds = (0 until n).map(round).mkString(", ")
    val union = (0 until n).map(t =>
      s"SELECT $t AS t, l, r, c FROM b$t").mkString(" UNION ALL ")
    s"""WITH w0 AS MATERIALIZED (SELECT cnt,
       |list_transform(range(1, length(w) + 1), i -> w[CAST(i AS INT)]) AS sym FROM (
       |SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |SELECT unnest($tokensSql) AS w FROM documents) q GROUP BY w) g),
       |$rounds
       |SELECT CAST(t AS INT) AS rank, l AS lhs, r AS rhs,
       |CAST(c AS BIGINT) AS pair_cnt FROM ($union) ORDER BY rank""".stripMargin.replace('\n', ' ')
  }

  /** Train 10 merges, then TOKENIZE the corpus with them — the full
    * train→encode chain in one oracle: the DuckDB side re-learns the
    * same merge table (word strings riding along this time) and re-plays
    * the merges over every document's token stream in order, so the
    * md5'd piece stream matches only if both the trainer and the encoder
    * agree round-for-round, word-for-word. */
  private def qBpeEncode(t: Tables): DataFrame = {
    val docs = t.documents
    val merges = Corpus.bpeTrain(docs, numMerges = 10).orderBy(col("rank"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    Corpus.bpeEncode(docs, merges)
      .select(col("doc_id"), size(col("pieces")).as("n_pieces"),
        md5(concat_ws("\u0001", col("pieces"))).as("pieces_md5"))
      .orderBy(col("doc_id"))
  }

  /** Shared BPE train→encode CTE chain (w0 → 10 merge rounds → per-doc
    * token stream `dt` → per-doc `agg(pieces)`); the encode query and
    * the fertility panel both close over it. */
  private def bpeEncodeCtes: String = {
    val n = 10
    def round(t: Int): String = {
      val m = "(sym[CAST(i AS INT)] = b.l AND sym[CAST(i + 1 AS INT)] = b.r)"
      val mj = "(sym[CAST(j AS INT)] = b.l AND sym[CAST(j + 1 AS INT)] = b.r)"
      s"""p$t AS MATERIALIZED (SELECT sym[CAST(i AS INT)] AS l,
         |sym[CAST(i + 1 AS INT)] AS r, SUM(cnt) AS c
         |FROM w$t, unnest(range(1, len(sym))) AS u$t(i) GROUP BY 1, 2),
         |b$t AS MATERIALIZED (SELECT l, r, c FROM p$t ORDER BY c DESC, l, r LIMIT 1),
         |w${t + 1} AS MATERIALIZED (SELECT w, cnt,
         |CASE WHEN len(sym) < 2 THEN sym ELSE
         |list_filter(list_transform(range(1, len(sym) + 1), i ->
         |CASE WHEN list_contains(sel, i) THEN sym[CAST(i AS INT)] || sym[CAST(i + 1 AS INT)]
         |WHEN list_contains(sel, i - 1) THEN NULL
         |ELSE sym[CAST(i AS INT)] END), x -> x IS NOT NULL) END AS sym FROM (
         |SELECT w, cnt, sym, list_filter(range(1, len(sym)), i -> $m AND
         |((i - 1 - COALESCE(list_max(list_filter(range(1, i), j -> NOT $mj)), 0)) % 2 = 0)) AS sel
         |FROM w$t, b$t b) z$t)""".stripMargin.replace('\n', ' ')
    }
    val rounds = (0 until n).map(round).mkString(", ")
    s"""w0 AS MATERIALIZED (SELECT w, cnt,
       |list_transform(range(1, length(w) + 1), i -> w[CAST(i AS INT)]) AS sym FROM (
       |SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |SELECT unnest($tokensSql) AS w FROM documents) q GROUP BY w) g),
       |$rounds,
       |dt AS MATERIALIZED (SELECT doc_id, i, ts[CAST(i AS INT)] AS w FROM (
       |SELECT doc_id, $tokensSql AS ts FROM documents) qd,
       |unnest(range(1, len(ts) + 1)) AS ut(i)),
       |agg AS (SELECT dt.doc_id, flatten(list(wv.sym ORDER BY dt.i)) AS pieces
       |FROM dt JOIN w$n wv ON wv.w = dt.w GROUP BY dt.doc_id)""".stripMargin.replace('\n', ' ')
  }

  private val qBpeEncodeSql =
    s"""WITH $bpeEncodeCtes
       |SELECT doc_id, CAST(len(pieces) AS INT) AS n_pieces,
       |md5(array_to_string(pieces, chr(1))) AS pieces_md5
       |FROM agg ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  /** Tokenizer fertility panel: BPE pieces per whitespace word, per
    * source — the vocabulary-quality metric an LLM data team tracks per
    * domain (high fertility = the vocabulary fragments that domain).
    * Runs the full 10-merge train→encode chain; word counts come from
    * the SAME token stream the encoder consumes. */
  private def qBpeFertility(t: Tables): DataFrame = {
    val docs = t.documents
    val merges = Corpus.bpeTrain(docs, numMerges = 10).orderBy(col("rank"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = Corpus.bpeEncode(docs, merges)
      .select(col("doc_id"), size(col("pieces")).cast("long").as("n_pieces"))
    val words = docs.select(col("doc_id"), col("source"),
      size(graft.text.TextFunctions.tokens(col("text"))).cast("long").as("n_words"))
    words.join(enc, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(sum(col("n_words")).cast("long").as("n_words"),
        sum(col("n_pieces")).cast("long").as("n_pieces"))
      .withColumn("fertility_e6", expr("(n_pieces * 1000000) div n_words"))
      .orderBy(col("source"))
  }

  private val qBpeFertilitySql =
    s"""WITH $bpeEncodeCtes,
       |wr AS (SELECT doc_id, COUNT(*) AS n_words FROM dt GROUP BY 1),
       |pc AS (SELECT doc_id, CAST(len(pieces) AS BIGINT) AS n_pieces FROM agg)
       |SELECT d.source, CAST(SUM(n_words) AS BIGINT) AS n_words,
       |CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
       |(CAST(SUM(n_pieces) AS BIGINT) * 1000000) // CAST(SUM(n_words) AS BIGINT) AS fertility_e6
       |FROM documents d JOIN wr ON wr.doc_id = d.doc_id
       |JOIN pc ON pc.doc_id = d.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin.replace('\n', ' ')

  // --- unigram surprisal -------------------------------------------------

  /** Perplexity-style LM quality score in pure integers: per token
    * instance floor(log2(T/c)) bits via bitlength(T div c) − 1 —
    * `length(bin(x)) − 1` in both engines, so the oracle hash-matches
    * with no libm ln()/log2() anywhere (the documented ulp trap). */
  private def qTextSurprisal(t: Tables): DataFrame =
    Corpus.surprisalScore(t.documents).orderBy(col("doc_id"))

  private val qTextSurprisalSql =
    s"""WITH tk AS MATERIALIZED (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
       |cnt AS MATERIALIZED (SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok),
       |tot AS (SELECT COUNT(*) AS t FROM tk),
       |sc AS (SELECT tk.doc_id,
       |length(bin(CAST(tot.t // cnt.c AS BIGINT))) - 1 AS bits
       |FROM tk JOIN cnt ON cnt.tok = tk.tok, tot)
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |CAST(SUM(bits) AS BIGINT) AS total_bits,
       |CAST(SUM(bits) * 1000000 // COUNT(*) AS BIGINT) AS bits_per_token_e6
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  /** Bigram conditional surprisal — same integer floor-log2 discipline. */
  private def qTextBigramSurprisal(t: Tables): DataFrame =
    Corpus.bigramSurprisalScore(t.documents).orderBy(col("doc_id"))

  private val qTextBigramSurprisalSql =
    s"""WITH bt AS MATERIALIZED (SELECT doc_id, t[CAST(i AS INT)] AS a,
       |t[CAST(i + 1 AS INT)] AS b FROM (
       |SELECT doc_id, $tokensSql AS t FROM documents) q,
       |unnest(range(1, len(t))) AS ut(i) WHERE len(t) >= 2),
       |cb AS MATERIALIZED (SELECT a, b, COUNT(*) AS cb FROM bt GROUP BY a, b),
       |cp AS MATERIALIZED (SELECT a, SUM(cb) AS cp FROM cb GROUP BY a),
       |sc AS (SELECT bt.doc_id,
       |length(bin(CAST(cp.cp // cb.cb AS BIGINT))) - 1 AS bits
       |FROM bt JOIN cb ON cb.a = bt.a AND cb.b = bt.b JOIN cp ON cp.a = bt.a)
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |CAST(SUM(bits) AS BIGINT) AS total_bits,
       |CAST(SUM(bits) * 1000000 // COUNT(*) AS BIGINT) AS bits_per_bigram_e6
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  /** Hash-priority weighted sample ([[Corpus.weightedSample]]): 50 docs
    * biased toward large n_chars, exact-integer priorities. */
  private def qSampleWeighted(t: Tables): DataFrame =
    Corpus.weightedSample(t.documents
        .select(col("doc_id"), col("source"), col("n_chars")),
      k = 50, weightCol = "n_chars")

  private val qSampleWeightedSql =
    s"""SELECT doc_id, source, n_chars,
       |(${hex6Sql("md5(CAST(doc_id AS VARCHAR))")} * 1000000) // n_chars AS priority
       |FROM documents
       |ORDER BY priority, doc_id LIMIT 50""".stripMargin.replace('\n', ' ')

  /** Count-min heavy-hitter estimates for the 10 most frequent tokens
    * ([[graft.functions.Sketches.cmsEstimates]], d=3 w=256): estimate
    * AND exact count side by side, integer-reproducible. */
  private def qTopkCms(t: Tables): DataFrame = {
    val toks = t.documents
      .select(explode(graft.text.TextFunctions.tokens(col("text"))).as("token"))
    val probes = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(10).select(col("token"))
    graft.functions.Sketches.cmsEstimates(toks, "token", probes, d = 3, w = 256)
  }

  private val qTopkCmsSql = graft.functions.Sketches.cmsEstimatesSql(
    s"(SELECT unnest($tokensSql) AS token FROM documents) z", "token",
    topN = 10, d = 3, w = 256)

  // --- hashed linear classifier / inverted index / temperature mix -----

  /** Hashed linear quality scorer ([[Corpus.hashedLinearScore]]): the
    * model-scoring pass shape with a bucket-derived stand-in weight
    * table the oracle replays exactly. */
  private def qQualityClassifier(t: Tables): DataFrame =
    Corpus.hashedLinearScore(t.documents).orderBy(col("doc_id"))

  private val qQualityClassifierSql =
    s"""WITH t AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
       |w AS (SELECT doc_id, (${hex6Sql("md5(tok)")} % 1024) % 17 - 8 AS w FROM t)
       |SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score, COUNT(*) AS n_tokens,
       |CASE WHEN SUM(w) >= 0 THEN 1 ELSE 0 END AS positive
       |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  /** Inverted index ([[Corpus.invertedIndex]]): df-ranked tokens with
    * rank-capped posting previews. */
  private def qIndexPostings(t: Tables): DataFrame =
    Corpus.invertedIndex(t.documents, topN = 25)

  private val qIndexPostingsSql =
    s"""WITH t AS (SELECT DISTINCT doc_id, unnest($tokensSql) AS token FROM documents),
       |df AS (SELECT token, COUNT(*) AS n_docs FROM t GROUP BY token),
       |capped AS (SELECT token, doc_id FROM (
       |SELECT token, doc_id, ROW_NUMBER() OVER (PARTITION BY token ORDER BY doc_id) AS rn
       |FROM t) z WHERE rn <= 20),
       |p AS (SELECT token, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
       |FROM capped GROUP BY token)
       |SELECT df.token, df.n_docs, p.postings
       |FROM df JOIN p USING (token)
       |ORDER BY n_docs DESC, token LIMIT 25""".stripMargin.replace('\n', ' ')

  /** α=1/2 temperature mixture weights ([[Corpus.temperatureWeights]]):
    * √ is IEEE-correctly-rounded on both engines, so the floor-scaled
    * weight is hash-safe (unlike ln/exp). */
  private def qMixTemperature(t: Tables): DataFrame =
    Corpus.temperatureWeights(t.documents).orderBy(col("source"))

  private val qMixTemperatureSql =
    s"""WITH b AS MATERIALIZED (SELECT source,
       |CAST(SUM(len($tokensSql)) AS BIGINT) AS n_tokens
       |FROM documents GROUP BY source),
       |w AS MATERIALIZED (SELECT source, n_tokens,
       |CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1000) AS BIGINT) AS w_e3 FROM b)
       |SELECT source, n_tokens, w_e3,
       |CAST((w_e3 * 1000000) // (SELECT CAST(SUM(w_e3) AS BIGINT) FROM w) AS BIGINT) AS share_e6
       |FROM w ORDER BY source""".stripMargin.replace('\n', ' ')

  /** Top-100 bigram collocations by rational PMI (min pair count 5);
    * arithmetic contract in [[graft.pipeline.Corpus.collocations]]. */
  private def qCollocations(t: Tables): DataFrame =
    Corpus.collocations(t.documents, minCount = 5L, topK = 100)

  private val qCollocationsSql =
    s"""WITH toks AS MATERIALIZED (SELECT $tokensSql AS tok FROM documents),
       |uni AS MATERIALIZED (SELECT u.t AS tok, COUNT(*) AS c FROM toks, unnest(tok) AS u(t) GROUP BY 1),
       |g AS MATERIALIZED (SELECT concat_ws(' ', tok[CAST(i AS INT)], tok[CAST(i + 1 AS INT)]) AS gram
       |FROM toks, unnest(range(1, greatest(len(tok) - 1, 1) + 1)) AS t(i)),
       |bi AS MATERIALIZED (SELECT gram, COUNT(*) AS c_xy FROM g GROUP BY 1),
       |n AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n_bi FROM bi),
       |sp AS (SELECT gram, c_xy, string_split(gram, ' ')[1] AS x,
       |string_split(gram, ' ')[2] AS y FROM bi WHERE c_xy >= 5)
       |SELECT gram, c_xy, ux.c AS c_x, uy.c AS c_y,
       |CAST((c_xy * n_bi * 1000000) // (ux.c * uy.c) AS BIGINT) AS pmi_ratio_e6
       |FROM sp JOIN uni ux ON sp.x = ux.tok JOIN uni uy ON sp.y = uy.tok CROSS JOIN n
       |ORDER BY pmi_ratio_e6 DESC, gram LIMIT 100""".stripMargin.replace('\n', ' ')

  /** Hashing-trick sparse features for every 10th document (bounded
    * output; the operator itself is corpus-wide) — see
    * [[graft.pipeline.Corpus.hashFeatures]]. */
  private def qFeatureHash(t: Tables): DataFrame =
    Corpus.hashFeatures(
        t.documents.filter(col("doc_id") % 10 === 0), buckets = 256)
      .orderBy(col("doc_id"), col("bucket"))

  private val qFeatureHashSql =
    s"""WITH d AS (SELECT doc_id, $tokensSql AS tok FROM documents WHERE doc_id % 10 = 0),
       |t AS (SELECT doc_id, u.t AS tok FROM d, unnest(tok) AS u(t)),
       |b AS (SELECT doc_id, ${hex6Sql("md5(tok)")} % 256 AS bucket FROM t)
       |SELECT doc_id, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin.replace('\n', ' ')

  /** Corpus snapshot diff — the daily "what changed between ingests"
    * report: two deterministic snapshot views of the documents table
    * (old = doc_id < 400; new = doc_id ≥ 100 with every 7th doc's text
    * perturbed) full-outer-joined on doc_id and classified
    * added/removed/changed/unchanged by content md5. One shuffle on the
    * id; at 100 TB both sides are partitioned snapshot reads and the
    * md5 rides the scan. */
  private def qSnapshotDiff(t: Tables): DataFrame = {
    val d = t.documents
    val old = d.filter(col("doc_id") < 400)
      .select(col("doc_id"), md5(col("text")).as("h_old"))
    val nw = d.filter(col("doc_id") >= 100)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, md5(concat(col("text"), lit("!"))))
          .otherwise(md5(col("text"))).as("h_new"))
    old.join(nw, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h_old").isNull, lit("added"))
          .when(col("h_new").isNull, lit("removed"))
          .when(col("h_old") =!= col("h_new"), lit("changed"))
          .otherwise(lit("unchanged")).as("cls"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_id"),
        max(col("doc_id")).as("last_id"))
      .orderBy(col("cls"))
  }

  private val qSnapshotDiffSql =
    """WITH o AS (SELECT doc_id, md5(text) AS h_old FROM documents WHERE doc_id < 400),
      |n AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN md5(text || '!')
      |ELSE md5(text) END AS h_new FROM documents WHERE doc_id >= 100),
      |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |CASE WHEN h_old IS NULL THEN 'added' WHEN h_new IS NULL THEN 'removed'
      |WHEN h_old <> h_new THEN 'changed' ELSE 'unchanged' END AS cls
      |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
      |SELECT cls, COUNT(*) AS n, MIN(doc_id) AS first_id, MAX(doc_id) AS last_id
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin.replace('\n', ' ')

  /** End-to-end preprocessing capstone — the four pipeline stages a
    * training-data run actually chains, composed as ONE declarative
    * plan so Catalyst sees (and optimizes) the whole lineage:
    * quality gate (≥ 20 tokens, ≥ 30% distinct) → exact dedup
    * (min-doc_id survivor per content md5) → deterministic 50% sample
    * (md5-uniform) → per-source rollup. Every stage reuses an operator
    * family oracled on its own elsewhere; this query pins their
    * COMPOSITION (stage order matters: dedup before sampling keeps the
    * sample rate honest). One explode-agg + two hash aggs + one final
    * rollup — no stage materializes an intermediate. */
  private def qPipelineE2e(t: Tables): DataFrame = {
    val d = t.documents
    val toks = d.select(col("doc_id"), col("source"), col("text"),
      size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"),
      size(array_distinct(TextFunctions.tokens(col("text")))).cast("long").as("n_uniq"))
    val quality = toks.filter(col("n_tok") >= 20 &&
      col("n_uniq") * 10 >= col("n_tok") * 3)
    val deduped = quality
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
    val sampled = deduped.filter(
      pmod(Corpus.md5Uniform(col("doc_id").cast("string")), lit(2L)) === 0)
    sampled.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("n_tokens"),
        min(col("doc_id")).as("first_id"), max(col("doc_id")).as("last_id"))
      .orderBy(col("source"))
  }

  private val qPipelineE2eSql =
    s"""WITH t AS MATERIALIZED (SELECT doc_id, source, text,
       |CAST(len($tokensSql) AS BIGINT) AS n_tok,
       |CAST(len(list_distinct($tokensSql)) AS BIGINT) AS n_uniq
       |FROM documents),
       |q AS (SELECT * FROM t WHERE n_tok >= 20 AND n_uniq * 10 >= n_tok * 3),
       |dd AS (SELECT * FROM q QUALIFY
       |ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
       |sm AS (SELECT * FROM dd WHERE
       |${hex6Sql("md5(CAST(doc_id AS VARCHAR))")} % 2 = 0)
       |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |MIN(doc_id) AS first_id, MAX(doc_id) AS last_id
       |FROM sm GROUP BY 1 ORDER BY 1""".stripMargin.replace('\n', ' ')

  /** Zipf-law check over the corpus vocabulary: for the top 20 tokens
    * by frequency (unique (cnt desc, token) order), the product
    * rank·freq as an exact e6 share of rank-1's frequency — under
    * Zipf, zipf_e6 ≈ constant across ranks. Log-free by construction
    * (the log-log slope is the consumer's; these invariants are
    * hash-exact). One explode-agg + one 20-row window. */
  private def qTextZipf(t: Tables): DataFrame = {
    val toks = t.documents
      .select(explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("cnt").desc, col("token"))
    toks.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 20)
      .withColumn("f1", max(when(col("rank") === 1, col("cnt"))).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("rank"), col("token"), col("cnt"),
        expr("(rank * cnt * 1000000) div f1").as("zipf_e6"))
      .orderBy(col("rank"))
  }

  private val qTextZipfSql =
    s"""WITH toks AS MATERIALIZED (SELECT unnest($tokensSql) AS token FROM documents),
       |c AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1),
       |r AS (SELECT token, cnt,
       |CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank
       |FROM c QUALIFY rank <= 20),
       |f AS (SELECT MAX(CASE WHEN rank = 1 THEN cnt END) AS f1 FROM r)
       |SELECT rank, token, cnt, CAST((rank * cnt * 1000000) // f1 AS BIGINT) AS zipf_e6
       |FROM r CROSS JOIN f ORDER BY rank""".stripMargin.replace('\n', ' ')

  /** Vocabulary richness per source: token count, type count, hapax
    * legomena (types occurring once IN that source), type-token ratio
    * and hapax share — the corpus-linguistics diversity panel, all
    * exact integers (two explode-aggs, map-side combined). */
  private def qTextHapax(t: Tables): DataFrame = {
    val tf = t.documents
      .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
    tf.groupBy(col("source"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_types"),
        count(when(col("c") === 1, lit(1))).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("(n_types * 1000000) div n_tokens").as("ttr_e6"),
        expr("(n_hapax * 1000000) div n_types").as("hapax_share_e6"))
      .orderBy(col("source"))
  }

  private val qTextHapaxSql =
    s"""WITH tf AS MATERIALIZED (SELECT source, u.t AS tok, COUNT(*) AS c
       |FROM (SELECT source, $tokensSql AS tk FROM documents) d, unnest(tk) AS u(t)
       |GROUP BY 1, 2),
       |a AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_types,
       |COUNT(*) FILTER (WHERE c = 1) AS n_hapax FROM tf GROUP BY 1)
       |SELECT source, n_tokens, n_types, n_hapax,
       |CAST((n_types * 1000000) // n_tokens AS BIGINT) AS ttr_e6,
       |CAST((n_hapax * 1000000) // n_types AS BIGINT) AS hapax_share_e6
       |FROM a ORDER BY source""".stripMargin.replace('\n', ' ')

  // --- duplicated spans -------------------------------------------------

  /** Token-10-gram duplicated-span rollup per doc (docs sharing any
    * 10-token window with another doc). Both engines key on the same
    * 60-bit md5 gram fingerprint. */
  private def qDedupSpans(t: Tables): DataFrame =
    Corpus.dupSpans(t.documents, n = 10).orderBy(col("doc_id"))

  private val qDedupSpansSql =
    s"""WITH t AS MATERIALIZED (SELECT doc_id, $tokensSql AS tok FROM documents),
       |g0 AS MATERIALIZED (SELECT doc_id, concat_ws(' ',
       |${(0 until 10).map(o => s"tok[CAST(i + $o AS INT)]").mkString(", ")}) AS gram
       |FROM t, unnest(range(1, greatest(len(tok) - 9, 1) + 1)) AS u(i)),
       |g AS MATERIALIZED (SELECT doc_id,
       |CAST(('0x' || substring(md5(gram), 1, 15)) AS BIGINT) AS gk FROM g0),
       |dup AS (SELECT gk FROM g GROUP BY gk HAVING COUNT(DISTINCT doc_id) >= 2),
       |r AS (SELECT g.doc_id, COUNT(*) AS n_windows,
       |COUNT(*) FILTER (WHERE dup.gk IS NOT NULL) AS n_dup
       |FROM g LEFT JOIN dup ON g.gk = dup.gk GROUP BY g.doc_id)
       |SELECT doc_id, n_windows, n_dup,
       |CAST((n_dup * 1000000) // n_windows AS BIGINT) AS dup_frac_e6
       |FROM r WHERE n_dup > 0 ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  /** Span-cut accounting: tokens covered by any duplicated 10-window,
    * kept fraction per doc — the excision size report completing the
    * q_dedup_spans detect pass. */
  private def qDedupSpansCut(t: Tables): DataFrame =
    Corpus.dupSpanCut(t.documents, n = 10).orderBy(col("doc_id"))

  private val qDedupSpansCutSql =
    s"""WITH t AS MATERIALIZED (SELECT doc_id, $tokensSql AS tok FROM documents),
       |g0 AS MATERIALIZED (SELECT doc_id, CAST(i AS BIGINT) AS i, concat_ws(' ',
       |${(0 until 10).map(o => s"tok[CAST(i + $o AS INT)]").mkString(", ")}) AS gram
       |FROM t, unnest(range(1, greatest(len(tok) - 9, 1) + 1)) AS u(i)),
       |g AS MATERIALIZED (SELECT doc_id, i,
       |CAST(('0x' || substring(md5(gram), 1, 15)) AS BIGINT) AS gk FROM g0),
       |dup AS MATERIALIZED (SELECT gk FROM g GROUP BY gk
       |HAVING MIN(doc_id) <> MAX(doc_id)),
       |nt AS MATERIALIZED (SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens FROM t),
       |cov AS MATERIALIZED (SELECT g.doc_id, u.p
       |FROM g JOIN dup USING (gk) JOIN nt USING (doc_id),
       |unnest(range(g.i, least(g.i + 9, nt.n_tokens) + 1)) AS u(p)),
       |cut AS (SELECT doc_id, COUNT(DISTINCT p) AS n_cut FROM cov GROUP BY doc_id)
       |SELECT nt.doc_id, nt.n_tokens, COALESCE(cut.n_cut, 0) AS n_cut,
       |CAST(((nt.n_tokens - COALESCE(cut.n_cut, 0)) * 1000000) // nt.n_tokens AS BIGINT) AS kept_frac_e6
       |FROM nt LEFT JOIN cut USING (doc_id) ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  // --- Gopher quality rules ---------------------------------------------

  /** Gopher rule panel: per-rule integer flags + conjunction. Pure
    * projection in both engines (no shuffle on the Spark side). */
  private def qQualityGopher(t: Tables): DataFrame =
    Corpus.gopherRules(t.documents).orderBy(col("doc_id"))

  private val qQualityGopherSql =
    s"""WITH t AS (SELECT doc_id, $tokensSql AS tok FROM documents),
       |b AS (SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_words,
       |CAST(list_sum(list_transform(tok, x -> length(x))) AS BIGINT) AS sum_len,
       |CAST(len(list_intersect(list_distinct(tok),
       |['the', 'a', 'of', 'to', 'and'])) AS BIGINT) AS stop_hits FROM t),
       |m AS (SELECT doc_id, n_words,
       |(sum_len * 1000000) // greatest(n_words, 1) AS mean_wlen_e6, stop_hits FROM b),
       |f AS (SELECT doc_id, n_words, mean_wlen_e6, stop_hits,
       |CAST(CASE WHEN n_words BETWEEN 10 AND 1000 THEN 1 ELSE 0 END AS BIGINT) AS r_words,
       |CAST(CASE WHEN mean_wlen_e6 BETWEEN 3000000 AND 10000000 THEN 1 ELSE 0 END AS BIGINT) AS r_wlen,
       |CAST(CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stop
       |FROM m)
       |SELECT doc_id, n_words, mean_wlen_e6, stop_hits, r_words, r_wlen, r_stop,
       |r_words * r_wlen * r_stop AS pass
       |FROM f ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  /** Per-source diversity panel: floor-log2 Shannon entropy + top-token
    * concentration, exact integers (the mixing-config input). */
  private def qTextEntropy(t: Tables): DataFrame =
    Corpus.entropyPanel(t.documents).orderBy(col("source"))

  private val qTextEntropySql =
    s"""WITH tk AS MATERIALIZED (SELECT source, unnest($tokensSql) AS tok FROM documents),
       |tf AS MATERIALIZED (SELECT source, tok, COUNT(*) AS c FROM tk GROUP BY 1, 2),
       |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM tf GROUP BY 1),
       |b AS (SELECT tf.source, tf.c, tot.t,
       |(length(bin(CAST(tot.t // tf.c AS BIGINT))) - 1) * tf.c AS cb
       |FROM tf JOIN tot USING (source))
       |SELECT source, MAX(t) AS n_tokens, COUNT(*) AS n_types,
       |CAST(MAX(c) * 1000000 // MAX(t) AS BIGINT) AS top_share_e6,
       |CAST(CAST(SUM(cb) AS BIGINT) * 1000000 // MAX(t) AS BIGINT) AS entropy_floor_e6
       |FROM b GROUP BY source ORDER BY source""".stripMargin.replace('\n', ' ')

  /** Token burstiness panel: for the 20 highest-cf tokens, collection
    * frequency vs document frequency and the per-doc dispersion ratio —
    * separates evenly-spread function words from bursty topical terms. */
  private def qTextBurstiness(t: Tables): DataFrame = {
    val tf = t.documents
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cf"),
        countDistinct(col("doc_id")).as("df"))
    val n = t.documents.count()
    tf.select(col("tok"), col("cf"), col("df"),
        expr(s"(df * 1000000) div $n").as("doc_share_e6"),
        expr("(cf * 1000000) div df").as("dispersion_e6"))
      .orderBy(col("cf").desc, col("tok")).limit(20)
  }

  private val qTextBurstinessSql =
    s"""WITH tk AS MATERIALIZED (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
       |tf AS (SELECT tok, COUNT(*) AS cf, COUNT(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents)
       |SELECT tok, cf, df,
       |CAST((df * 1000000) // n_docs AS BIGINT) AS doc_share_e6,
       |CAST((cf * 1000000) // df AS BIGINT) AS dispersion_e6
       |FROM tf CROSS JOIN n ORDER BY cf DESC, tok LIMIT 20""".stripMargin.replace('\n', ' ')

  /** RAKE-shaped keyword panel: window-±2 co-occurrence degree over
    * frequency, top 20 — exact integers. */
  private def qTextRake(t: Tables): DataFrame =
    Corpus.rakeKeywords(t.documents, window = 2, topK = 20)

  private val qTextRakeSql =
    s"""WITH tk AS MATERIALIZED (SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS p,
       |arr[CAST(u.i AS INT)] AS tok FROM
       |(SELECT doc_id, $tokensSql AS arr FROM documents) d,
       |unnest(range(1, len(arr) + 1)) AS u(i)),
       |deg AS (SELECT a.tok, COUNT(*) AS deg FROM tk a JOIN tk b
       |ON a.doc_id = b.doc_id AND a.p <> b.p AND abs(a.p - b.p) <= 2
       |GROUP BY a.tok),
       |freq AS (SELECT tok, COUNT(*) AS freq FROM tk GROUP BY 1)
       |SELECT tok, deg, freq,
       |CAST((deg * 1000000) // freq AS BIGINT) AS score_e6
       |FROM deg JOIN freq USING (tok)
       |ORDER BY score_e6 DESC, tok LIMIT 20""".stripMargin.replace('\n', ' ')

  // --- DSIR importance scores -------------------------------------------

  /** DSIR-shaped selection scores against the English-target slice:
    * hashed-unigram (64-bucket) smoothed frequency ratios, per-doc mean.
    * Exact e6 integers end to end. */
  private def qDsirScores(t: Tables): DataFrame =
    Corpus.dsirScores(t.documents, col("lang") === "en")
      .orderBy(col("doc_id"))

  private val qDsirScoresSql =
    s"""WITH toks AS MATERIALIZED (SELECT doc_id, tgt,
       |${hex6Sql("md5(token)")} % 64 AS b FROM (
       |SELECT doc_id, lang = 'en' AS tgt, unnest($tokensSql) AS token FROM documents) z),
       |cnt AS MATERIALIZED (SELECT b, COUNT(*) AS c_all,
       |COUNT(*) FILTER (WHERE tgt) AS c_tgt FROM toks GROUP BY 1),
       |tot AS (SELECT CAST(SUM(c_all) AS BIGINT) AS n_all,
       |CAST(SUM(c_tgt) AS BIGINT) AS n_tgt FROM cnt),
       |ratio AS (SELECT b,
       |CAST(((c_tgt + 1) * (n_all + 64) * 1000000) // ((c_all + 1) * (n_tgt + 64)) AS BIGINT) AS ratio_e6
       |FROM cnt CROSS JOIN tot)
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |CAST(CAST(SUM(ratio_e6) AS BIGINT) // COUNT(*) AS BIGINT) AS score_e6
       |FROM toks JOIN ratio USING (b)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  // --- Luhn-validated PII detection -------------------------------------

  /** Luhn checksum scan over planted 16-digit runs (every 7th doc gets
    * its zero-padded doc_id as a card-shaped number — validity then
    * varies by doc_id, exercising both checksum branches). */
  private def qPiiLuhn(t: Tables): DataFrame = {
    val docs = t.documents.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(7L)) === 0,
        concat(col("text"), lit(" card "),
          lpad(col("doc_id").cast("string"), 16, "0")))
        .otherwise(col("text")).as("text"))
    Corpus.luhnScan(docs).orderBy(col("doc_id"))
  }

  private val qPiiLuhnSql = {
    val digit = "CAST(substring(s, CAST(i AS INT), 1) AS BIGINT)"
    val luhn =
      s"""(list_sum(list_transform(range(1, 17), i ->
         |CASE WHEN i % 2 = 1 THEN
         |CASE WHEN 2 * $digit > 9 THEN 2 * $digit - 9 ELSE 2 * $digit END
         |ELSE $digit END)) % 10 = 0)""".stripMargin.replace('\n', ' ')
    s"""WITH p AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
       |THEN text || ' card ' || lpad(CAST(doc_id AS VARCHAR), 16, '0')
       |ELSE text END AS text FROM documents),
       |c AS (SELECT doc_id, regexp_extract_all(text, '[0-9]{16}') AS cands FROM p)
       |SELECT doc_id, CAST(len(cands) AS BIGINT) AS n_candidates,
       |CAST(len(list_filter(cands, s -> $luhn)) AS BIGINT) AS n_valid
       |FROM c WHERE len(cands) > 0 ORDER BY doc_id""".stripMargin.replace('\n', ' ')
  }

  // --- registry ---------------------------------------------------------

  val queries: Seq[Query] = Seq(
    Query("q_text_repetition", qTextRepetition, qTextRepetitionSql),
    Query("q_text_tfidf", qTfidf, qTfidfSql),
    Query("q_vocab_top", qVocab, qVocabSql),
    Query("q_sample_stratified", qSampleStratified, qSampleStratifiedSql),
    Query("q_sample_topk", qSampleTopK, qSampleTopKSql),
    Query("q_pii_scrub", qPiiScrub, qPiiScrubSql),
    Query("q_pack_chunks", qPackChunks, qPackChunksSql),
    Query("q_mix_stats", qMixStats, qMixStatsSql),
    Query("q_contamination", qContamination, qContaminationSql),
    Query("q_quality_filter", qQualityFilter, qQualityFilterSql),
    Query("q_text_surprisal", qTextSurprisal, qTextSurprisalSql),
    Query("q_bpe_train", qBpeTrain, qBpeTrainSql),
    Query("q_bpe_encode", qBpeEncode, qBpeEncodeSql),
    Query("q_bpe_fertility", qBpeFertility, qBpeFertilitySql),
    Query("q_text_bigram_surprisal", qTextBigramSurprisal, qTextBigramSurprisalSql),
    Query("q_text_markup", qTextMarkup, qTextMarkupSql),
    Query("q_sample_weighted", qSampleWeighted, qSampleWeightedSql),
    Query("q_topk_cms", qTopkCms, qTopkCmsSql),
    Query("q_quality_classifier", qQualityClassifier, qQualityClassifierSql),
    Query("q_index_postings", qIndexPostings, qIndexPostingsSql),
    Query("q_mix_temperature", qMixTemperature, qMixTemperatureSql),
    Query("q_text_pmi", qCollocations, qCollocationsSql),
    Query("q_feature_hash", qFeatureHash, qFeatureHashSql),
    Query("q_snapshot_diff", qSnapshotDiff, qSnapshotDiffSql),
    Query("q_pipeline_e2e", qPipelineE2e, qPipelineE2eSql),
    Query("q_text_zipf", qTextZipf, qTextZipfSql),
    Query("q_text_hapax", qTextHapax, qTextHapaxSql),
    Query("q_dedup_spans", qDedupSpans, qDedupSpansSql),
    Query("q_quality_gopher", qQualityGopher, qQualityGopherSql),
    Query("q_dsir_scores", qDsirScores, qDsirScoresSql),
    Query("q_pii_luhn", qPiiLuhn, qPiiLuhnSql),
    Query("q_dedup_spans_cut", qDedupSpansCut, qDedupSpansCutSql),
    Query("q_text_entropy", qTextEntropy, qTextEntropySql),
    Query("q_text_burstiness", qTextBurstiness, qTextBurstinessSql),
    Query("q_text_rake", qTextRake, qTextRakeSql))
}
