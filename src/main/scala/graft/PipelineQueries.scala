package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBridge.owned

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.sim.Similarity
import graft.sql.Exact.{e2, e4, e6}
import graft.text.TextFunctions._

/** Training-data-pipeline query corpus: text analysis, dedup family,
  * similarity search, multimodal plumbing — each with a DuckDB oracle
  * built from the same arithmetic (md5 for hashes, index-ordered double
  * accumulation, floor-scaled BIGINT float outputs per graft.sql.Exact).
  */
object PipelineQueries {

  // shared SQL fragments ------------------------------------------------

  /** DuckDB twin of TextFunctions.shingleSet(text, 8). */
  private val shSql =
    "list_distinct(list_transform(range(1, greatest(length(text)-7, 1)+1), i -> substring(text, i, 8)))"

  // text analysis -------------------------------------------------------

  private def qTextStats(t: Tables): DataFrame = {
    val d = t.documents
    d.select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        uniqueTokenCount(col("text")).as("n_uniq"),
        alphaCount(col("text")).as("n_alpha"),
        length(col("text")).cast("long").as("n_len"))
      .orderBy(col("doc_id"))
  }

  private val qTextStatsSql =
    s"""SELECT doc_id,
       |CAST(len($tokensSql) AS BIGINT) AS n_tokens,
       |CAST(len(list_distinct($tokensSql)) AS BIGINT) AS n_uniq,
       |CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
       |CAST(length(text) AS BIGINT) AS n_len
       |FROM documents ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  private val stopWords = Seq("the", "a", "of", "to", "in", "and", "is")

  private def qTextBpe(t: Tables): DataFrame = {
    val d = t.documents
    d.select(col("doc_id"),
        tokenCount(col("text")).as("ws_tokens"),
        bpeishTokenCount(col("text")).as("bpe_tokens"),
        punctCount(col("text")).as("punct_cnt"))
      .orderBy(col("doc_id"))
  }

  private val qTextBpeSql =
    s"""SELECT doc_id,
       |CAST(len($tokensSql) AS BIGINT) AS ws_tokens,
       |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens,
       |CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS punct_cnt
       |FROM documents ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  private def qTextQuality(t: Tables): DataFrame = {
    val d = t.documents
    d.select(col("doc_id"),
        wordHits(col("text"), stopWords).as("n_stop"),
        tokenCount(col("text")).as("n_tokens"),
        alphaCount(col("text")).as("n_alpha"),
        length(col("text")).cast("long").as("n_len"))
      .select(col("doc_id"), col("n_stop"), col("n_tokens"),
        e6(qualityScore(col("n_stop"), col("n_tokens"), col("n_alpha"), col("n_len"))).as("score_e6"))
      .orderBy(col("doc_id"))
  }

  private val qTextQualitySql = {
    val sw = stopWords.map(w => s"'$w'").mkString(", ")
    s"""WITH b AS (SELECT doc_id,
       |CAST(len(list_filter($tokensSql, t -> t IN ($sw))) AS BIGINT) AS n_stop,
       |CAST(len($tokensSql) AS BIGINT) AS n_tokens,
       |CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
       |CAST(length(text) AS BIGINT) AS n_len FROM documents)
       |SELECT doc_id, n_stop, n_tokens,
       |CAST(FLOOR((0.4 * (n_stop / n_tokens) + 0.4 * LEAST(n_tokens / 200.0, 1.0)
       |+ 0.2 * (n_alpha / n_len)) * 1000000) AS BIGINT) AS score_e6
       |FROM b ORDER BY doc_id""".stripMargin.replace('\n', ' ')
  }

  private def qTextLangid(t: Tables): DataFrame = {
    val d = t.documents
    val hits = langProfiles.map { case (name, ws) => wordHits(col("text"), ws).as(s"s_$name") }
    d.select((col("doc_id") +: hits): _*)
      .withColumn("pred_lang",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"), lit("en"))
          .when(col("s_de") >= col("s_fr"), lit("de"))
          .otherwise(lit("fr")))
      .orderBy(col("doc_id"))
  }

  private val qTextLangidSql = {
    val profs = langProfiles.map { case (name, ws) =>
      val l = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter($tokensSql, t -> t IN ($l))) AS BIGINT) AS s_$name"
    }.mkString(", ")
    s"""WITH b AS (SELECT doc_id, $profs FROM documents)
       |SELECT doc_id, s_en, s_de, s_fr,
       |CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
       |WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS pred_lang
       |FROM b ORDER BY doc_id""".stripMargin.replace('\n', ' ')
  }

  /** Language-ID confusion matrix: the n-gram-heuristic prediction
    * (same 3-profile rule as q_text_langid) against the STORED lang
    * truth column — the classifier-evaluation panel (es/zh rows expose
    * the out-of-profile failure mode: a 3-class heuristic must put them
    * somewhere). cnt + per-truth-row share; one groupBy over the
    * codegen'd signal projection. */
  private def qLangConfusion(t: Tables): DataFrame = {
    val d = t.documents
    val hits = langProfiles.map { case (name, ws) => wordHits(col("text"), ws).as(s"s_$name") }
    d.select((col("doc_id") +: col("lang") +: hits): _*)
      .withColumn("pred_lang",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"), lit("en"))
          .when(col("s_de") >= col("s_fr"), lit("de"))
          .otherwise(lit("fr")))
      .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("cnt"))
      .withColumn("row_total", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))).cast("long"))
      .select(col("lang"), col("pred_lang"), col("cnt"),
        expr("(cnt * 1000000) div row_total").as("row_pct_e6"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  private val qLangConfusionSql = {
    val profs = langProfiles.map { case (name, ws) =>
      val l = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter($tokensSql, t -> t IN ($l))) AS BIGINT) AS s_$name"
    }.mkString(", ")
    s"""WITH b AS (SELECT doc_id, lang, $profs FROM documents),
       |p AS (SELECT lang,
       |CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
       |WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS pred_lang FROM b),
       |g AS (SELECT lang, pred_lang, COUNT(*) AS cnt FROM p GROUP BY 1, 2)
       |SELECT lang, pred_lang, cnt,
       |(cnt * 1000000) // CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) AS row_pct_e6
       |FROM g ORDER BY lang, pred_lang""".stripMargin.replace('\n', ' ')
  }

  private def qTextFingerprint(t: Tables): DataFrame = {
    val d = t.documents
    d.select(col("doc_id"), shingleSet(col("text"), 8).as("sh"))
      .select(col("doc_id"),
        fingerprintMin(col("sh")).as("fp_min"),
        fingerprintMax(col("sh")).as("fp_max"),
        size(col("sh")).cast("long").as("n_shingles"))
      .orderBy(col("doc_id"))
  }

  private val qTextFingerprintSql =
    s"""WITH b AS (SELECT doc_id, $shSql AS sh FROM documents)
       |SELECT doc_id,
       |list_min(list_transform(sh, s -> md5(s))) AS fp_min,
       |list_max(list_transform(sh, s -> md5(s))) AS fp_max,
       |CAST(len(sh) AS BIGINT) AS n_shingles
       |FROM b ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  // dedup family --------------------------------------------------------

  private def qDedupExact(t: Tables): DataFrame =
    Dedup.exactClusters(t.documents).orderBy(col("canonical"))

  private val qDedupExactSql =
    """SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS h,
      |COUNT(*) AS dup_cnt, MIN(doc_id) AS canonical
      |FROM documents GROUP BY 1 ORDER BY canonical""".stripMargin.replace('\n', ' ')

  private def qDedupMinhash(t: Tables): DataFrame =
    Dedup.minhashDupPairs(t.documents)

  /** DuckDB twin of TextFunctions.hashPool + minhashFromPool (4 seeded
    * md5s per shingle, each split into four independent 8-hex words;
    * signature entry j = min of word j%4 of hash ⌊j/4⌋). CTE body shared
    * with the dup-cluster oracle. */
  private def minhashSigCtesFrom(src: String): String =
    s"""sh AS MATERIALIZED (SELECT doc_id, $shSql AS sh FROM $src),
       |hp AS MATERIALIZED (SELECT doc_id, sh, list_transform(sh, s ->
       |flatten(list_transform(range(0, 4), a ->
       |list_transform(range(0, 4), b ->
       |substring(md5(CAST(a AS VARCHAR) || ':' || s), CAST(b * 8 + 1 AS INT), 8))))) AS hp FROM sh),
       |sig AS MATERIALIZED (SELECT doc_id, sh,
       |list_transform(range(1, 17), j ->
       |list_min(list_transform(hp, w -> w[CAST(j AS INT)]))) AS sig
       |FROM hp),
       |bands AS MATERIALIZED (SELECT doc_id, b,
       |md5(array_to_string(sig[b*4+1 : b*4+4], '|')) AS bv
       |FROM sig, unnest([0, 1, 2, 3]) AS t(b))""".stripMargin.replace('\n', ' ')

  private val minhashSigCtes = minhashSigCtesFrom("documents")

  private val minhashPairsCtes =
    s"""$minhashSigCtes,
       |pairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id),
       |jx AS MATERIALIZED (SELECT p.ida, p.idb,
       |len(list_filter(x.sh, s -> list_contains(y.sh, s))) AS inter,
       |len(x.sh) AS la, len(y.sh) AS lb
       |FROM pairs p JOIN sh x ON x.doc_id = p.ida JOIN sh y ON y.doc_id = p.idb)""".stripMargin.replace('\n', ' ')

  private val qDedupMinhashSql =
    s"""WITH $minhashPairsCtes
       |SELECT ida AS a, idb AS b, CAST(FLOOR(inter / (la + lb - inter) * 1000000) AS BIGINT) AS jac_e6
       |FROM jx WHERE inter / (la + lb - inter) >= 0.3 ORDER BY a, b""".stripMargin.replace('\n', ' ')

  /** Incremental dedup through the FILE-BACKED index path: the standing
    * corpus (doc_id ≥ 20) is signed into a temp signature index, then
    * the increment (doc_id < 20) probes it. Spark exercises the real
    * write→read→probe cycle; the oracle replays the same split banding
    * logically. */
  private def qDedupIncremental(t: Tables): DataFrame = {
    val d = t.documents
    val path = java.nio.file.Files.createTempDirectory("graft_sigidx")
    // the probe frame reads `path` lazily, so the earliest safe delete is
    // JVM exit — recursive (deleteOnExit can't remove non-empty dirs);
    // without this, repeated bench/verify runs strand an index per call
    sys.addShutdownHook {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(path).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    graft.dedup.Dedup.writeSignatureIndex(d.filter(col("doc_id") >= 20), path.toString)
    graft.dedup.Dedup.incrementalDupPairs(d.filter(col("doc_id") < 20), path.toString)
  }

  private val qDedupIncrementalSql =
    s"""WITH $minhashSigCtes,
       |incd AS MATERIALIZED (SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS idx_id
       |FROM bands n JOIN bands i ON n.b = i.b AND n.bv = i.bv
       |AND n.doc_id < 20 AND i.doc_id >= 20),
       |ijx AS (SELECT c.new_id, c.idx_id,
       |len(list_filter(x.sh, s -> list_contains(y.sh, s))) AS inter,
       |len(x.sh) AS la, len(y.sh) AS lb
       |FROM incd c JOIN sh x ON x.doc_id = c.new_id JOIN sh y ON y.doc_id = c.idx_id)
       |SELECT new_id, idx_id,
       |CAST(FLOOR(inter / (la + lb - inter) * 1000000) AS BIGINT) AS jac_e6
       |FROM ijx WHERE inter / (la + lb - inter) >= 0.3
       |ORDER BY new_id, idx_id""".stripMargin.replace('\n', ' ')

  private def qDedupSimhash(t: Tables): DataFrame =
    Dedup.simhashFingerprints(t.documents).orderBy(col("doc_id"))

  /** SQL twin of TextFunctions.simhash32 over a shingle-set column `sh`. */
  private val simhashExprSql =
    """CAST(list_sum(list_transform(range(0, 32), j ->
      |CASE WHEN len(list_filter(sh, s ->
      |substring(md5(s), CAST(j + 1 AS INT), 1) IN ('1','3','5','7','9','b','d','f'))) * 2
      |>= len(sh) THEN CAST(POWER(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT)""".stripMargin.replace('\n', ' ')

  private val qDedupSimhashSql =
    s"""WITH b AS (SELECT doc_id, $shSql AS sh FROM documents)
       |SELECT doc_id, $simhashExprSql AS simhash
       |FROM b ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  private def qDedupSimhashPairs(t: Tables): DataFrame =
    Dedup.simhashDupPairs(t.documents)

  /** DuckDB twin of graft.functions.Simhash at width 60: bit j = majority
    * (count·2 ≥ n) of bit j%4 of the VALUE of md5 hex digit ⌊j/4⌋. */
  private val simhash60ExprSql =
    """CAST(list_sum(list_transform(range(0, 60), j ->
      |CASE WHEN len(list_filter(sh, s ->
      |(((strpos('0123456789abcdef', substring(md5(s), CAST(j // 4 + 1 AS INT), 1)) - 1)
      |>> CAST(j % 4 AS INT)) & 1) = 1)) * 2
      |>= len(sh) THEN CAST(POWER(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT)""".stripMargin.replace('\n', ' ')

  private val qDedupSimhashPairsSql =
    s"""WITH sh0 AS MATERIALIZED (SELECT doc_id, $shSql AS sh FROM documents),
       |fp AS MATERIALIZED (SELECT doc_id, $simhash60ExprSql AS simhash FROM sh0),
       |bands AS MATERIALIZED (SELECT doc_id, b, (simhash >> (b * 30)) & 1073741823 AS bv
       |FROM fp, unnest([0, 1]) AS t(b)),
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT ida AS a, idb AS b,
       |CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS ham
       |FROM cand JOIN fp x ON x.doc_id = ida JOIN fp y ON y.doc_id = idb
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= 1
       |ORDER BY a, b""".stripMargin.replace('\n', ' ')

  /** Transitive dup clusters over the MinHash near-dup pair graph (the
    * actionable final step of a dedup pass: min-id survivor per cluster).
    * Oracle = the shared pair CTEs + a min-label-propagation unroll. */
  private def qDedupClusters(t: Tables): DataFrame = owned { o =>
    Dedup.dupClusters(
      o(Dedup.minhashDupPairs(t.documents)).select(col("a"), col("b")))
      .orderBy(col("id"))
  }

  private val qDedupClustersSql = graft.sql.OracleGen.labelPropSql(
    s"""$minhashPairsCtes,
       |dup AS MATERIALIZED (SELECT ida, idb FROM jx WHERE inter / (la + lb - inter) >= 0.3),
       |e AS MATERIALIZED (SELECT ida AS src, idb AS dst FROM dup
       |UNION ALL SELECT idb, ida FROM dup)""".stripMargin.replace('\n', ' '),
    12, isMin = true, "canonical")

  /** Retention policy on the same clusters: keep the LONGEST member per
    * multi-member cluster ([[graft.dedup.Dedup.keepBestPerCluster]],
    * score = n_chars, max-id tiebreak) — the quality-aware alternative to
    * min-id survival. */
  private def qDedupKeepBest(t: Tables): DataFrame = owned { o =>
    val docs = t.documents
    Dedup.keepBestPerCluster(docs,
      o(Dedup.minhashDupPairs(docs)).select(col("a"), col("b")))
  }

  private val qDedupKeepBestSql =
    s"""WITH j AS MATERIALIZED (SELECT z.canonical AS cluster, z.id, d.n_chars
       |FROM ($qDedupClustersSql) z JOIN documents d ON d.doc_id = z.id),
       |r AS (SELECT cluster, id, n_chars,
       |COUNT(*) OVER (PARTITION BY cluster) AS n_members,
       |ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY n_chars DESC, id DESC) AS rn FROM j)
       |SELECT cluster, n_members, id AS kept_doc, n_chars AS kept_score
       |FROM r WHERE rn = 1 AND n_members >= 2 ORDER BY cluster""".stripMargin.replace('\n', ' ')

  /** The dedup action: corpus minus non-canonical cluster members. */
  private def qDedupFiltered(t: Tables): DataFrame = owned { o =>
    Dedup.dropDuplicateDocs(
      t.documents.select(col("doc_id"), col("source")),
      o(Dedup.minhashDupPairs(t.documents)).select(col("a"), col("b")))
      .orderBy(col("doc_id"))
  }

  private val qDedupFilteredSql =
    s"""SELECT doc_id, source FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM ($qDedupClustersSql) z
       |WHERE id <> canonical)
       |ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  /** CDC chunk dedup: the per-row sequential chunker runs in Spark; the
    * oracle replays the identical boundary rule in closed form — with
    * minLen=1 every position whose 4-char Karp-Rabin hash satisfies the
    * cut condition is a boundary, which is position-INDEPENDENT, so SQL
    * can compute the boundary set per position and chunk by slicing. A
    * hash match therefore proves the kernel walked the same boundaries
    * and hashed the same substrings. */
  private def qDedupCdc(t: Tables): DataFrame =
    Dedup.cdcDupPairs(t.documents, threshold = 0.5)

  private val qDedupCdcSql = {
    // h(i) = Σ_{j<4} ascii(t[i−j])·31^j — the kernel's rolling hash
    val rh = """(ascii(substring(text, CAST(i AS INT), 1))
      |+ ascii(substring(text, CAST(i - 1 AS INT), 1)) * 31
      |+ ascii(substring(text, CAST(i - 2 AS INT), 1)) * 961
      |+ ascii(substring(text, CAST(i - 3 AS INT), 1)) * 29791)""".stripMargin.replace('\n', ' ')
    s"""WITH bp AS MATERIALIZED (SELECT doc_id, text,
       |CAST(length(text) AS BIGINT) AS L,
       |list_filter(range(4, length(text) + 1), i -> $rh % 13 = 12) AS bs
       |FROM documents),
       |st AS (SELECT doc_id, text,
       |list_prepend(CAST(1 AS BIGINT), list_transform(bs, p -> p + 1)) AS ss,
       |list_append(bs, L) AS es FROM bp),
       |ch AS MATERIALIZED (SELECT DISTINCT doc_id,
       |md5(substring(text, CAST(se['s'] AS INT),
       |CAST(se['e'] - se['s'] + 1 AS INT))) AS h FROM (
       |SELECT doc_id, text, unnest(list_transform(range(1, len(ss) + 1),
       |k -> {'s': ss[CAST(k AS INT)], 'e': es[CAST(k AS INT)]})) AS se
       |FROM st) z WHERE se['s'] <= se['e']),
       |keep AS (SELECT h FROM ch GROUP BY h HAVING COUNT(*) <= 1000),
       |chf AS MATERIALIZED (SELECT ch.doc_id, ch.h FROM ch JOIN keep USING (h)),
       |nc AS (SELECT doc_id, COUNT(*) AS n FROM chf GROUP BY doc_id),
       |pair AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS shared
       |FROM chf a JOIN chf b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT ida AS a, idb AS b, shared,
       |CAST(FLOOR(shared / LEAST(x.n, y.n) * 1000000) AS BIGINT) AS overlap_e6
       |FROM pair JOIN nc x ON x.doc_id = ida JOIN nc y ON y.doc_id = idb
       |WHERE shared / LEAST(x.n, y.n) >= 0.5
       |ORDER BY a, b""".stripMargin.replace('\n', ' ')
  }

  private def qDedupNgram(t: Tables): DataFrame =
    Dedup.ngramDupPairs(t.documents)

  private val qDedupNgramSql =
    s"""WITH tri AS MATERIALIZED (SELECT doc_id, source AS blk,
       |list_distinct(list_transform(range(1, greatest(len($tokensSql) - 2, 1) + 1),
       |i -> concat_ws(' ', $tokensSql[i], $tokensSql[i+1], $tokensSql[i+2]))) AS tri
       |FROM documents),
       |hp AS MATERIALIZED (SELECT doc_id, blk, tri, list_transform(tri, s ->
       |flatten(list_transform(range(0, 4), a ->
       |list_transform(range(0, 4), b ->
       |substring(md5(CAST(a AS VARCHAR) || ':' || s), CAST(b * 8 + 1 AS INT), 8))))) AS hp FROM tri),
       |sig AS MATERIALIZED (SELECT doc_id, blk, tri,
       |list_transform(range(1, 17), j ->
       |list_min(list_transform(hp, w -> w[CAST(j AS INT)]))) AS sig
       |FROM hp),
       |bands AS MATERIALIZED (SELECT doc_id, blk, b,
       |md5(array_to_string(sig[b*2+1 : b*2+2], '|')) AS bv
       |FROM sig, unnest(range(0, 8)) AS t(b)),
       |pairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv AND a.blk = b.blk
       |AND a.doc_id < b.doc_id),
       |jx AS (SELECT p.ida AS a, p.idb AS b,
       |len(list_filter(x.tri, s -> list_contains(y.tri, s))) AS inter,
       |len(x.tri) AS la, len(y.tri) AS lb
       |FROM pairs p JOIN tri x ON x.doc_id = p.ida JOIN tri y ON y.doc_id = p.idb)
       |SELECT a, b, CAST(FLOOR(inter / (la + lb - inter) * 1000000) AS BIGINT) AS jac_e6
       |FROM jx WHERE inter / (la + lb - inter) >= 0.1 ORDER BY a, b""".stripMargin.replace('\n', ' ')

  /** The raw synthetic embeddings have no cosine-≥-0.9 pairs, so a 0-row
    * result would only ever prove the no-false-positives direction. Plant
    * deterministic positives: clone the 3 lowest-id vectors with
    * coordinate 0 halved. ×0.5 and the float round-trip are exact in
    * IEEE754, so both engines build bit-identical vectors; the planted
    * cosine is ≥ 0.94 for any input vector (minimum of
    * (1−r/2)/√(1−3r/4) over r = x₀²/‖x‖² ∈ [0,1]), and the perturbation
    * genuinely exercises LSH recall — sign bits CAN flip, so the clone is
    * found via band agreement, not via trivially-identical buckets. */
  private def qDedupEmb(t: Tables): DataFrame = {
    val base = t.embeddings.select(col("vec_id"), col("embedding"))
    val planted = base.filter(col("vec_id") < 3).select(
      (col("vec_id") + lit(1000000L)).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 0, (x.cast("double") * lit(0.5)).cast("float")).otherwise(x))
        .as("embedding"))
    Dedup.embeddingDupPairs(base.unionByName(planted), threshold = 0.9)
  }

  private val cosSql: (String, String) => String = (x, y) =>
    s"""(list_sum(list_transform(range(1, 65), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))
       |/ (sqrt(list_sum(list_transform(range(1, 65), i -> CAST($x[i] AS DOUBLE) * CAST($x[i] AS DOUBLE))))
       |* sqrt(list_sum(list_transform(range(1, 65), i -> CAST($y[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))))))""".stripMargin.replace('\n', ' ')

  private val qDedupEmbSql = {
    import graft.sim.VectorLSH
    val sm = VectorLSH.signsSqlLiteral(VectorLSH.signs(64, 64))
    val dotXY =
      "list_sum(list_transform(range(1, 65), i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))"
    s"""WITH sgn AS (SELECT $sm AS sm),
       |emb_all AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
       |UNION ALL SELECT vec_id + 1000000,
       |list_transform(range(1, 65), i -> CASE WHEN i = 1
       |THEN CAST(CAST(embedding[1] AS DOUBLE) * 0.5 AS REAL)
       |ELSE embedding[i] END)
       |FROM embeddings WHERE vec_id < 3),
       |e AS MATERIALIZED (SELECT vec_id, embedding,
       |sqrt(list_sum(list_transform(range(1, 65), i ->
       |CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm,
       |list_transform(range(0, 8), b -> ${VectorLSH.bucketSql("embedding", 64, 8, "b")}) AS bk
       |FROM emb_all, sgn),
       |banded AS MATERIALIZED (SELECT vec_id, b AS band, bk[b + 1] AS bv
       |FROM e, unnest(range(0, 8)) AS t(b)),
       |cand AS MATERIALIZED (SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
       |FROM banded a JOIN banded b ON a.band = b.band AND a.bv = b.bv
       |AND a.vec_id < b.vec_id)
       |SELECT ida AS a, idb AS b,
       |CAST(FLOOR($dotXY / (x.nrm * y.nrm) * 10000) AS BIGINT) AS rcos_e4
       |FROM cand JOIN e x ON x.vec_id = ida JOIN e y ON y.vec_id = idb
       |WHERE $dotXY / (x.nrm * y.nrm) >= 0.9
       |ORDER BY a, b""".stripMargin.replace('\n', ' ')
  }

  /** Exact Jaccard ≥ 0.8 similarity join over 8-char shingle sets via
    * prefix filtering — the exact-verification counterpart of
    * q_dedup_minhash (no LSH false negatives). */
  private def qJaccardJoin(t: Tables): DataFrame = {
    val d = t.documents
    Dedup.jaccardJoin(
      d.select(col("doc_id"), shingleSet(col("text"), 8).as("items")),
      thresholdPct = 80)
  }

  private val qJaccardJoinSql =
    s"""WITH toks AS MATERIALIZED (SELECT DISTINCT doc_id, unnest($shSql) AS tok FROM documents),
       |dfq AS MATERIALIZED (SELECT tok, COUNT(*) AS df FROM toks GROUP BY 1),
       |srt AS MATERIALIZED (SELECT doc_id, list(tok ORDER BY df, tok) AS stoks,
       |CAST(COUNT(*) AS BIGINT) AS n FROM toks JOIN dfq USING (tok) GROUP BY doc_id),
       |sp AS MATERIALIZED (SELECT doc_id, stoks, n,
       |n - ((n * 80 + 99) // 100) + 1 AS plen FROM srt),
       |pref AS MATERIALIZED (SELECT doc_id, n, u.i AS pos,
       |stoks[CAST(u.i AS INT)] AS tok
       |FROM sp, unnest(range(1, CAST(plen AS INT) + 1)) AS u(i)),
       |cand AS MATERIALIZED (SELECT DISTINCT p1.doc_id AS a, p2.doc_id AS b
       |FROM pref p1 JOIN pref p2 ON p1.tok = p2.tok AND p1.doc_id < p2.doc_id
       |AND p1.n * 100 >= p2.n * 80 AND p2.n * 100 >= p1.n * 80
       |AND (1 + least(p1.n - p1.pos, p2.n - p2.pos)) * 180 >= 80 * (p1.n + p2.n)),
       |v AS (SELECT cand.a, cand.b,
       |CAST(len(list_intersect(x.stoks, y.stoks)) AS BIGINT) AS inter,
       |x.n + y.n AS nsum
       |FROM cand JOIN sp x ON x.doc_id = cand.a JOIN sp y ON y.doc_id = cand.b)
       |SELECT a, b, inter, nsum - inter AS uni,
       |CAST((inter * 1000000) // (nsum - inter) AS BIGINT) AS jaccard_e6
       |FROM v WHERE inter * 100 >= (nsum - inter) * 80 ORDER BY a, b""".stripMargin.replace('\n', ' ')

  // similarity search ---------------------------------------------------

  private def queriesOf(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))

  private def qAnnBrute(t: Tables): DataFrame = {
    val emb = t.embeddings
    Similarity.bruteTopK(emb.select(col("vec_id"), col("embedding")), queriesOf(emb), 10)
  }

  /** Scalar-quantized ANN: int8 codes + asymmetric-distance candidate
    * rank, exact rescore of the top k·4. Oracle replays the identical
    * train→encode→dequantize→rank→rescore chain (all FLOOR-pinned,
    * index-ordered list sums). */
  private def qAnnSq(t: Tables): DataFrame = {
    val emb = t.embeddings
    Similarity.sqTopK(emb.select(col("vec_id"), col("embedding")), queriesOf(emb), 10)
  }

  private val qAnnSqSql =
    s"""WITH dims AS MATERIALIZED (
       |SELECT i, MIN(CAST(embedding[i] AS DOUBLE)) AS mn, MAX(CAST(embedding[i] AS DOUBLE)) AS mx
       |FROM embeddings CROSS JOIN range(1, 65) AS t(i) GROUP BY i),
       |d AS MATERIALIZED (SELECT list(mn ORDER BY i) AS mn, list(mx ORDER BY i) AS mx FROM dims),
       |dq AS MATERIALIZED (
       |SELECT vec_id, list_transform(range(1, 65), i ->
       |d.mn[i] + ((CASE WHEN d.mx[i] > d.mn[i] THEN GREATEST(0, LEAST(255,
       |CAST(FLOOR((CAST(e.embedding[i] AS DOUBLE) - d.mn[i]) * 255.0 / (d.mx[i] - d.mn[i])) AS BIGINT)))
       |ELSE 0 END) * (d.mx[i] - d.mn[i])) / 255.0) AS dqv
       |FROM embeddings e, d),
       |q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       |cand AS (SELECT q_id, n_id FROM (
       |SELECT q.q_id, c.vec_id AS n_id,
       |CAST(FLOOR(${cosSql("q.qv", "c.dqv")} * 10000) AS BIGINT) AS adc_e4
       |FROM dq c JOIN q ON c.vec_id <> q.q_id) z
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_e4 DESC, n_id) <= 40),
       |sc AS (SELECT cd.q_id, cd.n_id,
       |CAST(FLOOR(${cosSql("q.qv", "e.embedding")} * 10000) AS BIGINT) AS rcos_e4
       |FROM cand cd JOIN embeddings e ON e.vec_id = cd.n_id JOIN q ON q.q_id = cd.q_id)
       |SELECT q_id, n_id, rcos_e4 FROM sc
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rcos_e4 DESC, n_id) <= 10
       |ORDER BY q_id, rcos_e4 DESC, n_id""".stripMargin.replace('\n', ' ')

  private val qAnnBruteSql =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       |sc AS (SELECT q.q_id, e.vec_id AS n_id,
       |CAST(FLOOR(${cosSql("q.qv", "e.embedding")} * 10000) AS BIGINT) AS rcos_e4
       |FROM embeddings e JOIN q ON e.vec_id <> q.q_id)
       |SELECT q_id, n_id, rcos_e4 FROM sc
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rcos_e4 DESC, n_id) <= 10
       |ORDER BY q_id, rcos_e4 DESC, n_id""".stripMargin.replace('\n', ' ')

  /** Hard-negative mining: for each query vector, the top-5 nearest
    * vectors with a DIFFERENT label — the contrastive-training
    * counterpart of q_ann_brute (the highest-similarity wrong-class
    * examples are exactly what a retrieval trainer wants as negatives).
    * Same broadcast-scan shape with one extra label inequality in the
    * join predicate. */
  private def qAnnHardneg(t: Tables): DataFrame = {
    val emb = t.embeddings
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    emb.join(broadcast(q),
        col("vec_id") =!= col("q_id") && col("label") =!= col("qlabel"))
      .withColumn("rcos_e4",
        graft.sql.Exact.e4(Similarity.cosine(col("qv"), col("embedding"))))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("rcos_e4").desc, col("vec_id"))))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("vec_id").as("n_id"), col("label"), col("rcos_e4"))
      .orderBy(col("q_id"), col("rcos_e4").desc, col("n_id"))
  }

  private val qAnnHardnegSql =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv, label AS qlabel
       |FROM embeddings WHERE vec_id < 5),
       |sc AS (SELECT q.q_id, e.vec_id AS n_id, e.label,
       |CAST(FLOOR(${cosSql("q.qv", "e.embedding")} * 10000) AS BIGINT) AS rcos_e4
       |FROM embeddings e JOIN q ON e.vec_id <> q.q_id AND e.label <> q.qlabel)
       |SELECT q_id, n_id, label, rcos_e4 FROM sc
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rcos_e4 DESC, n_id) <= 5
       |ORDER BY q_id, rcos_e4 DESC, n_id""".stripMargin.replace('\n', ' ')

  /** Embedding-norm outlier scan: per-label Tukey fences on the exact
    * integer squared norm Σ⌊v·2¹⁴⌋² — the degenerate-vector sweep
    * (zero/exploded embeddings) an index build should run first. Reuses
    * [[graft.operators.Quantiles.exactScaled]] (the q_outliers shape on
    * a derived integral feature). */
  private def qEmbOutliers(t: Tables): DataFrame = {
    val emb = t.embeddings
    val norms = emb.select(col("vec_id"), col("label"),
        explode(transform(col("embedding"),
          x => floor(x.cast("double") * lit(16384.0)).cast("long"))).as("q"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("q") * col("q")).cast("long").as("n2"))
    val qs = graft.operators.Quantiles.exactScaled(
      norms, "n2", "label", Seq((1, 4), (3, 4)), 1L)
    val bounds = qs.groupBy(col("g"))
      .agg(max(when(col("pnum") === 1, col("q_scaled"))).as("q1"),
        max(when(col("pnum") === 3, col("q_scaled"))).as("q3"))
      .select(col("g"), col("q1"), col("q3"),
        expr("q1 - (3 * (q3 - q1)) div 2").as("lo"),
        expr("q3 + (3 * (q3 - q1)) div 2").as("hi"))
    norms.select(col("label").as("g"), col("n2").as("v"))
      .join(broadcast(bounds), Seq("g"))
      .groupBy(col("g"), col("q1"), col("q3"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"),
        count(when(col("v") < col("lo"), lit(1))).as("n_out_low"),
        count(when(col("v") > col("hi"), lit(1))).as("n_out_high"))
      .select(col("g").as("label"), col("q1"), col("q3"), col("lo"), col("hi"),
        col("n"), col("n_out_low"), col("n_out_high"))
      .orderBy(col("label"))
  }

  private val qEmbOutliersSql = {
    val normsTable =
      """(SELECT vec_id, label, CAST(SUM(q * q) AS BIGINT) AS n2 FROM (
        |SELECT vec_id, label,
        |CAST(FLOOR(CAST(embedding[j] AS DOUBLE) * 16384) AS BIGINT) AS q
        |FROM embeddings, unnest(range(1, 65)) tj(j)) zq
        |GROUP BY vec_id, label) tn""".stripMargin.replace('\n', ' ')
    val qsSql = graft.operators.Quantiles.exactScaledSql(
      normsTable, "n2", "label", Seq((1, 4), (3, 4)), 1L)
    s"""WITH b AS MATERIALIZED (SELECT g, q1, q3,
       |q1 - (3 * (q3 - q1)) // 2 AS lo, q3 + (3 * (q3 - q1)) // 2 AS hi FROM (
       |SELECT g, MAX(CASE WHEN pnum = 1 THEN q_scaled END) AS q1,
       |MAX(CASE WHEN pnum = 3 THEN q_scaled END) AS q3
       |FROM ($qsSql) qs GROUP BY g) t),
       |v AS (SELECT label AS g, n2 AS v FROM $normsTable)
       |SELECT v.g AS label, q1, q3, lo, hi, COUNT(*) AS n,
       |COUNT(*) FILTER (WHERE v < lo) AS n_out_low,
       |COUNT(*) FILTER (WHERE v > hi) AS n_out_high
       |FROM v JOIN b ON v.g = b.g
       |GROUP BY 1, 2, 3, 4, 5 ORDER BY label""".stripMargin.replace('\n', ' ')
  }

  private def qAnnIvf(t: Tables): DataFrame = {
    val emb = t.embeddings
    Similarity.ivfTopK(emb, queriesOf(emb), k = 5, nprobe = 2)
  }

  /** cosine over the first d coordinates only (matryoshka prefixes). */
  private def cosDSql(x: String, y: String, d: Int): String =
    s"""(list_sum(list_transform(range(1, ${d + 1}), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))
       |/ (sqrt(list_sum(list_transform(range(1, ${d + 1}), i -> CAST($x[i] AS DOUBLE) * CAST($x[i] AS DOUBLE))))
       |* sqrt(list_sum(list_transform(range(1, ${d + 1}), i -> CAST($y[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))))))""".stripMargin.replace('\n', ' ')

  private def qAnnMatryoshka(t: Tables): DataFrame = {
    val emb = t.embeddings
    Similarity.matryoshkaOverlap(emb.select(col("vec_id"), col("embedding")),
      queriesOf(emb), dims = Seq(8, 16, 32), fullDim = 64, k = 10)
  }

  private val qAnnMatryoshkaSql = {
    def topkCte(name: String, d: Int) =
      s"""$name AS MATERIALIZED (SELECT q_id, n_id FROM (
         |SELECT q.q_id, e.vec_id AS n_id,
         |CAST(FLOOR(${cosDSql("q.qv", "e.embedding", d)} * 10000) AS BIGINT) AS rcos_e4
         |FROM embeddings e JOIN q ON e.vec_id <> q.q_id) z
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rcos_e4 DESC, n_id) <= 10)""".stripMargin.replace('\n', ' ')
    val dims = Seq(8, 16, 32, 64)
    val ctes = dims.map(d => topkCte(s"t$d", d)).mkString(", ")
    val ovs = dims.map(d =>
      s"""SELECT CAST($d AS BIGINT) AS dim, a.q_id, COUNT(*) AS overlap
         |FROM t$d a JOIN t64 b ON a.q_id = b.q_id AND a.n_id = b.n_id
         |GROUP BY 2""".stripMargin.replace('\n', ' '))
      .mkString(" UNION ALL ")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       |$ctes
       |SELECT dim, q_id, overlap FROM ($ovs) z ORDER BY dim, q_id""".stripMargin.replace('\n', ' ')
  }

  private def qKnnGraph(t: Tables): DataFrame = {
    val emb = t.embeddings
    Similarity.knnGraph(emb, k = 3, sampleMod = 20L)
  }

  private val qKnnGraphSql =
    s"""WITH s AS (SELECT label, vec_id AS q_id, embedding AS qv
       |FROM embeddings WHERE vec_id % 20 = 0),
       |sc AS (SELECT s.q_id, e.vec_id AS n_id,
       |CAST(FLOOR(${cosSql("s.qv", "e.embedding")} * 10000) AS BIGINT) AS rcos_e4
       |FROM embeddings e JOIN s ON e.label = s.label AND e.vec_id <> s.q_id)
       |SELECT q_id AS vec_id, n_id, rcos_e4 FROM sc
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rcos_e4 DESC, n_id) <= 3
       |ORDER BY vec_id, rcos_e4 DESC, n_id""".stripMargin.replace('\n', ' ')

  private val qAnnIvfSql =
    s"""WITH cent AS MATERIALIZED (SELECT label,
       |list(m ORDER BY pos) AS cv FROM (
       |SELECT label, pos, FLOOR(AVG(CAST(embedding[pos] AS DOUBLE)) * 1000000) / 1000000 AS m
       |FROM embeddings, unnest(range(1, 65)) AS t(pos)
       |GROUP BY label, pos) g GROUP BY label),
       |q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       |probes AS MATERIALIZED (SELECT q_id, qv, label FROM (
       |SELECT q.q_id, q.qv, c.label,
       |CAST(FLOOR(${cosSql("q.qv", "c.cv")} * 1000000) AS BIGINT) AS rc
       |FROM cent c CROSS JOIN q)
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rc DESC, label) <= 2),
       |sc AS (SELECT p.q_id, e.vec_id AS n_id,
       |CAST(FLOOR(${cosSql("p.qv", "e.embedding")} * 10000) AS BIGINT) AS rcos_e4
       |FROM embeddings e JOIN probes p ON e.label = p.label AND e.vec_id <> p.q_id)
       |SELECT q_id, n_id, rcos_e4 FROM sc
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rcos_e4 DESC, n_id) <= 5
       |ORDER BY q_id, rcos_e4 DESC, n_id""".stripMargin.replace('\n', ' ')

  /** Filtered ANN through the REAL persisted-index path: the index is
    * written cluster-partitioned by label, then probed with a metadata
    * predicate (vec_id ≤ 300) composed INTO the scan — partition pruning
    * from the probes, row-group pushdown from the predicate. Oracle
    * replays probe→filter→rank logically (q_ann_ivf's chain + the
    * predicate). */
  private def qAnnFiltered(t: Tables): DataFrame = {
    val emb = t.embeddings
    val path = java.nio.file.Files.createTempDirectory("graft_ivfidx_f")
    sys.addShutdownHook {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(path).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    Similarity.writeIvfIndex(emb.select(col("vec_id"), col("embedding")),
      emb.select(col("vec_id"), col("label").as("cluster")), path.toString)
    Similarity.ivfIndexFilteredTopK(t.spark, path.toString, queriesOf(emb),
      k = 5, nprobe = 2, predicate = col("vec_id") <= 300)
  }

  private val qAnnFilteredSql =
    s"""WITH cent AS MATERIALIZED (SELECT label,
       |list(m ORDER BY pos) AS cv FROM (
       |SELECT label, pos, FLOOR(AVG(CAST(embedding[pos] AS DOUBLE)) * 1000000) / 1000000 AS m
       |FROM embeddings, unnest(range(1, 65)) AS t(pos)
       |GROUP BY label, pos) g GROUP BY label),
       |q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       |probes AS MATERIALIZED (SELECT q_id, qv, label FROM (
       |SELECT q.q_id, q.qv, c.label,
       |CAST(FLOOR(${cosSql("q.qv", "c.cv")} * 1000000) AS BIGINT) AS rc
       |FROM cent c CROSS JOIN q)
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rc DESC, label) <= 2),
       |sc AS (SELECT p.q_id, e.vec_id AS n_id,
       |CAST(FLOOR(${cosSql("p.qv", "e.embedding")} * 10000) AS BIGINT) AS rcos_e4
       |FROM embeddings e JOIN probes p ON e.label = p.label AND e.vec_id <> p.q_id
       |WHERE e.vec_id <= 300)
       |SELECT q_id, n_id, rcos_e4 FROM sc
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rcos_e4 DESC, n_id) <= 5
       |ORDER BY q_id, rcos_e4 DESC, n_id""".stripMargin.replace('\n', ' ')

  /** IVF over TRAINED clusters: deterministic Lloyd's k-means (k=8,
    * 2 iterations, seeds = 8 lowest vec_ids) assigns every vector, then
    * ivfTopK probes the 2 nearest trained centroids per query. The
    * oracle unrolls the identical assign/update chain. */
  private def qAnnIvfTrained(t: Tables): DataFrame = {
    val emb = t.embeddings
    val assigned = Similarity.kmeansAssign(
      emb.select(col("vec_id"), col("embedding")), k = 8, iters = 2)
    val corpus = emb.select(col("vec_id"), col("embedding")).join(assigned, Seq("vec_id"))
    Similarity.ivfTopK(corpus, queriesOf(emb), k = 5, nprobe = 2, clusterCol = "cluster")
  }

  private val qAnnIvfTrainedSql = {
    def assignCte(t: Int) =
      s"""a$t AS MATERIALIZED (SELECT vec_id, embedding, cid AS cluster FROM (
         |SELECT e.vec_id, e.embedding, c.cid,
         |ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |CAST(FLOOR(${cosSql("e.embedding", "c.cv")} * 1000000) AS BIGINT) DESC, c.cid) AS rn
         |FROM embeddings e CROSS JOIN c${t - 1} c) z$t WHERE rn = 1)""".stripMargin.replace('\n', ' ')
    def centCte(t: Int) =
      s"""c$t AS MATERIALIZED (SELECT cluster AS cid, list(m ORDER BY pos) AS cv FROM (
         |SELECT cluster, pos, FLOOR(AVG(CAST(embedding[pos] AS DOUBLE)) * 1000000) / 1000000 AS m
         |FROM a$t, unnest(range(1, 65)) AS u$t(pos) GROUP BY cluster, pos) g$t GROUP BY cluster)""".stripMargin.replace('\n', ' ')
    s"""WITH c0 AS MATERIALIZED (SELECT vec_id AS cid, embedding AS cv FROM embeddings
       |WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)),
       |${assignCte(1)}, ${centCte(1)}, ${assignCte(2)}, ${centCte(2)}, ${assignCte(3)}, ${centCte(3)},
       |q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       |probes AS MATERIALIZED (SELECT q_id, qv, cid FROM (
       |SELECT q.q_id, q.qv, c.cid,
       |CAST(FLOOR(${cosSql("q.qv", "c.cv")} * 1000000) AS BIGINT) AS rc
       |FROM c3 c CROSS JOIN q) zp
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rc DESC, cid) <= 2),
       |sc AS (SELECT p.q_id, e.vec_id AS n_id,
       |CAST(FLOOR(${cosSql("p.qv", "e.embedding")} * 10000) AS BIGINT) AS rcos_e4
       |FROM a3 e JOIN probes p ON e.cluster = p.cid AND e.vec_id <> p.q_id)
       |SELECT q_id, n_id, rcos_e4 FROM sc
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rcos_e4 DESC, n_id) <= 5
       |ORDER BY q_id, rcos_e4 DESC, n_id""".stripMargin.replace('\n', ' ')
  }

  /** The q_dedup_embedding planted-clone corpus (3 lowest-id vectors
    * cloned with coordinate 0 halved — planted cosine ≥ 0.94, exact in
    * IEEE754 on both engines), shared by the SemDeDup pair. */
  private def semCorpus(emb: DataFrame): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    base.unionByName(base.filter(col("vec_id") < 3).select(
      (col("vec_id") + lit(1000000L)).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 0, (x.cast("double") * lit(0.5)).cast("float")).otherwise(x))
        .as("embedding")))
  }

  /** SemDeDup semantic dedup ([[graft.sim.Similarity.semanticDupPairs]]):
    * k=8 / 1-round deterministic k-means blocks the planted corpus, then
    * within-cluster pairs are kept at floor-e4 cosine ≥ 9000. The oracle
    * replays the identical seed→assign→update→assign chain and the
    * cluster-scoped pair join — a planted clone is found only if the
    * k-means blocking lands it next to its original, so the query proves
    * the SemDeDup recall mechanism, not just the cosine kernel. */
  private def qSemDedup(t: Tables): DataFrame =
    Similarity.semanticDupPairs(semCorpus(t.embeddings),
      k = 8, iters = 1, thresholdE4 = 9000L)

  /** SemDeDup keep-list: transitive closure over the semantic pairs
    * (WCC, min-id canonical — [[graft.dedup.Dedup.dupClusters]]); the
    * oracle closes the same pair set with unrolled min-label
    * propagation. */
  private def qSemDedupKeep(t: Tables): DataFrame = owned { o =>
    Dedup.dupClusters(o(qSemDedup(t)).select(col("a"), col("b")))
      .orderBy(col("id"))
  }

  /** Shared oracle prefix for the SemDeDup pair: planted corpus →
    * k-means chain (c0 seeds, a1 assign, c1 update, a2 final assign —
    * exactly kmeansAssign(k=8, iters=1)) → cluster-scoped pairs `pr`. */
  private val semPairsCtes: String = {
    def assignCte(t: Int) =
      s"""a$t AS MATERIALIZED (SELECT vec_id, embedding, cid AS cluster FROM (
         |SELECT e.vec_id, e.embedding, c.cid,
         |ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |CAST(FLOOR(${cosSql("e.embedding", "c.cv")} * 1000000) AS BIGINT) DESC, c.cid) AS rn
         |FROM emb_all e CROSS JOIN c${t - 1} c) sz$t WHERE rn = 1)""".stripMargin.replace('\n', ' ')
    def centCte(t: Int) =
      s"""c$t AS MATERIALIZED (SELECT cluster AS cid, list(m ORDER BY pos) AS cv FROM (
         |SELECT cluster, pos, FLOOR(AVG(CAST(embedding[pos] AS DOUBLE)) * 1000000) / 1000000 AS m
         |FROM a$t, unnest(range(1, 65)) AS su$t(pos) GROUP BY cluster, pos) sg$t GROUP BY cluster)""".stripMargin.replace('\n', ' ')
    s"""emb_all AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
       |UNION ALL SELECT vec_id + 1000000,
       |list_transform(range(1, 65), i -> CASE WHEN i = 1
       |THEN CAST(CAST(embedding[1] AS DOUBLE) * 0.5 AS REAL)
       |ELSE embedding[i] END)
       |FROM embeddings WHERE vec_id < 3),
       |c0 AS MATERIALIZED (SELECT vec_id AS cid, embedding AS cv FROM emb_all
       |WHERE vec_id IN (SELECT vec_id FROM emb_all ORDER BY vec_id LIMIT 8)),
       |${assignCte(1)}, ${centCte(1)}, ${assignCte(2)},
       |pr AS MATERIALIZED (SELECT x.vec_id AS a, y.vec_id AS b,
       |CAST(FLOOR(${cosSql("x.embedding", "y.embedding")} * 10000) AS BIGINT) AS cos_e4
       |FROM a2 x JOIN a2 y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
       |WHERE CAST(FLOOR(${cosSql("x.embedding", "y.embedding")} * 10000) AS BIGINT) >= 9000)""".stripMargin.replace('\n', ' ')
  }

  private val qSemDedupSql =
    s"WITH $semPairsCtes SELECT a, b, cos_e4 FROM pr ORDER BY a, b"

  private val qSemDedupKeepSql = graft.sql.OracleGen.labelPropSql(
    semPairsCtes +
      ", e AS MATERIALIZED (SELECT a AS src, b AS dst FROM pr UNION ALL SELECT b AS src, a AS dst FROM pr)",
    8, isMin = true, "canonical")

  /** Product-quantized ANN: m=4 subspaces × ksub=8 codes (deterministic
    * per-subspace Lloyd's, 1 iteration), ADC candidate rank against the
    * reconstructed vectors, exact rescore of the top k·4. The oracle
    * replays the ENTIRE chain — 4 independent sub-space k-means runs,
    * codebook means, reconstruction, rank, rescore — all FLOOR-pinned. */
  private def qAnnPq(t: Tables): DataFrame = {
    val emb = t.embeddings
    Similarity.pqTopK(emb.select(col("vec_id"), col("embedding")), queriesOf(emb), k = 10)
  }

  private val qAnnPqSql = {
    // cosine over a 16-wide subvector (the per-subspace trainer metric)
    def cos16(x: String, y: String) =
      s"""(list_sum(list_transform(range(1, 17), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))
         |/ (sqrt(list_sum(list_transform(range(1, 17), i -> CAST($x[i] AS DOUBLE) * CAST($x[i] AS DOUBLE))))
         |* sqrt(list_sum(list_transform(range(1, 17), i -> CAST($y[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))))))""".stripMargin.replace('\n', ' ')
    // per-subspace j: slice → seed centroids (8 lowest vec_ids) → one
    // Lloyd's round (assign, update) → final assign = codes → codebook
    // (mirrors kmeansAssign(k=8, iters=1) + pqCodebook exactly)
    def subCtes(j: Int): String = {
      val o = j * 16
      def assignCte(name: String, cents: String) =
        s"""$name AS MATERIALIZED (SELECT vec_id, se, cid AS code FROM (
           |SELECT e.vec_id, e.se, c.cid,
           |ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |CAST(FLOOR(${cos16("e.se", "c.cv")} * 1000000) AS BIGINT) DESC, c.cid) AS rn
           |FROM s$j e CROSS JOIN $cents c) z WHERE rn = 1)""".stripMargin.replace('\n', ' ')
      def meanCte(name: String, from: String) =
        s"""$name AS MATERIALIZED (SELECT code AS cid, list(m ORDER BY pos) AS cv FROM (
           |SELECT code, pos, FLOOR(AVG(CAST(se[pos] AS DOUBLE)) * 1000000) / 1000000 AS m
           |FROM $from, unnest(range(1, 17)) AS u(pos) GROUP BY code, pos) g
           |GROUP BY cid)""".stripMargin.replace('\n', ' ')
      s"""s$j AS MATERIALIZED (SELECT vec_id, embedding[${o + 1}:${o + 16}] AS se FROM embeddings),
         |p${j}c0 AS MATERIALIZED (SELECT vec_id AS cid, se AS cv FROM s$j
         |WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)),
         |${assignCte(s"p${j}a1", s"p${j}c0")},
         |${meanCte(s"p${j}c1", s"p${j}a1")},
         |${assignCte(s"p${j}a2", s"p${j}c1")},
         |${meanCte(s"p${j}cb", s"p${j}a2")}""".stripMargin.replace('\n', ' ')
    }
    s"""WITH ${subCtes(0)}, ${subCtes(1)}, ${subCtes(2)}, ${subCtes(3)},
       |recon AS MATERIALIZED (SELECT x0.vec_id,
       |flatten([b0.cv, b1.cv, b2.cv, b3.cv]) AS dqv
       |FROM p0a2 x0 JOIN p0cb b0 ON b0.cid = x0.code
       |JOIN p1a2 x1 ON x1.vec_id = x0.vec_id JOIN p1cb b1 ON b1.cid = x1.code
       |JOIN p2a2 x2 ON x2.vec_id = x0.vec_id JOIN p2cb b2 ON b2.cid = x2.code
       |JOIN p3a2 x3 ON x3.vec_id = x0.vec_id JOIN p3cb b3 ON b3.cid = x3.code),
       |q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       |cand AS (SELECT q_id, n_id FROM (
       |SELECT q.q_id, r.vec_id AS n_id,
       |CAST(FLOOR(${cosSql("q.qv", "r.dqv")} * 10000) AS BIGINT) AS adc_e4
       |FROM recon r JOIN q ON r.vec_id <> q.q_id) z
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_e4 DESC, n_id) <= 40),
       |sc AS (SELECT cd.q_id, cd.n_id,
       |CAST(FLOOR(${cosSql("q.qv", "e.embedding")} * 10000) AS BIGINT) AS rcos_e4
       |FROM cand cd JOIN embeddings e ON e.vec_id = cd.n_id JOIN q ON q.q_id = cd.q_id)
       |SELECT q_id, n_id, rcos_e4 FROM sc
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rcos_e4 DESC, n_id) <= 10
       |ORDER BY q_id, rcos_e4 DESC, n_id""".stripMargin.replace('\n', ' ')
  }

  /** LSH-bucketed ANN over the raw embeddings: same hyperplane index as
    * the embedding dedup, candidates = any-band bucket collision. */
  private def qAnnLsh(t: Tables): DataFrame = {
    val emb = t.embeddings
    Similarity.lshTopK(emb.select(col("vec_id"), col("embedding")), queriesOf(emb), k = 10)
  }

  private val qAnnLshSql = {
    import graft.sim.VectorLSH
    val sm = VectorLSH.signsSqlLiteral(VectorLSH.signs(64, 64))
    s"""WITH sgn AS (SELECT $sm AS sm),
       |e AS MATERIALIZED (SELECT vec_id, embedding,
       |list_transform(range(0, 8), b -> ${VectorLSH.bucketSql("embedding", 64, 8, "b")}) AS bk
       |FROM embeddings, sgn),
       |banded AS MATERIALIZED (SELECT vec_id, b AS band, bk[b + 1] AS bv
       |FROM e, unnest(range(0, 8)) AS t(b)),
       |qb AS (SELECT vec_id AS q_id, band, bv FROM banded WHERE vec_id < 5),
       |cand AS MATERIALIZED (SELECT DISTINCT q.q_id, c.vec_id
       |FROM qb q JOIN banded c ON c.band = q.band AND c.bv = q.bv
       |AND c.vec_id <> q.q_id),
       |q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       |sc AS (SELECT cand.q_id, cand.vec_id AS n_id,
       |CAST(FLOOR(${cosSql("q.qv", "x.embedding")} * 10000) AS BIGINT) AS rcos_e4
       |FROM cand JOIN embeddings x ON x.vec_id = cand.vec_id
       |JOIN q ON q.q_id = cand.q_id)
       |SELECT q_id, n_id, rcos_e4 FROM sc
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rcos_e4 DESC, n_id) <= 10
       |ORDER BY q_id, rcos_e4 DESC, n_id""".stripMargin.replace('\n', ' ')
  }

  // multimodal ----------------------------------------------------------

  /** Real-codec round trip: the Spark side WRAPS each doc in a binary
    * PPM (P6) header and PARSES it back with Multimodal.decodePpm; the
    * oracle constructs the identical payload but takes width/height from
    * the construction formula — so a hash match proves the parser reads
    * the header correctly (bytes, md5, and all three parsed fields). */
  private def qMultimodalMeta(t: Tables): DataFrame =
    Multimodal.decodeMeta(Multimodal.documentsAsPpm(t.documents))
      .toDF().orderBy(col("doc_id"))

  private val qMultimodalMetaSql =
    """WITH p AS (SELECT doc_id,
      |1 + doc_id % 64 AS w, 1 + length(text) % 64 AS h,
      |'P6' || chr(10) || CAST(1 + doc_id % 64 AS VARCHAR) || ' ' ||
      |CAST(1 + length(text) % 64 AS VARCHAR) || chr(10) || '255' || chr(10) || text AS s
      |FROM documents)
      |SELECT doc_id,
      |CAST(octet_length(encode(s)) AS BIGINT) AS n_bytes,
      |md5(s) AS content_md5,
      |CAST(w AS INT) AS width, CAST(h AS INT) AS height, CAST(255 AS INT) AS maxval
      |FROM p ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  /** Audio round trip: real RIFF/WAVE payloads constructed from doc_id
    * formulas, parsed back by the chunk-walking reader; the oracle
    * replays the formulas (docs % 3 == 0 carry a junk LIST chunk, so a
    * fixed-offset "parser" would fail them). */
  private def qMultimodalWav(t: Tables): DataFrame =
    Multimodal.decodeWavMeta(Multimodal.documentsAsWav(t.documents))
      .toDF().orderBy(col("doc_id"))

  private val qMultimodalWavSql =
    """WITH p AS (SELECT doc_id,
      |CAST(1 + doc_id % 2 AS INT) AS channels,
      |CAST(8000 + (doc_id % 5) * 1000 AS INT) AS sample_rate,
      |CAST(8 * (1 + doc_id % 2) AS INT) AS bits,
      |(10 + doc_id % 50) * (1 + doc_id % 2) * (1 + doc_id % 2) AS data_b,
      |CASE WHEN doc_id % 3 = 0 THEN 8 + 2 * ((doc_id % 4) + 1) ELSE 0 END AS junk
      |FROM documents)
      |SELECT doc_id, channels, sample_rate, bits,
      |CAST(data_b AS BIGINT) AS data_bytes,
      |CAST(12 + junk + 24 + 8 + data_b + (data_b % 2) AS BIGINT) AS n_bytes,
      |CAST(data_b * 1000000 // (sample_rate * (1 + doc_id % 2) * (1 + doc_id % 2)) AS BIGINT) AS duration_us
      |FROM p ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  /** Video frame sampling: every 2nd frame of a concatenated-PPM
    * container; the walker's parsed (w, h) and byte offsets must equal
    * the construction formulas' running totals. */
  private def qMultimodalFrames(t: Tables): DataFrame =
    Multimodal.sampleVideoFrames(
      Multimodal.documentsAsVideo(t.documents), stride = 2)
      .orderBy(col("doc_id"), col("frame_idx"))

  private val qMultimodalFramesSql =
    """WITH f AS (SELECT doc_id, fi,
      |CAST(1 + (doc_id + fi) % 8 AS INT) AS width,
      |CAST(1 + (fi % 5) AS INT) AS height
      |FROM documents CROSS JOIN range(0, 4) AS t(fi)
      |WHERE fi < 1 + doc_id % 4),
      |o AS (SELECT doc_id, fi, width, height,
      |COALESCE(SUM(11 + width * height * 3) OVER (PARTITION BY doc_id ORDER BY fi
      |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |FROM f)
      |SELECT doc_id, CAST(fi AS INT) AS frame_idx, width, height,
      |CAST(off AS BIGINT) AS offset
      |FROM o WHERE fi % 2 = 0 ORDER BY doc_id, frame_idx""".stripMargin.replace('\n', ' ')

  /** Pixel feature extraction round trip: the payload's pixel stream is
    * the document's (pure-ASCII) text bytes, so the oracle can compute
    * the same stats from the characters — matching only if the parser
    * skipped exactly the real header. */
  private def qMultimodalPixstats(t: Tables): DataFrame =
    Multimodal.pixelStats(Multimodal.documentsAsPpm(t.documents))
      .toDF().orderBy(col("doc_id"))

  // LEFT JOIN back onto documents: an empty text unnests to zero rows
  // and would silently vanish from a plain GROUP BY, while pixelStats
  // keeps the doc with the (0, 0, -1, -1) sentinel — COALESCE restores
  // the same contract (corrupt/empty rows flagged, never dropped)
  private val qMultimodalPixstatsSql =
    """WITH px AS (SELECT doc_id, ascii(c) AS v FROM (
      |SELECT doc_id, unnest(split(text, '')) AS c FROM documents) z),
      |st AS (SELECT doc_id, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s,
      |CAST(MIN(v) AS INT) AS mn, CAST(MAX(v) AS INT) AS mx
      |FROM px GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(st.n, 0) AS n_px_bytes,
      |COALESCE(st.s, 0) AS sum_px, COALESCE(st.mn, -1) AS min_px,
      |COALESCE(st.mx, -1) AS max_px
      |FROM documents d LEFT JOIN st ON st.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin.replace('\n', ' ')

  /** Perceptual average-hash of every document-as-image: 60-cell aHash
    * ([[graft.multimodal.Multimodal.averageHash]]), exact-integer bit
    * rule, so the oracle recomputes the hash from the text bytes (the
    * pixstats pure-ASCII fixture contract). Sentinels replayed via the
    * same LEFT JOIN + COALESCE discipline as q_multimodal_pixstats. */
  private def qMultimodalAhash(t: Tables): DataFrame =
    Multimodal.averageHash(Multimodal.documentsAsPpm(t.documents))
      .toDF().orderBy(col("doc_id"))

  private def qMultimodalPhash(t: Tables): DataFrame =
    Multimodal.perceptualHash(Multimodal.documentsAsPpm(t.documents))
      .toDF().orderBy(col("doc_id"))

  /** The DCT kernel literals come from the SAME class-init table the
    * engine multiplies against ([[Multimodal.phashCoef]]) — identical by
    * construction, zero runtime libm in either engine. */
  private val qMultimodalPhashSql = {
    val rows = (for {
      k <- 0 until Multimodal.PhashCoeffs
      c <- 0 until Multimodal.PhashCells
    } yield s"($k, $c, ${Multimodal.phashCoef(k)(c)})").mkString(", ")
    s"""WITH px AS MATERIALIZED (SELECT doc_id,
       |ascii(substring(text, CAST(i AS INT), 1)) AS v,
       |((i - 1) * ${Multimodal.PhashCells}) // length(text) AS cell
       |FROM documents, unnest(range(1, length(text) + 1)) AS t(i)),
       |cl AS (SELECT doc_id, cell, CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS nc
       |FROM px GROUP BY 1, 2),
       |mu AS (SELECT doc_id, cell, (s * 1024) // nc AS m FROM cl),
       |coef AS (SELECT * FROM (VALUES $rows) t(k, cell, kv)),
       |f AS (SELECT mu.doc_id, coef.k, CAST(SUM(mu.m * coef.kv) AS BIGINT) AS fk
       |FROM mu JOIN coef ON coef.cell = mu.cell GROUP BY 1, 2),
       |tt AS (SELECT doc_id, CAST(SUM(fk) AS BIGINT) AS total FROM f GROUP BY 1),
       |h AS (SELECT f.doc_id,
       |CAST(SUM(CASE WHEN fk * ${Multimodal.PhashCoeffs} > total
       |THEN (CAST(1 AS BIGINT) << CAST(k AS INT)) ELSE 0 END) AS BIGINT) AS phash
       |FROM f JOIN tt USING (doc_id) GROUP BY 1),
       |n AS (SELECT doc_id, COUNT(*) AS n_px FROM px GROUP BY 1)
       |SELECT d.doc_id, COALESCE(n.n_px, 0) AS n_px,
       |COALESCE(h.phash, -1) AS phash
       |FROM documents d LEFT JOIN n ON d.doc_id = n.doc_id
       |LEFT JOIN h ON d.doc_id = h.doc_id
       |ORDER BY d.doc_id""".stripMargin.replace('\n', ' ')
  }

  private val qMultimodalAhashSql =
    """WITH px AS MATERIALIZED (SELECT doc_id,
      |ascii(substring(text, CAST(i AS INT), 1)) AS v,
      |((i - 1) * 60) // length(text) AS cell
      |FROM documents, unnest(range(1, length(text) + 1)) AS t(i)),
      |cl AS (SELECT doc_id, cell, CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS nc
      |FROM px GROUP BY 1, 2),
      |tt AS (SELECT doc_id, CAST(SUM(v) AS BIGINT) AS ts, COUNT(*) AS n
      |FROM px GROUP BY 1),
      |h AS (SELECT cl.doc_id,
      |CAST(SUM(CASE WHEN s * n > ts * nc
      |THEN (CAST(1 AS BIGINT) << CAST(cell AS INT)) ELSE 0 END) AS BIGINT) AS ahash
      |FROM cl JOIN tt ON cl.doc_id = tt.doc_id GROUP BY 1)
      |SELECT d.doc_id, COALESCE(tt.n, 0) AS n_px, COALESCE(h.ahash, -1) AS ahash
      |FROM documents d LEFT JOIN tt ON d.doc_id = tt.doc_id
      |LEFT JOIN h ON d.doc_id = h.doc_id
      |ORDER BY d.doc_id""".stripMargin.replace('\n', ' ')

  /** Image near-dup pairs over the perceptual hash: 60-bit aHash split
    * into 12×5-bit bands; hamming ≤ 11 < 12 guarantees one identical
    * band (pigeonhole — the simhash discipline), so candidates come
    * from a band equi-join and the exact bit_count(xor) check runs on
    * candidates only. Completes the image-dedup story:
    * decode → hash → band-join → verify, never all-pairs. (Natural
    * minimum hamming in this corpus is 8 — threshold 11 keeps the 4
    * genuinely most-similar image pairs.) */
  private def qMultimodalAhashPairs(t: Tables): DataFrame = {
    val h = Multimodal.averageHash(Multimodal.documentsAsPpm(t.documents))
      .toDF().filter(col("ahash") >= 0)
    val bands = h.select(col("doc_id"), col("ahash"),
        explode(expr("sequence(0, 11)")).as("band"))
      .withColumn("bv", expr("(ahash >> cast(band * 5 as int)) & 31"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("u"), col("b.doc_id").as("v"),
        expr("bit_count(a.ahash ^ b.ahash)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 11)
      .orderBy(col("u"), col("v"))
  }

  private val qMultimodalAhashPairsSql =
    s"""WITH ah AS MATERIALIZED ($qMultimodalAhashSql),
       |h AS (SELECT doc_id, ahash FROM ah WHERE ahash >= 0),
       |bands AS MATERIALIZED (SELECT doc_id, ahash, band,
       |(ahash >> CAST(band * 5 AS INT)) & 31 AS bv
       |FROM h, unnest(range(0, 12)) AS t(band)),
       |cand AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v,
       |CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
       |FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
       |AND a.doc_id < b.doc_id)
       |SELECT u, v, hamming FROM cand WHERE hamming <= 11
       |ORDER BY u, v""".stripMargin.replace('\n', ' ')

  /** PCM sample energy round trip: the data chunk's bytes follow the
    * construction pattern i % 253, so the oracle recomputes the exact
    * |amplitude| sums from the formulas while Spark DECODES the real
    * bytes at the offset the chunk walker found — a match proves the
    * reader walked to the true data chunk and interpreted 8-bit
    * unsigned / 16-bit signed LE samples correctly. */
  private def qMultimodalEnergy(t: Tables): DataFrame =
    Multimodal.wavSampleStats(Multimodal.documentsAsWav(t.documents))
      .toDF().orderBy(col("doc_id"))

  private val qMultimodalEnergySql =
    """WITH p AS (SELECT doc_id, 10 + doc_id % 50 AS ns FROM documents),
      |z AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
      |THEN list_transform(range(0, ns), i -> ABS((i % 253) - 128))
      |ELSE list_transform(range(0, 2 * ns), k ->
      |ABS((2 * k) % 253 + ((2 * k + 1) % 253) * 256 -
      |CASE WHEN (2 * k) % 253 + ((2 * k + 1) % 253) * 256 >= 32768
      |THEN 65536 ELSE 0 END)) END AS l FROM p)
      |SELECT doc_id, CAST(len(l) AS BIGINT) AS n_samples,
      |CAST(list_sum(l) AS BIGINT) AS sum_abs,
      |CAST(list_max(l) AS BIGINT) AS max_abs
      |FROM z ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  /** Hive-style partitioned warehouse round trip
    * ([[graft.io.PartitionedStore]]): events written partitioned by
    * (event_type, day), read back through a partition-pruned scan
    * (FormatsSpec asserts the PartitionFilters), aggregated per day.
    * The oracle replays the aggregate straight off the source table, so
    * a hash match proves the write→prune→read cycle is lossless. */
  private def qPartitionedWrite(t: Tables): DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("graft_warehouse")
    sys.addShutdownHook {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(path).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    val ev = t.events.select(col("event_id"), col("user_id"),
      col("event_type"), col("value"),
      expr("ts div 86400000000").as("day"))
    graft.io.PartitionedStore.write(ev, path.toString, Seq("event_type", "day"))
    graft.io.PartitionedStore.read(t.spark, path.toString)
      .filter(col("event_type") === "purchase")
      .groupBy(col("day").cast("long").as("day"))
      .agg(count(lit(1)).as("n"), e2(sum(col("value"))).as("rev_e2"))
      .orderBy(col("day"))
  }

  private val qPartitionedWriteSql =
    """SELECT epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n,
      |CAST(FLOOR(SUM(value) * 100) AS BIGINT) AS rev_e2
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY 1""".stripMargin.replace('\n', ' ')

  // registry ------------------------------------------------------------

  /** LSH band-configuration tuning sweep: candidate-pair counts and
    * verified-duplicate precision for (bands × rows) ∈ {2×8, 4×4, 8×2}
    * over ONE shared 16-hash MinHash signature frame — the
    * recall-vs-cost panel that decides a dedup deployment's banding.
    * Signatures are computed once (persisted) and re-banded per config;
    * each config is a self-join on its own (band, hash) key, exactly the
    * production pipeline's shape with only the constant changed. */
  private def qDedupBandTuning(t: Tables): DataFrame = owned { o =>
    val docs = t.documents
    val sigs = o(Dedup.withMinhash(docs, shingleLen = 8, numHashes = 16)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sh = sigs.select(col("doc_id"), col("sh"))
    val configs = Seq((2, 8), (4, 4), (8, 2))
    // r15 (guide §1.2 "don't compute things you throw away"): the three
    // banding configs' candidate sets overlap heavily (a pair colliding
    // under strict banding usually collides under permissive banding
    // too), and the old per-config verify joined the WIDE shingle frame
    // 6× and evaluated the exact-Jaccard kernel once per (config, pair).
    // Tag the per-config candidates, verify each DISTINCT pair once
    // (2 sh joins + 1 kernel pass total), then join the verdict back —
    // per-config (n_candidates, n_dups) are over the identical pair
    // sets, and `dup` is a deterministic function of the pair, so the
    // aggregates are unchanged by construction.
    val tagged = o(configs.map { case (b, r) =>
      o(Dedup.lshCandidates(sigs, b, r))
        .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          col("ida"), col("idb"))
    }.reduce(_ unionByName _).localCheckpoint())
    val verdict = tagged.select(col("ida"), col("idb")).distinct()
      .join(sh.select(col("doc_id").as("ida"), col("sh").as("sha")), Seq("ida"))
      .join(sh.select(col("doc_id").as("idb"), col("sh").as("shb")), Seq("idb"))
      .select(col("ida"), col("idb"),
        graft.text.TextFunctions.jaccard(col("sha"), col("shb"))
          .geq(0.3).cast("long").as("dup"))
    val counts = tagged.join(verdict, Seq("ida", "idb"))
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("n_candidates"),
        coalesce(sum(col("dup")), lit(0L)).cast("long").as("n_dups"))
    // seed frame keeps one output row per config even when a banding
    // yields ZERO candidates (the old per-config global agg always
    // produced its row; a bare groupBy would drop it)
    val seed = {
      import t.spark.implicits._
      configs.map { case (b, r) => (b.toLong, r.toLong) }
        .toDF("bands", "rows_per_band")
    }
    seed.join(counts, Seq("bands", "rows_per_band"), "left")
      .select(col("bands"), col("rows_per_band"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"))
      .select(col("bands"), col("rows_per_band"), col("n_candidates"),
        col("n_dups"),
        when(col("n_candidates") > 0,
          expr("(n_dups * 1000000) div n_candidates")).otherwise(lit(0L))
          .as("precision_e6"))
      .orderBy(col("bands")).localCheckpoint()
  }

  private val qDedupBandTuningSql = {
    val blocks = Seq((2, 8), (4, 4), (8, 2)).map { case (b, r) =>
      s"""bands$b AS MATERIALIZED (SELECT doc_id, b,
         |md5(array_to_string(sig[b*$r+1 : b*$r+$r], '|')) AS bv
         |FROM sig, unnest(range(0, $b)) AS tb$b(b)),
         |pairs$b AS MATERIALIZED (SELECT DISTINCT a.doc_id AS ida, b2.doc_id AS idb
         |FROM bands$b a JOIN bands$b b2 ON a.b = b2.b AND a.bv = b2.bv
         |AND a.doc_id < b2.doc_id),
         |st$b AS (SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
         |COUNT(*) AS n_candidates,
         |CAST(COALESCE(SUM(CASE WHEN inter / (la + lb - inter) >= 0.3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dups
         |FROM (SELECT len(list_filter(x.sh, s -> list_contains(y.sh, s))) AS inter,
         |len(x.sh) AS la, len(y.sh) AS lb
         |FROM pairs$b p JOIN sh x ON x.doc_id = p.ida JOIN sh y ON y.doc_id = p.idb) j$b)""".stripMargin.replace('\n', ' ')
    }.mkString(", ")
    val union = Seq(2, 4, 8).map(b => s"SELECT * FROM st$b").mkString(" UNION ALL ")
    s"""WITH $minhashSigCtes, $blocks
       |SELECT bands, rows_per_band, n_candidates, n_dups,
       |CASE WHEN n_candidates > 0 THEN (n_dups * 1000000) // n_candidates
       |ELSE CAST(0 AS BIGINT) END AS precision_e6
       |FROM ($union) z ORDER BY bands""".stripMargin.replace('\n', ' ')
  }

  /** Dedup recall/precision audit: MinHash-LSH candidates (16 hashes,
    * 4×4 bands) measured against the EXACT Jaccard-≥0.5 pair set from
    * the PPJoin-style exact join — the "is my banding losing dups"
    * number a dedup deployment must publish. One signature pass + one
    * exact join; the oracle recomputes the truth by the independent
    * brute shingle-posting join AND replays the banding. */
  private def qDedupRecallAudit(t: Tables): DataFrame = owned { o =>
    // deterministic half-corpus sample: recall/precision are RATIO
    // estimates, so a fixed 1-in-2 slice answers the audit question at
    // a quarter of the pair cost (the exact-Jaccard truth side is the
    // single most expensive kernel in the library at full corpus —
    // 59s → ~15s at sf0.1)
    val docs = t.documents.filter(col("doc_id") % 2 === 0)
    // ONE persisted shingle pass feeds both sides: the exact-truth join
    // reads it twice internally (df pass + sorted-token build) and the
    // MinHash side once more — unshared, that is three full text-shingle
    // scans of the corpus for one audit.
    val sh = o(docs.select(col("doc_id"),
        graft.text.TextFunctions.shingleSet(col("text"), 8).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val exact = o(Dedup.jaccardJoin(
        sh.select(col("doc_id"), col("sh").as("items")), thresholdPct = 70))
    val truth = o(exact.select(col("a"), col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val lsh = o(Dedup.lshCandidates(
        sh.withColumn("sig",
          graft.text.TextFunctions.minhashSignature(col("sh"), 16)), 4, 4))
    val cands = o(lsh.select(col("ida").as("a"), col("idb").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val hits = truth.join(cands, Seq("a", "b"), "left_semi")
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(cands.agg(count(lit(1)).as("n_cands")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
      .select(col("n_truth"), col("n_cands"), col("n_hits"),
        when(col("n_truth") > 0, expr("(n_hits * 1000000) div n_truth"))
          .otherwise(lit(1000000L)).as("recall_e6"),
        when(col("n_cands") > 0, expr("(n_hits * 1000000) div n_cands"))
          .otherwise(lit(0L)).as("precision_e6"))
      .localCheckpoint()
  }

  private val qDedupRecallAuditSql =
    s"""WITH samp AS MATERIALIZED (SELECT * FROM documents WHERE doc_id % 2 = 0),
       |${minhashSigCtesFrom("samp")},
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS ca, b.doc_id AS cb
       |FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv
       |AND a.doc_id < b.doc_id),
       |tok AS MATERIALIZED (SELECT doc_id, unnest(sh) AS tk FROM sh),
       |iv AS (SELECT a.doc_id AS ta, b.doc_id AS tb, COUNT(*) AS i
       |FROM tok a JOIN tok b ON a.tk = b.tk AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |ln AS (SELECT doc_id, len(sh) AS l FROM sh),
       |truth AS MATERIALIZED (SELECT ta, tb FROM iv
       |JOIN ln x ON x.doc_id = iv.ta JOIN ln y ON y.doc_id = iv.tb
       |WHERE i * 100 >= (x.l + y.l - i) * 70),
       |nt AS (SELECT COUNT(*) AS n_truth FROM truth),
       |nc AS (SELECT COUNT(*) AS n_cands FROM cand),
       |nh AS (SELECT COUNT(*) AS n_hits FROM truth
       |WHERE EXISTS (SELECT 1 FROM cand WHERE ca = ta AND cb = tb))
       |SELECT n_truth, n_cands, n_hits,
       |CASE WHEN n_truth > 0 THEN (n_hits * 1000000) // n_truth
       |ELSE CAST(1000000 AS BIGINT) END AS recall_e6,
       |CASE WHEN n_cands > 0 THEN (n_hits * 1000000) // n_cands
       |ELSE CAST(0 AS BIGINT) END AS precision_e6
       |FROM nt CROSS JOIN nc CROSS JOIN nh""".stripMargin.replace('\n', ' ')

  /** IVF index-health audit: trained-cluster occupancy (k=8, 2 Lloyd
    * rounds — the q_ann_ivf_trained trainer) with e6 shares — the
    * balance number that predicts probe-cost variance (one hot cluster
    * = one hot partition at serving time). The oracle replays the full
    * deterministic train→assign chain and counts the same buckets. */
  private def qAnnBalance(t: Tables): DataFrame = {
    val emb = t.embeddings
    val assigned = Similarity.kmeansAssign(
      emb.select(col("vec_id"), col("embedding")), k = 8, iters = 2)
    val g = assigned.groupBy(col("cluster")).agg(count(lit(1)).as("n_vectors"))
    g.crossJoin(broadcast(g.agg(sum(col("n_vectors")).cast("long").as("total"))))
      .select(col("cluster"), col("n_vectors"),
        expr("(n_vectors * 1000000) div total").as("share_e6"))
      .orderBy(col("cluster"))
  }

  private val qAnnBalanceSql = {
    def assignCte(t: Int) =
      s"""ba$t AS MATERIALIZED (SELECT vec_id, embedding, cid AS cluster FROM (
         |SELECT e.vec_id, e.embedding, c.cid,
         |ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |CAST(FLOOR(${cosSql("e.embedding", "c.cv")} * 1000000) AS BIGINT) DESC, c.cid) AS rn
         |FROM embeddings e CROSS JOIN bc${t - 1} c) bz$t WHERE rn = 1)""".stripMargin.replace('\n', ' ')
    def centCte(t: Int) =
      s"""bc$t AS MATERIALIZED (SELECT cluster AS cid, list(m ORDER BY pos) AS cv FROM (
         |SELECT cluster, pos, FLOOR(AVG(CAST(embedding[pos] AS DOUBLE)) * 1000000) / 1000000 AS m
         |FROM ba$t, unnest(range(1, 65)) AS bu$t(pos) GROUP BY cluster, pos) bg$t GROUP BY cluster)""".stripMargin.replace('\n', ' ')
    s"""WITH bc0 AS MATERIALIZED (SELECT vec_id AS cid, embedding AS cv FROM embeddings
       |WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)),
       |${assignCte(1)}, ${centCte(1)}, ${assignCte(2)}, ${centCte(2)}, ${assignCte(3)},
       |g AS (SELECT cluster, COUNT(*) AS n_vectors FROM ba3 GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS total FROM g)
       |SELECT cluster, n_vectors, (n_vectors * 1000000) // total AS share_e6
       |FROM g CROSS JOIN tot ORDER BY cluster""".stripMargin.replace('\n', ' ')
  }

  /** Duplicate-density-by-source matrix: verified MinHash dup pairs
    * (Jaccard ≥ 0.3) attributed to their documents' source pair — the
    * "which domain is flooding the corpus with copies" view that
    * decides per-source dedup budgets. One extra broadcast-sized
    * (doc_id → source) join over the q_dedup_minhash pipeline. */
  private def qDedupBySource(t: Tables): DataFrame = {
    val docs = t.documents
    val src = docs.select(col("doc_id"), col("source"))
    Dedup.minhashDupPairs(docs)
      .join(src.select(col("doc_id").as("a"), col("source").as("sa")), Seq("a"))
      .join(src.select(col("doc_id").as("b"), col("source").as("sb")), Seq("b"))
      .select(least(col("sa"), col("sb")).as("s1"),
        greatest(col("sa"), col("sb")).as("s2"))
      .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("n_dup_pairs"))
      .orderBy(col("s1"), col("s2"))
  }

  private val qDedupBySourceSql =
    s"""WITH $minhashPairsCtes,
       |vp AS (SELECT ida, idb FROM jx
       |WHERE inter / (la + lb - inter) >= 0.3),
       |sp AS (SELECT least(x.source, y.source) AS s1,
       |greatest(x.source, y.source) AS s2
       |FROM vp JOIN documents x ON x.doc_id = vp.ida
       |JOIN documents y ON y.doc_id = vp.idb)
       |SELECT s1, s2, COUNT(*) AS n_dup_pairs FROM sp
       |GROUP BY 1, 2 ORDER BY s1, s2""".stripMargin.replace('\n', ' ')

  /** [[Multimodal.pixelHistogram]]: 16-bin luminance histogram per
    * document-as-image. The oracle recomputes the bins from the text
    * characters (the pixstats pure-ASCII fixture contract), so the
    * comparison proves the parser skipped exactly the real header. */
  private def qMultimodalHistogram(t: Tables): DataFrame =
    Multimodal.pixelHistogram(Multimodal.documentsAsPpm(t.documents))
      .toDF().orderBy(col("doc_id"), col("bin"))

  private val qMultimodalHistogramSql =
    """SELECT doc_id, CAST(ascii(c) // 16 AS INT) AS bin, COUNT(*) AS cnt
      |FROM (SELECT doc_id, unnest(split(text, '')) AS c FROM documents) z
      |GROUP BY 1, 2 ORDER BY doc_id, bin""".stripMargin.replace('\n', ' ')

  /** [[Similarity.covarianceUpper]] over the embedding corpus: quantize
    * q = ⌊v·2¹⁴⌋ FIRST, then every sum is an order-independent BIGINT.
    * Oracle recomputes the identical numerators by unnest + self-join —
    * an independent (join-based) formulation of the same Gram matrix. */
  private def qEmbCovariance(t: Tables): DataFrame =
    Similarity.covarianceUpper(t.embeddings, dim = 64)
      .orderBy(col("j"), col("k"))

  private val qEmbCovarianceSql =
    """WITH q AS MATERIALIZED (SELECT vec_id, j,
      |CAST(FLOOR(CAST(embedding[j] AS DOUBLE) * 16384) AS BIGINT) AS qv
      |FROM embeddings, unnest(range(1, 65)) t(j)),
      |n AS (SELECT COUNT(*) AS n FROM embeddings),
      |s AS MATERIALIZED (SELECT j, CAST(SUM(qv) AS BIGINT) AS sj FROM q GROUP BY 1),
      |pp AS (SELECT a.j AS j, b.j AS k, CAST(SUM(a.qv * b.qv) AS BIGINT) AS spp
      |FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.j >= a.j GROUP BY 1, 2)
      |SELECT pp.j - 1 AS j, pp.k - 1 AS k, spp,
      |n.n * spp - sa.sj * sb.sj AS cov_num
      |FROM pp JOIN s sa ON sa.j = pp.j JOIN s sb ON sb.j = pp.k CROSS JOIN n
      |ORDER BY j, k""".stripMargin.replace('\n', ' ')

  /** [[Similarity.silhouette]] over the stored labels — the
    * cluster-quality audit every embedding-space pipeline needs before
    * trusting its blocking. Shifted-silhouette s' = s+1 keeps every
    * integer division non-negative (truncate vs floor agreement). */
  private def qEmbSilhouette(t: Tables): DataFrame =
    Similarity.silhouette(t.embeddings)
      .orderBy(col("label"))

  private val qEmbSilhouetteSql =
    s"""WITH cent AS MATERIALIZED (SELECT label AS c, list(m ORDER BY pos) AS cv FROM (
       |SELECT label, pos, FLOOR(AVG(CAST(embedding[pos] AS DOUBLE)) * 1000000) / 1000000 AS m
       |FROM embeddings, unnest(range(1, 65)) u(pos) GROUP BY label, pos) g GROUP BY label),
       |d AS (SELECT e.vec_id, e.label, c.c,
       |1000000 - CAST(FLOOR(${cosSql("e.embedding", "c.cv")} * 1000000) AS BIGINT) AS dist
       |FROM embeddings e CROSS JOIN cent c),
       |ab AS (SELECT vec_id, label,
       |MIN(CASE WHEN c = label THEN dist END) AS a,
       |MIN(CASE WHEN c <> label THEN dist END) AS b
       |FROM d GROUP BY 1, 2),
       |sv AS (SELECT label, CASE WHEN greatest(a, b) > 0
       |THEN CAST(((b - a + greatest(a, b)) * 1000000) // greatest(a, b) AS BIGINT)
       |ELSE CAST(1000000 AS BIGINT) END AS s FROM ab)
       |SELECT label, COUNT(*) AS n,
       |CAST(SUM(s) AS BIGINT) // COUNT(*) AS mean_sil_shift_e6,
       |MIN(s) AS min_sil_shift_e6, MAX(s) AS max_sil_shift_e6
       |FROM sv GROUP BY label ORDER BY label""".stripMargin.replace('\n', ' ')

  val queries: Seq[Query] = Seq(
    Query("q_multimodal_histogram", qMultimodalHistogram, qMultimodalHistogramSql),
    Query("q_dedup_band_tuning", qDedupBandTuning, qDedupBandTuningSql),
    Query("q_lang_confusion", qLangConfusion, qLangConfusionSql),
    Query("q_ann_hardneg", qAnnHardneg, qAnnHardnegSql),
    Query("q_emb_outliers", qEmbOutliers, qEmbOutliersSql),
    Query("q_dedup_recall_audit", qDedupRecallAudit, qDedupRecallAuditSql),
    Query("q_ann_balance", qAnnBalance, qAnnBalanceSql),
    Query("q_dedup_by_source", qDedupBySource, qDedupBySourceSql),
    Query("q_emb_covariance", qEmbCovariance, qEmbCovarianceSql),
    Query("q_emb_silhouette", qEmbSilhouette, qEmbSilhouetteSql),
    Query("q_partitioned_write", qPartitionedWrite, qPartitionedWriteSql),
    Query("q_text_stats", qTextStats, qTextStatsSql),
    Query("q_text_bpe", qTextBpe, qTextBpeSql),
    Query("q_text_quality", qTextQuality, qTextQualitySql),
    Query("q_text_langid", qTextLangid, qTextLangidSql),
    Query("q_text_fingerprint", qTextFingerprint, qTextFingerprintSql),
    Query("q_dedup_exact", qDedupExact, qDedupExactSql),
    Query("q_dedup_minhash", qDedupMinhash, qDedupMinhashSql),
    Query("q_dedup_incremental", qDedupIncremental, qDedupIncrementalSql),
    Query("q_dedup_simhash", qDedupSimhash, qDedupSimhashSql),
    Query("q_dedup_simhash_pairs", qDedupSimhashPairs, qDedupSimhashPairsSql),
    Query("q_dedup_clusters", qDedupClusters, qDedupClustersSql),
    Query("q_dedup_keep_best", qDedupKeepBest, qDedupKeepBestSql),
    Query("q_dedup_filtered", qDedupFiltered, qDedupFilteredSql),
    Query("q_dedup_ngram", qDedupNgram, qDedupNgramSql),
    Query("q_dedup_cdc", qDedupCdc, qDedupCdcSql),
    Query("q_dedup_embedding", qDedupEmb, qDedupEmbSql),
    Query("q_dedup_semantic", qSemDedup, qSemDedupSql),
    Query("q_dedup_semantic_keep", qSemDedupKeep, qSemDedupKeepSql),
    Query("q_ann_brute", qAnnBrute, qAnnBruteSql),
    Query("q_ann_sq", qAnnSq, qAnnSqSql),
    Query("q_ann_ivf", qAnnIvf, qAnnIvfSql),
    Query("q_ann_filtered", qAnnFiltered, qAnnFilteredSql),
    Query("q_ann_ivf_trained", qAnnIvfTrained, qAnnIvfTrainedSql),
    Query("q_ann_lsh", qAnnLsh, qAnnLshSql),
    Query("q_ann_pq", qAnnPq, qAnnPqSql),
    Query("q_ann_matryoshka", qAnnMatryoshka, qAnnMatryoshkaSql),
    Query("q_knn_graph", qKnnGraph, qKnnGraphSql),
    Query("q_jaccard_join", qJaccardJoin, qJaccardJoinSql),
    Query("q_multimodal_meta", qMultimodalMeta, qMultimodalMetaSql),
    Query("q_multimodal_wav", qMultimodalWav, qMultimodalWavSql),
    Query("q_multimodal_energy", qMultimodalEnergy, qMultimodalEnergySql),
    Query("q_multimodal_frames", qMultimodalFrames, qMultimodalFramesSql),
    Query("q_multimodal_pixstats", qMultimodalPixstats, qMultimodalPixstatsSql),
    Query("q_multimodal_ahash", qMultimodalAhash, qMultimodalAhashSql),
    Query("q_multimodal_phash", qMultimodalPhash, qMultimodalPhashSql),
    Query("q_multimodal_ahash_pairs", qMultimodalAhashPairs, qMultimodalAhashPairsSql))
}
