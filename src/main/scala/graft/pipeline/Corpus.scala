package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBridge.owned

import graft.graph.Fixpoint
import graft.text.TextFunctions._

/** Corpus-level training-data-pipeline operators: repetition filtering,
  * TF-IDF keyword extraction, vocabulary building, deterministic
  * stratified sampling, PII scrubbing, and sequence packing.
  *
  * Everything is pure DataFrame algebra (codegen'd Column expressions +
  * joins/windows; the one `mapPartitions` is the order-sensitive greedy
  * packer, which is inherently a sequential per-block scan). All float
  * outputs are floor-scaled BIGINTs or exact integer division so a DuckDB
  * oracle hash-matches.
  */
object Corpus {

  /** Exact BIGINT integer division (DuckDB's `//`): (a - a mod b) is an
    * exact multiple of b, and a correctly-rounded double division whose
    * true quotient is an integer ≤ 2^53 returns it exactly — so the two
    * engines agree bit-for-bit, unlike floor(a / b) where the double
    * quotient can round across an integer boundary. */
  private def idiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  // --- repetition signals (the Gopher-style repetition filters) --------

  /** Per-doc repetition stats over word 2-grams: total grams, distinct
    * grams, the most-frequent gram's count, and the two Gopher-style
    * fractions (top-gram share, duplicate-gram share) as exact
    * floor-scaled e6 integers. High top_frac/dup_frac = boilerplate or
    * degenerate repetition — the standard pre-training drop signal.
    *
    * Scale shape: explode → two-level groupBy. The (doc_id, gram) partial
    * aggregation is map-side combined by Catalyst; nothing is ever
    * collected per-doc into one row except the final O(1) stats. */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val grams = docs.select(col(idCol).as("doc_id"),
        explode(wordNgramsAll(tokens(col(textCol)), 2)).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("cnt"))
    grams.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_grams"),
        count(lit(1)).as("n_uniq"),
        max(col("cnt")).as("top_cnt"))
      .select(col("doc_id"), col("n_grams"), col("n_uniq"), col("top_cnt"),
        idiv(col("top_cnt") * lit(1000000L), col("n_grams")).as("top_frac_e6"),
        idiv((col("n_grams") - col("n_uniq")) * lit(1000000L), col("n_grams"))
          .as("dup_frac_e6"))
  }

  // --- TF-IDF keywords --------------------------------------------------

  /** Top-k keywords per document by rational TF-IDF (idf = N/df instead
    * of ln(N/df): same ranking for fixed tf since ln is monotone, but the
    * score stays in exact integer arithmetic — floor(tf·N·10^6 / df) —
    * so two engines agree bit-for-bit; libm log differs in the last ulp
    * across engines and would poison a hash-compare).
    *
    * Distributed shape: explode → (doc, token) count → token-level df agg
    * → broadcast-joined scalar N → per-doc top-k window. The df frame is
    * vocabulary-sized (small); the window partitions by doc (no skew —
    * per-doc token counts are bounded). */
  def tfIdfTopK(docs: DataFrame, k: Int, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = owned { o =>
    // persisted: Catalyst does not dedupe shared subtrees, so without
    // this the explode+groupBy (the corpus-wide pass) would run twice —
    // once feeding the df aggregation, once feeding the join
    val tf = o(docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // count over a zero-column projection of the source — metadata-cheap
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_e6").desc, col("token"))
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"), col("tf"),
        idiv(col("tf") * col("n_docs") * lit(1000000L), col("df")).as("score_e6"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .localCheckpoint()
  }

  /** Corpus vocabulary: every token with its total occurrence count and
    * document frequency, ranked by count (ties by token). One explode +
    * one aggregation — the vocabulary-building pass a BPE trainer or a
    * mixing dashboard runs first. */
  def vocabulary(docs: DataFrame, topN: Int, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"), count_distinct(col("doc_id")).as("n_docs"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(topN)

  // --- deterministic stratified sampling --------------------------------

  /** Uniform-in-[0, 2^24) hash of a string column via the first 6 hex
    * digits of md5 — the engine-portable seeded uniform (md5 is identical
    * everywhere; xxhash64 is Spark-only). */
  def md5Uniform(c: Column): Column =
    conv(substring(md5(c), 1, 6), 16, 10).cast("long")

  /** Deterministic stratified sampler: keep a row iff
    * md5(id:stratum) mod 1000 < rate_permille(stratum). The per-stratum
    * rate is itself derived from the stratum name (md5 first hex digit →
    * 50–800‰) so the whole sample is a pure function of the data — the
    * property that makes a 100 TB sampling job re-runnable and
    * per-partition embarrassingly parallel (no RNG state, no seed
    * coordination across executors, and adding columns or re-partitioning
    * can never change membership). */
  def stratifiedSample(docs: DataFrame, idCol: String = "doc_id",
                       stratumCol: String = "source"): DataFrame = {
    val digit = conv(substring(md5(col(stratumCol)), 1, 1), 16, 10).cast("long")
    val rate = lit(50L) + lit(50L) * digit
    val u = pmod(md5Uniform(concat(col(idCol).cast("string"), lit(":"), col(stratumCol))),
      lit(1000L))
    // keep EVERY payload column: the sampled frame must stay composable
    // with the downstream corpus ops (a membership list without text
    // would force callers to re-join the corpus they just sampled)
    docs.withColumn("rate_permille", rate)
      .withColumn("__u", u)
      .filter(col("__u") < col("rate_permille"))
      .drop("__u")
  }

  /** Exact-K-per-stratum deterministic sample: rank rows within each
    * stratum by md5(id:stratum) and keep the first k — the fixed-size
    * companion to [[stratifiedSample]]'s Bernoulli rates (a mixture
    * config usually wants "exactly K eval docs per source"). Determinism
    * properties are identical: membership is a pure function of the row,
    * the window is the only shuffle, and re-running or re-partitioning
    * can never change the chosen set. Hash ties broken by id. */
  def sampleExactK(docs: DataFrame, k: Int, idCol: String = "doc_id",
                   stratumCol: String = "source"): DataFrame = {
    val u = md5Uniform(concat(col(idCol).cast("string"), lit(":"), col(stratumCol)))
    val w = Window.partitionBy(col(stratumCol)).orderBy(u, col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Deterministic weight-biased sample: rank rows by the integer
    * priority key md5(id)·10⁶ div weight and keep the k smallest —
    * heavier rows draw smaller priorities, so selection probability
    * grows with weight (the hash-priority analogue of
    * Efraimidis–Spirakis u^(1/w) sampling, kept in exact integers
    * because ^(1/w) needs libm pow — the documented cross-engine trap).
    * Same determinism contract as [[stratifiedSample]]: membership is a
    * pure function of the row, re-runnable, partition-independent. */
  def weightedSample(docs: DataFrame, k: Int, weightCol: String,
                     idCol: String = "doc_id"): DataFrame = {
    docs.withColumn("priority",
        idiv(md5Uniform(col(idCol).cast("string")) * lit(1000000L), col(weightCol)))
      .orderBy(col("priority"), col(idCol))
      .limit(k)
  }

  // --- PII scrubbing ----------------------------------------------------

  /** ASCII email and long-digit-run patterns, RE2-compatible (the oracle
    * engine's regex dialect) and identical in Java regex semantics for
    * these shapes (greedy character-class runs have a unique match). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
  val IdRunPattern = "[0-9]{4,}"

  /** Redact emails and ≥4-digit runs; returns per-doc redaction counts
    * and the scrubbed text + its md5 (the scrub audit a compliance pass
    * wants: how much was removed, and a stable content id for the clean
    * text). Pure codegen'd expressions — regex scans run inside
    * whole-stage codegen, no UDFs. */
  def piiScrub(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val scrubbed = regexp_replace(
      regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
      IdRunPattern, "<ID>")
    docs.select(col(idCol),
      size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0))).cast("long")
        .as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(IdRunPattern), lit(0))).cast("long")
        .as("n_id_runs"),
      md5(scrubbed).as("scrubbed_md5"))
  }

  val TagPattern = "<[^>]*>"

  /** Strip HTML-ish markup: drop tags, unescape the five predefined XML
    * entities, collapse runs of whitespace. The normalization pass a
    * scraped corpus runs before any text signal is computed. Pure
    * codegen'd regex/replace chain (the tag pattern is RE2-compatible,
    * so the DuckDB oracle replays it verbatim); returns per-doc tag
    * count and the cleaned text + md5. */
  def stripMarkup(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val unescaped = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(regexp_replace(col(textCol), TagPattern, " ")) {
        case (c, (e, ch)) => replace(c, lit(e), lit(ch))
      }
    val cleaned = trim(regexp_replace(unescaped, "\\s+", " "))
    docs.select(col(idCol),
      size(regexp_extract_all(col(textCol), lit(TagPattern), lit(0))).cast("long")
        .as("n_tags"),
      length(cleaned).cast("long").as("clean_len"),
      md5(cleaned).as("clean_md5"))
  }

  // --- sequence packing ---------------------------------------------------

  /** Concat-and-chunk packing (the standard LLM pre-training shape: the
    * block's docs are concatenated in id order and split at every
    * `budget` tokens): each doc is labeled with the chunk its FIRST token
    * lands in and its token offset inside that chunk. Pure window
    * arithmetic — one shuffle on the block key, exact integers, scales to
    * any corpus where single blocks fit a partition's window (block =
    * source/shard, the natural packing unit). */
  def chunkPack(docs: DataFrame, budget: Long, idCol: String = "doc_id",
                blockCol: String = "source", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col(blockCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(idCol), col(blockCol), tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("run", sum(col("n_tokens")).over(w))
      .withColumn("start", col("run") - col("n_tokens"))
      .select(col(idCol), col(blockCol), col("n_tokens"),
        idiv(col("start"), lit(budget)).as("chunk"),
        pmod(col("start"), lit(budget)).cast("long").as("offset"))
  }

  final case class PackedDoc(doc_id: Long, block: String, bin: Long, n_tokens: Long)

  /** True greedy (first-fit-sequential) bin packing: walk each block's
    * docs in id order, open a new bin whenever the next doc would
    * overflow `budget`; an oversized doc gets a bin of its own. Unlike
    * [[chunkPack]] docs never straddle bins — the no-truncation variant.
    *
    * Greedy packing is inherently a sequential scan per block, so the
    * distributed shape is repartition(block) + sortWithinPartitions +
    * one pass per partition with state reset at block boundaries — the
    * same pattern as sessionization. (A window function can't express
    * it: the bin boundary depends on the running *remainder*, which
    * resets data-dependently.) */
  def greedyPack(docs: DataFrame, budget: Long, idCol: String = "doc_id",
                 blockCol: String = "source", textCol: String = "text"): Dataset[PackedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("doc_id"), col(blockCol).as("block"),
        tokenCount(col(textCol)).as("n_tokens"))
      .repartition(col("block"))
      .sortWithinPartitions(col("block"), col("doc_id"))
      .as[(Long, String, Long)]
      .mapPartitions(packIterator(_, budget))
  }

  /** The sequential packing walk itself, as a pure iterator transform
    * (the unit ScalaCheck properties exercise; `rows` must arrive sorted
    * by (block, id) — greedyPack's sortWithinPartitions guarantees it). */
  private[graft] def packIterator(rows: Iterator[(Long, String, Long)],
                                  budget: Long): Iterator[PackedDoc] = {
    var curBlock: String = null
    var bin = 0L
    var fill = 0L
    rows.map { case (id, block, ntok) =>
      if (block != curBlock) { curBlock = block; bin = 0L; fill = 0L }
      if (fill > 0 && fill + ntok > budget) { bin += 1; fill = 0L }
      fill += ntok
      PackedDoc(id, block, bin, ntok)
    }
  }

  // --- BPE vocabulary training ------------------------------------------

  final case class BpeMerge(rank: Int, lhs: String, rhs: String, pair_cnt: Long)

  /** One classic left-to-right non-overlapping BPE merge of (a, b) over a
    * symbol sequence ("aaa" + (a,a) → ["aa", "a"]). Pure kernel — the
    * spec and the distributed trainer share it. */
  private[graft] def mergePair(sym: Seq[String], a: String, b: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < sym.length) {
      if (i + 1 < sym.length && sym(i) == a && sym(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += sym(i); i += 1 }
    }
    out.result()
  }

  /** Byte-pair-encoding vocabulary training — the real thing, not the
    * BPE-ish regex: iteratively merge the globally most frequent
    * adjacent symbol pair (ties broken (count desc, lhs, rhs) — fully
    * deterministic) and return the merge table, the artifact a tokenizer
    * ships. Trained over the word-FREQUENCY table, the standard trick
    * that makes BPE corpus-size-independent: rounds iterate a
    * vocab-sized frame no matter how many tokens the corpus has.
    *
    * Scale shape per round: one explode+sum over adjacent pairs
    * (map-side combinable), ONE argmax row to the driver (the merge
    * decision IS driver-sized — it's the output), one narrow rewrite
    * pass over the checkpointed word frame. The left-to-right
    * non-overlap rule is equivalent to a per-position parity rule
    * (overlapping matches only arise in equal-symbol runs), which is
    * what the DuckDB oracle replays in closed form — a hash match
    * proves the kernel's greedy walk equals the declarative form. */
  def bpeTrain(docs: DataFrame, numMerges: Int,
               textCol: String = "text"): DataFrame = owned { o =>
    val spark = docs.sparkSession
    import spark.implicits._
    val words0 = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), split(col("w"), "").as("sym"))
      .localCheckpoint()
    // (lhs, rhs, count) of the most frequent adjacent pair, if any
    def best(words: DataFrame): Option[(String, String, Long)] =
      words.filter(size(col("sym")) >= 2)
        .select(col("cnt"),
          explode(expr("transform(sequence(0, size(sym) - 2), " +
            "i -> struct(sym[i] AS l, sym[i + 1] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
        .headOption.map(b => (b.getString(0), b.getString(1), b.getLong(2)))
    val merges = Seq.newBuilder[BpeMerge]
    // the next round's pair, looked up after each rewrite while merges
    // remain to be made
    var pair = if (numMerges > 0) best(words0) else None
    val (words, _) = Fixpoint.run(words0, Fixpoint.checkpointing, numMerges,
        start = Some(Fixpoint.counted(pair.size)),
        continue = (r: Fixpoint.Round[DataFrame]) =>
          r.index + 1 < numMerges && { pair = best(r.state); pair.nonEmpty }) {
      (words, r, _) =>
        val (a, b, c) = pair.get
        merges += BpeMerge(r, a, b, c)
        words.as[(Long, Seq[String])]
          .map { case (cnt, sym) => (cnt, mergePair(sym, a, b)) }
          .toDF("cnt", "sym")
    }
    o(words)
    merges.result().toDF()
  }

  /** Apply a trained merge table ([[bpeTrain]]'s output, rank order):
    * every whitespace token decomposes to characters and replays the
    * merges — the tokenizer a trained BPE vocabulary ships as. Per-row
    * kernel (the merge replay is sequential per word by definition);
    * the merge table is closure-tiny (numMerges rows). Returns
    * (idCol, pieces array) one row per document, pieces in document
    * order. */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, text) =>
        val pieces = text.trim.split("\\s+").toSeq.flatMap { wd =>
          var sym: Seq[String] = wd.split("").toSeq
          merges.foreach { case (a, b) => sym = mergePair(sym, a, b) }
          sym
        }
        (id, pieces)
      }.toDF(idCol, "pieces")
  }

  // --- LM-style quality scoring ----------------------------------------

  /** Unigram surprisal quality score — the perplexity-style signal (docs
    * full of rare tokens score high, boilerplate scores low) WITHOUT the
    * cross-engine libm trap: ln()/log2() differ by ulps between JVM and
    * DuckDB, which breaks floor-scaled hash oracles. Instead each token
    * instance scores floor(log2(T / c)) BITS computed in pure integers:
    * floor(log2(a/b)) == bitlength(a div b) − 1 for a ≥ b ≥ 1 (proof:
    * both equal the k with 2^k·b ≤ a < 2^(k+1)·b), and bitlength(x) is
    * `length(bin(x)) − 1` in BOTH engines. T = total corpus token
    * instances, c = the token's corpus count (self-scored model — no
    * OOV). Output per doc: n_tokens, total_bits, bits_per_token_e6
    * (exact integer division).
    *
    * Scale: one explode (persisted — the count aggregation and the score
    * join both read it), a vocab-sized equi-join ON the token, a
    * broadcast scalar total, one per-doc aggregation. All map-side
    * combinable; nothing driver-side. */
  def surprisalScore(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = owned { o =>
    val toks = o(docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("t"))
    toks.join(counts, Seq("tok"))
      .crossJoin(broadcast(total))
      .select(col(idCol), (length(bin(expr("t div c"))) - 1).cast("long").as("bits"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("total_bits"))
      .select(col(idCol), col("n_tokens"), col("total_bits"),
        idiv(col("total_bits") * lit(1000000L), col("n_tokens")).as("bits_per_token_e6"))
      .localCheckpoint()
  }

  /** Bigram-LM surprisal: per bigram instance floor(log2(P(b|a)⁻¹)) bits
    * where P(b|a) = c(a,b) / Σ_b' c(a,b') — the proper conditional from
    * corpus bigram counts. Same zero-libm integer discipline as
    * [[surprisalScore]]: bits = bitlength(c_prefix div c_bigram) − 1.
    * Docs with < 2 tokens have no bigrams and are absent (identically in
    * both engines). Scale: one guarded explode (persisted — the count
    * agg and the score join both read it), bigram-vocab equi-join,
    * per-doc agg. */
  def bigramSurprisalScore(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = owned { o =>
    val bg = o(docs.select(col(idCol), tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS a, t[i + 1] AS b))")).as("p"))
      .select(col(idCol), col("p.a").as("a"), col("p.b").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val cbig = bg.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cb"))
    val cpre = cbig.groupBy(col("a")).agg(sum(col("cb")).as("cp"))
    bg.join(cbig, Seq("a", "b")).join(cpre, Seq("a"))
      .select(col(idCol), (length(bin(expr("cp div cb"))) - 1).cast("long").as("bits"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("total_bits"))
      .select(col(idCol), col("n_bigrams"), col("total_bits"),
        idiv(col("total_bits") * lit(1000000L), col("n_bigrams")).as("bits_per_bigram_e6"))
      .localCheckpoint()
  }

  // --- train/eval contamination ----------------------------------------

  /** Benchmark-contamination detection: for each eval doc, the training
    * doc sharing the most distinct word n-grams, with the shared
    * fraction of the eval doc's n-grams (e6). The standard decontam
    * check run before training on a scraped corpus.
    *
    * Scale shape: candidates come from an equi-join ON THE N-GRAM — cost
    * is Σ per-gram (corpus docs × eval docs) — never corpus×eval
    * all-pairs. Hub grams (df > maxDf training docs: boilerplate, no
    * signal) are dropped before the join, which bounds the per-gram
    * blowup; the per-(eval, train) overlap count is a map-side-combined
    * aggregation and the final argmax is a window over eval docs. */
  def contamination(corpus: DataFrame, evalDocs: DataFrame, n: Int = 3,
                    maxDf: Int = 1000, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = owned { o =>
    // grams travel as 60-bit md5 fingerprints, not strings: every
    // downstream shuffle (the df groupBy, the two joins, the overlap
    // aggregation) keys on 8 bytes instead of a ~25-byte UTF8 gram.
    // A fingerprint collision merges two grams in BOTH engines
    // identically (the oracle replays the same md5 prefix), and at
    // 2^-60 per pair it is noise next to the n-gram heuristic itself.
    def grams(df: DataFrame, as: String) =
      df.select(col(idCol).as(as), explode(wordNgrams(tokens(col(textCol)), n)).as("gram"))
        .select(col(as),
          conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long").as("gk"))
    // persisted: the hub-gram df aggregation AND the overlap join both
    // read the corpus gram explode — the query's dominant pass; Catalyst
    // does not dedupe shared subtrees (same rationale as tfIdfTopK)
    val cg = o(grams(corpus, "train_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // drop hub grams by training-side document frequency
    val rare = cg.groupBy(col("gk")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("gk")
    val eg = grams(evalDocs, "eval_id")
    val evalSize = evalDocs.select(col(idCol).as("eval_id"),
      size(wordNgrams(tokens(col(textCol)), n)).cast("long").as("n_grams"))
    val overlap = eg.join(rare, Seq("gk"))
      .join(cg, Seq("gk"))
      .groupBy(col("eval_id"), col("train_id"))
      .agg(count(lit(1)).as("shared"))
    val w = Window.partitionBy(col("eval_id"))
      .orderBy(col("shared").desc, col("train_id"))
    // eval-sized output materialized, corpus-sized cache released
    overlap
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(evalSize, Seq("eval_id"))
      .select(col("eval_id"), col("train_id"), col("shared"),
        idiv(col("shared") * lit(1000000L), col("n_grams")).as("overlap_e6"))
      .localCheckpoint()
  }

  /** Per-stratum mixing stats: doc count, token count, and each stratum's
    * exact share of the corpus' tokens (e6) — the table a data-mixing
    * config is derived from. */
  /** fastText-shaped hashed linear document scorer: token → md5 bucket →
    * weight lookup → per-doc weight sum + threshold. The weight table
    * here is a deterministic stand-in (w(b) = (b mod 17) − 8, a pure
    * function of the bucket) so the oracle can replay it — swapping in a
    * trained table is a broadcast join against (bucket, weight) with the
    * identical plan shape. All integer, all codegen'd: explode → two
    * column expressions → one map-side-combined agg; the model-scoring
    * pass a 100 TB quality filter runs is exactly this shape. */
  def hashedLinearScore(docs: DataFrame, buckets: Int = 1024,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .withColumn("w", pmod(md5Uniform(col("tok")), lit(buckets.toLong)) % lit(17L) - lit(8L))
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("score"), count(lit(1)).as("n_tokens"))
      .withColumn("positive", (col("score") >= 0).cast("int"))

  /** Inverted index over the corpus: per token its document frequency
    * and the first `postingCap` doc ids (sorted) as a comma-joined
    * posting preview, ranked by (df desc, token). The posting cap is
    * applied BEFORE any per-token collection (window rank ≤ cap), so no
    * executor ever materializes a hub token's full posting list — the
    * unbounded collect_set spelling dies on stopwords at 100 TB. */
  def invertedIndex(docs: DataFrame, topN: Int, postingCap: Int = 20,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
      .distinct()
    val df = t.groupBy(col("token")).agg(count(lit(1)).as("n_docs"))
    val capped = t.withColumn("rn", row_number().over(
        Window.partitionBy(col("token")).orderBy(col("doc_id"))))
      .filter(col("rn") <= postingCap)
      .groupBy(col("token"))
      .agg(concat_ws(",",
        transform(sort_array(collect_list(col("doc_id"))), _.cast("string"))).as("postings"))
    df.join(capped, Seq("token"))
      .orderBy(col("n_docs").desc, col("token"))
      .limit(topN)
  }

  /** Temperature-scaled mixture weights (α = 1/2): per-stratum sampling
    * weight ∝ √(token count), the standard up-weighting of small sources
    * when assembling a training mix. √ is the ONE libm function that is
    * IEEE-correctly-rounded everywhere, so — unlike ln/exp (see
    * surprisalScore's integer-log design) — floor-scaled √ is safe to
    * hash-match across engines. Weights and shares are exact scaled
    * BIGINTs; the share denominator is a broadcast scalar. */
  def temperatureWeights(docs: DataFrame, stratumCol: String = "source",
                         textCol: String = "text"): DataFrame = owned { o =>
    val per = o(docs.groupBy(col(stratumCol))
      .agg(sum(tokenCount(col(textCol))).as("n_tokens"))
      .withColumn("w_e3", floor(sqrt(col("n_tokens").cast("double")) * lit(1000.0)).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val tot = per.agg(sum(col("w_e3")).as("wsum"))
    per.crossJoin(broadcast(tot))
      .select(col(stratumCol), col("n_tokens"), col("w_e3"),
        idiv(col("w_e3") * lit(1000000L), col("wsum")).as("share_e6"))
      .localCheckpoint()
  }

  def mixingStats(docs: DataFrame, stratumCol: String = "source",
                  textCol: String = "text"): DataFrame = owned { o =>
    // persisted: `tot` and the final join both read `per`; unpersisted,
    // the full corpus-scan aggregation would run twice
    val per = o(docs.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_docs"), sum(tokenCount(col(textCol))).as("n_tokens"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val tot = per.agg(sum(col("n_tokens")).as("total_tokens"))
    per.crossJoin(broadcast(tot))
      .select(col(stratumCol), col("n_docs"), col("n_tokens"),
        idiv(col("n_tokens") * lit(1000000L), col("total_tokens")).as("share_e6"))
      .localCheckpoint()
  }

  // --- collocations (PMI) ----------------------------------------------

  /** Bigram collocation mining by rational PMI: rank word pairs by
    * c_xy·N / (c_x·c_y) — exp(PMI) — instead of the log form, so the
    * score stays one exact integral division (the same monotone-rank
    * trade TF-IDF makes above; cross-engine ln() drifts in the last
    * ulp). Corpus-wide unigram and bigram counts, a minimum pair count
    * to kill noise pairs, then the ratio at e6.
    *
    * Scale: two explode→agg passes (both map-side combined) + two
    * equi-joins ON the token (vocabulary-sized frames, NOT broadcast:
    * a 100 TB vocabulary outgrows the driver) + one broadcast scalar
    * N. Overflow bound: c_xy·N·10⁶ needs c_xy·N < 9·10¹² — at larger
    * corpora swap the literal to DECIMAL(38) (documented, same plan). */
  def collocations(docs: DataFrame, minCount: Long, topK: Int,
                   textCol: String = "text"): DataFrame = {
    val toks = docs.select(explode(tokens(col(textCol))).as("tok"))
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val bi = docs.select(explode(wordNgramsAll(tokens(col(textCol)), 2)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("c_xy"))
    val n = bi.agg(sum(col("c_xy")).as("n_bi"))
    bi.filter(col("c_xy") >= minCount)
      .withColumn("x", split(col("gram"), " ")(0))
      .withColumn("y", split(col("gram"), " ")(1))
      .join(uni.select(col("tok").as("x"), col("c").as("c_x")), Seq("x"))
      .join(uni.select(col("tok").as("y"), col("c").as("c_y")), Seq("y"))
      .crossJoin(broadcast(n))
      .select(col("gram"), col("c_xy"), col("c_x"), col("c_y"),
        idiv(col("c_xy") * col("n_bi") * lit(1000000L), col("c_x") * col("c_y"))
          .as("pmi_ratio_e6"))
      .orderBy(col("pmi_ratio_e6").desc, col("gram"))
      .limit(topK)
  }

  // --- feature hashing --------------------------------------------------

  /** Hashing-trick featurization (Weinberger et al. 2009): token →
    * md5-derived bucket in [0, buckets), per-doc sparse count vector as
    * (doc_id, bucket, cnt) rows — the fixed-width, vocabulary-free
    * input encoding for downstream linear models ([[hashedLinearScore]]
    * is the matching scoring pass). Pure codegen'd columns: explode →
    * pmod(md5, m) → one map-side-combined agg; no vocabulary state at
    * all, which is the whole point at 100 TB. */
  def hashFeatures(docs: DataFrame, buckets: Int = 256,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), pmod(md5Uniform(col("tok")), lit(buckets.toLong)).as("bucket"))
      .groupBy(col("doc_id"), col("bucket")).agg(count(lit(1)).as("cnt"))

  /** Per-source token-distribution panel: token/type counts, the top
    * token's share, and the floor-log2 Shannon entropy
    * Σ c·⌊log2(T/c)⌋ / T bits — the diversity metric a mixing config
    * weighs sources by. Zero libm ([[surprisalScore]]'s bitlength
    * identity), so the oracle is hash-exact. Two shuffles total: the
    * (source, token) count and the per-source rollup. */
  def entropyPanel(docs: DataFrame): DataFrame = {
    val tf = docs.select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
    val tot = tf.groupBy(col("source")).agg(sum(col("c")).cast("long").as("t"))
    tf.join(tot, Seq("source"))
      .select(col("source"), col("c"), col("t"),
        ((length(bin(expr("t div c"))) - 1).cast("long") * col("c")).as("cb"))
      .groupBy(col("source"))
      .agg(max(col("t")).as("n_tokens"), count(lit(1)).as("n_types"),
        max(col("c")).as("top_cnt"), sum(col("cb")).cast("long").as("cbits"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        idiv(col("top_cnt") * lit(1000000L), col("n_tokens")).as("top_share_e6"),
        idiv(col("cbits") * lit(1000000L), col("n_tokens")).as("entropy_floor_e6"))
  }

  /** RAKE-shaped keyword scores (Rose et al. 2010, window-co-occurrence
    * variant): deg(w) = number of tokens co-occurring with w within ±
    * `window` positions (across the corpus), freq(w) = occurrence count,
    * score = deg/freq — words that appear in dense company score high.
    * The position self-join is per-doc and window-bounded: |tokens|·2w
    * rows, never doc². Exact integers (e6 ratio). */
  def rakeKeywords(docs: DataFrame, window: Int = 2, topK: Int = 20): DataFrame = owned { o =>
    val toks = o(docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("p", "tok")))
      .select(col("doc_id"), col("p").cast("long").as("p"), col("tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val a = toks.select(col("doc_id"), col("p").as("pa"), col("tok"))
    val b = toks.select(col("doc_id"), col("p").as("pb"))
    val deg = a.join(b, Seq("doc_id"))
      .filter(col("pa") =!= col("pb")
        && abs(col("pa") - col("pb")) <= window.toLong)
      .groupBy(col("tok")).agg(count(lit(1)).as("deg"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    deg.join(freq, Seq("tok"))
      .select(col("tok"), col("deg"), col("freq"),
        idiv(col("deg") * lit(1000000L), col("freq")).as("score_e6"))
      .orderBy(col("score_e6").desc, col("tok")).limit(topK)
      .localCheckpoint()
  }

  // --- DSIR-style importance scores ------------------------------------

  /** DSIR-shaped data-selection scores (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): hash tokens into
    * `buckets` features, estimate add-1-smoothed per-bucket frequency
    * ratios target/corpus, and score each document by its mean token
    * ratio — documents resembling the target distribution score high.
    * (DSIR proper multiplies likelihood ratios; the additive mean keeps
    * the arithmetic in exact BIGINT for the oracle while preserving the
    * ranking signal. The e6 pipeline bounds hold through ~10⁸-token
    * corpora; production would run the same plan in double log-space.)
    *
    * Scale shape: ONE explode feeds both count passes (persisted); the
    * bucket ratio table is `buckets` rows — broadcast; per-doc scoring
    * is a map-side-combined agg. No vocabulary state, no driver data. */
  def dsirScores(docs: DataFrame, isTarget: Column, buckets: Int = 64): DataFrame = owned { o =>
    val toks = o(docs.select(col("doc_id"), isTarget.as("tgt"),
        explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("tgt"),
        pmod(md5Uniform(col("tok")), lit(buckets.toLong)).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val cnt = toks.groupBy(col("b")).agg(
      count(lit(1)).as("c_all"),
      count(when(col("tgt"), lit(1))).as("c_tgt"))
    val tot = cnt.agg(sum(col("c_all")).as("n_all"), sum(col("c_tgt")).as("n_tgt"))
    val ratio = cnt.join(broadcast(tot), lit(true))
      .select(col("b"), idiv(
        (col("c_tgt") + 1L) * (col("n_all") + lit(buckets.toLong)) * lit(1000000L),
        (col("c_all") + 1L) * (col("n_tgt") + lit(buckets.toLong))).as("ratio_e6"))
    toks.join(broadcast(ratio), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("ratio_e6")).cast("long").as("rsum"))
      .select(col("doc_id"), col("n_tokens"),
        idiv(col("rsum"), col("n_tokens")).as("score_e6"))
      .localCheckpoint()
  }

  // --- Luhn-validated PII detection ------------------------------------

  /** Card-number detection with Luhn (ISO/IEC 7812) checksum validation:
    * extract 16-digit runs, compute the Luhn sum (double every second
    * digit from the right, subtract 9 above 9), and report candidate vs
    * checksum-valid counts per doc — the standard false-positive filter
    * a PII scrubber runs before redacting. Pure integer fold per
    * candidate, codegen'd, shuffle-free. */
  def luhnScan(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val cands = regexp_extract_all(col(textCol), lit("[0-9]{16}"), lit(0))
    // Luhn sum via index fold: position i (1-based from the LEFT of a
    // 16-digit run) is even-from-the-right exactly when i is odd
    val luhnOk = (s: Column) => {
      val total = aggregate(sequence(lit(1), lit(16)), lit(0L), (acc, i) => {
        val d = (ascii(s.substr(i, lit(1))) - lit(48)).cast("long")
        val dd = when(pmod(i, lit(2)) === 1,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
        acc + dd
      })
      pmod(total, lit(10L)) === 0L
    }
    docs.select(col("doc_id"), cands.as("cands"))
      .select(col("doc_id"),
        size(col("cands")).cast("long").as("n_candidates"),
        size(filter(col("cands"), c => luhnOk(c))).cast("long").as("n_valid"))
      .filter(col("n_candidates") > 0)
  }

  // --- duplicated-span detection ---------------------------------------

  /** Token-granular duplicated-span detection (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" exact-
    * substring pass, at n-token-window granularity instead of a suffix
    * array): every length-n token window whose gram also occurs in
    * ANOTHER document is a duplicated span. Per doc: window count,
    * duplicated-window count, and the duplicated fraction (e6) — the
    * inputs to span-level cut lists.
    *
    * Scale shape: grams travel as 60-bit md5 fingerprints (8-byte
    * shuffle keys, same rationale as [[contamination]]); the dup-gram
    * set comes from one map-side-combined distinct-doc count, and the
    * per-doc rollup is a fingerprint equi-join — never doc×doc. The
    * gram explode is persisted once and feeds both passes. */
  def dupSpans(docs: DataFrame, n: Int = 10): DataFrame = owned { o =>
    // repartition by gk BEFORE persisting: both consumers cluster on gk
    // (the dup-gram groupBy and the back-join), so the persisted frame
    // carries the partitioning they need and the gram explode shuffles
    // ONCE instead of once per consumer
    val g = o(docs.select(col("doc_id"),
        explode(wordNgramsAll(tokens(col("text")), n)).as("gram"))
      .select(col("doc_id"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long").as("gk"))
      .repartition(col("gk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // "≥ 2 distinct docs" as min≠max — two scalar partials instead of a
    // per-gram distinct-set build (countDistinct's internal expand)
    val dup = g.groupBy(col("gk"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("gk"), lit(1L).as("is_dup"))
    g.join(dup, Seq("gk"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("is_dup"), lit(0L))).cast("long").as("n_dup"))
      .filter(col("n_dup") > 0)
      .select(col("doc_id"), col("n_windows"), col("n_dup"),
        idiv(col("n_dup") * lit(1000000L), col("n_windows")).as("dup_frac_e6"))
      .localCheckpoint()
  }

  /** The cut pass completing [[dupSpans]]' detect→cut contract: a token
    * position is cut when ANY duplicated n-window covers it, i.e.
    * position p is cut iff some duplicated window starts in
    * [p−n+1, p]. Per doc: token count, cut count, kept fraction — the
    * size accounting a span-excision rewrite ships with. The cover
    * expansion is n rows per duplicated window INSTANCE (bounded by
    * dup-window volume, not corpus volume). */
  def dupSpanCut(docs: DataFrame, n: Int = 10): DataFrame = owned { o =>
    // same single-shuffle discipline as [[dupSpans]]
    val g = o(docs.select(col("doc_id"),
        posexplode(wordNgramsAll(tokens(col("text")), n)).as(Seq("pos0", "gram")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("i"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long").as("gk"))
      .repartition(col("gk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val dup = g.groupBy(col("gk"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("gk"), lit(1L).as("is_dup"))
    val nTok = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val cut = g.join(dup, Seq("gk"))
      .join(nTok, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(col("i"), least(col("i") + lit(n.toLong - 1), col("n_tokens"))))
          .as("p"))
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(countDistinct(col("p")).as("n_cut"))
    nTok.join(cut.select(col("doc_id"), col("n_cut")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_cut"), lit(0L)).as("n_cut"))
      .withColumn("kept_frac_e6",
        idiv((col("n_tokens") - col("n_cut")) * lit(1000000L), col("n_tokens")))
      .localCheckpoint()
  }

  // --- Gopher-rule quality panel ---------------------------------------

  /** The Gopher (Rae et al. 2021) document-quality rule panel: word
    * count bounds, mean-word-length bounds, and a minimum stop-word hit
    * count, with the per-rule flags surfaced (a cut list needs to know
    * WHICH rule fired, not just the conjunction). Everything is
    * higher-order array functions over the token array — no explode, no
    * shuffle at all: the whole panel is one codegen'd projection. */
  def gopherRules(docs: DataFrame,
                  stopWords: Seq[String] = Seq("the", "a", "of", "to", "and"),
                  minWords: Long = 10L, maxWords: Long = 1000L,
                  minWlenE6: Long = 3000000L, maxWlenE6: Long = 10000000L,
                  minStopHits: Long = 2L): DataFrame = {
    val tok = tokens(col("text"))
    val flag = (c: Column) => when(c, lit(1L)).otherwise(lit(0L))
    docs.select(col("doc_id"),
        size(tok).cast("long").as("n_words"),
        aggregate(tok, lit(0L), (acc, x) => acc + length(x).cast("long")).as("sum_len"),
        size(array_intersect(array_distinct(tok),
          array(stopWords.map(lit): _*))).cast("long").as("stop_hits"))
      .select(col("doc_id"), col("n_words"),
        idiv(col("sum_len") * lit(1000000L), greatest(col("n_words"), lit(1L)))
          .as("mean_wlen_e6"),
        col("stop_hits"))
      .select(col("doc_id"), col("n_words"), col("mean_wlen_e6"), col("stop_hits"),
        flag(col("n_words").between(minWords, maxWords)).as("r_words"),
        flag(col("mean_wlen_e6").between(minWlenE6, maxWlenE6)).as("r_wlen"),
        flag(col("stop_hits") >= minStopHits).as("r_stop"))
      .withColumn("pass", col("r_words") * col("r_wlen") * col("r_stop"))
  }
}
