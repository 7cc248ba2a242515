package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBridge.{AdaptiveHash, Stats, Tally, materialize, owned}

import graft.text.TextFunctions._

/** Deduplication operators for document corpora — exact, MinHash+LSH,
  * SimHash, and n-gram-Jaccard — built entirely from codegen'd Column
  * expressions + joins (no UDFs, no driver-side loops).
  *
  * Scale notes (the whole point of LSH/banding): candidate generation is
  * a self-join on (band, bandHash) — an equi-join Catalyst shuffles on
  * the band key, so cost is O(docs·bands) + per-bucket pair blowup,
  * never the O(n²) all-pairs. Verification (true Jaccard) runs only on
  * candidates. The per-bucket blowup itself is BOUNDED since round 11:
  * every banding family funnels through [[bucketPairs]], which
  * star-expands buckets over `maxBucket` members instead of all-pairs
  * expanding them — the degenerate-boilerplate-bucket guard.
  *
  * Input schema: the document operators read the corpus by fixed column
  * names, those of the [[graft.Tables]] `documents` table — `doc_id
  * BIGINT`, `text STRING`, plus `source STRING` ([[ngramDupPairs]]'
  * blocking key) and `n_chars BIGINT` ([[keepBestPerCluster]]' score).
  */
object Dedup {

  private lazy val logger = org.slf4j.LoggerFactory.getLogger("graft.dedup.Dedup")

  /** Default per-bucket member cap for the banding candidate self-joins
    * ([[bucketPairs]]). Still generous at test scale — measured max
    * bucket at sf0.1 is 6 (minhash, 19k buckets) and 3 (simhash, 9.8k
    * buckets) — binding at 100 TB where one degenerate boilerplate bucket
    * would otherwise quadratically dominate (200k identical docs →
    * 199,999 star candidates in 10.6 s instead of ~2·10¹⁰ pairs). Both
    * measurements: PLANS.md, "Round-11 second probe batch + code-review
    * fixes".
    *
    * Lowered 10000 → 2000 after the round-14 skew measurement (PLANS.md,
    * "Round-14: the skew decade") found the regime the old cap still
    * admitted: a 5000-member bucket (allowed
    * unguarded) put its 12.5M-pair expansion into ONE task holding
    * 82-87% of the whole query wall — a bucket self-join's hot key is
    * a single shuffle partition, so everything under the cap is a
    * straggler bound, not just a volume bound. Worst single-task pair
    * volume is now 2M (measured seconds) instead of 50M (measured
    * minutes-class); real buckets keep two orders of magnitude of
    * headroom, so non-degenerate corpora never see the guard fire.
    * PipelineSpec's planted-bucket cases pin the guard. */
  val DefaultMaxBucket: Int = 2000

  /** Candidate pairs from a banded frame — the one self-join every LSH
    * family (MinHash, n-gram, SimHash, embedding) funnels through — with
    * a per-bucket member bound (round-11 verdict task 1). A bucket
    * holding B > `maxBucket` members (the 100 TB reality: millions of
    * boilerplate near-copies landing in one (band, value) bucket after
    * exact dedup misses them by a byte) would emit O(B²) pre-distinct
    * pairs; CDC's `maxDf` hub cap is the in-repo precedent
    * ([[cdcDupPairs]]), and the reference stripes exactly this blow-up
    * class (BLOCK/library/striping/StripingUtils.java — hash-splitting a
    * piece to bound peak message volume). Over-full buckets are
    * STAR-EXPANDED, not dropped, and since round 12 the stars are PER
    * FULL-SIGNATURE GROUP: within a hot bucket, members pair with the
    * min id of their (bucket, `sigg`) group, and the group reps pair
    * with the bucket's overall min rep — O(B + #groups) = O(B) candidate
    * rows. Starring per signature group instead of per bucket closes the
    * round-11 mixed-bucket recall hole: two DISTINCT duplicate groups
    * whose dissimilar signatures happen to collide in every band (the
    * adversarial regime the guard exists for) each keep a
    * verification-passing star around their own rep, instead of group B
    * surviving only as (rep∈A, b) pairs that fail verification. A
    * dissimilar degenerate bucket still just yields O(B) candidates that
    * fail exact verification. Detection is ONE fused checkpoint+count
    * job over the bucket-size aggregate; on the empty path (every run at
    * test scale) the checkpoint is released and the downstream plan is
    * EXACTLY the unguarded self-join. On the RARE hot path the joins
    * reference the CHECKPOINTED hot-key set, so the keys counted are
    * byte-identical to the keys joined even for a non-deterministic
    * external input (round-11 advice); that checkpoint (≤ |banded| /
    * maxBucket rows) is then a leaf of the returned plan and passes to
    * the caller with it. The anti/star joins against it broadcast under
    * AQE. Star-expanded
    * bucket counts are logged — a silent cap would read as full recall
    * when it is not. */
  private[graft] def bucketPairs(banded: DataFrame, keys: Seq[String], idCol: String,
                                 maxBucket: Int): DataFrame = owned { o =>
    val kc = keys.map(col)
    def selfJoin(d: DataFrame): DataFrame = d.as("a").join(d.as("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("ida"), col(s"b.$idCol").as("idb"))
    val pairs = if (maxBucket == Int.MaxValue) selfJoin(banded) else {
      val hotKeys = banded.groupBy(kc: _*)
        .agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") > maxBucket)
        .select(kc: _*)
      val (ck, Tally(nHot, _, _)) = materialize(hotKeys, Stats, lit(true))
      o(ck)
      if (nHot == 0) selfJoin(banded)
      else {
        logger.warn(s"bucketPairs: star-expanding $nHot over-full bucket(s) " +
          s"(> $maxBucket members each) per full-signature group instead " +
          "of all-pairs expansion")
        val hot = banded.join(ck, keys)
        // min id per (bucket, full signature) group: signature-identical
        // subgroups each get their own verification-passing star
        val greps = hot.groupBy(kc :+ col("sigg"): _*)
          .agg(min(col(idCol)).as("grep"))
        // group reps star around the bucket's overall min rep so a
        // genuinely-uniform hot bucket stays transitively connected
        val breps = greps.groupBy(kc: _*).agg(min(col("grep")).as("brep"))
        val starWithin = hot.join(greps, keys :+ "sigg")
          .filter(col(idCol) =!= col("grep"))
          .select(col("grep").as("ida"), col(idCol).as("idb"))
        val starAcross = greps.join(breps, keys)
          .filter(col("grep") =!= col("brep"))
          .select(col("brep").as("ida"), col("grep").as("idb"))
        selfJoin(banded.join(ck, keys, "left_anti"))
          .union(starWithin).union(starAcross)
      }
    }
    pairs.distinct()
  }

  /** LSH band hashes of a signature array: element b = md5 of the b-th
    * `rowsPerBand`-slice of `sig`. The signature is BOUND ONCE per row
    * via the 1-element-array transform: Catalyst does no subexpression
    * elimination inside HOF lambdas, so a naive `slice(sig, …)` body
    * re-evaluates an unpersisted signature expression per band
    * (bands × the minhash md5 work). Shared by every banding site so the
    * guard can't be forgotten. */
  def bandHashes(sig: org.apache.spark.sql.Column, bands: Int,
                 rowsPerBand: Int): org.apache.spark.sql.Column =
    element_at(transform(array(sig), s =>
      transform(sequence(lit(0), lit(bands - 1)),
        b => md5(concat_ws("|", slice(s, b * rowsPerBand + 1, lit(rowsPerBand)))))), 1)

  /** Materialize the (small) final pair frame, so that the persisted
    * signature frame and the candidate checkpoints behind it can be
    * released: the signatures are orders of magnitude larger than the
    * pairs.
    *
    * The deterministic output ordering is applied AFTER the checkpoint,
    * over the materialized pair frame: a sort on top of the
    * un-materialized pipeline plans as a range exchange whose
    * partitioner SAMPLES its child first, evaluating the whole join
    * pipeline twice per run (measured 35 s → 18 s on the t=70 exact
    * Jaccard truth pass at sf0.1 once the sample pass ran over
    * checkpointed rows instead). */
  private def finish(out: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
    out.localCheckpoint().orderBy(keys: _*)

  /** Exact duplicate clusters on whitespace/case-normalized text:
    * (content hash, cluster size, canonical = min doc id). */
  def exactClusters(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))).as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("dup_cnt"), min(col("doc_id")).as("canonical"))

  /** Per-doc MinHash signature + shingle set. */
  def withMinhash(docs: DataFrame, shingleLen: Int, numHashes: Int): DataFrame =
    docs.select(col("doc_id"), shingleSet(col("text"), shingleLen).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), numHashes))

  /** LSH banding: one row per (doc, band) with the band's hash; candidate
    * pairs are docs sharing any (band, bandHash) bucket — and, when
    * `blockCols` is non-empty, the same block (candidates never cross
    * blocks, mirroring blocked dedup). Buckets over `maxBucket` members
    * are star-expanded per full-signature group, never all-pairs-expanded
    * ([[bucketPairs]]) — so under the cap the raw PAIR output inside a
    * hot bucket is rep↔member stars, not all verified pairs; cluster
    * consumers ([[dupClusters]]) see identical groupings, pair-level
    * consumers see reduced multiplicity there. Determinism note: the
    * hot-key set is checkpointed before the anti/star joins, so the
    * guard is consistent even when `withSig` is not persisted. */
  def lshCandidates(withSig: DataFrame, bands: Int, rowsPerBand: Int,
                    blockCols: Seq[String] = Nil,
                    maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val banded = withSig.select(
      (col("doc_id") +: blockCols.map(col)) :+
        // full-signature group key for hot-bucket star expansion; pruned
        // away by Catalyst everywhere the guard does not fire
        (xxhash64(col("sig")).as("sigg"): org.apache.spark.sql.Column) :+
        posexplode(bandHashes(col("sig"), bands, rowsPerBand))
          .as(Seq("band", "bv")): _*)
    bucketPairs(banded, Seq("band", "bv") ++ blockCols, "doc_id", maxBucket)
  }

  /** Full MinHash-LSH near-dup pipeline: candidates verified by true
    * shingle Jaccard ≥ threshold. Output (a, b, jaccard) sorted.
    *
    * Pair-level semantics under the hot-bucket cap: a bucket over
    * `DefaultMaxBucket` members emits rep↔member STAR pairs per
    * full-signature group, not all within-bucket pairs ([[bucketPairs]])
    * — cluster consumers ([[dupClusters]]) are unaffected; raw-pair
    * consumers see reduced pair multiplicity inside capped buckets
    * (logged when it happens).
    *
    * The signature frame is persisted before the self-joins: Spark
    * re-evaluates both sides of a self-join, and the minhash signature
    * (a one-pass native expression, 4 md5s per shingle) is by far the
    * most expensive computation in the engine — the persist runs it
    * exactly once. */
  def minhashDupPairs(docs: DataFrame, shingleLen: Int = 8, numHashes: Int = 16,
                      bands: Int = 4, threshold: Double = 0.3): DataFrame = owned { o =>
    val sigs = o(withMinhash(docs, shingleLen, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val cands = o(lshCandidates(sigs, bands, numHashes / bands))
    val sh = sigs.select(col("doc_id"), col("sh"))
    finish(cands
      .join(sh.select(col("doc_id").as("ida"), col("sh").as("sha")), Seq("ida"))
      .join(sh.select(col("doc_id").as("idb"), col("sh").as("shb")), Seq("idb"))
      .withColumn("jac", jaccard(col("sha"), col("shb")))
      .filter(col("jac") >= threshold)
      .select(col("ida").as("a"), col("idb").as("b"),
        graft.sql.Exact.e6(col("jac")).as("jac_e6")), col("a"), col("b"))
  }

  /** Persist a MinHash signature index: the banded (band, bv, doc_id)
    * bucket table plus the per-doc shingle sets, as parquet. This is the
    * operational artifact incremental dedup needs at 100 TB — the
    * standing corpus is signed ONCE; each day's increment signs only
    * itself and probes the stored buckets, instead of re-running the
    * whole-corpus self-join. */
  def writeSignatureIndex(docs: DataFrame, path: String,
                          shingleLen: Int = 8, numHashes: Int = 16,
                          bands: Int = 4): Unit = owned { o =>
    val sigs = o(withMinhash(docs, shingleLen, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val rowsPerBand = numHashes / bands
    sigs.select(col("doc_id"),
        posexplode(bandHashes(col("sig"), bands, rowsPerBand))
          .as(Seq("band", "bv")))
      .write.mode("overwrite").parquet(s"$path/buckets")
    sigs.select(col("doc_id"), col("sh"))
      .write.mode("overwrite").parquet(s"$path/shingles")
  }

  /** Probe an increment of new documents against a stored signature
    * index: candidates = stored docs sharing any LSH bucket with a new
    * doc (equi-join of the increment's banded frame — broadcast-sized
    * when the increment is daily-sized — against the stored bucket
    * table), verified by true Jaccard against the stored shingle sets.
    * Output (new_id, idx_id, jac_e6): which indexed documents each new
    * document duplicates. The standing corpus is never re-signed and
    * never self-joined. */
  def incrementalDupPairs(newDocs: DataFrame, indexPath: String,
                          shingleLen: Int = 8, numHashes: Int = 16,
                          bands: Int = 4, threshold: Double = 0.3): DataFrame = owned { o =>
    val spark = newDocs.sparkSession
    val sigs = o(withMinhash(newDocs, shingleLen, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val rowsPerBand = numHashes / bands
    val newBanded = sigs.select(col("doc_id").as("new_id"),
      posexplode(bandHashes(col("sig"), bands, rowsPerBand))
        .as(Seq("band", "bv")))
    val cands = spark.read.parquet(s"$indexPath/buckets")
      .join(broadcast(newBanded), Seq("band", "bv"))
      .select(col("new_id"), col("doc_id").as("idx_id"))
      .distinct()
    finish(cands
      .join(spark.read.parquet(s"$indexPath/shingles")
        .select(col("doc_id").as("idx_id"), col("sh").as("shi")), Seq("idx_id"))
      .join(sigs.select(col("doc_id").as("new_id"), col("sh").as("shn")), Seq("new_id"))
      .withColumn("jac", jaccard(col("shn"), col("shi")))
      .filter(col("jac") >= threshold)
      .select(col("new_id"), col("idx_id"),
        graft.sql.Exact.e6(col("jac")).as("jac_e6")), col("new_id"), col("idx_id"))
  }

  /** The incremental dedup ACTION: the increment minus every document
    * that duplicates something already in the index — what actually gets
    * appended to the standing corpus each day. */
  def dropIndexedDuplicates(newDocs: DataFrame, indexPath: String): DataFrame = {
    val dupIds = incrementalDupPairs(newDocs, indexPath)
      .select(col("new_id").as("doc_id")).distinct()
    newDocs.join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** Per-doc 32-bit SimHash fingerprints. */
  def simhashFingerprints(docs: DataFrame, shingleLen: Int = 8): DataFrame =
    docs.select(col("doc_id"),
      simhash32(shingleSet(col("text"), shingleLen)).as("simhash"))

  /** Near-dup pairs by SimHash hamming distance ≤ `maxHamming`:
    * candidate pairs share at least one of maxHamming+1 bands of the
    * 32-bit fingerprint (pigeonhole: ≤ maxHamming flipped bits leave
    * SOME band untouched — the classic simhash dedup index), verified by
    * bit_count(xor) on candidates only. Candidate generation is an
    * equi-join on (band, value) — never all-pairs.
    *
    * Uses the 60-bit pairing-grade fingerprint, NOT the compact 32-bit
    * one: simhash bits concentrate on statistically-similar corpora (the
    * whole point of simhash is that similar docs collide), so narrow
    * band values collide en masse — 4×8-bit and even 2×16-bit bands over
    * 32 bits measured 128-134s at sf0.1 from candidate blowup, while
    * 2×30-bit bands over 60 bits keep buckets discriminating. Expected
    * bucket size is n / 2^(60/(maxHamming+1)) per band, corpus-entropy
    * permitting; for wider hamming tolerances at larger n, widen the
    * fingerprint again or block by a partition column first. That
    * expectation is now also ENFORCED, not just argued: buckets over
    * `maxBucket` members star-expand per full-fingerprint group
    * ([[bucketPairs]]) — under the cap the raw pair output inside a hot
    * bucket is rep↔member stars (cluster consumers unaffected, pair
    * consumers see reduced multiplicity there; logged). */
  def simhashDupPairs(docs: DataFrame, shingleLen: Int = 8,
                      maxHamming: Int = 1,
                      maxBucket: Int = DefaultMaxBucket): DataFrame = owned { o =>
    val numBands = maxHamming + 1
    val bits = 60 / numBands
    val fp = o(docs
      .select(col("doc_id"), simhash60(shingleSet(col("text"), shingleLen)).as("simhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val banded = fp.select(col("doc_id"), col("simhash").as("sigg"),
      posexplode(array((0 until numBands).map(b =>
        shiftright(col("simhash"), b * bits).bitwiseAND(lit((1L << bits) - 1))): _*))
        .as(Seq("band", "bv")))
    val cands = o(bucketPairs(banded, Seq("band", "bv"), "doc_id", maxBucket))
    finish(cands
      .join(fp.select(col("doc_id").as("ida"), col("simhash").as("ha")), Seq("ida"))
      .join(fp.select(col("doc_id").as("idb"), col("simhash").as("hb")), Seq("idb"))
      .withColumn("ham", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("ham") <= maxHamming)
      .select(col("ida").as("a"), col("idb").as("b"), col("ham")), col("a"), col("b"))
  }

  /** Canonicalize near-duplicate PAIRS into clusters: connected
    * components over the dup-pair graph, each doc labeled with the
    * min doc id of its cluster (the survivor a dedup pass keeps). The
    * composition every production dedup pipeline ends with — pairs are
    * not actionable until transitively grouped. Only docs with ≥ 1 dup
    * edge appear (singletons keep themselves trivially). */
  def dupClusters(pairs: DataFrame): DataFrame = {
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    graft.graph.Algos.wcc(sym).withColumnRenamed("component", "canonical")
  }

  /** The dedup ACTION a pipeline ends with: drop every document that is
    * a non-canonical member of a dup cluster (transitive closure over
    * `pairs`, min-id survivor — [[dupClusters]]' labeling). The loser set
    * is dup-sized (≪ corpus), so the left-anti join against the full
    * corpus broadcasts when it fits and falls back to a shuffle join when
    * the dup rate makes it genuinely large — no hint, AQE decides from
    * the measured size. */
  def dropDuplicateDocs(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val losers = dupClusters(pairs)
      .filter(col("id") =!= col("canonical"))
      .select(col("id").as("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Retention-policy variant of [[dropDuplicateDocs]]: per multi-member
    * dup cluster keep the BEST member by (score desc, id desc) instead of
    * the min id — the rule real corpora apply (longest / highest-quality
    * survivor). The argmax is a struct max (no window, map-side
    * combinable); one members⋈scores join + one per-cluster agg on top of
    * the cluster pass. Returns (cluster, n_members, kept_doc,
    * kept_score) for clusters of size ≥ 2, ordered by cluster. */
  def keepBestPerCluster(docs: DataFrame, pairs: DataFrame): DataFrame = {
    dupClusters(pairs)
      .join(docs.select(col("doc_id").as("id"), col("n_chars").as("score")), Seq("id"))
      .groupBy(col("canonical").as("cluster"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("score"), col("id"))).as("m"))
      .filter(col("n_members") >= 2)
      .select(col("cluster"), col("n_members"),
        col("m.id").as("kept_doc"), col("m.score").as("kept_score"))
      .orderBy(col("cluster"))
  }

  /** Near-dup pairs by word n-gram Jaccard. Candidates come from MinHash
    * LSH banding over the n-gram sets *within* each block (e.g. source) —
    * an equi-join on (block, band, bandHash), so per-block cost is
    * O(docs·bands) + per-bucket blowup, never the O(n²)-per-block
    * all-pairs. True Jaccard verification runs on candidates only.
    * Buckets over the [[DefaultMaxBucket]] cap star-expand per
    * full-signature group ([[bucketPairs]]): pair-level output inside a
    * capped bucket is rep↔member stars, clusters are unaffected. */
  def ngramDupPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.1,
                    numHashes: Int = 16, bands: Int = 8): DataFrame = owned { o =>
    // persisted: candidate join + both verify joins reuse the n-gram
    // sets and minhash signatures (same rationale as minhashDupPairs)
    val tri = o(docs.select(col("doc_id"), col("source").as("blk"),
      wordNgrams(tokens(col("text")), n).as("tri"))
      .withColumn("sig", minhashSignature(col("tri"), numHashes))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val cands = o(lshCandidates(tri, bands, numHashes / bands, blockCols = Seq("blk")))
    val sets = tri.select(col("doc_id"), col("tri"))
    finish(cands
      .join(sets.select(col("doc_id").as("ida"), col("tri").as("ta")), Seq("ida"))
      .join(sets.select(col("doc_id").as("idb"), col("tri").as("tb")), Seq("idb"))
      .withColumn("jac", jaccard(col("ta"), col("tb")))
      .filter(col("jac") >= threshold)
      .select(col("ida").as("a"), col("idb").as("b"),
        graft.sql.Exact.e6(col("jac")).as("jac_e6")), col("a"), col("b"))
  }

  /** Embedding-cosine near-duplicates: candidate pairs from
    * random-hyperplane LSH (graft.sim.VectorLSH — bucket = packed sign
    * bits per band, candidates = equi-join on (band, bucket)), verified
    * by exact cosine ≥ threshold. Candidate generation shuffles on the
    * band key, so cost is O(vectors·bands) + per-bucket blowup — never
    * the O(n²) all-pairs nested-loop. Buckets over `maxBucket` members
    * star-expand per exact-embedding group ([[bucketPairs]]): raw
    * pair output inside a capped bucket is rep↔member stars, cluster
    * consumers are unaffected (logged when the cap binds).
    *
    * Norms are computed once per vector and the bucketed frame is
    * persisted: the candidate self-join and both verify joins reuse it. */
  def embeddingDupPairs(emb: DataFrame, threshold: Double = 0.95,
                        numPlanes: Int = 64, bands: Int = 8,
                        dim: Int = 64,
                        maxBucket: Int = DefaultMaxBucket): DataFrame = owned { o =>
    val s = graft.sim.VectorLSH.signs(numPlanes, dim)
    val e = o(emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(graft.sim.Similarity.dot(col("embedding"), col("embedding"))))
      .withColumn("bk", graft.sim.VectorLSH.bandBuckets(
        col("embedding"), s, bands, numPlanes / bands))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // group key = the exact embedding, not the band array: two groups
    // sharing every sign-bit bucket (same orthant) can still be
    // dissimilar under exact cosine, and the star must keep each
    // byte-identical vector group verification-connected
    val banded = e.select(col("vec_id"), xxhash64(col("embedding")).as("sigg"),
      posexplode(col("bk")).as(Seq("band", "bv")))
    val cands = o(bucketPairs(banded, Seq("band", "bv"), "vec_id", maxBucket))
    finish(cands
      .join(e.select(col("vec_id").as("ida"), col("embedding").as("ea"),
        col("nrm").as("na")), Seq("ida"))
      .join(e.select(col("vec_id").as("idb"), col("embedding").as("eb"),
        col("nrm").as("nb")), Seq("idb"))
      .withColumn("cos",
        graft.sim.Similarity.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("ida").as("a"), col("idb").as("b"),
        graft.sql.Exact.e4(col("cos")).as("rcos_e4")), col("a"), col("b"))
  }

  // --- content-defined (CDC) chunk dedup --------------------------------

  final case class CdcChunk(doc_id: Long, chunk_idx: Int, chunk_md5: String,
                            chunk_len: Int)

  /** Content-defined chunk boundaries over `text`: a Karp-Rabin rolling
    * hash of the last `w` chars (h(i) = Σ_{j<w} code(t_{i−j})·31^j, pure
    * integer, no modulus — w=4 keeps it < 2^29) declares a cut after
    * position i when h(i) % div == rem, subject to `minLen`/`maxLen`
    * (a cut is suppressed until the chunk reaches minLen; a chunk is
    * force-cut at maxLen). Boundaries depend only on CONTENT, so an
    * insertion shifts chunk positions but leaves all downstream chunks
    * identical — the property that lets chunk-hash joins catch
    * partial-overlap/containment duplicates whole-doc MinHash misses.
    * Returns the inclusive 1-based END positions of every chunk. */
  private[graft] def cdcBoundaries(text: String, w: Int = 4, div: Int = 13,
                                   rem: Int = 12, minLen: Int = 1,
                                   maxLen: Int = Int.MaxValue): Seq[Int] = {
    val pw = Array.iterate(1L, w)(_ * 31L)
    val ends = Seq.newBuilder[Int]
    var start = 1
    var i = 1
    while (i <= text.length) {
      val len = i - start + 1
      val cut =
        if (len >= maxLen) true
        else if (len >= minLen && i >= w) {
          var h = 0L
          var j = 0
          while (j < w) { h += text.charAt(i - 1 - j).toLong * pw(j); j += 1 }
          h % div == rem
        } else false
      if (cut) { ends += i; start = i + 1 }
      i += 1
    }
    if (start <= text.length) ends += text.length
    ends.result()
  }

  /** Explode documents into content-defined chunks (one row per chunk,
    * md5-keyed). The walk is a per-ROW kernel — the boundary rule is a
    * sequential data-dependent scan (the packIterator/codec precedent:
    * inexpressible as a window), but state never crosses rows, so it
    * parallelizes perfectly and nothing shuffles. */
  def cdcChunks(docs: DataFrame, w: Int = 4, div: Int = 13, rem: Int = 12,
                minLen: Int = 1, maxLen: Int = Int.MaxValue): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val md = graft.functions.MinhashSignature.digest.get()
        var s = 1
        cdcBoundaries(text, w, div, rem, minLen, maxLen).zipWithIndex.map {
          case (e, k) =>
            val chunk = text.substring(s - 1, e)
            s = e + 1
            md.reset()
            val hex = md.digest(chunk.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              .map(b => f"${b & 0xff}%02x").mkString
            CdcChunk(id, k, hex, chunk.length)
        }
      }.toDF()
  }

  /** CDC chunk dedup: documents sharing ≥ `threshold` of the smaller
    * side's distinct chunk hashes — the containment coefficient, which
    * catches A-contains-B and partial-overlap shapes whole-doc MinHash
    * scores near zero. Candidates come from an equi-join ON THE CHUNK
    * HASH (never all-pairs); hub chunks (df > maxDf docs — boilerplate)
    * are dropped before the join, bounding per-chunk blowup exactly as
    * the contamination join bounds hub grams. */
  def cdcDupPairs(docs: DataFrame, threshold: Double = 0.5, maxDf: Int = 1000,
                  w: Int = 4, div: Int = 13, rem: Int = 12): DataFrame = owned { o =>
    val ch = o(cdcChunks(docs, w, div, rem)
      .select(col("doc_id"), col("chunk_md5").as("h")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val keep = ch.groupBy(col("h")).agg(count(lit(1)).as("cdf"))
      .filter(col("cdf") <= maxDf).select(col("h"))
    val chf = o(ch.join(keep, Seq("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nc = chf.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pairs = chf.select(col("h"), col("doc_id").as("ida"))
      .join(chf.select(col("h"), col("doc_id").as("idb")), Seq("h"))
      .filter(col("ida") < col("idb"))
      .groupBy(col("ida"), col("idb")).agg(count(lit(1)).as("shared"))
    finish(pairs
      .join(nc.select(col("doc_id").as("ida"), col("n").as("na")), Seq("ida"))
      .join(nc.select(col("doc_id").as("idb"), col("n").as("nb")), Seq("idb"))
      .withColumn("ov", col("shared") / least(col("na"), col("nb")))
      .filter(col("ov") >= threshold)
      .select(col("ida").as("a"), col("idb").as("b"), col("shared"),
        graft.sql.Exact.e6(col("ov")).as("overlap_e6")), col("a"), col("b"))
  }

  /** EXACT token-set Jaccard similarity join with prefix filtering
    * (PPJoin family, Xiao et al. 2008) — the scale-correct exact
    * counterpart to [[minhashDupPairs]]: order each document's distinct
    * tokens rarest-first by global (df, token), emit only the first
    * n − ⌈t·n⌉ + 1 tokens as candidate keys (any pair with Jaccard ≥ t
    * MUST share a prefix token — the pigeonhole bound), equi-join on the
    * prefix token, then verify candidates exactly with array
    * intersection. No LSH false negatives, no all-pairs: candidate cost
    * is Σ per-prefix-token pairings, and prefix tokens are rare by
    * construction.
    *
    * thresholdPct is an integer percentage (80 = 0.8) so the prefix
    * length and the verification inequality
    * 100·|A∩B| ≥ t·(|A|+|B|−|A∩B|) are pure BIGINT in both engines.
    *
    * Round-8 tightening (verdict task 3): the candidate join is
    * ASYMMETRIC — the size-SMALLER side of each pair only exposes its
    * INDEX prefix of length n − ⌈2t·n/(100+t)⌉ + 1 (vs the probing
    * prefix n − ⌈t·n/100⌉ + 1), the All-Pairs/PPJoin indexing bound.
    * Soundness: for J(x,y) ≥ t with |y| ≤ |x|, the first common token w
    * in the global (df, tok) order has at least O = |x∩y| common tokens
    * at positions ≥ pos(w) on BOTH sides, and O ≥ t·|x| ≥ ⌈t|x|⌉ resp.
    * O ≥ 2t/(1+t)·|y| ≥ ⌈2t|y|/(1+t)⌉, so pos_x(w) ≤ probeLen(x) AND
    * pos_y(w) ≤ indexLen(y) — the same w survives both cuts. At t=0.8
    * the index prefix is 0.11n vs 0.2n, a ~45% candidate-row cut with
    * zero recall loss; the output (and so the DuckDB oracle, which
    * replays the symmetric candidate set and verifies exactly) is
    * bit-identical because verification is exact either way. */
  def jaccardJoin(sets: DataFrame, thresholdPct: Int = 80): DataFrame = owned { o =>
    // the staging is EAGER: the sorted-token frame and the prefix frame
    // are both checkpoints, materialized during construction (the
    // staging that the old persist+count() pair approximated — measured
    // 3.5× on the whole query at sf0.1 when left lazy: 55.7 s vs ~16 s).
    // `scored` reads both.
    val scored = o(jaccardJoinStaged(sets, thresholdPct)._3)
    // Round-14: checkpoint the NARROW scored frame (a, b, na, nb, inter —
    // five BIGINTs per candidate) BEFORE the threshold filter. Applied
    // lazily, Catalyst pushes the threshold predicate through the
    // projection into the verify join's condition, where the joined row
    // evaluates array_intersect once per size() reference in the
    // condition and once more in the surviving projection — ~3
    // evaluations of the dominant kernel per candidate (measured 39.7 s
    // of a 43.5 s query at sf0.1; single-eval verify is 13.5 s). The
    // barrier pins exactly one array_intersect per candidate pair; its
    // cost is candidate-count × 40 bytes — the narrowest frame in the
    // whole query, safe to materialize at any scale.
    val sm = o(scored.localCheckpoint())
    // Threshold + e6 over the materialized narrow frame, then order the
    // (output-sized) survivors.
    finishJaccard(sm, thresholdPct).localCheckpoint().orderBy(col("a"), col("b"))
  }

  /** Threshold + exact-e6 projection over a scored candidate frame
    * ((a, b, na, nb, inter) — [[jaccardJoinStaged]]'s third element):
    * the one place the verification inequality and the floor-scaled
    * Jaccard live, shared by the checkpointed query path and the staged
    * probe path so the two can never diverge. */
  private def finishJaccard(scored: DataFrame, thresholdPct: Int): DataFrame = {
    val t = thresholdPct.toLong
    scored
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * 100L >= col("uni") * t)
      .select(col("a"), col("b"), col("inter"), col("uni"),
        ((col("inter") * 1000000L - pmod(col("inter") * 1000000L, col("uni")))
          / col("uni")).cast("long").as("jaccard_e6"))
  }

  /** [[jaccardJoin]] with its stages exposed for cost attribution (the
    * tok/candJoin/verify breakdown in PLANS.md, "Recall-audit truth pass
    * at 10×"): (sorted-token frame, candidate-pair frame, scored
    * candidates (a, b, na, nb, inter) unfiltered, verified output). `out`
    * is the LIVE pipeline (no barrier): built lazily, the threshold filter
    * folds into the verify join and re-evaluates array_intersect per
    * condition reference, so stage attributions stay comparable with the
    * recorded ones; the query path ([[jaccardJoin]]) checkpoints `scored`
    * instead and applies [[finishJaccard]] above the barrier for a single
    * evaluation per candidate. Query callers use the single-frame wrapper
    * above.
    *
    * The token checkpoint, which feeds only `sorted`, is released on
    * return; `sorted` and the prefix checkpoint behind `cand` are the
    * returned frames' leaves. */
  def jaccardJoinStaged(sets: DataFrame, thresholdPct: Int = 80)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = owned { o =>
    val t = thresholdPct.toLong
    // Single-scan token build (r15): lazily, this frame — the corpus
    // scan + shingle kernel + explode — is evaluated TWICE, once under
    // the df aggregation's exchange and once under the dictionary join's
    // exchange (the partial-agg below the first exchange makes the two
    // subtrees non-identical, so ReuseExchange cannot merge them;
    // measured 2 `Generate explode` × 2 full scans in the before plan).
    // Checkpointing it with DECLARED hash(tok) runs the scan+kernel once
    // AND serves both consumers exchange-free: the df aggregation reads
    // its co-partitioned input, and the dictionary join's probe side is
    // already tok-placed. At 100 TB this trades one corpus-token-frame
    // materialization (spills to local disk) for a full corpus re-scan +
    // re-shingle; recomputing is never cheaper than one sequential
    // read-back of the narrower (doc_id, tok) frame.
    val toks = o(materialize(
      sets.select(col("doc_id"),
        explode(array_distinct(col("items"))).as("tok")), AdaptiveHash("tok")))
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // rarest-first order WITHOUT a global rank window: lexicographic
    // (df, token) ordering IS the rank ordering
    // shuffle_hash pin (round-14): Catalyst's size estimate elects a
    // BROADCAST here without it — pre-r15 the exploded left side (scan
    // underestimates the explode), post-r15 potentially the measured-
    // stats dictionary — and the dictionary (distinct token + count) is
    // vocabulary-sized, a driver-killing broadcast on a real corpus.
    // The pin keeps both sides on their declared hash(tok) layout: a
    // shuffled-hash join with ZERO exchanges, building on the narrow
    // dictionary partition.
    val sorted = toks.join(dfreq.hint("shuffle_hash"), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(transform(array_sort(collect_list(struct(col("df"), col("tok")))),
        x => x.getField("tok")).as("stoks"))
      .withColumn("n", size(col("stoks")).cast("long"))
      // prefix length n − ⌈t·n/100⌉ + 1, with ⌈x/y⌉ = (x+y−1) div y
      .withColumn("plen",
        (col("n") - expr(s"(n * $t + 99) div 100") + 1L).cast("int"))
      // index-prefix length n − ⌈2t·n/(100+t)⌉ + 1 (≤ plen): the only
      // prefix the size-smaller join side needs to expose
      .withColumn("ilen",
        (col("n") - expr(s"(n * 2 * $t + ${100 + t} - 1) div ${100 + t}") + 1L)
          .cast("int"))
      // CHECKPOINT, not persist (r15): the output plan references this
      // frame from three subtrees (prefix exchange + both verify sides),
      // and with the token checkpoint below it the cache lookup was
      // OBSERVED to miss (the verify join's executed plan recomputed the
      // toks⋈dfreq zip — the whole sorted build ran twice, 8.2 → 16.8 s
      // at sf0.1). A stats-declared localCheckpoint is materialized once
      // by construction: every consumer reads blocks, no CacheManager
      // plan-matching in the loop. Also the reason the old eager
      // `sorted.count()` staging job is gone — the checkpoint IS the
      // staging job.
      .transform(materialize(_, Stats))
    // positional prefix frame: (doc, set size, 1-based prefix position,
    // token). The PPJoin filters prune candidate ROWS before the
    // distinct: (a) length filter — J ≥ t forces t·max(n) ≤ 100·min(n);
    // (b) positional bound — tokens at positions (i, j) leave at most
    // 1 + min(na−i, nb−j) overlapping tokens, which must reach
    // α = ⌈t·(na+nb)/(100+t)⌉. Measured at sf0.1: 4.2M → 200k
    // candidates (21×) on this corpus; both filters replay identically
    // in the oracle, so exactness is untouched.
    val prefix = sorted.select(col("doc_id"), col("n"), col("ilen"),
        posexplode(slice(col("stoks"), lit(1), col("plen"))).as(Seq("pos0", "tok")))
      .select(col("doc_id"), col("n"),
        (col("pos0") + 1).cast("long").as("pos"), col("tok"),
        (col("pos0") + 1 <= col("ilen")).as("idx"))
    // probe side = full probing prefix; index side = the shorter index
    // prefix of the pair's size-SMALLER doc ((n, doc_id)-lexicographic
    // order breaks size ties). The output pair is re-canonicalized to
    // (a, b) = (min id, max id), same key space as before.
    //
    // Plan shape (round-9 repair of the round-8 regression, tightened in
    // r15): both join inputs read ONE hash(tok)-declared CHECKPOINT of
    // the prefix frame — the index side is a filter above it — so the
    // explode+shuffle of the prefix runs exactly once and the candidate
    // join plans with ZERO exchanges below it. (The r9 form was a bare
    // repartition whose exchange both sides REUSED; with `sorted` now a
    // checkpoint leaf, Catalyst pushes the idx filter below the
    // repartition, splitting that shared exchange into two — the
    // materialized declared layout restores single-computation by
    // construction instead of by ReuseExchange.) The join stays pinned
    // to a SHUFFLED HASH JOIN building on the index (smaller) side:
    // without the pin, Catalyst's estimates broadcast the PROBE side and
    // that broadcast build runs as a single task (measured 33 s of a
    // 71 s query at sf0.1 — a serial stage no cluster can parallelize);
    // with it every stage is np-way and neither side is ever collected
    // to one node, which is the only shape that survives a corpus where
    // both prefix frames are TB-scale.
    val shuffled = materialize(prefix, AdaptiveHash("tok"))
    val p1 = shuffled.select(col("doc_id").as("da"), col("n").as("pna"),
      col("pos").as("pa"), col("tok"))
    val p2 = shuffled.filter(col("idx")).select(col("doc_id").as("db"),
      col("n").as("pnb"), col("pos").as("pb"), col("tok"))
    val cand = p1.join(p2.hint("shuffle_hash"),
        p1("tok") === p2("tok")
          && (col("pnb") < col("pna")
            || (col("pnb") === col("pna") && col("db") < col("da")))
          && col("pnb") * 100L >= col("pna") * t
          && (lit(1L) + least(col("pna") - col("pa"), col("pnb") - col("pb")))
               * (100L + t) >= (col("pna") + col("pnb")) * t)
      .select(least(col("da"), col("db")).as("a"),
        greatest(col("da"), col("db")).as("b"))
      .distinct()
    val left = sorted.select(col("doc_id").as("a"), col("stoks").as("ta"), col("n").as("na"))
    val right = sorted.select(col("doc_id").as("b"), col("stoks").as("tb"), col("n").as("nb"))
    // Per-pair exact verification. NOTE (ADVICE r14): the behavior
    // below differs by consumer. In the probe-only `out` pipeline
    // (built lazily on `scored`), Catalyst pushes the threshold
    // predicate into this join's condition, so non-pairs never
    // materialize but array_intersect evaluates ~3× per candidate. The
    // QUERY path ([[jaccardJoin]]) deliberately does the opposite:
    // it checkpoints `scored` (the narrow 5-BIGINT frame) as a barrier
    // and applies [[finishJaccard]] ABOVE it — exactly one
    // array_intersect per candidate (the r14 single-eval fix).
    val scored = cand.join(left, Seq("a")).join(right, Seq("b"))
      .select(col("a"), col("b"), col("na"), col("nb"),
        size(array_intersect(col("ta"), col("tb"))).cast("long").as("inter"))
    (sorted, cand, scored, finishJaccard(scored, thresholdPct))
  }
}
