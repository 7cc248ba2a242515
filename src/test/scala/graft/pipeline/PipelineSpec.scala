package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.sim.Similarity
import graft.text.TextFunctions

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "s1"),
    (2L, "the quick brown fox jumps over the lazy cat", "s1"),
    (3L, "completely different content entirely here now", "s1"),
    (4L, "the quick brown fox jumps over the lazy dog", "s2") // exact dup of 1
  ).toDF("doc_id", "text", "source")

  test("exact dedup clusters identical normalized text") {
    val c = Dedup.exactClusters(docs).filter(col("dup_cnt") > 1)
    assert(c.count() == 1)
    assert(c.first().getAs[Long]("canonical") == 1L)
  }

  test("minhash LSH finds near-duplicate pair and exact pair") {
    val pairs = Dedup.minhashDupPairs(docs).as[(Long, Long, Long)].collect().toSeq
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 4L)))    // identical → jaccard 1.0
    assert(keys.contains((1L, 2L)))    // near dup
    assert(!keys.exists(p => p._1 == 3L || p._2 == 3L))
    assert(pairs.find(p => (p._1, p._2) == ((1L, 4L))).get._3 == 1000000L)
  }

  test("incremental dedup probes a stored index without re-signing the corpus") {
    val path = java.nio.file.Files.createTempDirectory("sigidx").toString
    Dedup.writeSignatureIndex(docs, path)
    // increment: one near-dup of indexed doc 1, one novel doc
    val inc = Seq(
      (100L, "the quick brown fox jumps over the lazy dog", "s9"), // = doc 1/4
      (101L, "nothing like anything indexed before at all", "s9")
    ).toDF("doc_id", "text", "source")
    val got = Dedup.incrementalDupPairs(inc, path)
      .as[(Long, Long, Long)].collect().toSeq
    // exact dups of 1 and 4, near-dup of 2 (the cat variant); novel doc clean
    assert(got.map(p => (p._1, p._2)).toSet ==
      Set((100L, 1L), (100L, 2L), (100L, 4L)))
    val jac = got.map(p => (p._2, p._3)).toMap
    assert(jac(1L) == 1000000L && jac(4L) == 1000000L)
    assert(jac(2L) >= 300000L && jac(2L) < 1000000L)
  }

  test("incremental dedup action appends only novel documents") {
    val path = java.nio.file.Files.createTempDirectory("sigidx2").toString
    Dedup.writeSignatureIndex(docs, path)
    val inc = Seq(
      (100L, "the quick brown fox jumps over the lazy dog", "s9"), // indexed
      (101L, "nothing like anything indexed before at all", "s9")
    ).toDF("doc_id", "text", "source")
    val kept = Dedup.dropIndexedDuplicates(inc, path)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(101L))
  }

  test("WAV chunk order: data before fmt still parses") {
    // hand-build RIFF with the data chunk FIRST — order is legal RIFF
    val bb = java.nio.ByteBuffer.allocate(12 + 8 + 4 + 24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(40).put("WAVE".getBytes("US-ASCII"))
    bb.put("data".getBytes("US-ASCII")).putInt(4).put(Array[Byte](1, 2, 3, 4))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(8000).putShort(1).putShort(8)
    assert(Multimodal.decodeWav(bb.array()).contains((1, 8000, 8, 4L)))
  }

  /** `docs` plus a NULL-text row: it has no shingles, so (as in the DuckDB
    * oracle) no bit has a majority against it and every bit is set. */
  private val docsWithNullText =
    docs.union(Seq((5L, null: String, "s1")).toDF("doc_id", "text", "source"))

  test("simhash is equal for identical docs, different for unrelated") {
    val fp = Dedup.simhashFingerprints(docsWithNullText).as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(4L))
    assert(fp(1L) != fp(3L))
    assert(fp(5L) == 0xffffffffL)
  }

  test("simhash hamming pairs find the identical pair at distance 0") {
    val pairs = Dedup.simhashDupPairs(docsWithNullText).as[(Long, Long, Long)].collect().toSeq
    assert(pairs.exists(p => (p._1, p._2, p._3) == ((1L, 4L, 0L)))) // exact dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))            // unrelated doc
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))            // NULL text
  }

  test("hot-bucket guard: a planted boilerplate bucket star-expands to " +
    "O(B) candidates, not O(B²), and stays one transitive cluster") {
    // 300 byte-identical boilerplate docs: every LSH band maps all of
    // them into ONE (band, bv) bucket — the degenerate shape the cap
    // exists for. Unguarded, the self-join would emit B(B−1)/2 = 44 850
    // pre-distinct pairs; star expansion emits exactly B−1 = 299.
    val boiler = "subscribe to our newsletter for updates terms apply " +
      "all rights reserved contact us at example dot com"
    val planted = (0L until 300L).map(i => (100L + i, boiler))
      .toDF("doc_id", "text")
    val sigs = Dedup.withMinhash(planted.unionByName(
      docs.select(col("doc_id"), col("text"))), 8, 16)
    val capped = Dedup.lshCandidates(sigs, bands = 4, rowsPerBand = 4,
      maxBucket = 20)
    val cands = capped.as[(Long, Long)].collect().toSeq
    // every planted doc pairs with the bucket representative (min id
    // 100) and with nothing else among the planted set
    val plantedCands = cands.filter { case (a, b) => a >= 100L && b >= 100L }
    assert(plantedCands.size == 299, s"got ${plantedCands.size} planted candidates")
    assert(plantedCands.forall(_._1 == 100L))
    // the guard is recall-preserving where it matters: the star pairs
    // verify at jaccard 1.0 and the whole bucket collapses into ONE
    // cluster under the canonical min id
    val clusters = Dedup.dupClusters(
        capped.filter(col("ida") >= 100L).select(col("ida").as("a"), col("idb").as("b")))
      .as[(Long, Long)].collect().toMap
    assert((100L until 400L).forall(i => clusters(i) == 100L))
    // and the guard never fires on a healthy frame: default cap leaves
    // the small corpus' candidate set byte-identical
    val healthy = Dedup.withMinhash(docs, 8, 16)
    assert(Dedup.lshCandidates(healthy, 4, 4).collect().toSet ==
      Dedup.lshCandidates(healthy, 4, 4, maxBucket = Int.MaxValue).collect().toSet)
  }

  test("hot-bucket guard: a MIXED hot bucket stars per full-signature " +
    "group, so two distinct duplicate groups both survive clustering") {
    // Round-12 verdict task 2 (the round-11 'What's wrong #1' hole): one
    // degenerate (band, bv) bucket holding TWO distinct duplicate groups
    // A (ids 100-129, sigg 1) and B (ids 200-229, sigg 2). The old
    // per-bucket star paired B's members only with the bucket min
    // (100 ∈ A) — pairs that fail verification, losing B entirely. The
    // per-signature-group star keeps each group connected via its own
    // rep, plus one rep↔rep bridge candidate per extra group.
    val banded = ((100L until 130L).map(i => (0, "x", 1L, i)) ++
        (200L until 230L).map(i => (0, "x", 2L, i)))
      .toDF("band", "bv", "sigg", "doc_id")
    val cands = Dedup.bucketPairs(banded, Seq("band", "bv"), "doc_id",
      maxBucket = 10).as[(Long, Long)].collect().toSeq
    // O(#groups·B): 29 within-A + 29 within-B stars + 1 rep bridge —
    // never the 60·59/2 = 1770 all-pairs expansion
    assert(cands.size == 59, s"got ${cands.size} candidates")
    assert(cands.count { case (a, b) => a == 100L && b > 100L && b < 200L } == 29)
    assert(cands.count { case (a, b) => a == 200L && b > 200L } == 29)
    assert(cands.contains((100L, 200L)))
    // downstream: verification passes exactly the signature-identical
    // pairs (the bridge fails — A and B are dissimilar); BOTH clusters
    // come out of the cluster pass, each under its own canonical id
    val verified = cands.filter { case (a, b) => (a < 200L) == (b < 200L) }
      .toDF("a", "b")
    val clusters = Dedup.dupClusters(verified).as[(Long, Long)].collect().toMap
    assert((100L until 130L).forall(i => clusters(i) == 100L))
    assert((200L until 230L).forall(i => clusters(i) == 200L))
  }

  test("hot-bucket guard: simhash star-expands a planted degenerate bucket") {
    val boiler = "identical boilerplate body repeated verbatim in every copy"
    val planted = (0L until 50L).map(i => (500L + i, boiler)).toDF("doc_id", "text")
    val pairs = Dedup.simhashDupPairs(planted, maxBucket = 10)
      .as[(Long, Long, Long)].collect().toSeq
    // star pairs (rep=500, member) all verify at hamming 0
    assert(pairs.size == 49)
    assert(pairs.forall { case (a, _, ham) => a == 500L && ham == 0L })
  }

  test("dup clusters label every member with the min id transitively") {
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 8L)).toDF("a", "b")
    val got = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(5L) == 1L) // transitive via 2
    assert(got(7L) == 7L && got(8L) == 7L)
  }

  test("ngram jaccard blocks by source") {
    val pairs = Dedup.ngramDupPairs(docs, n = 2, threshold = 0.1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)).contains((1L, 2L)))
    // 1 and 4 are in different sources → blocked apart
    assert(!pairs.map(p => (p._1, p._2)).contains((1L, 4L)))
  }

  test("embedding LSH dedup finds the planted near-identical pair, and only it") {
    val v1 = Seq(0.9f, 0.1f, 0.3f, -0.5f, 0.2f, 0.7f, -0.1f, 0.4f)
    val v2 = v1.updated(0, v1.head * 0.5f) // halved coord 0: cosine ≈ 0.953
    val v3 = Seq(-0.8f, 0.6f, -0.2f, 0.1f, -0.9f, 0.3f, 0.5f, -0.4f)
    val v4 = Seq(0.05f, -0.85f, 0.4f, 0.6f, 0.1f, -0.3f, 0.9f, 0.2f)
    val e = Seq((1L, v1), (2L, v2), (3L, v3), (4L, v4)).toDF("vec_id", "embedding")
    val got = Dedup.embeddingDupPairs(e, threshold = 0.9, numPlanes = 16, bands = 4, dim = 8)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(got.head._3 >= 9000L && got.head._3 < 10000L) // genuine near-dup, not a clone
  }

  test("cosine similarity: identical vectors score 1, orthogonal 0") {
    val e = Seq(
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(1.0f, 0.0f), 0),
      (3L, Seq(0.0f, 1.0f), 1)).toDF("vec_id", "embedding", "label")
    val q = e.filter(col("vec_id") === 1).select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val top = Similarity.bruteTopK(e.select("vec_id", "embedding"), q, 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(top.head == ((1L, 2L, 10000L)))
    assert(top(1) == ((1L, 3L, 0L)))
  }

  test("band tuning panel keeps dups within candidates and precision in range") {
    val rows = graft.Queries.all("q_dedup_band_tuning")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 4L, 8L))
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2))
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 1000000L)
    }
  }

  test("dedup recall audit: hits bounded by both sides, rates in range") {
    val r = graft.Queries.all("q_dedup_recall_audit")(spark, "/root/testdata/sf0.001")
      .collect().head
    val (truth, cands, hits) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(hits <= truth && hits <= cands)
    assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000000L)
    assert(r.getLong(4) >= 0 && r.getLong(4) <= 1000000L)
    // 16-hash 4-band MinHash at Jaccard 0.7: recall must be high
    if (truth > 0) assert(r.getLong(3) >= 800000L)
  }

  test("pixel histogram bins partition the pixel stream") {
    val docs = Seq((7L, "Aa0!")).toDF("doc_id", "text") // bins 4,6,3,2
    val got = Multimodal.pixelHistogram(Multimodal.documentsAsPpm(docs))
      .collect().map(h => h.bin -> h.cnt).toMap
    assert(got == Map(4 -> 1L, 6 -> 1L, 3 -> 1L, 2 -> 1L))
  }

  test("covariance numerators: orthogonal one-hot rows anti-correlate") {
    val e = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val got = Similarity.covarianceUpper(e, dim = 2)
      .orderBy("j", "k").as[(Long, Long, Long, Long)].collect().toSeq
    val q = 16384L
    // (0,0): spp=q², cov = 2q²−q² = q²; (0,1): spp=0, cov = −q²
    assert(got == Seq((0L, 0L, q * q, q * q), (0L, 1L, 0L, -q * q),
      (1L, 1L, q * q, q * q)))
  }

  test("silhouette: two tight orthogonal clusters score the +1-shifted max") {
    val e = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(1.0f, 0.0f), 0),
      (3L, Seq(0.0f, 1.0f), 1), (4L, Seq(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.silhouette(e).orderBy("label")
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    // a = 0 (own centroid identical), b = 10⁶ (orthogonal) → s' = 2·10⁶
    assert(got == Seq((0, 2L, 2000000L, 2000000L, 2000000L),
      (1, 2L, 2000000L, 2000000L, 2000000L)))
  }

  test("ivf probes restrict search to nearest clusters") {
    val e = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0.0f, 1.0f), 1), (4L, Seq(0.1f, 0.9f), 1)).toDF("vec_id", "embedding", "label")
    val q = e.filter(col("vec_id") === 1).select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val got = Similarity.ivfTopK(e, q, k = 1, nprobe = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(_._2) == Seq(2L)) // only cluster 0 probed
  }

  test("lsh ann retrieves the near-identical neighbor via bucket collision") {
    val e = Seq(
      (1L, Seq(1.0f, 0.2f, 0.1f, 0.4f, 0.3f, 0.2f, 0.6f, 0.1f)),
      (2L, Seq(0.99f, 0.21f, 0.1f, 0.4f, 0.3f, 0.2f, 0.6f, 0.1f)), // ~clone of 1
      (3L, Seq(-1.0f, 0.5f, -0.3f, 0.2f, -0.8f, 0.1f, -0.2f, 0.9f))
    ).toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val got = Similarity.lshTopK(e, q, k = 2, numPlanes = 16, bands = 4, dim = 8)
      .as[(Long, Long, Long)].collect().toSeq
    // the clone collides in some band and ranks first with cosine ≈ 1
    assert(got.nonEmpty && got.head._2 == 2L && got.head._3 >= 9990L)
  }

  test("native vec_dot matches the declarative fold exactly, incl. mixed types") {
    val e = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f), Seq(2.0, 4.0, 8.0)),
      (2L, Seq(0.1f, 0.2f, 0.3f), Seq(-1.0, 0.0, 1.0))
    ).toDF("id", "fv", "dv")
    val rows = e.select(
        Similarity.dot(col("fv"), col("fv")).as("nat_ff"),
        Similarity.dotDeclarative(col("fv"), col("fv")).as("dec_ff"),
        Similarity.dot(col("fv"), col("dv")).as("nat_fd"),
        Similarity.dotDeclarative(col("fv"), col("dv")).as("dec_fd"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // bit-exact, not approx
      assert(r.getDouble(2) == r.getDouble(3))
    }
    // length mismatch → null (matches the poisoned declarative fold)
    val m = e.select(Similarity.dot(col("fv"), array(lit(1.0f))).as("d")).first()
    assert(m.isNullAt(0))
  }

  test("scalar quantization: codes in [0,255], extremes exact, sq ann finds the clone") {
    val e = Seq(
      (1L, Seq(1.0f, 0.2f, 0.1f, 0.4f)),
      (2L, Seq(0.99f, 0.21f, 0.1f, 0.4f)),  // ~clone of 1
      (3L, Seq(-1.0f, 0.5f, -0.3f, 0.2f)),
      (4L, Seq(0.0f, -0.5f, 0.7f, -0.2f))
    ).toDF("vec_id", "embedding")
    val codes = Similarity.sqEncode(e, Similarity.sqTrain(e))
      .as[(Long, Seq[Long])].collect().toMap
    assert(codes.values.flatten.forall(c => c >= 0 && c <= 255))
    // dim 0: min = -1.0 (vec 3) → 0, max = 1.0 (vec 1) → 255
    assert(codes(3L).head == 0L && codes(1L).head == 255L)
    val q = e.filter(col("vec_id") === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val got = Similarity.sqTopK(e, q, k = 1).as[(Long, Long, Long)].collect()
    assert(got.head._2 == 2L && got.head._3 >= 9990L) // clone survives rerank
  }

  test("persisted IVF index prunes non-probed cluster partitions at the scan") {
    val e = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(0.9f, 0.1f)), (4L, Seq(0.1f, 0.9f)),
      (5L, Seq(0.95f, 0.05f)), (6L, Seq(0.05f, 0.95f))
    ).toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("ivf").toString
    Similarity.writeIvfIndex(e, Similarity.kmeansAssign(e, k = 2, iters = 2), path)
    val q = e.filter($"vec_id" === 3)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"))
    val got = Similarity.ivfIndexTopK(spark, path, q, k = 2, nprobe = 1)
    val rows = got.as[(Long, Long, Long)].collect()
    // probing ONE bucket finds only the same-direction neighbors of 3
    assert(rows.map(_._2).toSet == Set(1L, 5L))
    // and the DATA scan proves file-level pruning: a non-empty
    // PartitionFilters on the cluster partition column (the centroids
    // scan legitimately has none — match the filter content itself)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(cluster"),
      "data scan carried no cluster partition filter:\n" + plan.take(800))
  }

  test("filtered IVF query composes partition pruning with predicate pushdown") {
    val e = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(0.9f, 0.1f)), (4L, Seq(0.1f, 0.9f)),
      (5L, Seq(0.95f, 0.05f)), (6L, Seq(0.05f, 0.95f)),
      (7L, Seq(0.85f, 0.15f))
    ).toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("ivff").toString
    Similarity.writeIvfIndex(e, Similarity.kmeansAssign(e, k = 2, iters = 2), path)
    val q = e.filter($"vec_id" === 3)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"))
    val got = Similarity.ivfIndexFilteredTopK(spark, path, q, k = 3, nprobe = 1,
      predicate = $"vec_id" <= 5)
    val rows = got.as[(Long, Long, Long)].collect()
    // same-direction bucket holds {1,5,7}; the range predicate keeps {1,5}
    assert(rows.map(_._2).toSet == Set(1L, 5L))
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(cluster"),
      "no cluster partition filter:\n" + plan.take(800))
    // the row predicate must reach the parquet reader itself (row-group
    // pruning), not live in a post-scan Filter only
    assert(plan.contains("LessThanOrEqual(vec_id,5"),
      "vec_id predicate not pushed:\n" + plan.take(1200))
  }

  test("z-order layout localizes BOTH filter columns to few files") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val rows = for (u <- 0 until 64; d <- 0 until 64) yield (u.toLong, d.toLong)
    val df = rows.toDF("user_id", "day")
    val zDir = java.nio.file.Files.createTempDirectory("zord").toString
    val rDir = java.nio.file.Files.createTempDirectory("rrob").toString
    graft.operators.ZOrder.clusterBy(df, "user_id", "day", numFiles = 16)
      .write.mode("overwrite").parquet(zDir)
    df.repartition(16).write.mode("overwrite").parquet(rDir)
    def filesMatching(dir: String, pred: org.apache.spark.sql.Column): Long =
      spark.read.parquet(dir).filter(pred)
        .select(input_file_name()).distinct().count()
    for (pred <- Seq(
        col("user_id") >= 10 && col("user_id") <= 13,   // narrow on a
        col("day") >= 40 && col("day") <= 43,           // narrow on b
        col("user_id") < 8 && col("day") < 8)) {        // narrow on both
      val z = filesMatching(zDir, pred)
      val r = filesMatching(rDir, pred)
      // round-robin scatters matches across every file; the z layout
      // keeps either dimension within a contiguous band of files
      assert(r == 16L, s"round-robin should touch all files, got $r")
      assert(z <= 8L, s"z-order should localize, touched $z files for $pred")
    }
  }

  // deterministic pseudo-random ASCII text (no RNG in tests)
  private def rndText(seed: Long, n: Int): String = {
    var s = seed * 6364136223846793005L + 1442695040888963407L
    (0 until n).map { _ =>
      s = s * 6364136223846793005L + 1442695040888963407L
      val r = ((s >>> 33) % 27).toInt
      if (r == 26) ' ' else ('a' + r).toChar
    }.mkString
  }

  test("cdc boundaries: chunks tile the text and respect min/max lengths") {
    val t = rndText(7, 400)
    val ends = Dedup.cdcBoundaries(t, minLen = 5, maxLen = 40)
    assert(ends.last == t.length)
    assert(ends == ends.sorted && ends.distinct == ends)
    val lens = (0 +: ends.init).zip(ends).map { case (s, e) => e - s }
    assert(lens.init.forall(l => l >= 5 && l <= 40)) // final chunk may run short
    assert(lens.last <= 40)
  }

  test("cdc boundaries are content-defined: a prefix insertion keeps downstream chunks") {
    def chunks(t: String): Seq[String] = {
      var s = 1
      Dedup.cdcBoundaries(t).map { e => val c = t.substring(s - 1, e); s = e + 1; c }
    }
    val t = rndText(11, 400)
    val a = chunks(t)
    val b = chunks(rndText(12, 50) + t)
    // with minLen=1 the boundary rule is position-independent, so only
    // the chunk(s) touching the splice seam can change
    assert((a.toSet intersect b.toSet).size >= a.size - 2)
  }

  test("cdc chunk dedup catches a contained document whole-doc minhash misses") {
    val x = rndText(21, 500); val y = rndText(22, 250); val z = rndText(23, 450)
    val cdocs = Seq(
      (1L, x + y + z, "s1"), // 1200 chars, contains y
      (2L, y, "s1")          // y alone: jaccard vs 1 ≈ 0.2 — under minhash's 0.3
    ).toDF("doc_id", "text", "source")
    assert(Dedup.minhashDupPairs(cdocs).count() == 0)
    val cdc = Dedup.cdcDupPairs(cdocs, threshold = 0.5)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(cdc.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(cdc.head._4 >= 500000L) // containment of the smaller side
  }

  test("pq ann: m codes per vector, clone retrieval survives ADC rank") {
    // ids chosen so the k-means seeds (2 lowest ids) are DISTINCT
    // directions; 5 is the planted clone of 1
    val e = Seq(
      (1L, Seq(1.0f, 0.2f, 0.1f, 0.4f)),
      (3L, Seq(-1.0f, 0.5f, -0.3f, 0.2f)),
      (5L, Seq(0.99f, 0.21f, 0.1f, 0.4f)), // ~clone of 1
      (7L, Seq(0.1f, -0.9f, 0.6f, -0.2f))
    ).toDF("vec_id", "embedding")
    val codes = Similarity.pqCodes(e, m = 2, ksub = 2, iters = 1, dim = 4)
    assert(codes.count() == 8) // 4 vectors × m=2 subspace codes
    val q = e.filter(col("vec_id") === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val got = Similarity.pqTopK(e, q, k = 1, m = 2, ksub = 2, iters = 1,
      rerank = 2, dim = 4).as[(Long, Long, Long)].collect()
    assert(got.head._2 == 5L && got.head._3 >= 9990L)
  }

  test("pq reconstruction joins the codebook by BROADCAST, never a shuffle of codes") {
    val e = Seq(
      (1L, Seq(1.0f, 0.2f, 0.1f, 0.4f)),
      (3L, Seq(-1.0f, 0.5f, -0.3f, 0.2f)),
      (5L, Seq(0.99f, 0.21f, 0.1f, 0.4f)),
      (7L, Seq(0.1f, -0.9f, 0.6f, -0.2f))
    ).toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val plan = Similarity.pqTopK(e, q, k = 1, m = 2, ksub = 2, iters = 1,
      rerank = 2, dim = 4).queryExecution.executedPlan.toString
    // the m·ksub codebook must reach the code frame as a broadcast —
    // a shuffled join here would re-shuffle the whole corpus' codes
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
  }

  test("semanticDupPairs: cluster-blocked recall of planted clones, no false positives") {
    def vec(seed: Long): Seq[Float] = {
      var s = seed
      (0 until 64).map { _ =>
        s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 33) % 2003).toFloat / 2003.0f - 0.5f
      }
    }
    // 4 direction-clusters with enough noise that same-cluster members
    // stay WELL below the 0.90 threshold (~0.73), while a planted clone
    // (coordinate 0 halved) stays above it (≥ 0.94) — the test fails on
    // either a recall break (clone mis-clustered / filtered) or a
    // precision break (cluster-mates paired).
    val centers = (0 until 4).map(c => vec(2000L + c))
    val base = (1L to 40L).map { i =>
      val c = centers(((i - 1) % 4).toInt)
      val n = vec(500L + i)
      (i, c.zip(n).map { case (cv, nv) => cv + 0.6f * nv })
    }
    val clones = (1L to 3L).map { i =>
      val v = base((i - 1).toInt)._2
      (100L + i, v.updated(0, v.head * 0.5f))
    }
    val corpus = (base ++ clones).toDF("vec_id", "embedding")
    val pairs = Similarity.semanticDupPairs(corpus, k = 4, iters = 2,
      thresholdE4 = 9000L)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 101L), (2L, 102L), (3L, 103L)))
  }

  test("semanticDupPairs candidate join is cluster-scoped, never cartesian") {
    import spark.implicits._
    val corpus = (1L to 30L).map(i =>
      (i, (0 until 64).map(d => ((i * 31 + d) % 97).toFloat / 97f)))
      .toDF("vec_id", "embedding")
    val plan = Similarity.semanticDupPairs(corpus, k = 4, iters = 1,
      thresholdE4 = 9000L).queryExecution.executedPlan.toString
    // the pair join must key on the k-means cluster — a cartesian here
    // is the all-pairs explosion the blocking exists to prevent
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("ann recall@10 floors per tier vs brute-force truth") {
    // 8 planted direction-clusters, 15 members each + noise — the shape
    // real embedding corpora have (ANN on uniform random data is
    // meaningless: every neighbor list is arbitrary)
    def vec(seed: Long): Seq[Float] = {
      var s = seed
      (0 until 64).map { _ =>
        s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 33) % 2003).toFloat / 2003.0f - 0.5f
      }
    }
    val centers = (0 until 8).map(c => vec(1000L + c))
    val corpus = (1L to 120L).map { i =>
      val c = centers(((i - 1) % 8).toInt)
      val n = vec(i)
      (i, c.zip(n).map { case (cv, nv) => cv + 0.15f * nv })
    }.toDF("vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queries = corpus.filter(col("vec_id") <= 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    def tops(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select(col("q_id"), col("n_id")).as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val truth = tops(Similarity.bruteTopK(corpus, queries, 10))
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = tops(df)
      truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }.sum / truth.size
    }
    val assigned = Similarity.kmeansAssign(corpus, k = 8, iters = 2)
    val rLsh = recall(Similarity.lshTopK(corpus, queries, 10))
    val rIvf = recall(Similarity.ivfTopK(corpus.join(assigned, Seq("vec_id")),
      queries, 10, nprobe = 2, clusterCol = "cluster"))
    val rSq = recall(Similarity.sqTopK(corpus, queries, 10))
    val rPq = recall(Similarity.pqTopK(corpus, queries, 10))
    info(f"recall@10 lsh=$rLsh%.2f ivf=$rIvf%.2f sq=$rSq%.2f pq=$rPq%.2f")
    // floors: measured values on this fixed corpus, minus slack — a tier
    // dropping below its floor means its candidate generation broke
    assert(rSq >= 0.9, s"sq recall $rSq")
    assert(rIvf >= 0.7, s"ivf recall $rIvf")
    assert(rPq >= 0.5, s"pq recall $rPq")
    assert(rLsh >= 0.3, s"lsh recall $rLsh")
    corpus.unpersist()
  }

  test("ivf index append: increment joins the stored layout and is probed") {
    val e = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(0.9f, 0.1f)), (4L, Seq(0.1f, 0.9f)),
      (5L, Seq(0.95f, 0.05f)), (6L, Seq(0.05f, 0.95f))
    ).toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("ivfappend").toString
    Similarity.writeIvfIndex(e, Similarity.kmeansAssign(e, k = 2, iters = 2), path)
    // daily increment: a near-clone of the x-direction, assigned to the
    // STORED centroids (no retrain), appended into the partition layout
    Similarity.appendToIvfIndex(spark,
      Seq((7L, Seq(0.97f, 0.06f))).toDF("vec_id", "embedding"), path)
    val q = Seq((3L, Seq(0.9f, 0.1f))).toDF("q_id", "qv")
    val got = Similarity.ivfIndexTopK(spark, path, q, k = 3, nprobe = 1)
      .as[(Long, Long, Long)].collect().map(_._2).toSet
    assert(got == Set(1L, 5L, 7L)) // the appended vector ranks in-bucket
  }

  test("kmeans trainer converges to the two planted directions") {
    // two tight direction clusters; seeds = vec_ids 1 and 2 (one per side)
    val e = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(0.9f, 0.1f)), (4L, Seq(0.1f, 0.9f)),
      (5L, Seq(0.95f, 0.05f)), (6L, Seq(0.05f, 0.95f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kmeansAssign(e, k = 2, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got(3L) == got(1L) && got(5L) == got(1L))
    assert(got(4L) == got(2L) && got(6L) == got(2L))
    assert(got(1L) != got(2L))
  }

  test("text functions compute deterministic stats") {
    val r = docs.select(
      TextFunctions.tokenCount(col("text")).as("t"),
      TextFunctions.uniqueTokenCount(col("text")).as("u"),
      TextFunctions.wordHits(col("text"), Seq("the")).as("s"))
      .orderBy(col("t").desc).first()
    assert(r.getAs[Long]("t") == 9L)
    assert(r.getAs[Long]("u") == 8L)
    assert(r.getAs[Long]("s") == 2L)
  }

  test("PPM codec parses real headers: dims, comments, corrupt payloads") {
    // hand-built P6 with a netpbm comment and multi-digit dims
    val ppm = "P6\n# a comment\n640 480\n255\n".getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3)
    assert(Multimodal.decodePpm(ppm).contains((640, 480, 255)))
    assert(Multimodal.decodePpm("P5\n2 2\n255\n".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.decodePpm("garbage".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.decodePpm("P6\nnope\n".getBytes("US-ASCII")).isEmpty)
    // unbounded digit run must flag as corrupt (None), never throw
    assert(Multimodal.decodePpm("P6\n99999999999 5\n255\n".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.decodePpm("P6\n640 480 9999999999\n".getBytes("US-ASCII")).isEmpty)
  }

  test("WAV codec round-trips the RIFF chunk walk; corrupt payloads flagged") {
    // canonical: stereo 16-bit 9kHz, 20 samples → 80 data bytes
    val wav = Multimodal.encodeWav(channels = 2, rate = 9000, bits = 16, nSamples = 20)
    assert(Multimodal.decodeWav(wav).contains((2, 9000, 16, 80L)))
    // junk LIST chunk before fmt : only a real chunk walker passes
    val junky = Multimodal.encodeWav(2, 9000, 16, 20, junkLen = 6)
    assert(Multimodal.decodeWav(junky).contains((2, 9000, 16, 80L)))
    assert(junky.length == wav.length + 14)
    // odd data size gets the RIFF pad byte; declared size stays odd
    val odd = Multimodal.encodeWav(1, 8000, 8, nSamples = 11)
    assert(Multimodal.decodeWav(odd).contains((1, 8000, 8, 11L)))
    assert(odd.length % 2 == 0)
    // corrupt: bad magic, truncated chunk list, hostile declared size
    assert(Multimodal.decodeWav("RIFX0000WAVE".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.decodeWav(wav.take(20)).isEmpty)
    val hostile = wav.clone()
    hostile(16) = -1; hostile(17) = -1; hostile(18) = -1; hostile(19) = -1
    assert(Multimodal.decodeWav(hostile).isEmpty) // fmt size = 4G → None, no crash
  }

  test("video frame walker computes offsets from parsed headers; garbage ends walk") {
    val v = Seq((6L, "x")).toDF("doc_id", "text")
    val frames = Multimodal.sampleVideoFrames(Multimodal.documentsAsVideo(v), stride = 1)
      .orderBy("frame_idx").as[(Long, Int, Int, Int, Long)].collect()
    // doc 6 → 3 frames: f0 w=7 h=1, f1 w=8 h=2, f2 w=1 h=3
    assert(frames.length == 3)
    assert(frames(0) == ((6L, 0, 7, 1, 0L)))
    assert(frames(1) == ((6L, 1, 8, 2, 11L + 21L)))          // hdr 11 + 7*1*3
    assert(frames(2) == ((6L, 2, 1, 3, 32L + 11L + 48L)))    // + hdr 11 + 8*2*3
    // trailing garbage after a valid frame: keep parsed frames, stop clean
    val garbled = Multimodal.documentsAsVideo(v.filter($"doc_id" === 6L))
      .select($"doc_id", concat($"payload", lit("NOTAPPM".getBytes("US-ASCII"))).as("payload"))
    assert(Multimodal.sampleVideoFrames(garbled, stride = 1).count() == 3)
  }

  test("nearest-neighbor resize picks the exact source pixels") {
    // 2x2 image, distinct per-pixel RGB triples
    val pixels = Array[Byte](
      1, 2, 3,   4, 5, 6,      // row 0: (0,0) (1,0)
      7, 8, 9,  10, 11, 12)    // row 1: (0,1) (1,1)
    val img = "P6\n2 2\n255\n".getBytes("US-ASCII") ++ pixels
    val media = Seq((1L, img)).toDF("doc_id", "payload")
    val out = Multimodal.resizeNearest(media, newW = 1, newH = 1)
      .select($"payload").as[Array[Byte]].first()
    assert(new String(out.take(9), "US-ASCII") == "P6\n1 1\n255\n".take(9))
    assert(out.drop("P6\n1 1\n255\n".length) sameElements Array[Byte](1, 2, 3))
    // upscale 2x2 -> 4x4: each source pixel replicated 2x2
    val up = Multimodal.resizeNearest(media, 4, 4)
      .select($"payload").as[Array[Byte]].first()
    val upPx = up.drop("P6\n4 4\n255\n".length)
    assert(upPx.length == 48)
    assert(upPx.take(6) sameElements Array[Byte](1, 2, 3, 1, 2, 3))       // (0,0)x2
    assert(upPx.slice(6, 12) sameElements Array[Byte](4, 5, 6, 4, 5, 6)) // (1,0)x2
    // truncated pixel data → null payload, row kept
    val short = Seq((2L, "P6\n9 9\n255\nxy".getBytes("US-ASCII"))).toDF("doc_id", "payload")
    assert(Multimodal.resizeNearest(short, 1, 1).filter($"payload".isNull).count() == 1)
  }

  test("pixel stats skip exactly the parsed header") {
    val img = "P6\n2 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](10, 20, 30, 40, 50, -1)
    val media = Seq((1L, img), (2L, "garbage".getBytes("US-ASCII"))).toDF("doc_id", "payload")
    val got = Multimodal.pixelStats(media).orderBy("doc_id")
      .as[(Long, Long, Long, Int, Int)].collect()
    assert(got(0) == ((1L, 6L, 10L + 20 + 30 + 40 + 50 + 255, 10, 255))) // -1 byte = 255 unsigned
    assert(got(1) == ((2L, -1L, -1L, -1, -1)))
  }

  test("average hash sets exactly the above-mean cells") {
    // 4 pixels, 4 cells: values 10,10,30,30, mean 20 → bits 2,3 → 0b1100
    val img = "P6\n4 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](10, 10, 30, 30)
    // constant image: no cell exceeds the mean → hash 0
    val flat = "P6\n2 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](7, 7, 7, 7, 7, 7)
    // header-only payload → zero pixels → (0, -1); junk → (-1, -1)
    val empty = "P6\n0 0\n255\n".getBytes("US-ASCII")
    val media = Seq((1L, img), (2L, flat), (3L, empty),
      (4L, "junk".getBytes("US-ASCII"))).toDF("doc_id", "payload")
    val got = Multimodal.averageHash(media, cells = 4).orderBy("doc_id")
      .as[(Long, Long, Long)].collect()
    assert(got(0) == ((1L, 4L, 12L)))
    assert(got(1) == ((2L, 6L, 0L)))
    assert(got(2) == ((3L, 0L, -1L)))
    assert(got(3) == ((4L, -1L, -1L)))
  }

  test("average hash: near-identical images land within small hamming distance") {
    val base = Array.tabulate[Byte](120)(i => ((i * 7) % 200).toByte)
    val tweaked = base.clone(); tweaked(5) = (tweaked(5) + 3).toByte
    val hdr = "P6\n40 1\n255\n".getBytes("US-ASCII")
    val media = Seq((1L, hdr ++ base), (2L, hdr ++ tweaked)).toDF("doc_id", "payload")
    val hs = Multimodal.averageHash(media).orderBy("doc_id")
      .as[(Long, Long, Long)].collect().map(_._3)
    val hamming = java.lang.Long.bitCount(hs(0) ^ hs(1))
    assert(hamming <= 2, s"hamming $hamming")
  }

  test("wav sample stats decode real PCM bytes at the walked data offset") {
    // 8-bit: bytes 0,1,2,3 → |b−128| = 128,127,126,125
    val m8 = Seq((1L, Multimodal.encodeWav(1, 8000, 8, 4)))
      .toDF("doc_id", "payload")
    val s8 = Multimodal.wavSampleStats(m8).collect().head
    assert((s8.n_samples, s8.sum_abs, s8.max_abs) == ((4L, 506L, 128L)))
    // 16-bit LE: (0,1)→256, (2,3)→770 — and a junk chunk before fmt
    // proves the offset comes from the walk, not an assumed layout
    val m16 = Seq((2L, Multimodal.encodeWav(1, 8000, 16, 2, junkLen = 6)))
      .toDF("doc_id", "payload")
    val s16 = Multimodal.wavSampleStats(m16).collect().head
    assert((s16.n_samples, s16.sum_abs, s16.max_abs) == ((2L, 1026L, 770L)))
    // corrupt payloads flagged, never dropped
    val bad = Multimodal.wavSampleStats(
      Seq((3L, "not a wav at all".getBytes("US-ASCII"))).toDF("doc_id", "payload"))
      .collect().head
    assert((bad.n_samples, bad.sum_abs, bad.max_abs) == ((-1L, -1L, -1L)))
  }

  test("multimodal decode parses wrapped PPM payloads") {
    val media = Multimodal.documentsAsPpm(docs.select("doc_id", "text"))
    val meta = Multimodal.decodeMeta(media).collect()
    assert(meta.length == 4)
    val m1 = meta.find(_.doc_id == 1L).get
    val m4 = meta.find(_.doc_id == 4L).get
    // same text, different doc_id → same parsed height, different width
    assert(m1.height == m4.height && m1.width == 2 && m4.width == 5)
    assert(m1.maxval == 255)
    assert(m1.content_md5 != m4.content_md5) // header differs
    // corrupt payload is kept and flagged, not dropped
    val bad = Multimodal.decodeMeta(
      Multimodal.documentsAsMedia(docs.select("doc_id", "text"))).collect()
    assert(bad.forall(m => m.width == -1 && m.maxval == -1))
  }
}
