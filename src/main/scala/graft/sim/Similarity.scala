package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBridge.{Stats, materialize, owned}

import graft.graph.Fixpoint

/** Similarity search over embedding columns (Array[Float]).
  *
  * Two tiers, mirroring what a 100 TB pipeline needs:
  *  - [[bruteTopK]]: exact cosine top-k — the baseline; the query side is
  *    broadcast, the corpus side streams, so it scales to any corpus size
  *    (but O(corpus) work per query).
  *  - [[ivfTopK]]: inverted-file ANN — corpus pre-bucketed by a cluster
  *    id (here the `label` column; in production a trained k-means
  *    assignment), queries probe only the nprobe nearest centroids. The
  *    probe join is an equi-join on the cluster id, so Catalyst prunes
  *    all non-probed buckets.
  */
object Similarity {

  /** Dot product of two float/double-array columns, accumulated in
    * double in index order (reproducible across engines). Native
    * codegen'd expression — see [[graft.functions.VecDot]] for why it
    * beats the declarative aggregate∘zip_with form on the ANN hot
    * path (PipelineSpec asserts exact parity between the two). */
  def dot(x: Column, y: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.VecDot(
        org.apache.spark.sql.graft.ColumnBridge.expression(x),
        org.apache.spark.sql.graft.ColumnBridge.expression(y)))

  /** The declarative fold `dot` replaces — kept as the parity reference
    * for the spec. */
  def dotDeclarative(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity of two float-array columns. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Exact top-k neighbors for each query row.
    * @param corpus  (vec_id, embedding)
    * @param queries (q_id, qv) — small; broadcast
    * Output: (q_id, n_id, rcos_e4) with rcos_e4 = floor(cosine·10⁴) as
    * BIGINT, ranked by (rcos_e4 desc, n_id) — integral scaling first
    * makes the ordering reproducible across engines. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("rcos_e4", graft.sql.Exact.e4(cosine(col("qv"), col("embedding"))))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rcos_e4").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rcos_e4"))
      .orderBy(col("q_id"), col("rcos_e4").desc, col("n_id"))
  }

  /** Centroids as the elementwise mean per cluster column, components
    * floor-scaled to 6 decimals (pins cross-engine float drift). */
  def centroids(corpus: DataFrame, clusterCol: String = "label"): DataFrame =
    corpus.select(col(clusterCol), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col(clusterCol), col("pos"))
      .agg((floor(avg(col("v").cast("double")) * 1000000) / 1000000.0).as("m"))
      .groupBy(col(clusterCol))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("cv"))

  /** Deterministic Lloyd's k-means over an (vec_id, embedding) corpus —
    * the trainer that makes [[ivfTopK]] a real IVF index (the reference
    * pattern: train coarse centroids, bucket the corpus by nearest
    * centroid, probe few buckets per query).
    *
    * Every step is cross-engine replayable: init picks the embeddings of
    * the k smallest vec_ids (cluster id = seed vec_id); assignment
    * maximizes the FLOOR-scaled e6 cosine with ties broken by cluster id;
    * the update is the per-position elementwise mean floor-scaled to 6
    * decimals ([[centroids]]' discipline). Runs exactly `iters`
    * assign+update rounds, then returns the final assignment
    * (vec_id, cluster) — the DuckDB oracle unrolls the same chain.
    *
    * Scale: each round is one broadcast join (centroid set is k·dim —
    * tiny) + one row_number window partitioned by vec_id + one
    * explode/groupBy over n·dim — all shuffle-bound, nothing driver-side;
    * the centroid frame is checkpointed per round (it is the only
    * iterated state). */
  def kmeansAssign(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    val c = corpus.select(col("vec_id"), col("embedding"))
    def assign(cent: DataFrame): DataFrame =
      c.join(broadcast(cent), lit(true))
        .withColumn("rc", graft.sql.Exact.e6(cosine(col("embedding"), col("cv"))))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("rc").desc, col("cid"))))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("embedding"), col("cid").as("cluster"))
    val cent0 = c.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      .localCheckpoint()
    val (cent, _) = Fixpoint.run(cent0, Fixpoint.checkpointing, iters) { (cent, _, _) =>
      centroids(assign(cent), "cluster").select(col("cluster").as("cid"), col("cv"))
    }
    assign(cent).select(col("vec_id"), col("cluster"))
  }

  /** LSH-bucketed ANN: candidates are corpus vectors sharing any
    * random-hyperplane (band, bucket) with the query (graft.sim.VectorLSH
    * — the same index the embedding dedup uses), scored exactly, top-k
    * per query. Complements [[ivfTopK]]: no trained centroids needed, and
    * the candidate step is an equi-join on the band key the corpus side
    * can be pre-bucketed/persisted on — per-query work is the collided
    * buckets only, never the corpus scan. May return < k rows per query
    * (ANN recall is the tradeoff bought by skipping the scan). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              numPlanes: Int = 64, bands: Int = 8, dim: Int = 64): DataFrame = {
    val s = VectorLSH.signs(numPlanes, dim)
    def banded(df: DataFrame, idCol: String, vecCol: String) =
      df.select(col(idCol),
        posexplode(VectorLSH.bandBuckets(col(vecCol), s, bands, numPlanes / bands))
          .as(Seq("band", "bv")))
    // ids only through the bucket join; embeddings re-attach for scoring
    val candIds = banded(corpus, "vec_id", "embedding")
      .join(broadcast(banded(queries, "q_id", "qv")), Seq("band", "bv"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
    candIds
      .join(corpus, Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("rcos_e4", graft.sql.Exact.e4(cosine(col("qv"), col("embedding"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rcos_e4").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rcos_e4"))
      .orderBy(col("q_id"), col("rcos_e4").desc, col("n_id"))
  }

  /** Scalar-quantization (int8) training: per-dimension min/max over the
    * corpus, returned as a single-row frame (mn[dim], mx[dim]). min/max
    * are order-independent and exact, so the trained range is
    * bit-reproducible across engines. */
  def sqTrain(corpus: DataFrame): DataFrame =
    corpus.select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(min(col("v").cast("double")).as("mn"), max(col("v").cast("double")).as("mx"))
      .groupBy()
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
          x => x.getField("mn")).as("mn"),
        transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
          x => x.getField("mx")).as("mx"))

  /** Encode embeddings as int8 codes against a trained range:
    * code[d] = clamp(⌊(v−mn)·255/(mx−mn)⌋, 0, 255) — 4× smaller than
    * float32 at rest and over the wire (the scan/shuffle win SQ buys at
    * 100 TB; production stores ONLY the codes and this frame's two
    * 64-double arrays). Dims with mx==mn collapse to code 0. */
  def sqEncode(corpus: DataFrame, dims: DataFrame): DataFrame =
    corpus.join(broadcast(dims), lit(true))
      .select(col("vec_id"),
        transform(col("embedding"), (v, i) => {
          val mn = element_at(col("mn"), i + 1)
          val mx = element_at(col("mx"), i + 1)
          when(mx > mn,
            greatest(lit(0L), least(lit(255L),
              floor((v.cast("double") - mn) * lit(255.0) / (mx - mn)).cast("long"))))
            .otherwise(lit(0L))
        }).as("code"))

  /** Asymmetric-distance scalar-quantized ANN: rank every corpus vector
    * by the cosine between the raw query and the DEQUANTIZED corpus code
    * (v̂ = mn + code·(mx−mn)/255, recomputed in codegen from the stored
    * int8 codes — the scan carries codes, not floats), keep the top
    * k·rerank candidates per query, then re-score those exactly against
    * the raw embeddings. The compressed pass touches 1/4 the bytes of
    * [[bruteTopK]]; the exact pass touches only k·rerank rows per query —
    * the standard SQ→rerank pipeline. */
  def sqTopK(corpus: DataFrame, queries: DataFrame, k: Int, rerank: Int = 4): DataFrame = {
    val dims = sqTrain(corpus)
    val dq = sqEncode(corpus, dims)
      .join(broadcast(dims), lit(true))
      .select(col("vec_id"),
        transform(col("code"), (c, i) => {
          val mn = element_at(col("mn"), i + 1)
          val mx = element_at(col("mx"), i + 1)
          mn + (c * (mx - mn)) / lit(255.0)
        }).as("dqv"))
    val cand = dq.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("adc_e4", graft.sql.Exact.e4(cosine(col("qv"), col("dqv"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adc_e4").desc, col("vec_id"))))
      .filter(col("rn") <= k * rerank)
      .select(col("q_id"), col("vec_id"))
    cand.join(corpus, Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("rcos_e4", graft.sql.Exact.e4(cosine(col("qv"), col("embedding"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rcos_e4").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rcos_e4"))
      .orderBy(col("q_id"), col("rcos_e4").desc, col("n_id"))
  }

  /** Product-quantization codes: slice each embedding into `m` contiguous
    * `dim/m`-wide subvectors and run the deterministic Lloyd's trainer
    * ([[kmeansAssign]]) independently per subspace — each vector becomes
    * m small codes (its nearest sub-centroid per subspace). Returns
    * (vec_id, sub, code) — in production the stored representation is
    * m bytes per vector (ksub ≤ 256), a 32× compression of a 64-float
    * embedding, vs SQ's 4×.
    *
    * Scale: m independent trainings, each over an n×(dim/m) frame —
    * same shuffle-bound shape as the IVF trainer, no driver state. */
  def pqCodes(corpus: DataFrame, m: Int, ksub: Int, iters: Int,
              dim: Int = 64): DataFrame = {
    val sub = dim / m
    (0 until m).map { j =>
      kmeansAssign(
        corpus.select(col("vec_id"),
          slice(col("embedding"), j * sub + 1, sub).as("embedding")),
        ksub, iters)
        .select(col("vec_id"), lit(j).as("sub"), col("cluster").as("code"))
    }.reduce(_ unionByName _)
  }

  /** Per-(subspace, code) codebook: the elementwise floor-e6 mean of the
    * member subvectors ([[centroids]]' discipline) — the table ADC
    * scoring reconstructs against. Tiny (m·ksub·dim/m doubles). */
  def pqCodebook(corpus: DataFrame, codes: DataFrame, m: Int,
                 dim: Int = 64): DataFrame = {
    val sub = dim / m
    (0 until m).map { j =>
      centroids(
        corpus.select(col("vec_id"),
            slice(col("embedding"), j * sub + 1, sub).as("embedding"))
          .join(codes.filter(col("sub") === j), Seq("vec_id")),
        "code")
        .select(lit(j).as("sub"), col("code"), col("cv"))
    }.reduce(_ unionByName _)
  }

  /** Product-quantized ANN: rank every corpus vector by the cosine
    * between the raw query and its PQ RECONSTRUCTION (the concatenation
    * of its m codebook centroids — the ADC approximation), keep the top
    * k·rerank candidates, then re-score those exactly. The tier between
    * [[sqTopK]] (4× compression) and [[ivfTopK]] (bucket pruning): the
    * approximate pass reads m bytes + a broadcast codebook per vector
    * instead of dim floats. Reconstruction is one equi-join of the
    * exploded codes with the broadcast codebook + one groupBy — never a
    * per-row lookup loop. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 4,
             ksub: Int = 8, iters: Int = 1, rerank: Int = 4,
             dim: Int = 64): DataFrame = {
    val codes = pqCodes(corpus, m, ksub, iters, dim)
    val book = pqCodebook(corpus, codes, m, dim)
    val recon = codes.join(broadcast(book), Seq("sub", "code"))
      .groupBy(col("vec_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("sub"), col("cv")))),
        x => x.getField("cv"))).as("dqv"))
    val cand = recon.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("adc_e4", graft.sql.Exact.e4(cosine(col("qv"), col("dqv"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adc_e4").desc, col("vec_id"))))
      .filter(col("rn") <= k * rerank)
      .select(col("q_id"), col("vec_id"))
    cand.join(corpus, Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("rcos_e4", graft.sql.Exact.e4(cosine(col("qv"), col("embedding"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rcos_e4").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rcos_e4"))
      .orderBy(col("q_id"), col("rcos_e4").desc, col("n_id"))
  }

  /** Persist an IVF index: the corpus written as parquet PARTITIONED BY
    * its (trained) cluster assignment, with the trained centroids stored
    * beside it. This is the artifact a production ANN corpus lives as at
    * 100 TB: each cluster is a partition directory, so a probe filtering
    * on `cluster` prunes at the FILE level — non-probed buckets are
    * never opened, let alone scanned (PartitionFilters in the scan node;
    * PipelineSpec asserts it), and centroid selection reads only the
    * tiny stored centroid table, never the corpus. */
  def writeIvfIndex(corpus: DataFrame, assignment: DataFrame, path: String): Unit = {
    val joined = corpus.join(assignment, Seq("vec_id"))
    joined.write.mode("overwrite").partitionBy("cluster").parquet(s"$path/data")
    centroids(joined, "cluster")
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Append an increment to a persisted IVF index: new vectors are
    * assigned to the STORED centroids (broadcast — k·dim doubles, one
    * tiny scan; the standing corpus is never touched) and written into
    * the same cluster-partitioned layout. The IVF analog of the
    * incremental dedup path: daily arrivals extend the index without
    * retraining or rewriting it. Centroids intentionally stay fixed —
    * re-training is a separate, heavier operation ([[kmeansAssign]] +
    * [[writeIvfIndex]]); a drifting corpus shows up as recall decay,
    * measured, not guessed. */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       newVectors: DataFrame, path: String): Unit = {
    val cent = spark.read.parquet(s"$path/centroids")
    val assigned = newVectors.select(col("vec_id"), col("embedding"))
      .join(broadcast(cent), lit(true))
      .withColumn("rc", graft.sql.Exact.e6(cosine(col("embedding"), col("cv"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("rc").desc, col("cluster"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cluster"))
    assigned.write.mode("append").partitionBy("cluster").parquet(s"$path/data")
  }

  /** Probe a persisted IVF index: same ranking contract as [[ivfTopK]],
    * but centroids come from the stored table and candidates from the
    * partition-pruned scan of the probed cluster directories only. The
    * probed-cluster id list is the one driver-side value — bounded by
    * queries × nprobe (master-collects-scalars discipline). */
  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                   queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val cent = spark.read.parquet(s"$path/centroids")
    val probes = cent.join(broadcast(queries), lit(true))
      .withColumn("rc", graft.sql.Exact.e6(cosine(col("qv"), col("cv"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rc").desc, col("cluster"))))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("qv"), col("cluster"))
    val probedIds = probes.select(col("cluster").cast("long"))
      .distinct().collect().map(_.getLong(0))
    val indexed = spark.read.parquet(s"$path/data")
      .where(col("cluster").isin(probedIds: _*)) // prunes partition dirs
      .withColumn("cluster", col("cluster").cast("long"))
    indexed.join(probes.withColumn("cluster", col("cluster").cast("long")),
        Seq("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("rcos_e4", graft.sql.Exact.e4(cosine(col("qv"), col("embedding"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rcos_e4").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rcos_e4"))
      .orderBy(col("q_id"), col("rcos_e4").desc, col("n_id"))
  }

  /** Filtered ANN over the persisted IVF index: metadata predicate AND
    * vector search composed in one scan — cluster probing prunes
    * partition DIRECTORIES (PartitionFilters) while the row predicate
    * pushes into the parquet row groups (PushedFilters); scoring sees
    * only rows surviving both. The "search only documents matching a
    * predicate" shape every retrieval stack needs — done in the scan,
    * never as a post-rank filter (which silently under-fills k).
    * `predicate` must reference columns stored in the index data files.
    */
  def ivfIndexFilteredTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                           queries: DataFrame, k: Int, nprobe: Int,
                           predicate: Column): DataFrame = {
    val cent = spark.read.parquet(s"$path/centroids")
    val probes = cent.join(broadcast(queries), lit(true))
      .withColumn("rc", graft.sql.Exact.e6(cosine(col("qv"), col("cv"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rc").desc, col("cluster"))))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("qv"), col("cluster"))
    val probedIds = probes.select(col("cluster").cast("long"))
      .distinct().collect().map(_.getLong(0))
    val indexed = spark.read.parquet(s"$path/data")
      .where(col("cluster").isin(probedIds: _*)) // prunes partition dirs
      .filter(predicate)                         // pushes into row groups
      .withColumn("cluster", col("cluster").cast("long"))
    indexed.join(probes.withColumn("cluster", col("cluster").cast("long")),
        Seq("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("rcos_e4", graft.sql.Exact.e4(cosine(col("qv"), col("embedding"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rcos_e4").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rcos_e4"))
      .orderBy(col("q_id"), col("rcos_e4").desc, col("n_id"))
  }

  /** SemDeDup-style semantic deduplication (the "cluster, then pair
    * within the cluster" pattern of Abbas et al. 2023, arXiv:2303.09540):
    * deterministic k-means ([[kmeansAssign]]) provides the blocking, the
    * within-cluster self-join provides candidates, and the FLOOR-e4
    * cosine ≥ `thresholdE4` decides — integral threshold on both engines,
    * so there is no float-boundary flake by construction. Returns
    * (a, b, cos_e4) with a < b, ordered.
    *
    * Scale: the candidate set is cluster-scoped — Σ|cᵢ|² like every other
    * blocked dedup here (MinHash bands, SimHash bands, CDC chunks), never
    * an all-pairs join; at corpus scale k is chosen so clusters average
    * ~1k vectors (the SemDeDup operating point). The assignment runs ONCE
    * and is checkpointed with measured stats so the self-join's two sides
    * read the same materialized frame (and AQE sees a real size, not the
    * "huge" LogicalRDD default that forces sort-merge — the round-5
    * lesson). */
  def semanticDupPairs(corpus: DataFrame, k: Int, iters: Int,
                       thresholdE4: Long): DataFrame = owned { o =>
    val assigned = o(kmeansAssign(corpus, k, iters))
    val withC = materialize(
      corpus.select(col("vec_id"), col("embedding"))
        .join(assigned, Seq("vec_id")), Stats)
    withC.select(col("cluster"), col("vec_id").as("a"), col("embedding").as("va"))
      .join(withC.select(col("cluster"), col("vec_id").as("b"),
        col("embedding").as("vb")), Seq("cluster"))
      .filter(col("a") < col("b"))
      .withColumn("cos_e4", graft.sql.Exact.e4(cosine(col("va"), col("vb"))))
      .filter(col("cos_e4") >= thresholdE4)
      .select(col("a"), col("b"), col("cos_e4"))
      .orderBy(col("a"), col("b"))
  }

  /** IVF-style ANN: probe the `nprobe` closest centroids per query, exact
    * search within probed buckets only. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
              clusterCol: String = "label"): DataFrame = {
    val cent = centroids(corpus, clusterCol)
    val probes = cent.join(broadcast(queries), lit(true))
      .withColumn("rc", graft.sql.Exact.e6(cosine(col("qv"), col("cv"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rc").desc, col(clusterCol))))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("qv"), col(clusterCol))
    corpus.join(probes, Seq(clusterCol))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("rcos_e4", graft.sql.Exact.e4(cosine(col("qv"), col("embedding"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rcos_e4").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rcos_e4"))
      .orderBy(col("q_id"), col("rcos_e4").desc, col("n_id"))
  }

  /** Matryoshka-truncation retrieval audit (Kusupati et al. 2022): for
    * each prefix dimension d, run the same brute top-k with embeddings
    * truncated to their first d coordinates and count the overlap with
    * the full-dimension top-k — the fidelity-vs-storage curve that
    * decides how far a 100 TB index can truncate. Output
    * (dim, q_id, overlap), overlap ∈ [0, k] exact integers; the full
    * dimension is included as the overlap = k control row. */
  def matryoshkaOverlap(corpus: DataFrame, queries: DataFrame,
                        dims: Seq[Int], fullDim: Int, k: Int): DataFrame = owned { o =>
    val full = o(bruteTopK(corpus, queries, k).select(col("q_id"), col("n_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val overlaps = (dims :+ fullDim).distinct.sorted.map { d =>
      val c = corpus.select(col("vec_id"),
        slice(col("embedding"), 1, d).as("embedding"))
      val q = queries.select(col("q_id"), slice(col("qv"), 1, d).as("qv"))
      bruteTopK(c, q, k).select(col("q_id"), col("n_id"))
        .join(full, Seq("q_id", "n_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("overlap"))
        .select(lit(d.toLong).as("dim"), col("q_id"), col("overlap"))
    }.reduce(_ unionByName _)
    overlaps.orderBy(col("dim"), col("q_id")).localCheckpoint()
  }

  /** Cluster-blocked kNN-graph construction: for a deterministic
    * 1/sampleMod sample of vectors, the exact top-k neighbors WITHIN the
    * vector's own cluster (label blocking — the IVF nprobe=1 shape, and
    * the candidate generator SemDeDup/graph-ANN builds start from).
    * Per-pair cost is cluster-bounded: Σ |sample ∩ cluster|·|cluster|,
    * never corpus². Output (vec_id, n_id, rcos_e4) ranked per vector. */
  def knnGraph(corpus: DataFrame, k: Int, sampleMod: Long = 20L): DataFrame = {
    val sample = corpus.filter(pmod(col("vec_id"), lit(sampleMod)) === 0L)
      .select(col("label"), col("vec_id").as("q_id"), col("embedding").as("qv"))
    corpus.join(sample, Seq("label"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("rcos_e4", graft.sql.Exact.e4(cosine(col("qv"), col("embedding"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rcos_e4").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("q_id").as("vec_id"), col("vec_id").as("n_id"), col("rcos_e4"))
      .orderBy(col("vec_id"), col("rcos_e4").desc, col("n_id"))
  }

  /** Upper-triangle covariance numerators of the embedding matrix — the
    * whitening/PCA prep pass. Coordinates are quantized to q = ⌊v·2¹⁴⌋
    * BEFORE any sum, so every downstream aggregate is an
    * order-independent BIGINT (float summation order is the classic
    * cross-engine diff). Per (j ≤ k): spp = Σᵢ qᵢⱼ·qᵢₖ and
    * cov_num = n·spp − Sⱼ·Sₖ (the n²-scaled centered covariance).
    *
    * Scale shape: the d² pair fan-out happens INSIDE each row (two
    * chained posexplodes — a narrow map, no self-join, no shuffle of the
    * corpus), then one partial-aggregating groupBy over d²=4096 keys and
    * a broadcast of the d per-dimension sums. At petabyte n the same
    * plan holds: the only shuffle is d² running sums. 2¹⁴ quantization
    * keeps n·spp inside BIGINT to n ≈ 10⁹ rows of unit-norm vectors. */
  def covarianceUpper(corpus: DataFrame, dim: Int): DataFrame = {
    val q = corpus.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * lit(16384.0)).cast("long")).as("q"))
    val pairs = q
      .select(posexplode(col("q")).as(Seq("j", "qj")), col("q"))
      .select(col("j"), col("qj"), posexplode(col("q")).as(Seq("k", "qk")))
      .filter(col("k") >= col("j"))
      .groupBy(col("j"), col("k"))
      .agg(sum(col("qj") * col("qk")).cast("long").as("spp"))
    val sums = q.select(posexplode(col("q")).as(Seq("j", "qj")))
      .groupBy(col("j")).agg(sum(col("qj")).cast("long").as("s"))
    val n = corpus.agg(count(lit(1)).as("n"))
    pairs
      .join(broadcast(sums.select(col("j"), col("s").as("sj"))), Seq("j"))
      .join(broadcast(sums.select(col("j").as("k"), col("s").as("sk"))), Seq("k"))
      .crossJoin(broadcast(n))
      .select(col("j").cast("long").as("j"), col("k").cast("long").as("k"),
        col("spp"), (col("n") * col("spp") - col("sj") * col("sk")).as("cov_num"))
  }

  /** Centroid silhouette of a labelled embedding corpus: per vector,
    * a = distance to its own cluster centroid, b = nearest other
    * centroid, s = (b−a)/max(a,b) ∈ [−1, 1] — reported SHIFTED by +1
    * (s' = (b−a+max)/max ∈ [0, 2], floor-e6) so every integer division
    * is over non-negative operands (truncating `div` and flooring `//`
    * agree only there; the shift is lossless to compare/rank). Distance
    * is 10⁶ − floor-e6 cosine against [[centroids]]' floor-scaled means.
    * One centroid pass + one broadcast join; per-label outputs. */
  def silhouette(corpus: DataFrame): DataFrame = {
    val cent = centroids(corpus)
      .select(col("label").as("c"), col("cv"))
    val perVec = corpus.join(broadcast(cent), lit(true))
      .withColumn("dist",
        lit(1000000L) - graft.sql.Exact.e6(cosine(col("embedding"), col("cv"))))
      .groupBy(col("vec_id"), col("label"))
      .agg(
        min(when(col("c") === col("label"), col("dist"))).as("a"),
        min(when(col("c") =!= col("label"), col("dist"))).as("b"))
      .withColumn("mx", greatest(col("a"), col("b")))
      .withColumn("s_shift_e6",
        when(col("mx") > 0,
          expr("((b - a + mx) * 1000000) div mx")).otherwise(lit(1000000L)))
    perVec.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        expr("sum(s_shift_e6) div count(1)").as("mean_sil_shift_e6"),
        min(col("s_shift_e6")).as("min_sil_shift_e6"),
        max(col("s_shift_e6")).as("max_sil_shift_e6"))
  }

  /** Top principal direction of the embedding covariance by K rounds of
    * integer power iteration: the covariance numerators from
    * [[covarianceUpper]] are down-scaled by 2²⁰ (sign-safe truncating
    * division — Spark `div` truncates toward zero; the oracle's `//`
    * floors, so negative-capable divisions are decomposed as
    * sign·(|x| div y) on both sides), mirrored to the full d×d matrix,
    * and the iterate x (d integers, re-scaled to max |x| = 1024 after
    * every multiply) is a pure function of the input a SQL oracle can
    * unroll. Bounds: |c| ≤ n²·2²⁸/2²⁰ and |w| ≤ d·|c|·1024 keep
    * everything inside BIGINT to n ≈ 10⁹ rows (same bound as
    * [[covarianceUpper]]).
    *
    * Scale shape: the one data-sized pass is covarianceUpper's d² in-row
    * fan-out; every iteration after that runs on d-row / d²-row frames
    * (a broadcast-sized fixpoint, whatever the corpus size). The
    * dominant eigendirection is the drift axis embedding monitors
    * project onto. */
  def powerIteration(corpus: DataFrame, dim: Int, rounds: Int): DataFrame = owned { o =>
    val spark = corpus.sparkSession
    val cov = o(covarianceUpper(corpus, dim)
      .select(col("j").as("i"), col("k").as("j2"),
        expr("if(cov_num < 0, -((-cov_num) div 1048576), cov_num div 1048576)").as("c"))
      .localCheckpoint())
    val full = o(cov.union(
        cov.filter(col("i") =!= col("j2"))
          .select(col("j2").as("i"), col("i").as("j2"), col("c")))
      .localCheckpoint())
    // each iterate is d rows, checkpointed to keep the unrolled plan flat
    val (x, _) = Fixpoint.run(spark.range(dim).select(col("id").as("j2"), lit(1024L).as("x")),
        Fixpoint.checkpointing, rounds) { (x, _, _) =>
      val w = full.join(x, Seq("j2"))
        .groupBy(col("i")).agg(sum(col("c") * col("x")).as("w"))
      val m = w.agg(max(abs(col("w"))).as("m"))
      w.crossJoin(broadcast(m))
        .select(col("i").as("j2"),
          expr("if(w < 0, -((-w) * 1024 div m), (w * 1024) div m)").as("x"))
    }
    o(x).select(col("j2").cast("long").as("dim"), col("x").as("comp"))
      .orderBy(col("dim"))
      .localCheckpoint()
  }
}
