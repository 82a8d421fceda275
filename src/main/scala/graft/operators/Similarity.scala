package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>) — beyond-
  * reference surface. Dot products run through codegen'd higher-order array
  * functions (zip_with + aggregate); no UDFs, no driver-side math.
  *
  * Scale design: the query side is the small side — broadcast it; the corpus
  * side streams partition-parallel. Brute force is the exact baseline
  * (one broadcast-nested-loop, corpus-linear); hyperplane LSH is the scale
  * path (bucket equi-join, corpus-sublinear per query).
  */
object Similarity {

  /** dot(a, b) in double precision (sequential fold — deterministic).
    * Custom codegen'd expression (graft.functions.DotProduct): the
    * zip_with+aggregate composition it replaces evaluated its lambdas
    * interpretively per element; the numeric contract (left-to-right
    * double fold) is bit-identical, so the DuckDB oracle twins hold. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VecExprs.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact brute-force top-k cosine neighbors for each query vector.
    * `queries` must be small (it is broadcast); corpus scans once.
    * Output: (query_id, neighbor_id, cos_sim, rank), rank 1..k,
    * ties broken by neighbor id for determinism. Self-matches excluded.
    */
  def bruteForceTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    // norms precomputed once per vector (not once per pair): cos = dot/(na*nb)
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim",
        dot(col("__cv"), col("__qv")) / (col("__cn") * col("__qn")))
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
    // bounded-heap top-k per query (custom operator) — no per-key full sort
    graft.plans.TopKPerKey(scored, Seq("query_id"),
      Seq(("cos_sim", true), ("neighbor_id", false)), k)
  }

  /** Deterministic random hyperplanes (dim × m) from a seeded RNG.
    * `private[graft]`: the DuckDB oracle generator inlines these exact
    * doubles as SQL literals (Double.toString round-trips), which is what
    * makes the approximate LSH paths hash-verifiable. */
  private[graft] def hyperplanes(dim: Int, m: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(m)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bucket of a vector under `m` hyperplanes: an m-bit code. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val d = graft.functions.VecExprs.dotProduct(vec, lit(p.toArray))
      when(d >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Approximate top-k via hyperplane LSH: candidates share the query's
    * bucket in ≥1 of `tables` independent hash tables (multi-table beats
    * multi-probe for recall at equal shuffle volume). Exact cosine re-ranks
    * candidates. Corpus work per query ∝ bucket sizes, not corpus size.
    */
  def lshTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, dim: Int, bitsPerTable: Int = 12, tables: Int = 4,
      seed: Long = 42L): DataFrame = {
    val planesPerTable = (0 until tables).map(t =>
      hyperplanes(dim, bitsPerTable, seed + t))

    def bucketed(df: DataFrame, id: String, vec: String, idOut: String): DataFrame =
      df.select(col(id).as(idOut), col(vec).as(s"__v_$idOut"),
        norm(col(vec)).as(s"__n_$idOut"), // norm once per vector
        posexplode(array(planesPerTable.map(p => lshBucket(col(vec), p)): _*))
          .as(Seq("__tbl", "__bkt")))
        .transform(graft.core.Checkpoint.cut) // cut the hyperplane-expr lineage

    val c = bucketed(corpus, corpusId, corpusVec, "neighbor_id")
    val q = bucketed(queries, queryId, queryVec, "query_id")
      .withColumnRenamed("__tbl", "__tbl2").withColumnRenamed("__bkt", "__bkt2")

    val cand = c.join(broadcast(q),
        col("__tbl") === col("__tbl2") && col("__bkt") === col("__bkt2") &&
          col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        col("__v_query_id"), col("__v_neighbor_id"),
        col("__n_query_id"), col("__n_neighbor_id"))
      .distinct()
      .withColumn("cos_sim",
        dot(col("__v_neighbor_id"), col("__v_query_id")) /
          (col("__n_neighbor_id") * col("__n_query_id")))
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
    graft.plans.TopKPerKey(cand, Seq("query_id"),
      Seq(("cos_sim", true), ("neighbor_id", false)), k)
  }

  /** IVF coarse-quantizer training: k-means centroids as plain driver-held
    * arrays (nCentroids × dim — tiny). Split from the probe so the trained
    * state can be inlined as literals — by the probe plan AND by the DuckDB
    * oracle generator (the same trick that makes the hyperplane LSH paths
    * hash-verifiable). */
  def ivfTrain(
      corpus: DataFrame, corpusVec: String,
      nCentroids: Int = 16, seed: Long = 42L): Seq[Seq[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val train = corpus.select(
      array_to_vector(col(corpusVec).cast("array<double>")).as("features"))
    val model = new KMeans().setK(nCentroids).setSeed(seed).setMaxIter(10)
      .fit(train)
    model.clusterCenters.map(_.toArray.toSeq).toSeq
  }

  /** Squared L2 distance to a constant centroid, as the exact left-to-right
    * double fold (0.0 + d₁ + d₂ + …) the DuckDB twin reproduces. */
  private def sqDistLit(vec: Column, centroid: Seq[Double]): Column =
    aggregate(
      zip_with(vec, lit(centroid.toArray),
        (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
      lit(0.0), (acc, v) => acc + v)

  /** (sq-dist, cell) structs against every centroid literal — `array_min`
    * of this array IS nearest-centroid assignment (lexicographic struct
    * compare: distance first, ties toward the smaller cell id). Pure
    * column expression over literals: no join, no shuffle, no ML
    * transformer on the hot path. Shared by [[ivfProbe]], [[kmeansAssign]]
    * and [[semDedupKMeans]], and mirrored literal-for-literal by their
    * DuckDB oracle generators. */
  private def cellDistStructs(vec: Column, centroids: Seq[Seq[Double]]): Column =
    array(centroids.zipWithIndex.map { case (c, i) =>
      struct(sqDistLit(vec, c).as("d"), lit(i).as("cell"))
    }: _*)

  /** IVF-flat probe against trained centroids: assign each corpus vector to
    * its nearest cell, probe each query's `nProbe` nearest cells, exact
    * cosine re-rank. Cell assignment is a pure column expression over the
    * centroid literals (array_min / array_sort over (dist, cell) structs) —
    * no join, no shuffle, no ML transform on the hot path; the only shuffle
    * is the candidate equi-join on `__cell`, so per-query work is
    * ~nProbe/nCentroids of the corpus — the classic IVF-flat trade.
    * Ties on distance break toward the smaller cell id (deterministic).
    */
  def ivfProbe(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, centroids: Seq[Seq[Double]], nProbe: Int = 3): DataFrame = {
    def cellStructs(vec: Column): Column = cellDistStructs(vec, centroids)

    val assigned = corpus.select(col(corpusId).as("neighbor_id"),
        col(corpusVec).as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
      .withColumn("__cell",
        graft.functions.VecExprs.nearestCentroid(col("__cv"), centroids)
          .getField("cell"))

    val qCells = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
      .withColumn("__cell",
        explode(slice(array_sort(cellStructs(col("__qv"))), 1, nProbe)
          .getField("cell")))
      .select(col("query_id"), col("__qv"), col("__qn"), col("__cell"))

    val cand = assigned.join(broadcast(qCells), Seq("__cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim",
        dot(col("__cv"), col("__qv")) / (col("__cn") * col("__qn")))
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
      // no dedup needed: each neighbor lives in exactly one cell
    graft.plans.TopKPerKey(cand, Seq("query_id"),
      Seq(("cos_sim", true), ("neighbor_id", false)), k)
  }

  /** IVF (inverted-file) approximate top-k: train + probe in one call. */
  def ivfTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nCentroids: Int = 16, nProbe: Int = 3, seed: Long = 42L): DataFrame =
    ivfProbe(corpus, corpusId, corpusVec, queries, queryId, queryVec,
      k, ivfTrain(corpus, corpusVec, nCentroids, seed), nProbe)

  /** Int8 scalar quantization: per-vector scale = 127 / max|xᵢ|, then
    * qᵢ = floor(xᵢ·scale + 0.5) (explicit round-half-up — `floor` is
    * engine-portable where round()'s half rule is not). Every step is a
    * single correctly-rounded IEEE op on exact inputs, so the quantized
    * codes are bit-identical across engines and the "lossy" path is still
    * hash-verifiable. All-zero vectors quantize to all-zero codes. */
  def quantizeInt8(vec: Column): Column =
    graft.functions.VecExprs.quantizeCodes(vec).cast("array<int>")

  /** Integer dot product of two int8 code vectors, accumulated in long —
    * exact, order-independent, overflow-free (|q| ≤ 127, so even 2^47
    * dimensions fit a long). This is the REFERENCE semantics of the
    * quantized inner product; [[quantizedTopK]]'s hot path computes the
    * same value through the codegen'd double-fold kernel (parity asserted
    * in SimilaritySpec). */
  def dotInt(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Approximate top-k cosine over int8-quantized codes — the ranking
    * semantics of scalar-quantization ANN (256-level codes, integer-exact
    * dot products). The codes are storable as int8 (4× smaller than
    * float32 at rest); THIS compute path deliberately holds them as
    * array<double> so the inner loop runs through the codegen'd
    * [[graft.functions.DotProduct]] kernel — exact small integers in
    * double, bit-identical to the integer dot. Same broadcast-query /
    * corpus-linear shape as [[bruteForceTopK]]; zero-norm codes are
    * excluded (cosine undefined). Ranks tie toward the smaller neighbor
    * id. */
  def quantizedTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    // codes held as array<double> so the per-pair inner loop runs through
    // the codegen'd DotProduct kernel (the interpreted zip_with+aggregate
    // twin is ~25× slower); int8 values are exact in double and the fold
    // sum stays < 2^53, so the result equals the integer dot bit-for-bit
    // and the DuckDB twin (integer dot CAST to DOUBLE) still hash-matches.
    // cut after code+norm construction: quantization must run once per
    // VECTOR — without the cut, projection collapse inlines it into the
    // join and re-quantizes per PAIR
    val codes = graft.functions.VecExprs.quantizeCodes _
    val c = corpus.select(col(corpusId).as("neighbor_id"),
        codes(col(corpusVec)).as("__cq"))
      .withColumn("__cn", sqrt(dot(col("__cq"), col("__cq"))))
      .transform(graft.core.Checkpoint.cut)
    val q = queries.select(col(queryId).as("query_id"),
        codes(col(queryVec)).as("__qq"))
      .withColumn("__qn", sqrt(dot(col("__qq"), col("__qq"))))
      .transform(graft.core.Checkpoint.cut)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id") &&
        col("__cn") > 0 && col("__qn") > 0)
      .withColumn("qcos_sim",
        dot(col("__cq"), col("__qq")) / (col("__cn") * col("__qn")))
      .select(col("query_id"), col("neighbor_id"), col("qcos_sim"))
    graft.plans.TopKPerKey(scored, Seq("query_id"),
      Seq(("qcos_sim", true), ("neighbor_id", false)), k)
  }

  /** k-NN graph over the whole corpus: each vector's top-k approximate
    * cosine neighbors (the backbone of embedding-cluster dedup, corpus
    * visualization, and graph-based semdedup passes). Candidates = pairs
    * sharing an LSH bucket in ≥1 table (the same multi-table hyperplane
    * scheme as [[lshTopK]]) generated by a COUNT-GATED bucket self-join:
    * one count aggregate per (table, bucket) gates the band stream to
    * buckets with 2..`maxBucket` occupants (a semi-join), then pairs come
    * from a self-join on the gated stream — sort-merge streams and spills
    * gracefully, with no per-bucket buffer (s05's 6-bit tables have only
    * 64 buckets each, so occupancy is DENSE; the r13 one-row-per-bucket
    * aggregation measured 2.8× slower at 10× scale, OPTIMIZATION_r14.md). A
    * degenerate bucket beyond the cap drops its candidates OBSERVABLY via
    * the `knn_lsh.dropped_bucket_rows` observation (the same
    * approximate-with-observable-drops discipline as minhashCandidates) —
    * callers at scales where buckets may exceed `maxBucket` occupants must
    * monitor that observation or raise the cap, since dropped buckets
    * change which neighbors are emitted. Exact cosine re-ranks candidates;
    * per-node top-k runs through the bounded-heap
    * [[graft.plans.TopKPerKey]] (no per-node full sort).
    * Output: (node_id, neighbor_id, cos_sim, rank), ties → smaller id.
    */
  def knnGraph(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int = 64, bitsPerTable: Int = 6, tables: Int = 4,
      seed: Long = 42L, maxBucket: Int = 1000): DataFrame = {
    val planesPerTable = (0 until tables).map(t =>
      hyperplanes(dim, bitsPerTable, seed + 200 + t))
    // candidate DEDUP runs on bare id pairs: a dense bucket emits the same
    // pair once per shared table, and carrying two 64-float vectors through
    // that distinct shuffles ~30× more bytes than the ids (measured 37s →
    // 3.4s on the 20k dense-clone stress). Vectors re-attach afterwards by
    // two id equi-joins against the once-materialized (id, vec, norm) side.
    val vecs = df.select(col(idCol).as("__id"), col(vecCol).as("__v"),
        norm(col(vecCol)).as("__n")) // norm once per vector
      .transform(graft.core.Checkpoint.cut) // shared: buckets + both rejoins
    val b = vecs.select(col("__id"),
      posexplode(array(planesPerTable.map(p => lshBucket(col("__v"), p)): _*))
        .as(Seq("__tbl", "__bkt")))
    // r14 (guide §1.1 empirical loop): the r13 capped-bucket AGGREGATION
    // (per-bucket id lists, list-local pair explode) kept memory bounded
    // but measured 2.8× SLOWER than the old self-join at the
    // 10×-amplified dir (21 s vs 7 s for the pair+distinct stage,
    // OPTIMIZATION_r14.md) — s05's 6-bit hyperplane tables have only 64
    // buckets each, so buckets are DENSE (avg occupancy ≈ n/64) and the
    // one-row-per-bucket shape concentrates each bucket's occupancy²
    // pair stream in a single task of the distinct's partial aggregate.
    // The r14 shape keeps r13's safety valves — the over-cap gate and
    // the `knn_lsh.dropped_bucket_rows` observation now ride a plain
    // COUNT aggregate (same metric value: rows in over-cap buckets; same
    // gate: 2 ≤ n ≤ maxBucket) — and generates pairs with the join
    // machinery on the gated band stream: sort-merge streams and spills
    // gracefully (no per-bucket buffer at all), and measured 4.5 s for
    // the same 26.9M distinct pairs at the amplified dir. maxBucket =
    // 1000 never fires at the driver scales (measured max occupancy: 69
    // at sf0.1, 690 at 10×-amplified — results are join-identical there)
    // and still caps the worst bucket's pair fan-out at corpus scale.
    val cnt = b
      .groupBy(col("__tbl"), col("__bkt"))
      .agg(count(lit(1)).as("__n"))
      .observe("knn_lsh",
        sum(when(col("__n") > maxBucket, col("__n")).otherwise(0L))
          .as("dropped_bucket_rows"))
      .filter(col("__n").between(2, maxBucket))
      .select(col("__tbl"), col("__bkt"))
      // cnt is bounded by the BUCKET SPACE (≤ tables × 2^bitsPerTable
      // rows — 256 for the defaults), never by the corpus; materialize
      // it once so the twice-referenced gated stream doesn't recompute
      // the count aggregate per self-join side, and the semi-join build
      // side stays broadcast at every scale
      .transform(graft.core.Checkpoint.cut)
    val gated = b.join(cnt, Seq("__tbl", "__bkt"), "left_semi")
    val cand = gated
      .select(col("__id").as("node_id"), col("__tbl"), col("__bkt"))
      .join(gated.select(col("__id").as("neighbor_id"), col("__tbl"),
        col("__bkt")), Seq("__tbl", "__bkt"))
      .filter(col("node_id") =!= col("neighbor_id"))
      .select(col("node_id"), col("neighbor_id"))
      .distinct() // a pair may share buckets in several tables
    val scored = cand
      .join(vecs.select(col("__id").as("node_id"), col("__v").as("__va"),
        col("__n").as("__na")), Seq("node_id"))
      .join(vecs.select(col("__id").as("neighbor_id"), col("__v").as("__vb"),
        col("__n").as("__nb")), Seq("neighbor_id"))
      .withColumn("cos_sim",
        dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .select(col("node_id"), col("neighbor_id"), col("cos_sim"))
    graft.plans.TopKPerKey(scored, Seq("node_id"),
      Seq(("cos_sim", true), ("neighbor_id", false)), k)
  }

  /** Embedding near-duplicate pairs: all (a<b) with cosine ≥ threshold,
    * candidates from shared LSH buckets (any table). */
  def embeddingNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, dim: Int = 64,
      bitsPerTable: Int = 10, tables: Int = 6, seed: Long = 42L): DataFrame = {
    val planesPerTable = (0 until tables).map(t =>
      hyperplanes(dim, bitsPerTable, seed + 100 + t))
    val b = df.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      norm(col(vecCol)).as("__n"), // norm once per vector
      posexplode(array(planesPerTable.map(p => lshBucket(col(vecCol), p)): _*))
        .as(Seq("__tbl", "__bkt")))
      .transform(graft.core.Checkpoint.cut) // reused by both sides of the pair join
    val l = b.select(col("__tbl"), col("__bkt"), col("__id").as("id_a"),
      col("__v").as("__va"), col("__n").as("__na"))
    val r = b.select(col("__tbl").as("__t2"), col("__bkt").as("__b2"),
      col("__id").as("id_b"), col("__v").as("__vb"), col("__n").as("__nb"))
    l.join(r, col("__tbl") === col("__t2") && col("__bkt") === col("__b2") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__va"), col("__vb"),
        col("__na"), col("__nb")).distinct()
      .withColumn("cos_sim", dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** SemDeDup (semantic dedup in embedding space, Abbas et al. 2023 shape):
    * drop all but one representative (min id) of every TRANSITIVE cluster
    * of cosine-near-duplicate embeddings. Composition of two scale-safe
    * primitives: [[embeddingNearDupPairs]] (LSH bucket equi-join candidates,
    * exact cosine verify) feeding
    * [[ConnectedComponents.labelPropagation]] (one cut of the pair edges;
    * union-find on the driver up to [[ConnectedComponents.DriverEdges]]
    * edges, min-label propagation rounds above). Returns the surviving
    * rows of `df` unchanged. */
  def semDedup(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, dim: Int = 64,
      bitsPerTable: Int = 10, tables: Int = 6, seed: Long = 42L): DataFrame = {
    val pairs = embeddingNearDupPairs(df, idCol, vecCol, threshold, dim,
      bitsPerTable, tables, seed)
    ConnectedComponents.transitiveSurvivors(df, idCol, pairs)
  }

  /** Product-quantization codebooks: the vector splits into `m` contiguous
    * subspaces of dim/m dims; each gets its own kc-centroid k-means
    * (seeded per subspace). Total state m × kc × dim/m doubles — tiny,
    * driver-held, inlinable as literals (the s03 trained-state pattern). */
  def pqTrain(
      corpus: DataFrame, vecCol: String, dim: Int,
      m: Int = 8, kc: Int = 16, seed: Long = 42L): Seq[Seq[Seq[Double]]] = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    (0 until m).map { j =>
      val subCorpus = corpus.select(
        slice(col(vecCol), j * sub + 1, sub).as("__sub"))
      ivfTrain(subCorpus, "__sub", kc, seed + j)
    }
  }

  /** dot(vec, centroid-literal) as the exact 0.0-seeded left fold — the
    * PQ twin of [[sqDistLit]]; mirrored by the DuckDB oracle. */
  private def dotLit(vec: Column, c: Seq[Double]): Column =
    aggregate(
      zip_with(vec, lit(c.toArray), (x, cc) => x.cast("double") * cc),
      lit(0.0), (acc, v) => acc + v)

  /** PQ-ADC approximate top-k cosine (Jégou et al. 2011, the FAISS-default
    * compressed-domain path): the corpus is encoded ONCE as m byte-sized
    * centroid codes (32× smaller than float32 at dim=64/m=8 — the rest
    * representation a 100 TB vector store actually ships); each query
    * builds m per-subspace dot-product TABLES against the codebook
    * literals, and a pair's approximate dot is m table lookups + a fixed
    * left-to-right sum — no float vector ever crosses the join.
    * Approximate cosine divides by the CODE's reconstruction norm
    * (√Σ‖c_code‖², from literal norm tables) and the query's exact norm.
    * Every step is a deterministic fold/lookup over literals, so ranking
    * (and score) hash-verify like the other ANN paths. Broadcast-query /
    * corpus-linear; ties → smaller neighbor id. */
  def pqTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, codebooks: Seq[Seq[Seq[Double]]], dim: Int): DataFrame = {
    val m = codebooks.length
    val sub = dim / m
    // per-subspace ‖centroid‖² literals, computed once driver-side and
    // shared verbatim with the oracle generator
    val norm2: Seq[Seq[Double]] = pqNorm2(codebooks)
    val codeCols = codebooks.zipWithIndex.map { case (cb, j) =>
      graft.functions.VecExprs
        .nearestCentroid(slice(col("__cv"), j * sub + 1, sub), cb)
        .getField("cell").as(s"__k$j")
    }
    // reconstruction norm² = Σ_j norm2_j[code_j], fixed j order
    def recNorm2: Column = (0 until m).map(j =>
      element_at(lit(norm2(j).toArray), col(s"__k$j") + 1)).reduceLeft(_ + _)
    val c = corpus
      .select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
      .select(col("neighbor_id") +: codeCols: _*)
      .withColumn("__an", sqrt(recNorm2))
      .transform(graft.core.Checkpoint.cut) // encode once per VECTOR
    val tableCols = codebooks.zipWithIndex.map { case (cb, j) =>
      array(cb.map(cent =>
        dotLit(slice(col("__qv"), j * sub + 1, sub), cent)): _*).as(s"__t$j")
    }
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
      .select(col("query_id") +: col("__qn") +: tableCols: _*)
      .transform(graft.core.Checkpoint.cut)
    def adc: Column = (0 until m).map(j =>
      element_at(col(s"__t$j"), col(s"__k$j") + 1)).reduceLeft(_ + _)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id") &&
        col("__an") > 0 && col("__qn") > 0)
      .withColumn("pq_cos", adc / (col("__an") * col("__qn")))
      .select(col("query_id"), col("neighbor_id"), col("pq_cos"))
    graft.plans.TopKPerKey(scored, Seq("query_id"),
      Seq(("pq_cos", true), ("neighbor_id", false)), k)
  }

  /** IVF-PQ (coarse cells + in-cell ADC, FAISS's billion-scale default;
    * `by_residual=false` variant — codes quantize the raw vector, which is
    * what keeps the code/table machinery shared verbatim with [[pqTopK]]
    * and the oracle exactly reproducible): the corpus partitions into
    * coarse k-means cells and carries only (cell, m byte codes, ‖x̂‖);
    * each query probes its `nProbe` nearest cells, so the join is a CELL
    * EQUI-JOIN — per-query work is ~nProbe/nCells of the corpus, and every
    * score is m table lookups. The 100 TB shape: no broadcast-nested-loop
    * over the corpus, no float vectors across the shuffle, candidate count
    * bounded by cell occupancy. Ties → smaller neighbor id. */
  def ivfPqTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, coarse: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
      dim: Int, nProbe: Int = 3): DataFrame = {
    val m = codebooks.length
    val sub = dim / m
    val norm2 = pqNorm2(codebooks)
    val codeCols = codebooks.zipWithIndex.map { case (cb, j) =>
      graft.functions.VecExprs
        .nearestCentroid(slice(col("__cv"), j * sub + 1, sub), cb)
        .getField("cell").as(s"__k$j")
    }
    def recNorm2: Column = (0 until m).map(j =>
      element_at(lit(norm2(j).toArray), col(s"__k$j") + 1)).reduceLeft(_ + _)
    val c = corpus
      .select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
      .select(col("neighbor_id") +:
        graft.functions.VecExprs.nearestCentroid(col("__cv"), coarse)
          .getField("cell").as("__cell") +: codeCols: _*)
      .withColumn("__an", sqrt(recNorm2))
      .transform(graft.core.Checkpoint.cut) // encode once per VECTOR
    val tableCols = codebooks.zipWithIndex.map { case (cb, j) =>
      array(cb.map(cent =>
        dotLit(slice(col("__qv"), j * sub + 1, sub), cent)): _*).as(s"__t$j")
    }
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
      .withColumn("__cell",
        explode(slice(array_sort(cellDistStructs(col("__qv"), coarse)),
          1, nProbe).getField("cell")))
      .select(col("query_id") +: col("__qn") +: col("__cell") +: tableCols: _*)
      .transform(graft.core.Checkpoint.cut)
    def adc: Column = (0 until m).map(j =>
      element_at(col(s"__t$j"), col(s"__k$j") + 1)).reduceLeft(_ + _)
    val scored = c.join(broadcast(q), Seq("__cell"))
      .filter(col("neighbor_id") =!= col("query_id") &&
        col("__an") > 0 && col("__qn") > 0)
      .withColumn("ivfpq_cos", adc / (col("__an") * col("__qn")))
      .select(col("query_id"), col("neighbor_id"), col("ivfpq_cos"))
      // no dedup needed: each neighbor lives in exactly one cell
    graft.plans.TopKPerKey(scored, Seq("query_id"),
      Seq(("ivfpq_cos", true), ("neighbor_id", false)), k)
  }

  /** ‖centroid‖² per (subspace, code) — exact left folds, computed once on
    * the driver; `private[graft]` so the oracle generator inlines the SAME
    * doubles. */
  private[graft] def pqNorm2(codebooks: Seq[Seq[Seq[Double]]]): Seq[Seq[Double]] =
    codebooks.map(_.map(c => c.foldLeft(0.0)((a, x) => a + x * x)))

  /** Nearest-centroid assignment of every vector against trained k-means
    * centroids (reference partition-pruning analogue in embedding space:
    * the cluster id becomes a corpus partition key for any downstream
    * within-cluster work). Output: (id, cluster, sq_dist) — per-row exact
    * left-to-right double folds, hash-verifiable against a literal-inlined
    * oracle (the s03 trained-state pattern). Zero shuffles: one scan, all
    * codegen'd column expressions over centroid literals. */
  def kmeansAssign(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]]): DataFrame =
    corpus
      .withColumn("__c",
        graft.functions.VecExprs.nearestCentroid(col(vecCol), centroids))
      .select(col(idCol), col("__c.cell").as("cluster"),
        col("__c.d").as("sq_dist"))

  /** SemDeDup as published (Abbas et al. 2023, arXiv:2303.09540 §3): k-means
    * partition first, exact pairwise cosine ONLY within each cluster, drop
    * every vector that has a near-duplicate (cos ≥ threshold) with a
    * smaller id in its cluster — the same greedy keep-earliest rule as
    * [[graft.operators.Dedup.minhashDedup]]. Complements [[semDedup]]
    * (the LSH-graph variant): here the quadratic term is bounded by the
    * CLUSTER size, and the number of centroids is the knob that holds
    * per-cluster populations flat as the corpus grows (the paper trains
    * ~n/1000 centroids at 100 TB scale; the within-cluster join is then a
    * cluster-keyed equi-join of ~constant-width buckets, never all-pairs).
    * Returns surviving rows of `df` with their cluster id.
    *
    * `maxCluster` is the same capped-bucket hygiene as
    * [[graft.operators.Dedup.minhashCandidates]]: a degenerate cluster
    * (mis-sized k, or a corpus flood of identical embeddings) would go
    * quadratic in the pair join, so clusters beyond the cap SKIP dedup —
    * their rows pass through un-deduped, and the skip is observable, not
    * silent: the `semdedup_kmeans` observation emits
    * `skipped_cluster_rows`. Cluster count = centroid count (bounded
    * small), so the ok-cluster set broadcasts. */
  def semDedupKMeans(
      df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], threshold: Double,
      maxCluster: Int = 100000): DataFrame = {
    // assignment is re-read by both sides of the pair join → materialize once
    val assigned = df
      .withColumn("__cl",
        graft.functions.VecExprs.nearestCentroid(col(vecCol), centroids)
          .getField("cell"))
      .withColumn("__n", norm(col(vecCol)))
      .transform(graft.core.Checkpoint.cut)
    val sizes = assigned.groupBy(col("__cl")).agg(count(lit(1)).as("__cn"))
    val okClusters = sizes.filter(col("__cn") <= maxCluster).select(col("__cl"))
    val joinable = assigned.join(broadcast(okClusters), Seq("__cl"))
    val a = joinable.select(col("__cl"), col(idCol).as("id_a"),
      col(vecCol).as("__va"), col("__n").as("__na"))
    val b = joinable.select(col("__cl"), col(idCol).as("id_b"),
      col(vecCol).as("__vb"), col("__n").as("__nb"))
    val dups = a.join(b, Seq("__cl"))
      .filter(col("id_a") < col("id_b"))
      .filter(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))
        >= threshold)
      .select(col("id_b").as("__victim")).distinct()
    assigned
      .join(dups, col(idCol) === col("__victim"), "left_anti")
      // skip metric rides the MAINLINE output (a broadcast subtree's
      // observations don't surface): every row of an over-cap cluster
      // survives, so counting over-cap survivors counts all skipped rows
      .join(broadcast(sizes), Seq("__cl"))
      .observe("semdedup_kmeans",
        sum(when(col("__cn") > maxCluster, 1L).otherwise(0L))
          .as("skipped_cluster_rows"))
      .select((df.columns.map(col) :+ col("__cl").as("cluster")): _*)
  }

  /** Per-query recall@k of an approximate ANN result against the exact
    * ground truth — the eval harness every ANN index deployment needs
    * before its parameters ship. Both inputs carry (queryCol, neighborCol)
    * rows with at most one row per pair (the contract of every topK
    * operator in this file); recall = |approx ∩ exact| / |exact| per
    * query, a single long/long IEEE division (bit-exact vs the SQL twin).
    *
    * Shape: one equi-join on the (query, neighbor) pair key + one keyed
    * aggregate — both sides are queries×k rows, so the eval costs
    * O(queries·k) regardless of corpus size (the expensive part is
    * PRODUCING the inputs, and the ground-truth side is typically run on
    * a sampled query set for exactly that reason). */
  def recallAtK(exact: DataFrame, approx: DataFrame,
      queryCol: String = "query_id",
      neighborCol: String = "neighbor_id"): DataFrame =
    exact.select(col(queryCol), col(neighborCol))
      // enforce (not assume) the at-most-one-row-per-pair contract on the
      // approx side: a duplicate pair from a misbehaving topK producer
      // would otherwise fan out the left join and inflate n_hit past
      // n_exact (recall > 1.0, silently); dedup costs O(queries·k)
      .join(approx.select(col(queryCol), col(neighborCol))
          .dropDuplicates(queryCol, neighborCol)
          .withColumn("__hit", lit(1L)),
        Seq(queryCol, neighborCol), "left")
      .groupBy(col(queryCol))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .select(col(queryCol), col("n_exact"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact")).as("recall"))
}
