package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.IndexTable.{Assignments, Centroids, Codebook, Codes}

/** Similarity search over an embedding column (array<float>):
  * brute-force cosine top-k as the exact baseline, and an IVF
  * (inverted-file) coarse-quantizer variant as the scale path.
  *
  * Scale posture: brute force is a broadcast of the query vector + one
  * scan with a TakeOrderedAndProject top-k — linear, shuffle-free, and
  * the right baseline even at 100 TB (it reads every vector once). IVF
  * cuts the scan to nProbe/nCentroids of the data: centroid assignment is
  * a broadcast nested-loop over a tiny centroid table, the index is
  * re-partitioned by cluster id so a probe prunes partitions.
  * All arithmetic via codegen'd higher-order functions — no UDFs.
  */
object Similarity {

  /** Driver-side numeric-array coercion for the bounded collects
    * (centroid matrices, single query vectors — never corpus rows).
    */
  private def toDouble(xs: Seq[Any]): Seq[Double] = xs.map {
    case f: java.lang.Float => f.toDouble
    case d: java.lang.Double => d.doubleValue()
    case n: Number => n.doubleValue()
  }

  private def dotD(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Dot product of two float/double arrays in double precision
    * (sequential sum — deterministic, same order as the HOF
    * `aggregate(zip_with(...))` form and DuckDB's `list_dot_product`).
    * Backed by the codegen'd [[graft.functions.ArrayDot]] expression:
    * primitive reads from ArrayData, no boxing — the HOF version was the
    * measured bottleneck of every pairwise-similarity operator.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumn(
      graft.functions.ArrayDot(
        org.apache.spark.sql.GraftColumn.expr(a),
        org.apache.spark.sql.GraftColumn.expr(b)))

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Parameters of the CLUSTERED synthetic embedding fixture — a
    * mixture of [[K]] well-separated integer-valued centers with small
    * deterministic per-vector noise, every value a closed-form
    * function of (vec_id, dim) in exact integer arithmetic followed by
    * one IEEE division, so a DuckDB oracle regenerates the corpus
    * bit-for-bit. Exists because the parquet embeddings tables are
    * ISOTROPIC (uniform random), which is residual coding's measured
    * worst case (see [[ivfRAdcTopK]]): this fixture supplies the
    * geometry the Jégou §III premise assumes — residuals concentrate
    * near zero relative to center spread — so the residual-vs-raw
    * comparison can be demonstrated in the regime the paper targets,
    * next to the inverted regime the real tables gate. NoiseScale was
    * CHOSEN BY MEASUREMENT (DuckDB sweep over the exact oracle chain):
    * at ±0.2 noise both families read 1.0 (trivially easy — 8
    * same-cluster codewords per subspace resolve the displacement);
    * at ±25 (scale 2.0) against ±48 centers, raw IVFADC reads 0.8 and
    * residual 1.0 at identical budget — the inversion q207 measures
    * on the isotropic tables un-inverts exactly as Jégou §III
    * predicts, while clusters stay separated (same-cluster distance
    * ~165 ≪ cross-cluster ~360) and the nProbe ceiling stays 1.0.
    * ONE set of constants feeds both the Spark frame and the generated
    * SQL (the langScoreSelectSql discipline).
    */
  object ClusteredFixture {
    val N = 512; val Dim = 64; val K = 8
    val CenterMul = 2654435761L; val CenterMod = 97L; val CenterShift = 48L
    val NoiseMul = 40503L; val NoiseAdd = 17L; val NoiseMod = 101L
    val NoiseShift = 50L; val NoiseScale = 2.0
  }

  /** The clustered fixture as a DataFrame: `(vec_id, embedding)` with
    * `embedding[j] = center(vec_id % K, j) + noise(vec_id, j)`, all
    * doubles. Generated, never stored — 512×64 is driver-trivial and
    * the closed form IS the oracle contract.
    */
  def clusteredEmbeddings(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import ClusteredFixture._
    spark.range(N).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(Dim - 1)), j => {
        val c = col("vec_id") % K
        val center = (((c * Dim + j) * lit(CenterMul)) % CenterMod -
          CenterShift).cast("double")
        val noise = (((col("vec_id") * Dim + j) * lit(NoiseMul) +
          NoiseAdd) % NoiseMod - NoiseShift).cast("double")
        center + noise / lit(NoiseScale)
      }).as("embedding"))
  }

  /** Exact brute-force cosine top-k neighbours of `queryId`. */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String,
                 queryId: Long, k: Int): DataFrame = {
    // zero-norm query ⇒ empty q ⇒ empty result — the same behavior as
    // a missing query id, and no ANSI 0/0 in the cosine (the
    // ivfAssign/normed zero-vector convention at the query site)
    val q = emb.filter(col(idCol) === queryId).select(col(vecCol).as("_q"))
      .filter(dot(col("_q"), col("_q")) > 0)
    emb.filter(col(idCol) =!= queryId)
      // zero corpus vectors have no cosine direction — excluded, the
      // same convention every indexed variant now applies (ivfAssign)
      .filter(dot(col(vecCol), col(vecCol)) > 0)
      .crossJoin(broadcast(q))
      .withColumn("cos_sim", round(cosine(col(vecCol), col("_q")), 6))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .select(col(idCol), col("cos_sim"))
      .limit(k)
  }

  /** Per-label mean embedding via posexplode + (label, dim) hash
    * aggregation — the classic distributed centroid shape: n·d rows
    * shuffle once, no vector ever passes through the driver. Dimension
    * sums go through exact decimals (per-element cast) so the mean is
    * order-independent and engine-portable, then present as a rounded
    * double.
    */
  def labelCentroids(emb: DataFrame, labelCol: String, vecCol: String): DataFrame =
    emb.select(col(labelCol), posexplode(col(vecCol)).as(Seq("dim", "_e")))
      .groupBy(col(labelCol), col("dim").cast("long").as("dim"))
      .agg(round(
        sum(col("_e").cast("double").cast(org.apache.spark.sql.types.DecimalType(27, 10)))
          .cast("double") / count(lit(1)), 6).as("centroid"))

  /** Deterministic centroid init: every `step`-th vector — the seeding
    * for [[kmeansCentroids]], and usable alone when index build time
    * matters more than probe recall.
    */
  def centroids(emb: DataFrame, idCol: String, vecCol: String,
                nCentroids: Int): DataFrame = {
    val step = 31L // coprime stride over ids
    // a zero vector must never become a centroid: its cosine is 0/0 =
    // NaN, which Spark sorts ABOVE every double, so the argmax would
    // assign the whole corpus to a dead cluster no probe ever selects
    val candidates = emb
      .filter(sqrt(dot(col(vecCol), col(vecCol))) > 0)
    val stride = candidates.filter(col(idCol) % step === 0)
      .orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid_vec"))
    // an id space that misses the stride entirely (small corpora, offset
    // or hashed ids) must NOT yield zero centroids — every consumer
    // (IVF build, semanticDedup) would then silently assign nothing and
    // e.g. dedup would keep every duplicate. Fall back to the first
    // nCentroids nonzero vectors by id: equally deterministic, and the
    // one cheap existence probe only runs at build time.
    if (stride.isEmpty)
      candidates.orderBy(col(idCol)).limit(nCentroids)
        .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid_vec"))
    else stride
  }

  /** Lloyd's k-means centroids for clustered corpora (real embedding
    * spaces): a few iterations refine the stride init into centroids
    * aligned with the corpus's actual cluster directions — on clustered
    * data, stride sampling gives arbitrary recall depending on which
    * cluster the strides happen to hit. On ISOTROPIC data the reverse
    * holds: measured on the synthetic testdata embeddings (within-label
    * cosine ≈ cross-label ≈ 0), Lloyd means blur probe selectivity
    * (top-10 recall at nProbe=2/8 drops 10/10 → 7/10), which is why
    * [[ivfTopK]] defaults to the stride init and takes iterations opt-in.
    *
    * Each iteration: assign every vector to its nearest centroid
    * (broadcast NL join against the k-row centroid table, one shuffle for
    * the argmax groupBy), then average per cluster element-wise via
    * posexplode → (cluster, pos) mean. Only the k×dim centroid matrix
    * ever reaches the driver — corpus-size-independent — so iterating
    * keeps bounded plans instead of a growing lineage. Clusters that
    * lose every member drop out (k is an upper bound). Deterministic:
    * stride init + id-stable argmax.
    */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
                      nCentroids: Int, iters: Int = 3): DataFrame = {
    val spark = emb.sparkSession
    val data = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      // zero vectors have no cosine direction — the assignment join's
      // cosine() would throw ANSI DIVIDE_BY_ZERO (same guard as normed())
      .filter(sqrt(dot(col("v"), col("v"))) > 0)
    var cents: Seq[(Long, Seq[Double])] =
      centroids(emb, idCol, vecCol, nCentroids).collect().toSeq
        .map(r => (r.getLong(0), toDouble(r.getSeq[Any](1))))
    for (_ <- 1 to iters) {
      val cdf = spark.createDataFrame(cents).toDF("centroid_id", "centroid_vec")
      cents = data.crossJoin(broadcast(cdf))
        .withColumn("_cos", cosine(col("v"), col("centroid_vec")))
        .groupBy(col("id"))
        .agg(max(struct(col("_cos").as("c"), col("centroid_id").as("cid")))
          .getField("cid").as("cluster"),
          first(col("v")).as("v"))
        .select(col("cluster"), posexplode(col("v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(avg(col("col").cast("double")).as("m"))
        .collect().toSeq
        .groupBy(_.getLong(0))
        .map { case (cl, rows) =>
          (cl, rows.sortBy(_.getInt(1)).map(_.getDouble(2))) }
        .toSeq.sortBy(_._1)
    }
    spark.createDataFrame(cents).toDF("centroid_id", "centroid_vec")
  }

  /** Assign every vector to its nearest centroid (broadcast NL join over
    * the tiny centroid table + per-vector argmax; deterministic tiebreak
    * by centroid id). Zero vectors are EXCLUDED here — the [[normed]]
    * convention enforced at the site that computes the cosine, because
    * several callers (the IVFADC build/append chain) pass raw corpora
    * and a zero vector's cosine is 0/0, an ANSI DIVIDE_BY_ZERO the
    * ivfAdcProbeJoin generative law seed-found; a vector with no cosine
    * direction cannot be meaningfully assigned to a cosine-ranked list,
    * so it is not indexed (exactly [[buildIvfIndex]]'s behavior).
    */
  def ivfAssign(emb: DataFrame, cents: DataFrame,
                idCol: String, vecCol: String): DataFrame =
    emb.filter(dot(col(vecCol), col(vecCol)) > 0)
      .crossJoin(broadcast(cents))
      .withColumn("_cos", cosine(col(vecCol), col("centroid_vec")))
      .groupBy(col(idCol))
      .agg(max(struct(col("_cos").as("c"), col("centroid_id").as("cid")))
        .getField("cid").as("cluster"))

  /** [[ivfAssign]] for the IVF-ADC index, which stores a code row for
    * EVERY vector: `(id: long, cluster)`, where a zero vector — no
    * cosine direction, so no nearest centroid — takes the lowest
    * centroid id instead of silently leaving the index. The cosine is
    * only evaluated for nonzero vectors (no ANSI 0/0), and every other
    * vector's cluster is exactly [[ivfAssign]]'s.
    */
  private def ivfAssignEvery(emb: DataFrame, cents: DataFrame,
                             idCol: String, vecCol: String): DataFrame =
    emb.crossJoin(broadcast(cents))
      .withColumn("_cos", when(dot(col(vecCol), col(vecCol)) > 0,
        cosine(col(vecCol), col("centroid_vec"))))
      .groupBy(col(idCol).cast("long").as("id"))
      .agg(coalesce(max(when(col("_cos").isNotNull,
          struct(col("_cos").as("c"), col("centroid_id").as("cid"))))
          .getField("cid"), min(col("centroid_id"))).as("cluster"))

  /** (id, v, n: L2 norm) — norms computed ONCE per row so pairwise
    * cosine later costs a single dot product, not three. The projection
    * sits below any join, so Catalyst evaluates it per input row, never
    * per pair.
    *
    * Cache contract (applies to every operator here that persists an
    * intermediate for self-join reuse): the returned frame is lazy, so
    * the operator cannot unpersist without destroying the reuse — every
    * internal persist is REGISTERED with [[graft.engine.Caches]], and
    * the CALLER releases storage after its action via
    * `Caches.releaseAll()` (the targeted handle `clearCache()` never
    * was), as Bench (per rep) and Verify (per query) do. Left
    * unreleased, the caches accumulate across a many-query session and
    * later scans pay eviction/GC for earlier queries.
    */
  private def normed(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
      // zero vectors have no cosine direction (ANSI division would
      // throw on n = 0) — near-dup semantics exclude them
      .filter(col("n") > 0)

  /** Exact embedding-cosine near-duplicate pairs: every (a < b) with
    * rounded cosine >= threshold. The quadratic verification baseline —
    * at corpus scale run [[embedNearDupLsh]] instead, which prunes the
    * pair space with hyperplane-LSH buckets before this same verify step.
    *
    * Guarded: the all-pairs join is n²/2, so the operator refuses inputs
    * above `maxExact` rows instead of silently launching a cluster-melting
    * cartesian product — the caller is told to use the LSH path.
    */
  def embedNearDup(emb: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, maxExact: Long = graft.ops.GuardBounds.MaxExactPairs): DataFrame = {
    // spread BEFORE the persist: the pair join streams the cached
    // relation through a BroadcastNestedLoopJoin, so its task count —
    // and the whole n²/2 dot-product verify — is the cache's partition
    // count (1 for a single-file input; measured 8→32-core ratio 1.01
    // in BENCH_r14 because one core did all pairs)
    val u = graft.engine.Caches.persisted("embedNearDup.normed",
      graft.engine.Layout.spreadForCompute(normed(emb, idCol, vecCol)))
    val rows = u.count() // cheap: also materializes the reused norms
    require(rows <= maxExact,
      s"embedNearDup is an exact all-pairs baseline (n²/2 = " +
        s"${rows * rows / 2} pairs at n=$rows > maxExact=$maxExact); " +
        "use embedNearDupLsh for corpus-scale near-dup")
    val a = u.select(col("id").as("id_a"), col("v").as("_va"), col("n").as("_na"))
    val b = u.select(col("id").as("id_b"), col("v").as("_vb"), col("n").as("_nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos_sim",
        round(dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")), 6))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space, then mark
    * near-duplicates ONLY within each cluster — Σ cluster² cosine pairs
    * instead of n², the trick that makes embedding dedup affordable at
    * corpus scale (cross-cluster pairs are below threshold by
    * construction when clusters are tight; the paper accepts that
    * recall trade). Clusters come from the deterministic stride
    * centroids + broadcast argmax assignment ([[ivfAssign]]'s shape,
    * inlined so each vector carries its norm to the pair join without a
    * re-join). Keep rule: a doc is DROPPED iff a SMALLER-ID doc in its
    * cluster has cosine ≥ threshold — the parallel, order-independent
    * simplification of the paper's keep-one-per-group (their
    * farthest-from-centroid pick needs a second argmax pass and buys
    * nothing for exactness; min-id is engine-reproducible, the
    * [[graft.text.Dedup]] convention).
    *
    * Zero vectors have no cosine direction: they skip clustering and
    * pairing entirely and come back `keep = true, cluster = null` (a
    * doc that cannot be similar to anything cannot be a duplicate).
    *
    * Hot-cluster guard: one cluster holding m vectors costs m²/2 pairs
    * — any cluster above `maxCluster` refuses with the offenders named
    * (fix: more centroids), the same refuse-don't-melt posture as
    * [[knnGraphBucketed]].
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    nCentroids: Int, threshold: Double,
                    maxCluster: Long = 100000L): DataFrame = {
    // no persist on u: it feeds exactly one plan (the assignment join);
    // asg below IS reused (hot check + both pair sides + verdict join)
    val u = normed(emb, idCol, vecCol)
    val cents = centroids(emb, idCol, vecCol, nCentroids)
      .withColumn("_cn", sqrt(dot(col("centroid_vec"), col("centroid_vec"))))
    val asg0 = u.crossJoin(broadcast(cents))
      .withColumn("_cos",
        dot(col("v"), col("centroid_vec")) / (col("n") * col("_cn")))
      .groupBy(col("id"))
      .agg(max(struct(col("_cos").as("c"), col("centroid_id").as("cid")))
          .getField("cid").as("cluster"),
        first(col("v")).as("v"), first(col("n")).as("n"))
    val asgP = graft.engine.Caches.persisted("semanticDedup.assignments", asg0)
    val hot = asgP.groupBy("cluster").count()
      .filter(col("count") > maxCluster)
      .orderBy(col("count").desc).limit(5)
      .collect().map(r => s"${r.get(0)}=${r.getLong(1)}")
    if (hot.nonEmpty) {
      asgP.unpersist() // refusal path: free eagerly (also registry-tracked)
      throw new IllegalArgumentException(
        s"semanticDedup: cluster(s) above maxCluster=$maxCluster " +
          s"(${hot.mkString(", ")}); pairs grow with the square of the " +
          "largest cluster — raise nCentroids to split them")
    }
    val a = asgP.select(col("cluster"), col("id").as("id_a"),
      col("v").as("_va"), col("n").as("_na"))
    val b = asgP.select(col("cluster"), col("id").as("id_b"),
      col("v").as("_vb"), col("n").as("_nb"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(dot(col("_va"), col("_vb")) /
        (col("_na") * col("_nb")), 6) >= threshold)
      .select(col("id_b").as("id")).distinct()
      .withColumn("_dup", lit(true))
    emb.select(col(idCol).cast("long").as("id"))
      .join(asgP.select(col("id"), col("cluster")), Seq("id"), "left")
      .join(dropped, Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"),
        coalesce(col("_dup"), lit(false)) === lit(false) as "keep")
  }

  /** Bucketed exact k-NN graph: for every vector, its k nearest
    * neighbours BY COSINE within its bucket (an IVF cluster id, LSH
    * band, or any partition key). This is how ANN graphs are built at
    * corpus scale — Σ bucket² pairs instead of n², with the per-node
    * top-k rank-filter eligible for the WindowGroupLimit pushdown so
    * only k rows per node survive the window sort. Norms are computed
    * once per row below the join, never per pair.
    *
    * Hot-bucket guard: Σ bucket² means ONE degenerate bucket (an IVF
    * cluster that swallowed half the corpus, a trivial LSH band) silently
    * reintroduces n²/4. A cheap count pre-pass over the already-persisted
    * input refuses any bucket above `maxBucket` with the offenders named
    * — the same refuse-don't-melt posture as [[embedNearDup]]'s maxExact
    * and the witness-cap in `Dedup.jaccardPairs`. The fix is always finer
    * bucketing (more IVF centroids, extra LSH bits, salting), never a
    * silent truncation that would bias the neighbour graph.
    */
  def knnGraphBucketed(emb: DataFrame, idCol: String, vecCol: String,
                       bucketCol: String, k: Int,
                       maxBucket: Long = graft.ops.GuardBounds.MaxKnnBucket): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u0 = emb.select(col(idCol).as("id"), col(bucketCol).as("b"),
        col(vecCol).as("v"))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
      // zero vectors have no cosine direction (and would throw ANSI
      // DIVIDE_BY_ZERO in the pair projection) — excluded up front
      .filter(col("n") > 0)
    // self-joined: compute each norm once, not twice
    val u = graft.engine.Caches.persisted("knnGraphBucketed.normed", u0)
    val hot = u.groupBy(col("b")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > maxBucket)
      .orderBy(col("cnt").desc).limit(5).collect() // bounded: worst 5
    if (hot.nonEmpty) {
      u.unpersist() // refusal path: nothing downstream will release it
      throw new IllegalArgumentException(
        s"knnGraphBucketed: bucket(s) exceed maxBucket=$maxBucket " +
          s"(worst: ${hot.map(r => s"${r.get(0)}=${r.getLong(1)}").mkString(", ")}); " +
          "the in-bucket join costs sum(bucket^2) pairs, so a hot bucket " +
          "reintroduces the quadratic blow-up this operator exists to avoid " +
          "- split it with finer bucketing (more IVF centroids, extra LSH " +
          "bits, or a salt column) or raise maxBucket deliberately")
    }
    val a = u.select(col("id").as("src"), col("b"),
      col("v").as("_va"), col("n").as("_na"))
    val b = u.select(col("id").as("dst"), col("b"),
      col("v").as("_vb"), col("n").as("_nb"))
    a.join(b, Seq("b"))
      .filter(col("src") =!= col("dst"))
      .withColumn("cos_sim",
        round(dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("src"))
          .orderBy(col("cos_sim").desc, col("dst").asc)).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("src"), col("dst"), col("cos_sim"), col("rnk"))
  }

  /** Persist the k-NN edge table ONCE (the [[buildIvfIndex]] build/probe
    * split applied to graphs): graph passes — PageRank, label
    * propagation, anything iterative — read the materialized edges
    * instead of re-running normalize + bucket + Σbucket² pairs + top-k
    * per query. At 100 TB the pair join is by far the dominant cost and
    * amortizes across every downstream pass; the iterative consumers
    * then scan a table that is k·n rows of three scalars, not the
    * corpus. Edges land partitioned by a src-hash bucket so a node
    * neighborhood read prunes to one directory and files stay
    * shuffle-partition-count-independent (Layout.colocated's
    * small-files rationale).
    */
  def buildKnnGraph(emb: DataFrame, idCol: String, vecCol: String,
                    bucketCol: String, k: Int, path: String,
                    nSrcBuckets: Int = 16): Unit = {
    val edges = knnGraphBucketed(emb, idCol, vecCol, bucketCol, k)
      .withColumn("src_bucket", pmod(xxhash64(col("src")), lit(nSrcBuckets.toLong)))
    edges.repartition(col("src_bucket"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("src_bucket")
      .parquet(path)
    // the build's self-join persist follows the normed() cache contract:
    // released by the caller (clearCache per query in Bench/Verify)
  }

  /** Scan of a [[buildKnnGraph]] edge table in [[knnGraphBucketed]]'s
    * shape (src, dst, cos_sim, rnk) — the layout bucket column stays
    * behind in the scan.
    */
  def readKnnGraph(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select("src", "dst", "cos_sim", "rnk")

  /** Smallest band count at which hyperplane-LSH banding is expected
    * to miss (far) fewer than `expectedMisses` qualifying pairs — the
    * SCALE-PARAMETRIC recall gate (round-12 verdict item #2): instead
    * of pinning a band constant measured total on one corpus, derive
    * it from the banding collision probability at the THRESHOLD, which
    * is the worst case over every qualifying pair.
    *
    * For a pair at cosine exactly `threshold` (angle θ = acos(t)), a
    * random hyperplane puts both on the same side with probability
    * p = 1 − θ/π, a band of `bitsPerBand` planes collides with p^b,
    * and all `B` bands miss with (1 − p^b)^B. Any pair ABOVE the
    * threshold has a smaller angle, hence strictly higher p — so
    * `pairBound · (1−p^b)^B ≤ expectedMisses` bounds the expected
    * missed-pair count over the whole corpus. `pairBound` defaults to
    * 2n: near-dup pair counts in a dedup corpus grow ~linearly with n
    * (bounded dup-group sizes), measured 66/500, 59/500, 920/2000 on
    * the three testdata corpora — callers with heavier duplication
    * pass their own bound. Solving gives
    * B = ⌈ln(pairBound/ε) / −ln(1 − p^b)⌉ — logarithmic in corpus
    * size, so the banding cost grows O(n log n) while the all-pairs
    * alternative grows n².
    */
  def lshBandsForRecall(n: Long, threshold: Double, bitsPerBand: Int = 4,
                        expectedMisses: Double = 0.01,
                        pairBoundPerRow: Double = 2.0): Int = {
    require(threshold > -1.0 && threshold < 1.0,
      s"lshBandsForRecall: threshold $threshold outside (-1, 1)")
    val p = 1.0 - math.acos(threshold) / math.Pi
    val bandMiss = 1.0 - math.pow(p, bitsPerBand)
    val pairBound = math.max(1.0, pairBoundPerRow * n)
    math.max(1, math.ceil(
      math.log(pairBound / expectedMisses) / -math.log(bandMiss)).toInt)
  }

  /** Expected fraction of ORTHOGONAL (random, isotropic worst case)
    * pairs that share at least one LSH band bucket: a random hyperplane
    * splits an orthogonal pair with p = 1/2 per bit, so
    * 1 − (1 − 2^−bits)^bands. This is the banding's PRUNING POWER in
    * closed form — when it approaches 1 the candidate join IS the
    * all-pairs product plus banding overhead, and running the LSH is
    * strictly worse than the exact verify (measured at sf0.1,
    * threshold 0.4: banding 6.3 s warm vs exact 2.7 s, candidates
    * ≈ 99% of all pairs). [[embedNearDupLsh]] consults this before
    * building signatures.
    */
  def lshRandomCollisionFraction(bands: Int, bitsPerBand: Int): Double =
    1.0 - math.pow(1.0 - math.pow(0.5, bitsPerBand), bands)

  /** Hyperplane-LSH near-dup: nBands band signatures of bitsPerBand sign
    * bits each; vectors sharing any band bucket are candidates, verified
    * with exact cosine. Recall < 1 by design (prob. a true pair shares a
    * bucket = 1-(1-(1-θ/π)^r)^b); the bucket join replaces the all-pairs
    * product, which is what makes near-dup feasible at corpus scale.
    *
    * `nBands = -1` (auto) derives the band count from the corpus size
    * via [[lshBandsForRecall]] — the expected-miss bound then holds at
    * EVERY scale instead of only the one a fixed constant was measured
    * on (the q39 gate premise; one extra count() over the cached
    * normalized relation).
    *
    * PRUNING-POWER SWITCH (the filteredTopK adaptive precedent): sign
    * LSH separates poorly at LOW thresholds — at t = 0.4 the
    * per-bit collision gap between a qualifying pair (p = 0.631) and
    * an orthogonal one (p = 0.5) is so narrow that NO (bits, bands)
    * meeting the recall bound prunes (driving the random-collision
    * rate to 1% at t = 0.4 needs ~31-bit bands and ~20M of them).
    * So when [[lshRandomCollisionFraction]] for the chosen (bits,
    * bands) exceeds `GuardBounds.LshMaxRandomCollide`, the banding
    * buys nothing: corpora within the exact-verify bound route to
    * [[embedNearDup]] (identical output with recall 1.0 — measured
    * 2.7 s vs 6.3 s at sf0.1), larger ones REFUSE loudly naming the
    * math, because running a candidate join that admits ~everything
    * at 100 TB is the n² this operator exists to avoid. High
    * thresholds (where p^bits ≫ 2^−bits) keep the banding path.
    *
    * The ±1 random hyperplanes are seeded driver-side constants shipped
    * as array literals, so each sign bit is one codegen'd [[dot]] against
    * a literal — constant work per row, nothing recomputed per element.
    */
  def embedNearDupLsh(emb: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, nBands: Int = 8,
                      bitsPerBand: Int = 4, seed: Long = 42L,
                      dim: Int = -1): DataFrame = {
    // normalized vectors feed signature computation + both verify joins;
    // spread as in embedNearDup — the banding projection (bands ×
    // bitsPerBand dot products per row) runs on the cache's partitions
    val u = graft.engine.Caches.persisted("embedNearDupLsh.normed",
      graft.engine.Layout.spreadForCompute(normed(emb, idCol, vecCol)))
    val n = u.count() // cheap: materializes the reused normed relation
    val bands =
      if (nBands > 0) nBands
      else lshBandsForRecall(n, threshold, bitsPerBand)
    val randomCollide = lshRandomCollisionFraction(bands, bitsPerBand)
    if (randomCollide > graft.ops.GuardBounds.LshMaxRandomCollide) {
      require(n <= graft.ops.GuardBounds.MaxExactPairs,
        f"embedNearDupLsh: $bands bands of $bitsPerBand bits admit " +
          f"$randomCollide%.3f of random pairs (> LshMaxRandomCollide=" +
          f"${graft.ops.GuardBounds.LshMaxRandomCollide}), so the banding " +
          f"cannot prune at threshold $threshold, and n=$n exceeds the " +
          f"exact-verify bound ${graft.ops.GuardBounds.MaxExactPairs} — " +
          "raise bitsPerBand (wider bands prune more but need " +
          "exponentially more of them at low thresholds), raise the " +
          "threshold, or use semanticDedup / the persisted ANN index " +
          "for low-threshold similarity at corpus scale")
      return embedNearDup(emb, idCol, vecCol, threshold)
    }
    // pass `dim` when known: the head() fallback forces an extra job
    val d = if (dim > 0) dim else u.select(size(col("v"))).head().getInt(0)
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(bands * bitsPerBand) {
      Seq.fill(d)(if (rnd.nextBoolean()) 1.0 else -1.0)
    }
    val banded0 = u.select(col("id"), explode(array(
      (0 until bands).map { bnd =>
        val bh = (0 until bitsPerBand).map { j =>
          when(dot(col("v"), typedLit(planes(bnd * bitsPerBand + j))) > 0.0,
            lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _)
        struct(lit(bnd).as("band"), bh.as("bh"))
      }: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    // self-joined: compute the signatures once
    val banded = graft.engine.Caches.persisted("embedNearDupLsh.bands", banded0)
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    cands
      .join(u.select(col("id").as("id_a"), col("v").as("_va"), col("n").as("_na")), "id_a")
      .join(u.select(col("id").as("id_b"), col("v").as("_vb"), col("n").as("_nb")), "id_b")
      .withColumn("cos_sim",
        round(dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")), 6))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
  }

  /** IVF search: probe the `nProbe` centroids nearest the query, brute
    * force only inside those clusters. Returns the same shape as
    * [[cosineTopK]] (approximate: recall < 1 when true neighbours live in
    * unprobed clusters).
    *
    * NOTE on cost model: this convenience form builds the index (centroid
    * fit + full-corpus assignment) inside the call, so a single probe
    * costs a corpus scan + shuffle — fine for one-off exploration, wrong
    * for repeated lookups. The production shape is [[buildIvfIndex]] once
    * (cluster-partitioned persisted assignments) + [[ivfProbe]] per query,
    * where the probe's scan partition-prunes to the nProbe clusters and
    * never touches the rest of the corpus.
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryId: Long, k: Int,
              nCentroids: Int = graft.ops.GuardBounds.DefaultIvfCentroids, nProbe: Int = 4,
              kmeansIters: Int = 0): DataFrame = {
    // kmeansIters = 0 → stride init only: measured best on isotropic
    // corpora; pass iterations for genuinely clustered embedding spaces
    // (see kmeansCentroids scaladoc for both measurements)
    val cents0 = (if (kmeansIters > 0)
        kmeansCentroids(emb, idCol, vecCol, nCentroids, kmeansIters)
      else centroids(emb, idCol, vecCol, nCentroids))
    val cents = graft.engine.Caches.persisted("ivfTopK.centroids", cents0)
    val assigned = ivfAssign(emb, cents, idCol, vecCol)
    // zero-norm query ⇒ empty q ⇒ empty result — the same behavior as
    // a missing query id, and no ANSI 0/0 in the cosine (the
    // ivfAssign/normed zero-vector convention at the query site)
    val q = emb.filter(col(idCol) === queryId).select(col(vecCol).as("_q"))
      .filter(dot(col("_q"), col("_q")) > 0)
    val probed = cents.crossJoin(broadcast(q))
      .withColumn("_cos", cosine(col("centroid_vec"), col("_q")))
      .orderBy(col("_cos").desc, col("centroid_id").asc)
      .limit(nProbe)
      .select(col("centroid_id").as("cluster"))
    emb.join(assigned, idCol)
      .join(broadcast(probed), "cluster")
      .filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cos_sim", round(cosine(col(vecCol), col("_q")), 6))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .select(col(idCol), col("cos_sim"))
      .limit(k)
  }

  /** Build a persisted IVF index under `indexPath`: fit centroids
    * (stride init by default, Lloyd iterations opt-in — see
    * [[kmeansCentroids]]), assign every vector to its nearest centroid,
    * and write the assignments `(id, v, n, cluster)` HIVE-PARTITIONED BY
    * `cluster`, plus the tiny centroid table alongside.
    *
    * This is the pay-once half of the ANN cost model: ONE corpus scan +
    * ONE shuffle at build time, after which every [[ivfProbe]] reads only
    * the `nProbe` cluster directories (scan-level partition pruning — the
    * probe's cost is nProbe/nCentroids of the corpus, independent of how
    * many probes run). Vectors and their precomputed L2 norms are stored
    * co-located with the assignment so a probe is a pruned scan + one
    * codegen'd dot per row + TakeOrderedAndProject — no join at all.
    *
    * The argmax aggregation carries (v, n) through `first()` rather than
    * re-joining the corpus — one shuffle, not two. Zero vectors are
    * excluded (no cosine direction), matching [[normed]].
    */
  def buildIvfIndex(emb: DataFrame, idCol: String, vecCol: String,
                    indexPath: String, nCentroids: Int = graft.ops.GuardBounds.DefaultIvfCentroids,
                    kmeansIters: Int = 0): Unit = {
    // Lloyd means come back as doubles; the index stores float centroids
    val cents = if (kmeansIters > 0)
        kmeansCentroids(emb, idCol, vecCol, nCentroids, kmeansIters)
          .withColumn("centroid_vec", col("centroid_vec").cast("array<float>"))
      else centroids(emb, idCol, vecCol, nCentroids)
    val u = normed(emb, idCol, vecCol)
    val assigned0 = u.crossJoin(broadcast(cents))
      .withColumn("_cos", dot(col("v"), col("centroid_vec")) /
        (col("n") * sqrt(dot(col("centroid_vec"), col("centroid_vec")))))
      .groupBy(col("id"))
      .agg(max(struct(col("_cos").as("c"), col("centroid_id").as("cid")))
          .getField("cid").as("cluster"),
        first(col("v")).as("v"), first(col("n")).as("n"))
    // co-locate by cluster before the partitioned write: one file per
    // cluster dir instead of one per shuffle partition per dir (the
    // small-files degradation Layout.colocated exists for)
    Assignments.write(assigned0.repartition(col("cluster")), indexPath,
      SaveMode.Overwrite)
    Centroids.write(cents, indexPath, SaveMode.Overwrite)
  }

  /** Incremental IVF index maintenance: assign a NEW batch of vectors
    * to the index's EXISTING centroids and append them into the
    * cluster-partitioned assignment layout — the churn-cost path. The
    * corpus-sized scan+shuffle [[buildIvfIndex]] paid is never
    * repeated; a probe after the append sees old and new vectors alike
    * because partition pruning selects DIRECTORIES and the new files
    * land inside them. Batch cost: one broadcast argmax over the batch
    * + one write, independent of index size.
    *
    * Contracts: ids are the CALLER's problem (an append of an existing
    * id yields two index entries — dedup upstream, as every sink here
    * expects); zero vectors are excluded as in [[buildIvfIndex]]; and
    * centroids DRIFT — stride centroids sampled from the original
    * corpus stay fixed, so after the corpus grows by ~2× the cluster
    * balance degrades and the hot-cluster guards downstream will name
    * it; rebuild then. Returns the number of vectors appended.
    */
  def appendIvfIndex(newEmb: DataFrame, idCol: String, vecCol: String,
                     indexPath: String): Long = {
    val spark = newEmb.sparkSession
    val cents = Centroids.read(spark, indexPath)
      .select(col("centroid_id"), col("centroid_vec"))
    val u = normed(newEmb, idCol, vecCol)
    val assigned0 = u.crossJoin(broadcast(cents))
      .withColumn("_cos", dot(col("v"), col("centroid_vec")) /
        (col("n") * sqrt(dot(col("centroid_vec"), col("centroid_vec")))))
      .groupBy(col("id"))
      .agg(max(struct(col("_cos").as("c"), col("centroid_id").as("cid")))
          .getField("cid").as("cluster"),
        first(col("v")).as("v"), first(col("n")).as("n"))
    val assigned = graft.engine.Caches.persisted("appendIvfIndex.assignments",
      assigned0)
    val appended = assigned.count()
    Assignments.write(assigned.repartition(col("cluster")), indexPath,
      SaveMode.Append)
    assigned.unpersist()
    appended
  }

  /** The IVF `assignments` or IVF-ADC `codes` relation read through its
    * tombstone filter ([[graft.engine.IndexLifecycle.Ivf]] /
    * [[graft.engine.IndexLifecycle.IvfAdc]]): deleted vectors vanish
    * from every probe/decode/audit the moment the delete verb returns,
    * before any data file rewrites — and for the raw-vector tier the
    * purge then physically removes the embeddings from disk, which is
    * what a forget request requires of it. Heals an interrupted
    * partition-level purge swap on entry (two FS existence checks when
    * none is in flight); indexes with no delete history skip the
    * anti-join entirely.
    */
  private def liveRows(spark: SparkSession, indexPath: String,
                       table: graft.engine.IndexTable): DataFrame = {
    table.heal(spark, indexPath)
    val rows = table.read(spark, indexPath)
    graft.engine.Layout.tombstones(spark, indexPath) match {
      case Some(ts) => rows.join(broadcast(ts), Seq("id"), "left_anti")
      case None => rows
    }
  }

  case class IvfMaintenance(appended: Long, centroidCosine: Option[Double],
                            rebuilt: Boolean)

  /** Drift-gated IVF maintenance — the executor of [[appendIvfIndex]]'s
    * documented rebuild contract, which until round 7 nothing actually
    * ran. The cheap churn path (assign to the EXISTING centroids,
    * append) is only sound while batches come from the distribution the
    * centroids were sampled from; a drifted batch (new crawl, new
    * topic) still lands in SOME cluster, but probe recall quietly
    * degrades — the worst failure mode, wrong-but-plausible answers.
    * So maintenance first measures [[centroidDrift]] between the
    * INDEXED corpus (read back from the assignment layout — no extra
    * stored state) and the incoming batch:
    *
    *   - centroid cosine ≥ `minCentroidCosine` → [[appendIvfIndex]],
    *     batch-shaped cost (the common path);
    *   - below the gate, or undefined (a degenerate mean) → REBUILD
    *     over old ∪ new via [[buildIvfIndex]] — corpus-shaped cost,
    *     restoring the recall stale centroids were losing. The new
    *     layout is written to a staging dir and swapped in only after
    *     it is completely written (a crash mid-build leaves the live
    *     index untouched; the originals sit in `.retired` until the
    *     swap completes).
    *
    * Returns what happened and the measured cosine so a pipeline can
    * alert on rebuild cadence — a rebuild every batch means the corpus
    * is nonstationary faster than the index amortizes.
    */
  def maintainIvfIndex(newEmb: DataFrame, idCol: String, vecCol: String,
                       indexPath: String, minCentroidCosine: Double = 0.7,
                       nCentroids: Int = graft.ops.GuardBounds.DefaultIvfCentroids, kmeansIters: Int = 0): IvfMaintenance = {
    val spark = newEmb.sparkSession
    val old = liveRows(spark, indexPath, Assignments)
    val cosRow = centroidDrift(old.select(col("v").as(vecCol)),
        newEmb.select(col(vecCol)), vecCol)
      .select(col("centroid_cosine")).head()
    val cos = if (cosRow.isNullAt(0)) None else Some(cosRow.getDouble(0))
    if (cos.exists(_ >= minCentroidCosine))
      IvfMaintenance(appendIvfIndex(newEmb, idCol, vecCol, indexPath),
        cos, rebuilt = false)
    else {
      val nNew = newEmb.count()
      rebuildIvfFromSurvivors(spark, indexPath,
        Some(newEmb.select(col(idCol), col(vecCol))), idCol, vecCol,
        nCentroids, kmeansIters, "maintainIvfIndex")
      IvfMaintenance(nNew, cos, rebuilt = true)
    }
  }

  /** The shared staged-rebuild body of [[maintainIvfIndex]] and
    * [[rebuildIvfIndexIfDrifted]]: survivors (the assignment relation
    * minus an entry-time tombstone snapshot — ADVICE r12: the union
    * excludes exactly this materialized id set, and after the swap
    * only these FILES clear, so a forget request a concurrent deleter
    * records while the rebuild runs survives as a live tombstone over
    * the new index), optionally unioned with a new batch, rebuild into
    * `.rebuild` staging, and the checked dual-dir swap
    * ([[swapIndexDirs]] — assignments and centroids must flip
    * TOGETHER: a partition-level lease swap cannot give cross-dir
    * consistency, and its concurrent-append carry-over would file
    * rows under cluster ids of the RETIRED centroids).
    */
  private def rebuildIvfFromSurvivors(spark: SparkSession, indexPath: String,
                                      extra: Option[DataFrame], idCol: String,
                                      vecCol: String, nCentroids: Int,
                                      kmeansIters: Int,
                                      opName: String): Unit = {
    val tsSnap = graft.engine.Layout.tombstoneSnapshot(spark, indexPath)
    val base = Assignments.read(spark, indexPath)
    val survivors = tsSnap match {
      case Some((ts, _)) => base.join(broadcast(ts), Seq("id"), "left_anti")
      case None => base
    }
    val kept = survivors.select(col("id").as(idCol), col("v").as(vecCol))
    val union = extra.fold(kept)(kept.unionByName(_))
    val staging = s"$indexPath/.rebuild"
    // kmeansIters passes through: a rebuild must not silently downgrade
    // an index built with refined centroids to stride sampling
    buildIvfIndex(union, idCol, vecCol, staging, nCentroids, kmeansIters)
    swapIndexDirs(spark, indexPath, staging, Seq(Assignments, Centroids),
      opName)
    // the snapshot tombstones are spent (excluded from the rebuild);
    // clearing them last is crash-safe (a leftover set masks absent
    // ids — a no-op — until the next delete's purge clears it)
    tsSnap.foreach { case (_, files) =>
      graft.engine.Layout.clearTombstoneFiles(spark, indexPath, files) }
  }

  /** The policy face of the drift→rebuild loop (r13 verdict item #3:
    * [[graft.streaming.EventStream.centroidDriftSink]] MEASURED drift
    * and [[appendIvfIndex]]'s contract said "rebuild then", but no
    * verb actually closed the loop — after ~2× corpus growth under
    * steady append, probe recall degraded with only a comment standing
    * guard). One call: measure the STANDING drift of the index —
    * cosine between the stored centroid vectors' per-dimension mean
    * (stride centroids are a uniform sample of the build-time corpus,
    * so their mean is its mean) and the live assignment relation's —
    * rebuild over the survivors when it falls below `minCentroidCosine`
    * (or is undefined: a degenerate mean has no direction to trust),
    * audit with [[fsckIvfIndex]], and return one report row:
    * `(n_vectors, centroid_cosine, threshold, rebuilt, fsck_ok,
    * failing_checks)` — the [[graft.engine.IndexLifecycle.forgetAndVerify]]
    * report discipline applied to index maintenance (q250; probe
    * equality with a fresh build is q251 + DriftRebuildSpec).
    *
    * Unlike [[maintainIvfIndex]] (which gates an INCOMING batch), this
    * verb gates the index as it stands — the scheduled-maintenance
    * face: run it on a cadence (or on a [[centroidDriftSink]] alert)
    * and it is a cheap no-op while the centroids still represent the
    * corpus (two dim-mean aggregations + one fsck).
    */
  def rebuildIvfIndexIfDrifted(spark: SparkSession, indexPath: String,
                               minCentroidCosine: Double = 0.9,
                               nCentroids: Int = graft.ops.GuardBounds.DefaultIvfCentroids,
                               kmeansIters: Int = 0): DataFrame = {
    // writer entry: finish or discard any dead purge swap BEFORE the
    // dir-level rebuild swap — a stale marked pswap staging left
    // beside the NEW assignments dir could otherwise be resumed by a
    // later reader over data it no longer describes
    Assignments.heal(spark, indexPath, writer = true)
    val live = liveRows(spark, indexPath, Assignments)
    val cents = Centroids.read(spark, indexPath)
    // drift cosine + live row count ride ONE collect (r15: two
    // sequential jobs, each re-scanning the assignment relation, for
    // two scalars) — two union branches scheduled concurrently
    val stats = centroidDrift(
        cents.select(col("centroid_vec").as("v")), live.select(col("v")), "v")
      .select(lit("d").as("chk"), col("centroid_cosine").as("cos"),
        lit(0L).as("n"))
      .unionByName(live.agg(count(lit(1)).as("n"))
        .select(lit("n").as("chk"), lit(null).cast("double").as("cos"),
          col("n")))
      .collect().map(r => r.getString(0) -> r).toMap
    val cosRow = stats("d")
    val cos = if (cosRow.isNullAt(1)) None else Some(cosRow.getDouble(1))
    val n = stats("n").getLong(2)
    val rebuilt = cos.forall(_ < minCentroidCosine)
    if (rebuilt)
      rebuildIvfFromSurvivors(spark, indexPath, None, "id", "v",
        nCentroids, kmeansIters, "rebuildIvfIndexIfDrifted")
    val failing = fsckIvfIndex(spark, indexPath)
      .filter(!col("ok")).count()
    spark.range(1).select(
      lit(n).as("n_vectors"),
      cos.map(lit(_)).getOrElse(lit(null).cast("double"))
        .as("centroid_cosine"),
      lit(minCentroidCosine).as("threshold"),
      lit(rebuilt).as("rebuilt"),
      lit(failing == 0L).as("fsck_ok"),
      lit(failing).as("failing_checks"))
  }

  /** Integrity audit (fsck) of a persisted raw-vector IVF index — the
    * [[fsckIvfAdcIndex]] contract on the assignments tier: one row per
    * invariant, `(check_name, ok, n_violations, detail)`. Checks: both
    * layout parts exist; the centroid table is non-empty; every
    * assignment's cluster is a real centroid id; ids are unique; every
    * stored norm equals the norm of its stored vector (a corrupted or
    * truncated vector write surfaces here before it silently skews
    * every cosine); no in-flight partition swap and no interrupted
    * rebuild (`.rebuild`/`.retired` remnants are named so an operator
    * knows which recovery to run); tombstone bookkeeping (absent ids
    * are benign). Fault-injection spec'd in FsckSpec.
    */
  def fsckIvfIndex(spark: SparkSession, indexPath: String): DataFrame = {
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(indexPath),
      spark.sparkContext.hadoopConfiguration)
    def ex(sub: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$indexPath/$sub"))
    val partsOk = Seq(Assignments, Centroids).map(_.name).filterNot(ex)
    val layoutRow = Seq(("layout_parts", partsOk.isEmpty, partsOk.size.toLong,
      if (partsOk.isEmpty) "assignments/centroids present"
      else s"missing: ${partsOk.mkString(",")}"))
    if (partsOk.nonEmpty)
      return layoutRow.toDF("check_name", "ok", "n_violations", "detail")
    val cents = Centroids.read(spark, indexPath)
    val nCents = cents.count()
    if (nCents == 0L)
      return (layoutRow ++ Seq(("centroids_nonempty", false, 1L,
          "centroid table has zero rows — no probe can prune; restore " +
            "or rebuild the index")))
        .toDF("check_name", "ok", "n_violations", "detail")
        .orderBy(col("check_name"))
    val asg = Assignments.read(spark, indexPath)
    // ONE id-keyed pass for every assignment invariant (r15, the
    // fsckIvfAdcIndex consolidation on this tier — was 4 sequential
    // full-relation count jobs). Identical counts; null semantics as
    // in fsckIvfAdcIndex (null cluster counts unknown, null tombstone
    // id always counts absent, the old filter's null-drop on the norm
    // comparison becomes when→0).
    val perId = asg
      .join(broadcast(cents.select(col("centroid_id").as("cluster"))
          .distinct().withColumn("_ck", lit(1))),
        Seq("cluster"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("_rows"),
        sum(when(col("_ck").isNull, lit(1L)).otherwise(lit(0L))).as("_uc"),
        sum(when(col("n") =!= sqrt(dot(col("v"), col("v"))), lit(1L))
          .otherwise(lit(0L))).as("_bn"))
    val tsCounts = graft.engine.Layout.tombstones(spark, indexPath)
      .map(_.groupBy(col("id")).agg(count(lit(1)).as("_tm")))
      .getOrElse(spark.range(0).select(col("id"), lit(0L).as("_tm")))
    val agg = perId.join(tsCounts, Seq("id"), "full_outer")
      .agg(
        coalesce(sum(col("_uc")), lit(0L)).as("c1"),
        coalesce(sum(when(col("_rows") > 1, lit(1L)).otherwise(lit(0L))),
          lit(0L)).as("c2"),
        coalesce(sum(col("_bn")), lit(0L)).as("c3"),
        coalesce(sum(when(col("_rows").isNull, col("_tm"))
          .otherwise(lit(0L))), lit(0L)).as("c4"))
      .head()
    val unknownCluster = agg.getLong(0)
    val dupIds = agg.getLong(1)
    val badNorm = agg.getLong(2)
    val tsAbsent = agg.getLong(3)
    val leftovers = graft.engine.IndexLifecycle.swapLeftovers(
        graft.engine.IndexLifecycle.Ivf, spark, indexPath) ++
      Seq(".rebuild", ".retired").filter(ex)
    (layoutRow ++ Seq(
      ("centroids_nonempty", true, 0L, "centroid table has rows"),
      ("clusters_known", unknownCluster == 0L, unknownCluster,
        "every cluster value is a centroid id"),
      ("ids_unique", dupIds == 0L, dupIds, "one assignment row per id"),
      ("norms_consistent", badNorm == 0L, badNorm,
        "every stored norm equals its vector's norm"),
      ("no_swap_leftovers", leftovers.isEmpty, leftovers.size.toLong,
        if (leftovers.isEmpty) "no in-flight swap or rebuild"
        else s"recover: ${leftovers.mkString(",")}"),
      ("tombstones_benign", true, tsAbsent,
        "tombstoned ids absent from assignments are already purged (benign)")))
      .toDF("check_name", "ok", "n_violations", "detail")
      .orderBy(col("check_name"))
  }

  /** Atomic-as-practical index directory swap with CHECKED renames
    * (Hadoop reports most failures by returning false, not throwing):
    * every step must succeed before any backup is deleted — a failed
    * rename aborts loudly with the `.retired` path named, so the
    * originals are always recoverable from `.retired/` (or still live,
    * if the retire step itself was what failed). Only a fully verified
    * swap reclaims the backups. Shared by [[maintainIvfIndex]] and
    * [[maintainIvfAdcIndex]] so the crash-safety argument exists once.
    */
  private def swapIndexDirs(spark: SparkSession, indexPath: String,
                            staging: String,
                            tables: Seq[graft.engine.IndexTable],
                            opName: String): Unit = {
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = p(indexPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val retired = s"$indexPath/.retired"
    fs.delete(p(retired), true)
    if (!fs.mkdirs(p(retired)))
      throw new java.io.IOException(
        s"$opName: could not create backup dir $retired; " +
          "live index untouched, new build left in " + staging)
    def renameOrDie(from: String, to: String, recovery: String): Unit =
      if (!fs.rename(p(from), p(to)))
        throw new java.io.IOException(
          s"$opName: rename $from -> $to failed; $recovery")
    for (part <- tables.map(_.name)) {
      renameOrDie(s"$indexPath/$part", s"$retired/$part",
        s"live index untouched for '$part'; new build left in $staging")
      renameOrDie(s"$staging/$part", s"$indexPath/$part",
        s"originals preserved in $retired — restore them to $indexPath")
    }
    fs.delete(p(retired), true)
    fs.delete(p(staging), true)
  }

  /** The `nProbe` centroid ids of a persisted index nearest `queryVec`
    * (norm `qn`) by cosine, ties by id: ranked driver-side over the
    * k×dim centroid table (bounded, the same collect [[kmeansCentroids]]
    * does).
    */
  private def nearestCentroids(spark: SparkSession, indexPath: String,
                               queryVec: Seq[Double], qn: Double,
                               nProbe: Int): Seq[Long] =
    Centroids.read(spark, indexPath).collect()
      .map { r =>
        val cv = toDouble(r.getSeq[Any](1))
        val cn = math.sqrt(dotD(cv, cv))
        val cos = if (cn == 0) -2.0 else dotD(queryVec, cv) / (qn * cn)
        (cos, r.getLong(0))
      }
      .sortBy { case (c, cid) => (-c, cid) }
      .take(nProbe).map(_._2).toSeq

  /** Probe a persisted IVF index (see [[buildIvfIndex]]) with an explicit
    * query vector: rank centroids driver-side (the centroid table is
    * k×dim — bounded, the same collect [[kmeansCentroids]] already does),
    * then scan ONLY the nProbe winning cluster partitions. The cluster
    * IN-list is literal, so the pruning happens at planning time —
    * `PartitionFilters` on the scan, asserted in PlanSpec.
    */
  def ivfProbe(spark: SparkSession, indexPath: String, queryVec: Seq[Double],
               k: Int, nProbe: Int = 4, excludeId: Option[Long] = None,
               idName: String = "id"): DataFrame = {
    val qn = math.sqrt(dotD(queryVec, queryVec))
    require(qn > 0, "ivfProbe: query vector has zero norm — no cosine direction")
    val probed = nearestCentroids(spark, indexPath, queryVec, qn, nProbe)
    val pruned = liveRows(spark, indexPath, Assignments)
      .filter(col("cluster").isin(probed: _*))
    // Option, not a sentinel: a -1 default would silently shadow a real
    // id -1 in corpora with signed/hash-derived ids
    excludeId.fold(pruned)(x => pruned.filter(col("id") =!= x))
      .withColumn("cos_sim",
        round(dot(col("v"), typedLit(queryVec)) / (col("n") * lit(qn)), 6))
      .orderBy(col("cos_sim").desc, col("id").asc)
      .select(col("id").as(idName), col("cos_sim"))
      .limit(k)
  }

  /** Int8 scalar quantization audit: per-vector scale (absmax/127),
    * reconstruction MSE, and worst per-element error — the storage-
    * compression trade a 100 TB embedding corpus actually makes (4×
    * smaller than float32), surfaced as a per-vector quality report so a
    * pipeline can gate on acceptable loss before switching its index to
    * int8.
    *
    * Determinism/oracle notes: quantization uses `floor(v/scale + 0.5)`
    * (exact in doubles — no round-half-mode divergence between engines),
    * and the MSE comes from the dot-product identity
    * `dot(x,x) - 2s·dot(x,q) + s²·dot(q,q)` over the SAME sequential
    * [[dot]] kernel the oracle's `list_dot_product` matches (q42
    * precedent), so the doubles agree bit-for-bit. Zero vectors have no
    * scale and are excluded. Map-only — no shuffle but the presentation
    * sort.
    */
  def quantizeAudit(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val xd = transform(col(vecCol), v => v.cast("double"))
    emb.select(col(idCol), xd.as("_x"))
      .withColumn("_absmax", array_max(transform(col("_x"), v => abs(v))))
      .filter(col("_absmax") > 0)
      .withColumn("_s", col("_absmax") / lit(127.0))
      // bind _s as a column FIRST: HOF lambdas are interpreted and
      // re-evaluate compound subexpressions once per element
      .withColumn("_q", transform(col("_x"),
        // floor() yields bigint — keep the array double for the dot kernel
        v => floor(v / col("_s") + lit(0.5)).cast("double")))
      .withColumn("_mse",
        (dot(col("_x"), col("_x"))
          - lit(2.0) * col("_s") * dot(col("_x"), col("_q"))
          + col("_s") * col("_s") * dot(col("_q"), col("_q"))) / size(col("_q")))
      .select(col(idCol),
        size(col("_q")).cast("long").as("n_dims"),
        round(col("_s"), 9).as("scale"),
        round(col("_mse"), 12).as("mse"),
        round(array_max(transform(col("_x"),
          v => abs(v - col("_s") * floor(v / col("_s") + lit(0.5))))), 9)
          .as("max_abs_err"))
  }

  /** Embedding-centroid drift between two corpus slices: per-dimension
    * means of each slice's vectors and the cosine between the two mean
    * vectors — the embedding-space face of corpus drift (a new crawl
    * whose centroid rotates away from the old one changed TOPIC even
    * if lengths and vocabulary look stable; complements
    * [[graft.text.TextStats.distributionDrift]] /
    * [[graft.text.TextStats.vocabChurn]]).
    *
    * Numerics: components fix at round-9 DECIMAL(12,9) per row (float
    * inputs are exact in double; round-then-cast per the measured
    * double→decimal convention), so the per-dim sums are exact and
    * order-independent; means re-fix at (12,9) and their products are
    * exact (25,18) — inside precision 38 by construction. Doubles only
    * in the final cosine/norm presentation.
    *
    * Plan: each side is one posexplode + hash agg by dimension (the
    * only corpus passes — dims × rows, map-side partials); the join
    * and final reduction run on the DIM frame (embedding width rows).
    */
  def centroidDrift(a: DataFrame, b: DataFrame, vecCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dimMeans(df: DataFrame, out: String) = df
      .select(posexplode(col(vecCol)).as(Seq("dim", "_v")))
      .select(col("dim"),
        round(col("_v").cast("double"), 9).cast(DecimalType(21, 9)).as("_vd"))
      .groupBy("dim")
      .agg(sum(col("_vd")).as("_s"), count(lit(1)).as("_n"))
      .select(col("dim"),
        round(col("_s").cast("double") / col("_n"), 9)
          .cast(DecimalType(12, 9)).as(out))
    val sums = dimMeans(a, "ma").join(dimMeans(b, "mb"), "dim")
      .agg(count(lit(1)).as("n_dims"),
        sum((col("ma") * col("mb")).cast(DecimalType(38, 18))).as("_ab"),
        sum((col("ma") * col("ma")).cast(DecimalType(38, 18))).as("_aa"),
        sum((col("mb") * col("mb")).cast(DecimalType(38, 18))).as("_bb"))
    sums.select(col("n_dims"),
      when(col("_aa") > 0 && col("_bb") > 0,
        round(col("_ab").cast("double") /
          (sqrt(col("_aa").cast("double")) * sqrt(col("_bb").cast("double"))),
          6)).as("centroid_cosine"),
      round(sqrt(col("_aa").cast("double")), 9).as("norm_a"),
      round(sqrt(col("_bb").cast("double")), 9).as("norm_b"))
  }

  /** [[ivfProbe]] keyed by an id in the source table: fetches the single
    * query vector via a pushed-down id filter (one-row collect), excludes
    * the query row from its own result — the [[cosineTopK]] contract over
    * the persisted index.
    */
  def ivfProbeById(spark: SparkSession, indexPath: String, emb: DataFrame,
                   idCol: String, vecCol: String, queryId: Long, k: Int,
                   nProbe: Int = 4): DataFrame = {
    val qv = toDouble(
      emb.filter(col(idCol) === queryId).select(col(vecCol)).head().getSeq[Any](0))
    ivfProbe(spark, indexPath, qv, k, nProbe, excludeId = Some(queryId),
      idName = idCol)
  }

  /** Filtered ANN: [[ivfProbe]] restricted to vectors whose id passes a
    * metadata predicate — every vector store's "search WHERE label = X"
    * verb. The index itself stays metadata-free (one index serves every
    * predicate); the filter arrives as an id frame (`allowedIds`,
    * single column named `id`) semi-joined onto the PRUNED assignments,
    * so the join's left side is already cut to the nProbe cluster dirs
    * and the right side to the predicate's selectivity — neither the
    * corpus nor the full index is ever scanned.
    *
    * The filter makes the probe dig DEEPER into the neighbor list than
    * an unfiltered top-k (the best k matches UNDER the predicate may
    * sit at global rank ≫ k), so filtered probes need a wider `nProbe`
    * for the same recall — measured (DevFilteredRecall): a
    * 10%-selectivity filter on the isotropic testdata needs
    * nProbe = nCentroids for total recall at sf0.01. That measurement
    * is why [[filteredTopK]] routes SELECTIVE predicates to an exact
    * scan and reserves this probe for broad ones, where partial recall
    * is the accepted trade; callers trade probe width for recall
    * exactly as with [[ivfProbe]].
    */
  def ivfProbeWhere(spark: SparkSession, indexPath: String,
                    allowedIds: DataFrame, queryVec: Seq[Double], k: Int,
                    nProbe: Int = 8, excludeId: Option[Long] = None,
                    idName: String = "id"): DataFrame = {
    val qn = math.sqrt(dotD(queryVec, queryVec))
    require(qn > 0, "ivfProbeWhere: query vector has zero norm — no cosine direction")
    require(allowedIds.columns.sameElements(Array("id")),
      s"ivfProbeWhere: allowedIds must be a single `id` column, got ${allowedIds.columns.mkString(",")}")
    val probed = nearestCentroids(spark, indexPath, queryVec, qn, nProbe)
    val pruned = liveRows(spark, indexPath, Assignments)
      .filter(col("cluster").isin(probed: _*))
      .join(allowedIds, Seq("id"), "left_semi")
    excludeId.fold(pruned)(x => pruned.filter(col("id") =!= x))
      .withColumn("cos_sim",
        round(dot(col("v"), typedLit(queryVec)) / (col("n") * lit(qn)), 6))
      .orderBy(col("cos_sim").desc, col("id").asc)
      .select(col("id").as(idName), col("cos_sim"))
      .limit(k)
  }

  /** [[ivfProbeWhere]] keyed by an id in the source table (the
    * [[ivfProbeById]] convenience over the filtered probe). */
  def ivfProbeByIdWhere(spark: SparkSession, indexPath: String,
                        emb: DataFrame, idCol: String, vecCol: String,
                        allowedIds: DataFrame, queryId: Long, k: Int,
                        nProbe: Int = 8): DataFrame = {
    val qv = toDouble(
      emb.filter(col(idCol) === queryId).select(col(vecCol)).head().getSeq[Any](0))
    ivfProbeWhere(spark, indexPath, allowedIds, qv, k, nProbe,
      excludeId = Some(queryId), idName = idCol)
  }

  /** The batch (JOIN) form of [[ivfProbe]] — [[ivfAdcProbeJoin]]'s
    * many-query shape on the RAW-vector IVF index: for every vector in
    * `queries` (`(query_id, vec)`), its k nearest index entries by
    * exact cosine over the probed clusters, in ONE distributed plan.
    * One row per (query, neighbour): `(query_id, <idName>, cos_sim)`,
    * per-query rows identical to [[ivfProbeById]] run query-by-query
    * (same probed-centroid ranking, same rounded cosine, same tie
    * order — the law RetrievalSpec pins).
    *
    * Shape, all batch-proportional (the ivfAdcProbeJoin scaffold):
    * centroid ranking is a broadcast NL join of the batch against the
    * small centroid table + one per-query top-nProbe window; the
    * assignments scan partition-prunes to the UNION of probed clusters
    * (≤ nCentroids literal IN — collected cluster IDS, never vectors);
    * candidates = pruned assignments ⋈ (query, cluster) pairs so each
    * query meets only its own probed lists; the stored `(v, n)` give
    * the cosine as one codegen'd dot per candidate (no corpus re-read,
    * no re-norm); per-query top-k is one window. Zero-norm query rows
    * are EXCLUDED (the batch convention of [[ivfAdcProbeJoin]]: one
    * bad row must not fail the join; absence is the signal), and the
    * hot-list refusal guards the degenerate-quantizer melt with the
    * offender named.
    */
  def ivfProbeJoin(spark: SparkSession, indexPath: String,
                   queries: DataFrame, idCol: String, vecCol: String,
                   k: Int, nProbe: Int = 4, idName: String = "id",
                   maxCandidates: Long = graft.ops.GuardBounds.ProbeJoinMaxCandidates): DataFrame = {
    val cents = Centroids.read(spark, indexPath)
    val q = queries.select(col(idCol).cast("long").as("query_id"),
        transform(col(vecCol), x => x.cast("double")).as("_qv"))
      .filter(dot(col("_qv"), col("_qv")) > 0)
      .withColumn("_qn", sqrt(dot(col("_qv"), col("_qv"))))
    val perQuery = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
    val probeAsg = graft.engine.Caches.persisted("ivfProbeJoin.probes",
      q.select(col("query_id"), col("_qv")).crossJoin(broadcast(cents))
        .withColumn("_cos", cosine(col("centroid_vec"), col("_qv")))
        .withColumn("_rn", row_number().over(
          perQuery.orderBy(col("_cos").desc, col("centroid_id").asc)))
        .filter(col("_rn") <= nProbe)
        .select(col("query_id"), col("centroid_id").as("cluster")))
    val probedClusters = probeAsg.select(col("cluster")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val pruned = liveRows(spark, indexPath, Assignments)
      .filter(col("cluster").isin(probedClusters: _*))
    val listSizes = pruned
      .groupBy(col("cluster")).agg(count(lit(1)).as("_n"))
    val planned = probeAsg.join(broadcast(listSizes), Seq("cluster"))
      .agg(sum(col("_n")).as("c"), max(col("_n")).as("hot")).head()
    val nCand = if (planned.isNullAt(0)) 0L else planned.getLong(0)
    require(nCand <= maxCandidates,
      s"ivfProbeJoin: ${nCand} candidate rows planned " +
        s"(maxCandidates=$maxCandidates); hottest probed list holds " +
        s"${planned.getLong(1)} vectors — rebuild with more centroids " +
        "or probe in smaller query batches")
    pruned.join(probeAsg.hint("shuffle_hash"), Seq("cluster"))
      .filter(col("id") =!= col("query_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos_sim",
        round(dot(col("v"), col("_qv")) / (col("n") * col("_qn")), 6))
      .withColumn("_rk", row_number().over(
        perQuery.orderBy(col("cos_sim").desc, col("id").asc)))
      .filter(col("_rk") <= k)
      .select(col("query_id"), col("id").as(idName), col("cos_sim"))
  }

  /** Adaptive filtered search — the strategy switch every production
    * vector store ships (Qdrant/pgvector's "use the index only when
    * the filter is broad"): a SELECTIVE predicate makes the filtered
    * candidate set small enough that an exact scan over it is both
    * cheaper and recall-total, while a BROAD predicate keeps the
    * IVF probe worthwhile.
    *
    *   - |allowedIds| ≤ `bruteForceBelow` → exact cosine over the
    *     semi-joined corpus (prefilter; scan bounded by the predicate's
    *     own selectivity, recall 1.0 by construction);
    *   - above → [[ivfProbeWhere]] (partition-pruned probe +
    *     predicate semi-join; recall governed by `nProbe` — measured
    *     on the isotropic testdata corpora, a 10%-selectivity filter
    *     needs nProbe = nCentroids for total recall at sf0.01
    *     (DevFilteredRecall), which is exactly why the selective case
    *     must NOT take this path).
    *
    * The one switch `count()` runs on the predicate's id frame — a
    * metadata-side aggregate, not a corpus scan. The q243 gate runs
    * the selective path (the testdata label predicate keeps ≤10% of
    * ≤2k vectors), so its oracle is the exact filtered scan,
    * corpus-unconditional; the probe path is law-tested
    * (RetrievalSpec: probe@full-width ≡ exact, hits always satisfy
    * the predicate).
    */
  def filteredTopK(spark: SparkSession, indexPath: String, emb: DataFrame,
                   idCol: String, vecCol: String, allowedIds: DataFrame,
                   queryId: Long, k: Int, nProbe: Int = 8,
                   bruteForceBelow: Long = 100000L): DataFrame = {
    require(allowedIds.columns.sameElements(Array("id")),
      s"filteredTopK: allowedIds must be a single `id` column, got ${allowedIds.columns.mkString(",")}")
    // zero-norm queries fail LOUDLY on both paths (ADVICE r13: the
    // exact path used to return silently-empty where the probe path's
    // require fired — same input, selectivity-dependent behavior)
    val qRows = emb.filter(col(idCol) === queryId)
      .select(dot(col(vecCol), col(vecCol)).as("_n2")).limit(1).collect()
    require(qRows.nonEmpty,
      s"filteredTopK: query id $queryId not found in the corpus")
    require(qRows(0).getDouble(0) > 0,
      s"filteredTopK: query vector $queryId has zero norm — cosine " +
        "similarity is undefined for it")
    if (allowedIds.count() <= bruteForceBelow) {
      // exact prefilter path: query row fetched from the UNFILTERED
      // corpus (the query need not satisfy its own predicate), corpus
      // side semi-joined down to the allowed ids
      val q = emb.filter(col(idCol) === queryId).select(col(vecCol).as("_q"))
      emb.join(allowedIds.withColumnRenamed("id", idCol), Seq(idCol), "left_semi")
        .filter(col(idCol) =!= queryId)
        .filter(dot(col(vecCol), col(vecCol)) > 0)
        .crossJoin(broadcast(q))
        .withColumn("cos_sim", round(cosine(col(vecCol), col("_q")), 6))
        .orderBy(col("cos_sim").desc, col(idCol).asc)
        .select(col(idCol), col("cos_sim"))
        .limit(k)
    } else
      ivfProbeByIdWhere(spark, indexPath, emb, idCol, vecCol, allowedIds,
        queryId, k, nProbe)
  }

  /** Index-quality gate: recall@k of the PQ/ADC scan ([[pqTopK]])
    * against the exact cosine scan ([[cosineTopK]]) for one probe —
    * the number every ANN deployment watches before trusting an index
    * (a PQ configuration whose recall drifts under data growth needs
    * more codewords or a rerank stage). One row: k, overlap, recall
    * (unrounded exact-integer quotient). The oracle splices both
    * component queries' own SQL, so the gate certifies the
    * composition, not a re-derivation.
    *
    * Note the two scans rank by DIFFERENT geometries (cosine vs L2² on
    * quantized codes) — recall is exactly the overlap a user of the
    * approximate index experiences, not a same-metric tautology.
    */
  def annRecall(emb: DataFrame, idCol: String, vecCol: String,
                queryId: Long, k: Int, nSub: Int = 4, nCodes: Int = 16,
                trainIters: Int = 0): DataFrame = {
    // single-reference plan: a LEFT join with a hit flag folds the
    // overlap count and the reference count into one agg over ONE
    // exact scan — the old shape derived `exact` twice per execution
    // (q209 discipline; an eager checkpoint of the k-row frame was
    // measured slower, round-8 lesson)
    val exact = cosineTopK(emb, idCol, vecCol, queryId, k)
      .select(col(idCol))
    val approx = pqTopK(emb, idCol, vecCol, queryId, k, nSub, nCodes,
        trainIters)
      .select(col(idCol), lit(1L).as("_hit"))
    // recall@min(k, n): on a corpus with fewer than k candidate vectors
    // the exact scan returns fewer than k rows, and dividing by the
    // REQUESTED k would understate recall (it could never reach 1.0) —
    // divide by the exact result count instead (round-8 advice). An
    // empty reference set has no recall to measure: report 0.
    exact.join(broadcast(approx), Seq(idCol), "left")
      .agg(count(lit(1)).as("_ne"),
        coalesce(sum(coalesce(col("_hit"), lit(0L))), lit(0L))
          .as("n_overlap"))
      .select(lit(k).as("k"), col("n_overlap"),
        when(col("_ne") === 0, lit(0.0))
          .otherwise(col("n_overlap") / least(lit(k).cast("long"), col("_ne")))
          .as("recall"))
  }

  /** Product-quantization ADC (asymmetric distance computation) top-k:
    * split the d-dim space into `nSub` subspaces, quantize every
    * vector to its nearest codeword per subspace, and rank candidates
    * by the sum of per-subspace L2² distances between the QUERY (kept
    * exact) and each vector's codewords — Jégou, Douze & Schmid 2011's
    * ADC scan without the coarse quantizer (compose with
    * [[buildIvfIndex]] for IVFADC).
    *
    * Codebook: the subvectors of the `nCodes` smallest-id vectors — a
    * deterministic sample initialization. Codebooks are a PARAMETER of
    * PQ (k-means refinement via [[kmeansCentroids]] slots in), but a
    * reproducible closed-form choice makes the whole operator
    * oracle-checkable end to end. Assignment: argmin codeword by L2²
    * via the dot identity d² = ⟨a,a⟩ − 2⟨a,b⟩ + ⟨b,b⟩ on the proven
    * [[dot]] kernel (q42 precedent: bit-equal to `list_dot_product`);
    * ties → smaller codeword id.
    *
    * Determinism: per-subspace query distances fix to the 12-dp grid
    * and sum as exact DECIMAL(28,12) — nSub doubles summed in shuffle
    * order would not be reproducible; ranking is (adc asc, id asc).
    *
    * Scale: codebook and query-distance table broadcast (nSub·nCodes
    * rows); assignment explodes ×nSub·nCodes map-side and collapses by
    * partial-agg argmin before the (id, s) shuffle; the final rank is
    * one hash agg + TakeOrderedAndProject. The assignment pass reads
    * each vector once — exactly the PQ economics (a real index would
    * PERSIST the codes; the operator recomputes them so the gate is
    * self-contained).
    */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String, queryId: Long,
             k: Int, nSub: Int = 4, nCodes: Int = 16,
             trainIters: Int = 0): DataFrame =
    adcTopK(emb, idCol, vecCol, queryId, k, nSub, nCodes, trainIters, None)

  /** IVFADC (Jégou, Douze & Schmid 2011 §III: "searching with an
    * inverted file"): the IVF coarse quantizer prunes the scan to the
    * `nProbe` nearest lists and the ADC pass ranks only the survivors
    * with the full-corpus-trained PQ codebook — the composition both
    * halves' scaladocs promise, and the ANN shape that holds at
    * 100 TB: scan cost is ~nProbe/nCentroids of the code table while
    * codebook/probe tables stay broadcast-sized. In a production index
    * the codes and list assignments persist at build time
    * ([[buildIvfIndex]]); this entry point recomputes both so the gate
    * stays self-contained.
    *
    * Simplification vs the paper, documented deliberately: ADC runs on
    * RAW subvectors, not per-list RESIDUALS (v − centroid). Residual
    * encoding buys recall at equal code budget but needs a distance
    * table per probed list; on this corpus the raw variant reads 9/10
    * overlap with the unpruned ADC scan at nProbe=4 (the one lost
    * neighbor lives in an unprobed list — the standard IVF
    * recall-for-cost dial, raise nProbe to buy it back), and the raw
    * form keeps ONE codebook oracle-replayable end to end.
    */
  def ivfAdcTopK(emb: DataFrame, idCol: String, vecCol: String,
                 queryId: Long, k: Int, nCentroids: Int = graft.ops.GuardBounds.DefaultIvfCentroids,
                 nProbe: Int = 4, nSub: Int = 16, nCodes: Int = 64,
                 trainIters: Int = 1): DataFrame = {
    val cents = centroids(emb, idCol, vecCol, nCentroids)
    val asg = ivfAssign(emb, cents, idCol, vecCol)
    // zero-norm query ⇒ empty q ⇒ empty result — the same behavior as
    // a missing query id, and no ANSI 0/0 in the cosine (the
    // ivfAssign/normed zero-vector convention at the query site)
    val q = emb.filter(col(idCol) === queryId).select(col(vecCol).as("_q"))
      .filter(dot(col("_q"), col("_q")) > 0)
    val probed = cents.crossJoin(broadcast(q))
      .withColumn("_cos", cosine(col("centroid_vec"), col("_q")))
      .orderBy(col("_cos").desc, col("centroid_id").asc)
      .limit(nProbe)
      .select(col("centroid_id").as("cluster"))
    val candidates = asg.join(broadcast(probed), "cluster")
      .select(col(idCol))
    adcTopK(emb, idCol, vecCol, queryId, k, nSub, nCodes, trainIters,
      Some(candidates))
  }

  /** RESIDUAL-encoded IVFADC — Jégou, Douze & Schmid 2011 §III in the
    * paper's actual form, where [[ivfAdcTopK]] deliberately simplified:
    * every vector is PQ-coded on its RESIDUAL `v − c(v)` (the
    * difference from its coarse centroid), and a probe builds ONE
    * distance table per probed list from the query's per-list residual
    * `q − c_ℓ`. Residuals concentrate near zero regardless of where a
    * list sits in space, so the shared codebook spends its 16×64
    * budget on local displacement instead of absolute position — the
    * standard recall-for-same-bytes lever on clustered real-world data.
    * MEASURED FINDING (q207, round-10): on the gate corpus the lever
    * INVERTS — recall@10 reads 0.3 vs the raw form's 0.5 at sf0.1 —
    * because the synthetic embeddings are isotropic: the 16 coarse
    * centroids are just sample vectors, ‖v − c‖ ≈ √(‖v‖² + ‖c‖²) > ‖v‖,
    * so residuals are LARGER than the originals and quantization error
    * grows. The operator stays (it is the paper's actual form, fully
    * oracle-replayed, and the right choice on clustered corpora); the
    * recall lever that works on any geometry is the exact re-rank
    * ([[ivfAdcRerankTopK]]: 1.0 at the same probe budget).
    *
    * Determinism/oracle parity: residuals are elementwise double
    * subtractions (exact IEEE in both engines); training, assignment,
    * and distance tables reuse the SAME Lloyd/argmin/12-dp-decimal
    * arithmetic as the raw family, just over residual subvectors, so
    * the DuckDB oracle replays everything bit-for-bit (q206). Scale
    * shape is [[ivfAdcTopK]]'s: codebook + nProbe distance tables stay
    * broadcast-sized (nProbe·nSub·nCodes rows), the code-assignment
    * scan restricts to probed lists, and candidates join their OWN
    * list's table on (cluster, subspace, code).
    */
  def ivfRAdcTopK(emb: DataFrame, idCol: String, vecCol: String,
                  queryId: Long, k: Int,
                  nCentroids: Int = graft.ops.GuardBounds.DefaultIvfCentroids,
                  nProbe: Int = 4, nSub: Int = 16, nCodes: Int = 64,
                  trainIters: Int = 1): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dimRow = emb.select(size(col(vecCol)).as("d")).head(1)
    if (dimRow.isEmpty)
      return emb.select(col(idCol).cast("long").as(idCol),
        lit(0.0).as("adc_dist")).limit(0)
    val dim = dimRow.head.getInt(0)
    require(dim % nSub == 0,
      s"dim $dim does not split into $nSub equal subspaces")
    val w = dim / nSub
    val cents = centroids(emb, idCol, vecCol, nCentroids)
    val asg = ivfAssign(emb, cents, idCol, vecCol)
      .select(col(idCol).cast("long").as("id"), col("cluster"))
    // residual vectors: v − centroid(cluster(v)), elementwise doubles
    val resVec = emb
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("_v"))
      .join(asg, "id")
      .join(broadcast(cents.select(col("centroid_id").as("cluster"),
        col("centroid_vec").as("_c"))), Seq("cluster"))
      .select(col("id"), col("cluster"),
        zip_with(col("_v"), col("_c"),
          (a, b) => a.cast("double") - b.cast("double")).as("_r"))
    val base = graft.engine.Caches.persisted("ivfRAdcTopK.base",
      pqSubvectors(resVec, "id", "_r", nSub, w))
    val cb = pqCbDf(emb.sparkSession,
      trainPqCodebook(base, emb, idCol, nCodes, trainIters))
    // probe: coarse ranking, keeping each probed list's centroid for
    // its residual table
    // zero-norm query ⇒ empty q ⇒ empty result — the same behavior as
    // a missing query id, and no ANSI 0/0 in the cosine (the
    // ivfAssign/normed zero-vector convention at the query site)
    val q = emb.filter(col(idCol) === queryId).select(col(vecCol).as("_q"))
      .filter(dot(col("_q"), col("_q")) > 0)
    val probed = graft.engine.Caches.persisted("ivfRAdcTopK.probed",
      cents.crossJoin(broadcast(q))
        .withColumn("_cos", cosine(col("centroid_vec"), col("_q")))
        .orderBy(col("_cos").desc, col("centroid_id").asc)
        .limit(nProbe)
        .select(col("centroid_id").as("cluster"), col("centroid_vec"),
          col("_q")))
    // one distance table PER probed list from the per-list residual
    val qres = probed.select(col("cluster"),
      zip_with(col("_q"), col("centroid_vec"),
        (a, b) => a.cast("double") - b.cast("double")).as("_qr"))
    val qsub = pqSubvectors(qres, "cluster", "_qr", nSub, w)
      .select(col("id").as("dcluster"), col("s").as("qs"), col("sv").as("qv"))
    val qd = cb.join(broadcast(qsub), col("cs") === col("qs"))
      .select(col("dcluster"), col("cs").as("ds"), col("code").as("dcode"),
        round(pqD2(col("qv"), col("cw")), 12).cast(DecimalType(28, 12))
          .as("qdist"))
    // code-assignment scan restricted to probed-list survivors (the
    // IVF economics); each candidate meets its OWN list's table
    val candIds = asg.join(broadcast(probed.select(col("cluster"))),
      Seq("cluster"))
    val codes = pqAssignCodes(
      base.join(candIds.select(col("id")).hint("shuffle_hash"),
        Seq("id"), "left_semi"), cb)
    codes.join(candIds, Seq("id"))
      .filter(col("id") =!= queryId)
      .join(broadcast(qd),
        col("cluster") === col("dcluster") &&
          col("s") === col("ds") && col("code") === col("dcode"))
      .groupBy(col("id"))
      .agg(sum(col("qdist")).as("_adc"))
      .orderBy(col("_adc").asc, col("id").asc)
      .select(col("id").as(idCol),
        round(col("_adc").cast("double"), 6).as("adc_dist"))
      .limit(k)
  }

  /** Exact-cosine re-rank of a bounded candidate id set — the second
    * stage of [[ivfAdcRerankTopK]]/[[ivfAdcProbeRerankById]], shared so
    * both reranked entry points use identical arithmetic (and exactly
    * [[cosineTopK]]'s: same kernel, 6-dp round, (cos desc, id asc)
    * ties — the oracle splices the plain cosine SQL over the
    * shortlist).
    */
  private def rerankExact(emb: DataFrame, ids: DataFrame, idCol: String,
                          vecCol: String, queryId: Long, k: Int): DataFrame = {
    // zero-norm query ⇒ empty q ⇒ empty result — the same behavior as
    // a missing query id, and no ANSI 0/0 in the cosine (the
    // ivfAssign/normed zero-vector convention at the query site)
    val q = emb.filter(col(idCol) === queryId).select(col(vecCol).as("_q"))
      .filter(dot(col("_q"), col("_q")) > 0)
    emb.join(broadcast(ids), Seq(idCol), "left_semi")
      // the ADC shortlist may hold a zero vector (the IVF-ADC index codes
      // every vector): no cosine direction, so excluded as in cosineTopK
      .filter(dot(col(vecCol), col(vecCol)) > 0)
      .crossJoin(broadcast(q))
      .withColumn("cos_sim", round(cosine(col(vecCol), col("_q")), 6))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .select(col(idCol), col("cos_sim"))
      .limit(k)
  }

  /** IVFADC with EXACT RE-RANKING (the Jégou et al. §III-C refinement
    * stage, done with raw vectors): take the ADC scan's top-`shortlist`
    * candidates, then rank those by exact cosine. ADC's job collapses
    * to building a shortlist that CONTAINS the true neighbors — far
    * easier than ranking them — so recall survives quantization error:
    * measured on the gate corpus (sf0.1), ADC@10 alone reads 0.5 while
    * rerank(100)@10 reads 1.0, and the nProbe=4 pruning ceiling is 1.0
    * (DevRecallProbe), i.e. the refit recovers everything pruning kept.
    * Cost: the ADC scan unchanged + one `shortlist`-row broadcast
    * semi-join against the source table + a shortlist-sized exact pass
    * — the two-stage shape production ANN actually deploys at 100 TB
    * (codes rank cheaply, raw vectors load only for the shortlist).
    */
  def ivfAdcRerankTopK(emb: DataFrame, idCol: String, vecCol: String,
                       queryId: Long, k: Int, shortlist: Int = 50,
                       nCentroids: Int = graft.ops.GuardBounds.DefaultIvfCentroids,
                       nProbe: Int = 4, nSub: Int = 16, nCodes: Int = 64,
                       trainIters: Int = 1): DataFrame = {
    require(shortlist >= k,
      s"shortlist ($shortlist) must be >= k ($k)")
    val short = ivfAdcTopK(emb, idCol, vecCol, queryId, shortlist,
      nCentroids, nProbe, nSub, nCodes, trainIters).select(col(idCol))
    rerankExact(emb, short, idCol, vecCol, queryId, k)
  }

  /** [[ivfAdcRerankTopK]] against a PERSISTED index: the shortlist
    * comes from the partition-pruned code probe ([[ivfAdcProbeById]])
    * and only the shortlist's raw vectors are touched in the source
    * table — the production probe path with the recall of an exact
    * scan over everything the coarse pruning kept.
    */
  def ivfAdcProbeRerankById(spark: SparkSession, indexPath: String,
                            emb: DataFrame, idCol: String, vecCol: String,
                            queryId: Long, k: Int, shortlist: Int = 50,
                            nProbe: Int = 4): DataFrame = {
    require(shortlist >= k,
      s"shortlist ($shortlist) must be >= k ($k)")
    val short = ivfAdcProbeById(spark, indexPath, emb, idCol, vecCol,
      queryId, shortlist, nProbe).select(col(idCol))
    rerankExact(emb, short, idCol, vecCol, queryId, k)
  }

  /** Shared ADC engine: [[pqTopK]] scans every code; [[ivfAdcTopK]]
    * passes the probed-list survivors as `restrictTo` (one id column).
    * The codebook always trains on the FULL input (index-build
    * semantics); only the scan is restricted.
    */
  private def adcTopK(emb: DataFrame, idCol: String, vecCol: String,
                      queryId: Long, k: Int, nSub: Int, nCodes: Int,
                      trainIters: Int,
                      restrictTo: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(nSub > 0 && nCodes > 0 && k > 0,
      s"nSub/nCodes/k must be positive, got $nSub/$nCodes/$k")
    val dimRow = emb.select(size(col(vecCol)).as("d")).head(1)
    if (dimRow.isEmpty) // empty corpus: empty result, not a head() crash
      return emb.select(col(idCol).cast("long").as(idCol),
        lit(0.0).as("adc_dist")).limit(0)
    val dim = dimRow.head.getInt(0)
    require(dim % nSub == 0,
      s"dim $dim does not split into $nSub equal subspaces")
    val w = dim / nSub
    // the exploded subvector table feeds trainIters+2 jobs (each Lloyd
    // pass, the code-assignment scan, the query subvectors) — persist
    // once under the cache contract instead of re-reading the source
    // per job
    val base = graft.engine.Caches.persisted("adcTopK.base",
      pqSubvectors(emb, idCol, vecCol, nSub, w))
    val cb = pqCbDf(emb.sparkSession,
      trainPqCodebook(base, emb, idCol, nCodes, trainIters))
    // the ADC scan: full table for pqTopK, probed lists for ivfAdcTopK.
    // The candidate set is ~nProbe/nCentroids of the corpus — NOT
    // broadcastable at scale — so the semi-join takes the sortless
    // shuffle-hash shape (the pair family's broadcast fallback
    // posture; a persisted index prunes cluster PARTITIONS instead,
    // see buildIvfAdcIndex/ivfAdcProbe)
    val scanBase = restrictTo.fold(base)(ids =>
      base.join(
        ids.select(col(ids.columns.head).cast("long").as("id"))
          .hint("shuffle_hash"),
        Seq("id"), "left_semi"))
    val codes = pqAssignCodes(scanBase, cb)
    val qsub = base.filter(col("id") === queryId)
      .select(col("s").as("qs"), col("sv").as("qv"))
    val qd = pqDistanceTable(cb, qsub)
    adcRank(codes.filter(col("id") =!= queryId), qd, idCol, k)
  }

  /** The exploded (id, s, sv) subvector relation PQ operates on —
    * subspace s holds elements [s·w, (s+1)·w) as doubles.
    */
  private def pqSubvectors(emb: DataFrame, idCol: String, vecCol: String,
                           nSub: Int, w: Int): DataFrame =
    emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("_v"))
      .select(col("id"), explode(sequence(lit(0), lit(nSub - 1))).as("s"),
        col("_v"))
      .select(col("id"), col("s"),
        transform(slice(col("_v"), col("s") * w + 1, lit(w)),
          v => v.cast("double")).as("sv"))

  /** Squared L2 via the dot identity — the one distance kernel every
    * PQ half (training, code assignment, distance table) shares.
    */
  private def pqD2(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  private val pqCbSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cs",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("code",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cw",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))))

  private def pqCbDf(spark: SparkSession,
                     rows: Seq[(Int, Long, Seq[Double])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3)), 1),
      pqCbSchema)

  /** Lloyd training per subspace (Jégou et al. §II.C train the
    * sub-quantizers with k-means; the sample init alone measured
    * recall 0.1-0.6 on the synthetic corpus, round-8 verdict): each
    * iteration reassigns every subvector to its nearest codeword and
    * recenters codewords on the element-wise mean of their members.
    * Deterministic + engine-portable: means are exact DECIMAL(27,10)
    * sums divided by counts, fixed to the 6-dp grid (the q71
    * labelCentroids arithmetic), ties argmin by code asc, arrays
    * rebuilt by explicit pos sort — so the DuckDB oracle replays the
    * training bit-for-bit with unrolled CTEs. A codeword that loses
    * every member keeps its previous value, keeping k stable. At
    * corpus scale train on a SAMPLE (codebooks are k·d-sized; the
    * full-corpus pass here keeps the gate self-contained at test SF).
    *
    * The codebook is nSub·nCodes rows (k·d-sized, NOT corpus-sized) —
    * held as a DRIVER-LOCAL literal between Lloyd passes. Chaining it
    * as a DataFrame instead is a correctness-preserving but
    * exponential-plan trap: cb_i references cb_{i-1} twice (reassign +
    * coalesce refresh) and the final ADC scan references the trained
    * codebook three times, so iteration T's lineage re-executes the
    * whole training 2^T·3 times. All ARITHMETIC (decimal sums, 6-dp
    * rounding, argmin ties) stays in Spark; the driver only carries
    * the literal table, so the DuckDB oracle replay is bit-identical.
    */
  private def trainPqCodebook(base: DataFrame, emb: DataFrame, idCol: String,
                              nCodes: Int,
                              trainIters: Int): Seq[(Int, Long, Seq[Double])] = {
    import org.apache.spark.sql.types.DecimalType
    val spark = emb.sparkSession
    val cbIds = emb.select(col(idCol).cast("long").as("id"))
      .orderBy(col("id").asc).limit(nCodes)
    var cbLocal: Seq[(Int, Long, Seq[Double])] =
      base.join(broadcast(cbIds), "id")
        .select(col("s").as("cs"), col("id").as("code"), col("sv").as("cw"))
        .collect().toSeq
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
        .sortBy(r => (r._1, r._2))
    for (_ <- 1 to trainIters) {
      // sv rides the argmin aggregate (first() is exact: sv is constant
      // per (id, s)) — re-attaching it with a corpus-sized self-join
      // would add a sort-merge shuffle the plan pin forbids
      val asg = base.join(broadcast(pqCbDf(spark, cbLocal)),
          col("s") === col("cs"))
        .withColumn("_d", pqD2(col("sv"), col("cw")))
        .groupBy(col("id"), col("s"))
        .agg(min(struct(col("_d").as("d"), col("code").as("c")))
          .getField("c").as("code"),
          first(col("sv")).as("sv"))
      val means = asg
        .select(col("s"), col("code"), posexplode(col("sv")).as(Seq("pos", "e")))
        .groupBy(col("s"), col("code"), col("pos"))
        .agg(round(sum(col("e").cast(DecimalType(27, 10))).cast("double") /
          count(lit(1)), 6).as("m"))
        .groupBy(col("s").as("ms"), col("code").as("mcode"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("cw2"))
      // codebook refresh on the driver: keep a codeword that lost every
      // member at its previous value, keeping k stable
      val refreshed = means.collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2)).toMap
      cbLocal = cbLocal.map { case (s, code, cw) =>
        (s, code, refreshed.getOrElse((s, code), cw)) }
    }
    cbLocal
  }

  /** Nearest-codeword assignment per (id, subspace) — ties argmin by
    * code asc via the struct-min, the training convention.
    */
  private def pqAssignCodes(subvectors: DataFrame, cb: DataFrame): DataFrame =
    subvectors.join(broadcast(cb), col("s") === col("cs"))
      .withColumn("_d", pqD2(col("sv"), col("cw")))
      .groupBy(col("id"), col("s"))
      .agg(min(struct(col("_d").as("d"), col("code").as("c")))
        .getField("c").as("code"))

  /** The ADC distance table: per (subspace, code), the squared L2 from
    * the query's subvector to the codeword, fixed to a 12-dp decimal so
    * the corpus-side SUM is exact and order-independent. `qsub` is
    * `(qs, qv)` — the query's subvectors.
    */
  private def pqDistanceTable(cb: DataFrame, qsub: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    cb.join(broadcast(qsub), col("cs") === col("qs"))
      .select(col("cs").as("ds"), col("code").as("dcode"),
        round(pqD2(col("qv"), col("cw")), 12).cast(DecimalType(28, 12))
          .as("qdist"))
  }

  /** Sum each candidate's per-subspace table distances and take the
    * k nearest (ties by id asc) — the ADC ranking every PQ scan ends
    * with.
    */
  private def adcRank(codes: DataFrame, qd: DataFrame, idName: String,
                      k: Int): DataFrame =
    codes
      .join(broadcast(qd),
        col("s") === col("ds") && col("code") === col("dcode"))
      .groupBy(col("id"))
      .agg(sum(col("qdist")).as("_adc"))
      .orderBy(col("_adc").asc, col("id").asc)
      .select(col("id").as(idName),
        round(col("_adc").cast("double"), 6).as("adc_dist"))
      .limit(k)

  /** Build a PERSISTED IVFADC index (Jégou et al. 2011 §III as a disk
    * layout): the coarse quantizer's cluster-partitioned directory tree
    * holds each vector's PQ CODES — nSub small integers per vector, the
    * representation whose whole point is that the raw vectors need not
    * be stored or scanned — plus the trained codebook and centroid
    * tables. A probe ([[ivfAdcProbe]]) partition-prunes to nProbe
    * cluster dirs and ranks survivors entirely from codes + the
    * k·d-sized distance table. Same coarse quantizer as
    * [[buildIvfIndex]] (stride centroids, cosine argmax) and same
    * trained-PQ arithmetic as [[ivfAdcTopK]], so a probe of this index
    * reproduces the self-contained operator's ranking bit-for-bit —
    * which is exactly how the q196 gate certifies it.
    */
  def buildIvfAdcIndex(emb: DataFrame, idCol: String, vecCol: String,
                       indexPath: String, nCentroids: Int = graft.ops.GuardBounds.DefaultIvfCentroids,
                       nSub: Int = 16, nCodes: Int = 64,
                       trainIters: Int = 1): Unit = {
    require(nSub > 0 && nCodes > 0,
      s"nSub/nCodes must be positive, got $nSub/$nCodes")
    val dimRow = emb.select(size(col(vecCol)).as("d")).head(1)
    if (dimRow.isEmpty) return // empty corpus: nothing to index
    val dim = dimRow.head.getInt(0)
    require(dim % nSub == 0,
      s"dim $dim does not split into $nSub equal subspaces")
    val w = dim / nSub
    val base = graft.engine.Caches.persisted("buildIvfAdcIndex.base",
      pqSubvectors(emb, idCol, vecCol, nSub, w))
    val cbLocal = trainPqCodebook(base, emb, idCol, nCodes, trainIters)
    val cb = pqCbDf(emb.sparkSession, cbLocal)
    val codes = pqAssignCodes(base, cb)
      .groupBy(col("id"))
      .agg(transform(array_sort(collect_list(struct(col("s"), col("code")))),
        x => x.getField("code")).as("codes"))
    val cents = centroids(emb, idCol, vecCol, nCentroids)
    val assigned = ivfAssignEvery(emb, cents, idCol, vecCol)
    Codes.write(codes.join(assigned, Seq("id")).repartition(col("cluster")),
      indexPath, SaveMode.Overwrite)
    Codebook.write(cb, indexPath, SaveMode.Overwrite)
    Centroids.write(cents, indexPath, SaveMode.Overwrite)
  }

  /** Probe a persisted IVFADC index ([[buildIvfAdcIndex]]): rank
    * centroids driver-side (k×dim — bounded, the [[ivfProbe]] collect),
    * scan ONLY the nProbe winning cluster partitions (literal IN-list ⇒
    * `PartitionFilters` at planning time, the q81 posture), explode each
    * survivor's codes, and sum distance-table lookups — the scan reads
    * CODES only, never raw vectors. The distance table is computed with
    * the same Spark expressions as [[ivfAdcTopK]]'s (the codebook and
    * query subvectors are tiny frames), so rankings agree bit-for-bit
    * with the self-contained operator.
    */
  /** Incremental IVFADC index maintenance: encode a NEW batch with the
    * index's FROZEN codebook — PQ codebooks are trained artifacts; an
    * append must NOT retrain, or every previously stored code would
    * decode against the wrong codewords — assign against the frozen
    * centroids, and append into the cluster-partitioned codes layout.
    * Batch-proportional ([[appendIvfIndex]] economics): one broadcast
    * argmin over the batch's subvectors + one write, independent of
    * index size; probes see old and new vectors alike through the same
    * directory pruning. Drift contract also as [[appendIvfIndex]]:
    * quantization error grows as the corpus leaves the training
    * distribution — gate appends with [[centroidDrift]] and rebuild
    * when it trips. Returns the number of vectors appended.
    *
    * `codesOut`: when set, the encoded batch is written (Overwrite,
    * same cluster-partitioned layout) to that path INSTEAD of appended
    * into `indexPath/codes` — the staging hook
    * [[graft.streaming.EventStream.idempotentPromote]] uses to make the
    * streaming append crash-safe (files land in the live dir only via
    * atomic renames).
    *
    * Interaction with deletes ([[graft.engine.IndexLifecycle.IvfAdc]]):
    * an appended vector whose id is currently tombstoned stays masked
    * until a purge — ids are identities; re-using a deleted id
    * requires a purge first (no silent resurrection).
    */
  def appendIvfAdcIndex(newEmb: DataFrame, idCol: String, vecCol: String,
                        indexPath: String,
                        codesOut: Option[String] = None): Long = {
    val spark = newEmb.sparkSession
    val cb = Codebook.read(spark, indexPath)
    val nSub = cb.agg(max(col("cs"))).head().getInt(0) + 1
    val dimRow = newEmb.select(size(col(vecCol)).as("d")).head(1)
    if (dimRow.isEmpty) return 0L
    val dim = dimRow.head.getInt(0)
    require(dim % nSub == 0,
      s"appendIvfAdcIndex: batch dim $dim does not split into the " +
        s"index's $nSub subspaces")
    val base = graft.engine.Caches.persisted("appendIvfAdcIndex.base",
      pqSubvectors(newEmb, idCol, vecCol, nSub, dim / nSub))
    val codes = pqAssignCodes(base, cb)
      .groupBy(col("id"))
      .agg(transform(array_sort(collect_list(struct(col("s"), col("code")))),
        x => x.getField("code")).as("codes"))
    val cents = Centroids.read(spark, indexPath)
      .select(col("centroid_id"), col("centroid_vec"))
    val assigned = ivfAssignEvery(newEmb, cents, idCol, vecCol)
    val rows = graft.engine.Caches.persisted("appendIvfAdcIndex.rows",
      codes.join(assigned, Seq("id")))
    val appended = rows.count()
    codesOut match {
      case Some(staging) => Codes.stage(rows.repartition(col("cluster")), staging)
      case None =>
        Codes.write(rows.repartition(col("cluster")), indexPath, SaveMode.Append)
    }
    rows.unpersist(); base.unpersist()
    appended
  }

  /** Similarity search as a JOIN — the production many-query shape: for
    * EVERY vector in `queries`, its k approximate nearest corpus
    * neighbours from a persisted IVFADC index ([[buildIvfAdcIndex]]),
    * in one distributed plan. One row per (query, neighbour):
    * `(query_id, <idName>, adc_dist)`, per-query ADC ranking identical
    * to [[ivfAdcProbe]] run query-by-query (per-query probed lists,
    * same distance arithmetic — the q197 oracle certifies three probes
    * at once).
    *
    * Shape, all batch-proportional: centroid ranking is a broadcast NL
    * join of the batch against the k-row centroid table + one per-query
    * top-nProbe window; the codes scan partition-prunes to the UNION of
    * probed clusters (a ≤ nCentroids literal IN — collected cluster
    * ids, never vectors); candidates = codes ⋈ (query, cluster) probe
    * pairs, so each query only meets its own probed lists (Σ_q |probed
    * lists of q| rows, the IVF contract); the ADC lookup join runs
    * sortless shuffle-hash on (query, subspace, code) because the
    * distance-table side is batch × nSub·nCodes — batch-shaped, NOT
    * broadcastable for a large batch; final per-query top-k is one
    * window. No driver collect of anything corpus- or batch-sized.
    */
  def ivfAdcProbeJoin(spark: SparkSession, indexPath: String,
                      queries: DataFrame, idCol: String, vecCol: String,
                      k: Int, nProbe: Int = 4,
                      idName: String = "id",
                      maxCandidates: Long = graft.ops.GuardBounds.ProbeJoinMaxCandidates): DataFrame = {
    val cents = Centroids.read(spark, indexPath)
    val cb = Codebook.read(spark, indexPath)
    val nSub = cb.agg(max(col("cs"))).head().getInt(0) + 1
    val dimRow = queries.select(size(col(vecCol)).as("d")).head(1)
    if (dimRow.isEmpty)
      return queries.select(col(idCol).cast("long").as("query_id"),
        lit(0L).as(idName), lit(0.0).as("adc_dist")).limit(0)
    val dim = dimRow.head.getInt(0)
    require(dim % nSub == 0,
      s"ivfAdcProbeJoin: query dim $dim does not split into the " +
        s"index's $nSub subspaces")
    // zero-norm queries have no cosine direction: the single-probe
    // operators REFUSE them (ivfProbe/ivfAdcProbe require qn > 0); in
    // the batch form one bad row must not fail the whole join, so they
    // are EXCLUDED instead — same normed() convention, and the caller
    // sees the absence (no rows for that query_id) rather than
    // NaN-ranked garbage neighbours
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("_qv"))
      .filter(dot(col("_qv"), col("_qv")) > 0)
    val perQuery = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
    val probeAsg = graft.engine.Caches.persisted("ivfAdcProbeJoin.probes",
      q.crossJoin(broadcast(cents))
        .withColumn("_cos", cosine(col("centroid_vec"), col("_qv")))
        .withColumn("_rn", row_number().over(
          perQuery.orderBy(col("_cos").desc, col("centroid_id").asc)))
        .filter(col("_rn") <= nProbe)
        .select(col("query_id"), col("centroid_id").as("cluster")))
    // ≤ nCentroids longs — the literal IN that makes the scan prune
    val probedClusters = probeAsg.select(col("cluster")).distinct()
      .collect().map(_.getLong(0)).toSeq
    // ONE read of codes, shared by the guard aggregate and the
    // candidate join below: both plans derive from the same
    // InMemoryFileIndex, so the guard is evaluated against exactly the
    // candidate volume the scan will process. (Two independent reads —
    // the previous shape — could list different file sets under a
    // concurrent sinkIvfAdcAppend, letting a half-visible batch slip
    // between guard and scan.) A probe concurrent with an IN-FLIGHT
    // append may still see that batch partially or not at all — the
    // index is eventually consistent per committed batch, not
    // transactional across a probe.
    val pruned = liveRows(spark, indexPath, Codes)
      .filter(col("cluster").isin(probedClusters: _*))
    // Hot-list refusal (the family's guard posture): candidate rows =
    // Σ over (query, probed cluster) of that cluster's list size. A
    // degenerate coarse quantizer — every vector in one cluster — makes
    // that batch × corpus, the melt IVF exists to avoid; refusing with
    // the offender named beats silently launching it. One
    // aggregate-sized pre-flight over the already-pruned scan.
    val listSizes = pruned
      .groupBy(col("cluster")).agg(count(lit(1)).as("_n"))
    val planned = probeAsg.join(broadcast(listSizes), Seq("cluster"))
      .agg(sum(col("_n")).as("c"), max(col("_n")).as("hot")).head()
    val nCand = if (planned.isNullAt(0)) 0L else planned.getLong(0)
    require(nCand <= maxCandidates,
      s"ivfAdcProbeJoin: ${nCand} candidate rows planned " +
        s"(maxCandidates=$maxCandidates); hottest probed list holds " +
        s"${planned.getLong(1)} vectors — rebuild with more centroids " +
        "(maintainIvfAdcIndex) or probe in smaller query batches")
    val qsub = pqSubvectors(q, "query_id", "_qv", nSub, dim / nSub)
      .select(col("id").as("_qid"), col("s").as("qs"), col("sv").as("qv"))
    val qd = cb.join(broadcast(qsub), col("cs") === col("qs"))
      .select(col("_qid").as("query_id"), col("cs").as("ds"),
        col("code").as("dcode"),
        round(pqD2(col("qv"), col("cw")), 12)
          .cast(org.apache.spark.sql.types.DecimalType(28, 12)).as("qdist"))
    val cand = pruned.join(probeAsg.hint("shuffle_hash"), Seq("cluster"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        posexplode(col("codes")).as(Seq("s", "code")))
    cand.join(qd.hint("shuffle_hash"),
        cand("query_id") === qd("query_id") &&
          col("s") === col("ds") && col("code") === col("dcode"))
      .select(cand("query_id"), col("id"), col("qdist"))
      .groupBy(col("query_id"), col("id"))
      .agg(sum(col("qdist")).as("_adc"))
      .withColumn("_rk", row_number().over(
        perQuery.orderBy(col("_adc").asc, col("id").asc)))
      .filter(col("_rk") <= k)
      .select(col("query_id"), col("id").as(idName),
        round(col("_adc").cast("double"), 6).as("adc_dist"))
  }

  /** The batch (JOIN) form of [[ivfAdcProbeRerankById]]: every query
    * vector's top-k corpus neighbours by EXACT cosine over its ADC
    * shortlist, in one distributed plan — [[ivfAdcProbeJoin]] widened
    * to `shortlist` per query, then one shuffle-hash join of the
    * (batch × shortlist)-row candidate set against the corpus raw
    * vectors and one per-query top-k window. Per-query rows identical
    * to the single-query rerank (same arithmetic, same ties; the q210
    * oracle splices three single-query rerank chains). `corpus` is the
    * raw source table the index was built from — the index itself
    * stores codes only, and this operator touches raw vectors ONLY for
    * shortlist members, which is the entire point of the two-stage
    * shape at 100 TB: the code probe does the winnowing, the expensive
    * full-dimension reads are (batch × shortlist)-bounded.
    */
  def ivfAdcProbeRerankJoin(spark: SparkSession, indexPath: String,
                            corpus: DataFrame, queries: DataFrame,
                            idCol: String, vecCol: String, k: Int,
                            shortlist: Int = 100, nProbe: Int = 4,
                            idName: String = "id",
                            maxCandidates: Long = graft.ops.GuardBounds.ProbeJoinMaxCandidates): DataFrame = {
    require(shortlist >= k,
      s"shortlist ($shortlist) must be >= k ($k)")
    val short = ivfAdcProbeJoin(spark, indexPath, queries, idCol, vecCol,
        shortlist, nProbe, idName, maxCandidates)
      .select(col("query_id"), col(idName))
    // zero corpus vectors are coded but never reranked ([[rerankExact]])
    val cv = corpus.filter(dot(col(vecCol), col(vecCol)) > 0)
      .select(col(idCol).cast("long").as(idName), col(vecCol).as("_cv"))
    val qv = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("_qv"))
    val perQuery = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
    short
      .join(cv.hint("shuffle_hash"), Seq(idName))
      .join(qv.hint("shuffle_hash"), Seq("query_id"))
      .withColumn("cos_sim", round(cosine(col("_cv"), col("_qv")), 6))
      .withColumn("_rk", row_number().over(
        perQuery.orderBy(col("cos_sim").desc, col(idName).asc)))
      .filter(col("_rk") <= k)
      .select(col("query_id"), col(idName), col("cos_sim"))
  }

  /** PQ reconstruction from a persisted IVFADC index: each vector's
    * approximation is its per-subspace codewords concatenated in
    * subspace order — `(id, v)` with reconstruction error bounded by
    * the quantization error the recall gate already measures. This is
    * the only vector view an ADC index CAN give back (raw vectors are
    * deliberately not stored), and it is exactly what corpus-side
    * drift measurement needs ([[maintainIvfAdcIndex]]).
    */
  def pqDecode(spark: SparkSession, indexPath: String): DataFrame = {
    val cb = Codebook.read(spark, indexPath)
    liveRows(spark, indexPath, Codes)
      .select(col("id"), posexplode(col("codes")).as(Seq("s", "code")))
      .join(broadcast(cb.select(col("cs"), col("code").as("_ccode"), col("cw"))),
        col("s") === col("cs") && col("code") === col("_ccode"))
      .select(col("id"), col("s"), col("cw"))
      .groupBy(col("id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("s"), col("cw")))),
        x => x.getField("cw"))).as("v"))
  }

  /** Dimension-pair covariance of an embedding corpus — the statistic
    * PCA whitening ([[pcaWhiten]]) consumes, emitted as the upper
    * triangle `(i, j, n, cov)` with the unbiased n−1 denominator.
    * Determinism: per-element values fix at DECIMAL(12,9) (the
    * centroidDrift convention) so Σx, Σy, Σxy are exact and
    * order-independent; the final quotient runs in doubles from those
    * exact components, identically in both engines.
    *
    * Shape: one posexplode + one id-equi self-join (n·d² rows into a
    * (d²/2)-cell hash aggregation with map-side partials). d² cells is
    * tiny; n·d² join rows are the honest cost of an exact covariance —
    * at corpus scale compute it on a SAMPLE (covariance is a d²-sized
    * statistic with ~1/√n error; a 1M-row sample of a 100 TB corpus
    * estimates it to 3 decimals).
    */
  /** SQ8 scalar quantization audit (the FAISS `SQ8` / IVF_SQ8 storage
    * codec shape): fix every float to the 1e-6 grid (`floor(x·1e6)` —
    * an exact IEEE op, so both engines land the same integer), take
    * per-DIMENSION corpus min/max, code each value into 0..255 by
    * linear range quantization, and report per vector the code
    * checksum and the total reconstruction error on the micro grid.
    * SQ8 costs 4× less storage than float32 with no training step —
    * the audit says what that buys/costs on THIS corpus before
    * committing an index build to it.
    *
    * All arithmetic after the floor is exact integers except the two
    * quotients, which both engines evaluate as the IDENTICAL
    * correctly-rounded IEEE division (numerators/denominators are
    * integers < 2^53) — the oracle replays codes bit-for-bit.
    *
    * Scale shape: one map-side explode; the per-dimension stats
    * aggregate is d-bounded and BROADCASTS back; one vec-keyed
    * re-aggregation. Nothing else shuffles, nothing is driver-sized.
    */
  def sq8Audit(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = emb.select(col(idCol).as("vec_id"),
        posexplode(col(vecCol)).as(Seq("d", "_x")))
      .select(col("vec_id"), col("d"),
        floor(col("_x").cast("double") * lit(1000000d)).as("vi"))
    val st = v.groupBy(col("d"))
      .agg(min(col("vi")).as("mn"), max(col("vi")).as("mx"))
    val coded = v.join(broadcast(st), Seq("d"))
      .withColumn("code",
        when(col("mx") > col("mn"),
          floor(((col("vi") - col("mn")) * lit(255L)).cast("double") /
            (col("mx") - col("mn"))))
          .otherwise(lit(0L)))
      .withColumn("recon",
        col("mn") + when(col("mx") > col("mn"),
          floor((col("code") * (col("mx") - col("mn"))).cast("double") /
            lit(255d))).otherwise(lit(0L)))
    coded.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dims"),
        sum(col("code")).cast("long").as("code_sum"),
        sum(abs(col("vi") - col("recon"))).cast("long").as("err_micro"))
  }

  def embeddingCovariance(emb: DataFrame, idCol: String,
                          vecCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = emb.select(col(idCol).as("id"),
        posexplode(col(vecCol)).as(Seq("i", "_x")))
      .select(col("id"), col("i"),
        round(col("_x").cast("double"), 9).cast(DecimalType(12, 9)).as("x"))
    val b = e.select(col("id"), col("i").as("j"), col("x").as("y"))
    e.join(b, Seq("id"))
      .filter(col("j") >= col("i"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"),
        sum((col("x") * col("y")).cast(DecimalType(38, 18))).as("_sxy"),
        sum(col("x").cast(DecimalType(38, 18))).as("_sx"),
        sum(col("y").cast(DecimalType(38, 18))).as("_sy"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("n"),
        round((col("n").cast("double") * col("_sxy").cast("double")
          - col("_sx").cast("double") * col("_sy").cast("double"))
          / (col("n").cast("double") * (col("n").cast("double") - lit(1.0))),
          9).as("cov"))
  }

  /** PCA whitening (the ZCA form, W = V·Λ^(−1/2)·Vᵀ): decorrelate and
    * unit-scale the embedding dimensions — the classic retrieval
    * post-process (anisotropic embedding spaces concentrate cosine
    * similarity into a few dominant directions; whitening restores
    * discrimination). The covariance ([[embeddingCovariance]]) is a
    * d²-sized statistic, so the eigendecomposition runs DRIVER-side
    * (cyclic Jacobi on a d×d symmetric matrix — corpus-independent
    * cost), and the transform applies as a broadcast d×d matrix
    * multiply per vector, map-only. Eigenvalues below `eps` clamp to
    * `eps` (a rank-deficient corpus must not divide by ~0). Returns
    * `(id, v)` with v the whitened double vector.
    */
  def pcaWhiten(emb: DataFrame, idCol: String, vecCol: String,
                eps: Double = 1e-9): DataFrame = {
    val covRows = embeddingCovariance(emb, idCol, vecCol).collect()
    require(covRows.nonEmpty, "pcaWhiten: empty corpus has no covariance")
    val d = covRows.map(_.getLong(1)).max.toInt + 1
    val c = Array.ofDim[Double](d, d)
    covRows.foreach { r =>
      val (i, j, v) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(3))
      c(i)(j) = v; c(j)(i) = v
    }
    // cyclic Jacobi: rotate away the largest off-diagonal entries until
    // convergence — deterministic (fixed sweep order), d³ per sweep
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = math.sqrt(c.indices.map(i =>
      c(i).indices.filter(_ != i).map(j => c(i)(j) * c(i)(j)).sum).sum)
    while (off > 1e-12 && sweep < 50) {
      for (p <- 0 until d; q <- p + 1 until d if math.abs(c(p)(q)) > 1e-15) {
        val theta = (c(q)(q) - c(p)(p)) / (2.0 * c(p)(q))
        val t = math.signum(theta) /
          (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val cs = 1.0 / math.sqrt(t * t + 1.0)
        val sn = t * cs
        for (k <- 0 until d) {
          val ckp = c(k)(p); val ckq = c(k)(q)
          c(k)(p) = cs * ckp - sn * ckq
          c(k)(q) = sn * ckp + cs * ckq
        }
        for (k <- 0 until d) {
          val cpk = c(p)(k); val cqk = c(q)(k)
          c(p)(k) = cs * cpk - sn * cqk
          c(q)(k) = sn * cpk + cs * cqk
        }
        for (k <- 0 until d) {
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = cs * vkp - sn * vkq
          v(k)(q) = sn * vkp + cs * vkq
        }
      }
      off = math.sqrt(c.indices.map(i =>
        c(i).indices.filter(_ != i).map(j => c(i)(j) * c(i)(j)).sum).sum)
      sweep += 1
    }
    val invSqrt = Array.tabulate(d)(i => 1.0 / math.sqrt(math.max(c(i)(i), eps)))
    // W = V Λ^{-1/2} Vᵀ — symmetric, d×d, broadcast as a literal table
    val w = for (i <- 0 until d; j <- 0 until d) yield
      (i, j, (0 until d).map(k => v(i)(k) * invSqrt(k) * v(j)(k)).sum)
    val spark = emb.sparkSession
    import spark.implicits._
    val wdf = w.toDF("wi", "wj", "wv")
    emb.select(col(idCol).as("id"), posexplode(col(vecCol)).as(Seq("j", "_x")))
      .select(col("id"), col("j"), col("_x").cast("double").as("x"))
      .join(broadcast(wdf), col("j") === col("wj"))
      .groupBy(col("id"), col("wi"))
      // deterministic: the sum over j follows a fixed (wj) accumulation?
      // no — distributed sums of doubles are order-dependent, so fix the
      // per-cell products at 12 dp before the exact decimal sum
      .agg(sum(round(col("wv") * col("x"), 12)
        .cast(org.apache.spark.sql.types.DecimalType(30, 12))).as("_e"))
      .groupBy(col("id"))
      .agg(transform(array_sort(collect_list(struct(col("wi"),
        col("_e").cast("double").as("e")))), x => x.getField("e")).as("v"))
      .select(col("id").as(idCol), col("v"))
  }

  /** Topic-balanced subsampling: assign every vector to its nearest
    * stride centroid and keep a deterministic per-cluster quota — the
    * diversity-sampling curation op (uniform sampling over-represents
    * whatever topic dominates the crawl; sampling evenly across
    * embedding clusters keeps the tail topics in the training mix).
    * `(id, cluster, sample_rank)`, rank by the [[graft.text.Curation]]
    * hashSample mixer (engine-portable, id-stable) so the "random"
    * quota is reproducible and oracle-replayable. Zero vectors have no
    * cosine direction and are excluded.
    *
    * Shape: broadcast NL argmax over the k-row centroid table + ONE
    * per-cluster WindowGroupLimit (quota rows survive per partition
    * before any sort — the q96 posture): sampling quotas from 100 TB
    * must not sort 100 TB.
    */
  def clusterBalancedSample(emb: DataFrame, idCol: String, vecCol: String,
                            nClusters: Int, perCluster: Int): DataFrame = {
    require(nClusters >= 1 && perCluster >= 1,
      s"nClusters/perCluster must be positive, got $nClusters/$perCluster")
    val u = emb.filter(dot(col(vecCol), col(vecCol)) > 0)
    val cents = centroids(u, idCol, vecCol, nClusters)
    val asg = ivfAssign(u, cents, idCol, vecCol)
    val p = 1000000007L
    val h = pmod(pmod(col(idCol).cast("long"), lit(p)) * lit(2654435761L), lit(p))
    asg.withColumn("_h", h)
      .withColumn("sample_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
          .orderBy(col("_h").asc, col(idCol).asc)))
      .filter(col("sample_rank") <= perCluster)
      .select(col(idCol), col("cluster"),
        col("sample_rank").cast("long").as("sample_rank"))
  }

  /** Per-vector PQ reconstruction error of a persisted IVFADC index
    * against the source embeddings — the storage-loss audit
    * ([[quantizeAudit]]'s question asked of the PQ index): for each
    * vector, MSE between its subvectors and the codewords its stored
    * codes decode to. Per-subspace squared distances fix at the qdist
    * grid (12-dp decimal) so the per-vector sum is exact and
    * order-independent; the mean divides once in doubles. A code file
    * corrupted, a codebook drifted from its codes, or a re-trained
    * codebook decoding stale codes all surface here as error
    * inflation.
    */
  def pqReconstructionError(spark: SparkSession, indexPath: String,
                            emb: DataFrame, idCol: String,
                            vecCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cb = Codebook.read(spark, indexPath)
    val nSub = cb.agg(max(col("cs"))).head().getInt(0) + 1
    val dim = emb.select(size(col(vecCol)).as("d")).head().getInt(0)
    require(dim % nSub == 0,
      s"pqReconstructionError: dim $dim does not split into $nSub subspaces")
    val sub = pqSubvectors(emb, idCol, vecCol, nSub, dim / nSub)
    val dec = liveRows(spark, indexPath, Codes)
      .select(col("id"), posexplode(col("codes")).as(Seq("s", "code")))
      .join(broadcast(cb.select(col("cs"), col("code").as("_ccode"), col("cw"))),
        col("s") === col("cs") && col("code") === col("_ccode"))
      .select(col("id"), col("s"), col("cw"))
    sub.join(dec, Seq("id", "s"))
      .withColumn("_d",
        round(pqD2(col("sv"), col("cw")), 12).cast(DecimalType(28, 12)))
      .groupBy(col("id"))
      .agg(sum(col("_d")).as("_sse"))
      .select(col("id").as(idCol),
        round(col("_sse").cast("double") / lit(dim.toDouble), 12).as("mse"))
  }

  /** Drift-gated IVFADC maintenance — the executor of
    * [[appendIvfAdcIndex]]'s documented rebuild contract (the
    * [[maintainIvfIndex]] discipline for the PQ index, where the
    * failure mode is WORSE: stale centroids lose probe recall AND the
    * frozen codebook's quantization error grows on drifted batches).
    * Drift is measured between the PQ-DECODED indexed corpus
    * ([[pqDecode]] — the index stores no raw vectors, and the
    * reconstruction is exactly what the index "believes" its corpus
    * looks like) and the incoming batch:
    *
    *   - centroid cosine ≥ `minCentroidCosine` → [[appendIvfAdcIndex]]
    *     (frozen codebook, batch-shaped cost);
    *   - below the gate or undefined → REBUILD over `corpus` ∪ batch —
    *     retraining centroids AND codebook — staged and swapped with
    *     the checked-rename dance ([[swapIndexDirs]]). `corpus` is the
    *     caller's raw source table: codes cannot be re-trained from
    *     codes, so a rebuild re-reads the source a production pipeline
    *     always retains.
    */
  def maintainIvfAdcIndex(newEmb: DataFrame, idCol: String, vecCol: String,
                          corpus: DataFrame, indexPath: String,
                          minCentroidCosine: Double = 0.7,
                          nCentroids: Int = graft.ops.GuardBounds.DefaultIvfCentroids, nSub: Int = 16,
                          nCodes: Int = 64,
                          trainIters: Int = 1): IvfMaintenance = {
    val spark = newEmb.sparkSession
    val cosRow = centroidDrift(pqDecode(spark, indexPath).select(col("v").as(vecCol)),
        newEmb.select(col(vecCol)), vecCol)
      .select(col("centroid_cosine")).head()
    val cos = if (cosRow.isNullAt(0)) None else Some(cosRow.getDouble(0))
    if (cos.exists(_ >= minCentroidCosine))
      IvfMaintenance(appendIvfAdcIndex(newEmb, idCol, vecCol, indexPath),
        cos, rebuilt = false)
    else {
      val nNew = newEmb.count()
      val union = corpus.select(col(idCol), col(vecCol))
        .unionByName(newEmb.select(col(idCol), col(vecCol)))
      val staging = s"$indexPath/.rebuild"
      buildIvfAdcIndex(union, idCol, vecCol, staging, nCentroids, nSub,
        nCodes, trainIters)
      swapIndexDirs(spark, indexPath, staging,
        Seq(Codes, Codebook, Centroids), "maintainIvfAdcIndex")
      IvfMaintenance(nNew, cos, rebuilt = true)
    }
  }

  /** Integrity audit (fsck) of a persisted IVFADC index — the
    * operational answer to "can I trust this index before I probe
    * 100 TB through it": one row per invariant,
    * `(check, ok, n_violations, detail)`, all aggregate-sized work.
    * Checks: the three layout parts exist; every stored code vector
    * has exactly nSub codes; every (subspace, code) pair decodes
    * against the codebook (a retrained codebook decoding stale codes
    * — the [[pqReconstructionError]] scaladoc's corruption — surfaces
    * HERE as dangling codes, before it quietly inflates distances);
    * every cluster value is a real centroid id; ids are unique; no
    * in-flight swap leftovers (healable — named so an operator runs
    * the heal); tombstone bookkeeping (absent ids are benign).
    * Fault-injection spec'd: each check is proven to FIRE on a
    * corrupted index, not just pass on a healthy one.
    */
  def fsckIvfAdcIndex(spark: SparkSession, indexPath: String): DataFrame = {
    import spark.implicits._
    val partsOk = Seq(Codes, Codebook, Centroids)
      .filterNot(_.exists(spark, indexPath)).map(_.name)
    val layoutRow = Seq(("layout_parts", partsOk.isEmpty,
      partsOk.size.toLong,
      if (partsOk.isEmpty) "codes/codebook/centroids present"
      else s"missing: ${partsOk.mkString(",")}"))
    if (partsOk.nonEmpty)
      return layoutRow.toDF("check_name", "ok", "n_violations", "detail")
    val cb = Codebook.read(spark, indexPath)
    // an EMPTY codebook is exactly the corruption class fsck exists to
    // diagnose — report it as a failing check row instead of NPE-ing
    // on the max() aggregate (ADVICE r12)
    val maxCs = cb.agg(max(col("cs"))).head()
    if (maxCs.isNullAt(0))
      return (layoutRow ++ Seq(("codebook_nonempty", false, 1L,
          "codebook has zero rows — codes cannot decode; restore or " +
            "rebuild the index")))
        .toDF("check_name", "ok", "n_violations", "detail")
        .orderBy(col("check_name"))
    val nSub = maxCs.getInt(0) + 1
    val codes = Codes.read(spark, indexPath)
    // ONE id-keyed pass + one exploded decode pass, unioned into a
    // single collect (r15, the fsckBm25Index r14 consolidation applied
    // to this tier: the check-per-action form scanned codes 4× across
    // ~6 sequential driver round-trips — at corpus scale each extra
    // scan is a full index read, and locally each action pays fixed
    // job overhead; q241's fsck stage measured 1.3 s / 17 jobs).
    // Counts are BIT-IDENTICAL to the per-check originals (FsckSpec's
    // fault-injection matrix is the regression):
    //   arity     — code ROWS with size != nSub (null arrays drop,
    //               as the old null-propagating filter did)
    //   unknown   — code ROWS whose cluster has no centroid row (a
    //               null cluster never matches, exactly like the old
    //               left_anti); centroid ids dedup'd so the row-
    //               preserving left join cannot fan out
    //   dup_ids   — ids with >1 code rows (null ids group together,
    //               same as the old groupBy)
    //   ts_absent — tombstone ROWS (multiplicity preserved via the
    //               per-id count) whose id has no code row; a null
    //               tombstone id never joins, so it always counts —
    //               the old left_anti's null semantics
    //   dangling  — exploded (s, code) pairs absent from the codebook
    val cents = Centroids.read(spark, indexPath)
      .select(col("centroid_id").as("cluster")).distinct()
      .withColumn("_ck", lit(1))
    val perId = codes
      .join(broadcast(cents), Seq("cluster"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("_rows"),
        sum(when(size(col("codes")) =!= nSub, lit(1L)).otherwise(lit(0L)))
          .as("_ar"),
        sum(when(col("_ck").isNull, lit(1L)).otherwise(lit(0L))).as("_uc"))
    val tsCounts = graft.engine.Layout.tombstones(spark, indexPath)
      .map(_.groupBy(col("id")).agg(count(lit(1)).as("_tm")))
      .getOrElse(spark.range(0).select(col("id"), lit(0L).as("_tm")))
    val docBranch = perId.join(tsCounts, Seq("id"), "full_outer")
      .agg(
        coalesce(sum(col("_ar")), lit(0L)).as("c1"),
        coalesce(sum(col("_uc")), lit(0L)).as("c2"),
        coalesce(sum(when(col("_rows") > 1, lit(1L)).otherwise(lit(0L))),
          lit(0L)).as("c3"),
        coalesce(sum(when(col("_rows").isNull, col("_tm"))
          .otherwise(lit(0L))), lit(0L)).as("c4"))
      .select(lit("doc").as("chk"), col("c1"), col("c2"), col("c3"),
        col("c4"))
    val danglingBranch = codes.select(col("id"),
        posexplode(col("codes")).as(Seq("s", "code")))
      .join(broadcast(cb.select(col("cs").as("s"), col("code"))),
        Seq("s", "code"), "left_anti")
      .agg(count(lit(1)).as("c1"))
      .select(lit("dng").as("chk"), col("c1"), lit(0L).as("c2"),
        lit(0L).as("c3"), lit(0L).as("c4"))
    val rows = docBranch.unionByName(danglingBranch).collect()
      .map(r => r.getString(0) -> r).toMap
    val doc = rows("doc")
    val arity = doc.getLong(1)
    val unknownCluster = doc.getLong(2)
    val dupIds = doc.getLong(3)
    val tsAbsent = doc.getLong(4)
    val dangling = rows("dng").getLong(1)
    val leftovers = graft.engine.IndexLifecycle.swapLeftovers(
      graft.engine.IndexLifecycle.IvfAdc, spark, indexPath)
    (layoutRow ++ Seq(
      ("codebook_nonempty", true, 0L, "codebook has rows"),
      ("code_arity", arity == 0L, arity, s"every codes array has $nSub entries"),
      ("codes_decode", dangling == 0L, dangling,
        "every (subspace, code) exists in the codebook"),
      ("clusters_known", unknownCluster == 0L, unknownCluster,
        "every cluster value is a centroid id"),
      ("ids_unique", dupIds == 0L, dupIds, "one code row per vector id"),
      ("no_swap_leftovers", leftovers.isEmpty, leftovers.size.toLong,
        if (leftovers.isEmpty) "no in-flight partition swap"
        else s"run healStagedPartitionSwap: ${leftovers.mkString(",")}"),
      ("tombstones_benign", true, tsAbsent,
        "tombstoned ids absent from codes are already purged (benign)")))
      .toDF("check_name", "ok", "n_violations", "detail")
      .orderBy(col("check_name"))
  }

  /** [[ivfAdcProbe]] keyed by an id in the source table — the
    * [[ivfProbeById]] convenience for the PQ index.
    */
  def ivfAdcProbeById(spark: SparkSession, indexPath: String, emb: DataFrame,
                      idCol: String, vecCol: String, queryId: Long, k: Int,
                      nProbe: Int = 4): DataFrame = {
    val qv = toDouble(
      emb.filter(col(idCol) === queryId).select(col(vecCol)).head().getSeq[Any](0))
    ivfAdcProbe(spark, indexPath, qv, k, nProbe, excludeId = Some(queryId),
      idName = idCol)
  }

  def ivfAdcProbe(spark: SparkSession, indexPath: String,
                  queryVec: Seq[Double], k: Int, nProbe: Int = 4,
                  excludeId: Option[Long] = None,
                  idName: String = "id"): DataFrame = {
    val qn = math.sqrt(dotD(queryVec, queryVec))
    require(qn > 0, "ivfAdcProbe: query vector has zero norm")
    val probed = nearestCentroids(spark, indexPath, queryVec, qn, nProbe)
    val cb = Codebook.read(spark, indexPath)
    val nSub = cb.agg(max(col("cs"))).head().getInt(0) + 1
    val w = queryVec.length / nSub
    val qsub = pqSubvectors(
        spark.createDataFrame(Seq((0L, queryVec))).toDF("qid", "qv"),
        "qid", "qv", nSub, w)
      .select(col("s").as("qs"), col("sv").as("qv"))
    val qd = pqDistanceTable(cb, qsub)
    val pruned = liveRows(spark, indexPath, Codes)
      .filter(col("cluster").isin(probed: _*))
    val scanned = excludeId.fold(pruned)(x => pruned.filter(col("id") =!= x))
      .select(col("id"), posexplode(col("codes")).as(Seq("s", "code")))
    adcRank(scanned, qd, idName, k)
  }
}
