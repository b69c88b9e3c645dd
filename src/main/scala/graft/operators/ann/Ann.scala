package graft.operators.ann

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two lanes:
  *  - brute-force cosine top-k: correctness baseline. Query side is tiny and
  *    broadcast, so the big side streams once with no shuffle — at 100 TB
  *    this is a single scan per query batch.
  *  - LSH (random-hyperplane / sign) bucketing: scale path. Signature bits
  *    come from deterministic pseudo-random hyperplanes (hash-derived ±1
  *    components, no stored model); candidates are an equi-join on bucket
  *    prefixes.
  */
object Ann {

  /** Cosine similarity in double over float embeddings: ONE fused native
    * pass (graft.plans.CosineSimilarity, codegen'd) — dot and both norms in
    * the same loop, accumulation in array order, so results are
    * deterministic and engine-portable. Replaces the interpreted
    * `aggregate(zip_with(…))` ×3 formulation, whose higher-order lambdas
    * dispatched per element per pair on the verify stage of every
    * ANN/dedup candidate (the same interpreter tax the sketch expressions
    * eliminate on the candidate stage).
    */
  def cosine(a: Column, b: Column): Column =
    graft.plans.SketchCols.cosineSimilarity(a, b)

  /** Brute-force exact top-k neighbors for a small query set (vec_id <
    * nQueries). Queries broadcast; ranking via row_number with id
    * tie-break for full determinism.
    */
  def bruteForceTopK(spark: SparkSession, d: String,
                     nQueries: Int = 8, k: Int = 5): DataFrame = {
    // per-row cosine over the whole corpus is compute-bound → spread the
    // unsplittable local scan (no-op at scale, Tables.spread)
    val emb = Tables.spread(Tables.embeddings(spark, d))
    val queries = broadcast(
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    queries.join(emb, col("vec_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("q_emb"), col("embedding")))
      .select(col("query_id"), col("vec_id"), col("sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id"), round(col("sim"), 4).as("sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** ann12 — MIPS (maximum inner-product search) via the norm-augmentation
    * reduction to cosine (Bachrach et al. 2014 / Shrivastava-Li 2014):
    * inner product is NOT a metric (a vector can be its own worst match),
    * so none of the cosine-family indexes apply directly — but appending
    * one dimension `sqrt(M² − ‖v‖²)` to every data vector (M = the max
    * corpus norm) and `0` to queries makes every augmented data vector the
    * same length M, and augmented-cosine order EQUALS inner-product order.
    * This operator runs the REDUCTION path end to end — augment, rank by
    * augmented cosine — and emits the true inner product per returned
    * neighbor; the oracle ranks by the same augmented construction, so
    * the gate proves the reduction's ordering on real data. Recommender
    * retrieval (user·item scores) is the standard consumer.
    *
    * Scale shape: ‖v‖² and the augmented column are narrow per-row
    * expressions at scan speed; M is one map-side-combined max broadcast
    * back as a 1-row join; ranking reuses ann01's broadcast-query +
    * per-query window discipline — and because augmentation is one extra
    * float, the SAME augmented column feeds the LSH/IVF/PQ indexes when
    * brute force stops scaling (that is the reduction's whole point).
    */
  def mipsTopK(spark: SparkSession, d: String,
               nQueries: Int = 8, k: Int = 5): DataFrame = {
    val emb = Tables.spread(Tables.embeddings(spark, d))
      .withColumn("n2", expr(
        "aggregate(embedding, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"))
    val m2 = broadcast(emb.agg(max(col("n2")).as("m2")))
    val aug = emb.crossJoin(m2)
      .withColumn("aug_emb",
        concat(col("embedding"),
          array(sqrt(col("m2") - col("n2")).cast("float"))))
      .select(col("vec_id"), col("embedding"), col("aug_emb"))
    val queries = broadcast(
      aug.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb"),
          concat(col("embedding"), array(lit(0.0f))).as("q_aug")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_aug").desc, col("vec_id"))
    queries.join(aug, col("vec_id") =!= col("query_id"))
      .withColumn("sim_aug", cosine(col("q_aug"), col("aug_emb")))
      .withColumn("ip", expr(
        """aggregate(zip_with(q_emb, embedding,
             (a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)), 0D,
             (acc, x) -> acc + x)"""))
      .select(col("query_id"), col("vec_id"), col("sim_aug"), col("ip"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id"),
        round(col("ip"), 4).as("ip"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** int8 SCALAR quantization of an embedding frame — per-vector max-abs
    * symmetric scale, the tp05 formula exactly ([[graft.operators.prep
    * .TrainPrep.embedQuant]] reports its integrity invariants; this is
    * the SEARCH consumer). Codes are stored as exact small-int floats so
    * the native fused cosine ranks them without a new expression.
    */
  private[graft] def sq8Codes(emb: DataFrame): DataFrame = {
    import graft.operators.prep.TrainPrep
    emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("amax", TrainPrep.sq8AmaxExpr)
      .withColumn("qi", TrainPrep.sq8QuantExpr) // THE tp05 quantizer, shared
      .select(col("vec_id"),
        transform(col("qi"), x => x.cast("float")).as("q")) // exact in float
  }

  /** ann10 — brute search over int8 SCALAR-quantized codes (the FAISS
    * "SQ8" rung of the memory-bandwidth ladder: 1 byte/dim stored, 4× the
    * scan rate of float32 — the first compression every 10⁹-vector
    * deployment applies before PQ). Ranking runs in CODE space: the
    * per-vector scale CANCELS in cosine (s·a ∠ t·b = a ∠ b), so
    * code-space cosine IS dequantized cosine and no dequantization
    * multiply is ever paid; the winner re-scores by exact cosine on the
    * raw embeddings (the rerank discipline of the PQ lanes).
    *
    * Driver-checked by the planted-copy theorem: an exact copy quantizes
    * to the SAME code as its original (identical input through the
    * deterministic quantizer), so with the copy as query the original's
    * candidate code is exactly parallel — code cosine 1.0, the global
    * maximum — while distinct fixture vectors sit far below it even after
    * quantization perturbation. Top-1 is provably the original and the
    * exact rerank emits cosine 1.0.
    */
  def sq8SelfRecall(spark: SparkSession, d: String,
      nQueries: Int = 64): DataFrame = {
    val base = Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))).cache()
    val all = withExactCopies(base)
    val codes = sq8Codes(all)
    val queries = broadcast(codes
      .filter(col("vec_id") >= 100000L && col("vec_id") < 100000L + nQueries)
      .select(col("vec_id").as("query_id"), col("q").as("q_code")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qsim").desc, col("vec_id"))
    // nanvl: an all-zero embedding quantizes to the zero code and its
    // cosine is 0/0 = NaN, which Spark's DESC sort ranks ABOVE every
    // real score (the assignSim hazard) — floor it below valid cosines
    val top1 = queries.join(codes, col("vec_id") =!= col("query_id"))
      .withColumn("qsim", nanvl(cosine(col("q_code"), col("q")), lit(-2.0)))
      .select(col("query_id"), col("vec_id"), col("qsim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("query_id"), col("vec_id"))
    top1
      .join(all.select(col("vec_id").as("query_id"),
        col("embedding").as("e_q")), Seq("query_id"))
      .join(all.select(col("vec_id"), col("embedding").as("e_c")),
        Seq("vec_id"))
      .withColumn("sim", cosine(col("e_q"), col("e_c")))
      .filter(col("vec_id") === col("query_id") - 100000L)
      .select(col("query_id"), col("vec_id").as("match_id"),
        round(col("sim"), 4).as("sim"))
      .orderBy(col("query_id"))
  }

  /** Multi-band random-hyperplane LSH nearest-neighbor (scale path).
    *
    * b bands × r sign-bits each (native codegen'd
    * [[graft.plans.SketchCols.hyperplaneBandBuckets]]): two vectors are
    * candidates iff they agree on ALL r bits of SOME band — the classic
    * b×r amplification, so bucket count grows as min(2^r, data) *per band*
    * instead of a fixed global constant. The failure mode of the previous
    * design (256 global buckets ⇒ O(n²/256) pairs, a quadratic skew bomb at
    * 100 TB) is gone: candidate volume tracks true near-neighbor density.
    *
    * Shuffle discipline (same lesson as the minhash rework): the band
    * self-join carries ONLY (bucket, vec_id) — embeddings are re-attached
    * once per side after pair dedup, so the 64-float arrays never ride the
    * b-way exploded shuffle.
    */
  def lshNearestMultiBand(spark: SparkSession, d: String,
                          bands: Int = 8, bits: Int = 10): DataFrame =
    lshNearestMultiBandOf(
      Tables.spread(Tables.embeddings(spark, d)
        .select(col("vec_id"), col("embedding"))),
      bands, bits)

  /** Core of [[lshNearestMultiBand]] over any (vec_id, embedding) frame.
    * Default 8×10 targets sim ≳ 0.9 near-dups (per-bit agreement ≈ 0.86 →
    * band hit ≈ 0.22 → ≈ 87% recall over 8 bands) while random pairs
    * (per-bit ≈ 0.5) pass a band with p ≈ 2^-10 — candidate volume stays
    * ≈ b·n²/2^bits only for truly-correlated data, not globally quadratic.
    */
  /** Directed LSH candidate pairs with embeddings attached — the shared
    * core of nearest-neighbor ([[lshNearestMultiBandOf]]) and cosine
    * near-dup dedup (graft.operators.dedup.Dedup.cosineNearDups).
    * The symmetric self-join (a ≠ b) yields both pair directions in ONE
    * candidate subtree — an `a < b` join + union-of-swap would re-execute
    * the whole band join twice (plan-audited: union of an uncached
    * subquery duplicates its subplan). Ids-only through the band shuffle;
    * embeddings re-attach after pair dedup.
    */
  def lshCandidatePairs(emb: DataFrame, bands: Int, bits: Int): DataFrame = {
    import graft.plans.SketchCols
    val sigs = emb.select(col("vec_id"),
      explode(SketchCols.hyperplaneBandBuckets(col("embedding"), bands, bits))
        .as("bucket"))
    sigs.as("a").join(sigs.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct() // a pair agreeing in several bands counts once
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), Seq("id_b"))
  }

  def lshNearestMultiBandOf(emb: DataFrame, bands: Int, bits: Int): DataFrame = {
    val w = Window.partitionBy(col("id_a")).orderBy(col("sim").desc, col("id_b"))
    lshCandidatePairs(emb, bands, bits)
      .withColumn("sim", cosine(col("emb_a"), col("emb_b")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("id_a").as("vec_id"), col("id_b").as("nearest_candidate"),
        round(col("sim"), 4).as("sim"))
      .orderBy(col("vec_id"))
  }

  /** Corpus + an EXACT copy of every vector at `vec_id + 100000` — the
    * planting device that turns a probabilistic ANN query into a
    * deterministic, oracle-checkable one (see [[lshSelfRecall]]).
    *
    * INVARIANT: corpus ids must stay below 100000, or planted ids collide
    * with real ones and the planting-formula oracles break. The driver
    * fixtures top out at doc_id 4999 / vec_id 1999; the "planting offset
    * clears every corpus id" spec pins this for all shipped scale factors.
    */
  private[graft] def withExactCopies(emb: DataFrame): DataFrame =
    emb.union(emb.select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))

  /** ann02's driver-checked shape: [[lshNearestMultiBandOf]] over the
    * corpus with planted EXACT copies. An identical vector has the same
    * sign under every hyperplane, hence the same bucket in every band —
    * its candidacy is guaranteed, not probabilistic — and exact-cosine
    * verification ranks it first at sim 1.0 (naturals top out ≈ 0.4 on
    * this corpus; ties are impossible since the fixture has no duplicate
    * vectors). Each original's nearest candidate is therefore provably its
    * copy, which an engine with no LSH at all re-derives from the planting
    * formula — the DuckDB oracle — while the full signature → band join →
    * verify pipeline still executes: a banding/bucketing/verify bug
    * surfaces as missing or mis-ranked rows, not as unverifiable noise.
    */
  def lshSelfRecall(spark: SparkSession, d: String,
      bands: Int = 8, bits: Int = 10): DataFrame = {
    val base = Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding")))
    lshNearestMultiBandOf(withExactCopies(base), bands, bits)
      .filter(col("vec_id") < 100000L) // originals' rows; copies mirror them
  }

  /** ann04's driver-checked shape: [[ivfTopKOf]] top-1 over the corpus
    * with planted EXACT copies. The copy lands in its original's coarse
    * cell (identical centroid similarities, identical tie-break), and a
    * query's first probe IS its own assignment cell (same argmax, same
    * tie-break on both sides), so the copy is always among the candidates
    * and wins rank 1 at sim 1.0 — deterministic end-to-end even though
    * which OTHER cells get probed stays data-dependent.
    */
  def ivfSelfRecall(spark: SparkSession, d: String, nlist: Int = 16,
      nprobe: Int = 4, nQueries: Int = 8): DataFrame = {
    val base = Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding")))
    // one Lloyd iteration: the driver-gated query exercises the TRAINED
    // codebook path; the self-recall theorem is codebook-independent
    // (copy ≡ original ⇒ same cell; probe #1 ≡ own cell), so the oracle
    // is unchanged no matter where training moves the centroids
    ivfTopKOf(withExactCopies(base), nlist, nprobe, nQueries, k = 1,
      refineIters = 1)
  }

  /** IVF (inverted-file) ANN — the codebook scale path alongside LSH:
    * coarse-quantize the corpus into `nlist` cells by nearest centroid,
    * then search exactly within only the `nprobe` cells nearest each
    * query. The codebook here is a deterministic hash-ranked sample of
    * corpus vectors (the smallest `nlist` values of xxhash64(vec_id)) —
    * the training seam where an offline k-means refinement would plug in;
    * everything downstream is codebook-agnostic.
    *
    * Scale shape:
    *  - the codebook is `nlist` vectors, broadcast — never shuffled;
    *  - cell assignment is one broadcast nested-loop pass over the corpus
    *    whose output is slimmed to (vec_id, cent_id, sim) BEFORE the
    *    groupBy — `max_by` partial-aggregates map-side, so the one
    *    exchange carries a single (vec_id, cell) row per vector, ids only;
    *  - search joins each query's nprobe cells against the cell-keyed
    *    corpus: candidate volume ≈ n·nprobe/nlist per query, not n, and
    *    embeddings re-attach by id only for actual candidates (the
    *    dd03/ann02 shuffle discipline).
    */
  def ivfTopK(spark: SparkSession, d: String, nlist: Int = 16, nprobe: Int = 4,
      nQueries: Int = 8, k: Int = 5): DataFrame =
    ivfTopKOf(Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))), nlist, nprobe, nQueries, k)

  /** Assignment-lane similarity: cosine with NaN mapped below every real
    * score. A trained centroid could in principle be a zero vector (empty
    * mean drift) → NaN cosine, and Spark's struct ordering ranks NaN as
    * the LARGEST double, which would make a degenerate centroid win every
    * argmax. Verify-stage cosines over the raw corpus stay untouched.
    */
  private[ann] def assignSim(v: Column, c: Column): Column =
    nanvl(cosine(v, c), lit(-2.0))

  /** One Lloyd iteration over the coarse codebook: assign every vector to
    * its nearest centroid (broadcast codebook, map-side argmax — the same
    * pass ivfTopKOf uses), then re-center each cell on the element-wise
    * mean of its members. The per-dimension mean runs as a (cell, dim)
    * groupBy — map-side combined partials, one row per (cell, dim) out of
    * each partition, never a payload shuffle — and empty cells keep their
    * previous centroid. The refined codebook is still `nlist` rows,
    * broadcast everywhere it is used.
    */
  def kmeansRefineOnce(emb: DataFrame, cents: DataFrame): DataFrame = {
    // slim (vec_id, cent_id, sim) before the argmax — the ids-only
    // discipline of ivfTopKOf's assignment; embeddings re-attach by id
    // only for the mean pass, which inherently consumes the values
    val assigned = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        assignSim(col("embedding"), col("cent_emb")).as("sim"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"), struct(col("sim"), -col("cent_id"))).as("cell"))
    // scaled-integer mean (the labelStats discipline): float components are
    // exact in double, round(×1e8) to long, sum exactly in any partition
    // arrival order, divide once — the refined centroid is BIT-deterministic
    // run to run, where a plain avg() would drift with shuffle fetch order
    val means = assigned.join(emb, Seq("vec_id"))
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg((sum(round(col("v").cast("double") * 1e8).cast("long")).cast("double")
        / (count(lit(1)) * 1e8)).as("m"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cell").as("cent_id"),
        transform(col("pm"), x => x.getField("m").cast("float")).as("mean_emb"))
    // both sides are nlist rows; broadcast explicitly — the planner has no
    // stats on these computed subtrees and would fall back to SMJ
    cents.select(col("cent_id"), col("cent_emb").as("prev_emb"))
      .join(broadcast(means), Seq("cent_id"), "left")
      .select(col("cent_id"),
        coalesce(col("mean_emb"), col("prev_emb")).as("cent_emb"))
  }

  /** The coarse (IVF) codebook: deterministic hash-ranked corpus sample,
    * optionally refined by `refineIters` Lloyd iterations (offline
    * k-means training, [[kmeansRefineOnce]]) — everything downstream is
    * codebook-agnostic.
    *
    * Pin every codebook generation to ONE execution: the sampled init and
    * each Lloyd refinement cost a full corpus pass, and the result is
    * referenced from several subtrees below (cell assignment, probe
    * ranking, the next refinement). A lazy `cache()` rebases all consumers
    * on the same nlist-row InMemoryRelation — the training subtree runs
    * once, structurally, instead of relying on ReusedExchange to dedupe
    * identical broadcast subtrees — and keeps plan size linear in
    * refineIters (each iteration references its predecessor twice, so
    * inlined plans would grow exponentially). cache(), NOT localCheckpoint:
    * even a lazy localCheckpoint materializes the AQE query stages below
    * it at BUILD time (AdaptiveSparkPlanExec.doExecute finalizes the
    * plan), and a library query constructor must submit zero Spark jobs.
    * Lifecycle: entries are nlist rows each and CacheManager dedupes
    * identical plans across rebuilds; a session that wants them gone
    * uses spark.catalog.clearCache() (no per-query release API here —
    * consumers execute after construction returns).
    */
  private[graft] def coarseCentroids(emb: DataFrame, nlist: Int,
      refineIters: Int): DataFrame =
    centroidGenerations(emb, nlist, refineIters).last

  /** Every pinned generation of [[coarseCentroids]], oldest first: for a
    * caller that releases them once its plan over the last one has run.
    */
  private[ann] def centroidGenerations(emb: DataFrame, nlist: Int,
      refineIters: Int): Seq[DataFrame] = {
    val cents0 = emb
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"),
        xxhash64(col("vec_id")).as("h"))
      .orderBy(col("h"), col("cent_id")).limit(nlist).drop("h")
    (0 until refineIters)
      .scanLeft(cents0.cache())((c, _) => kmeansRefineOnce(emb, c).cache())
  }

  /** Corpus → nearest coarse cell: slim (vec_id, cent_id, sim) projection
    * against the broadcast codebook, then a map-side-combined argmax —
    * the one exchange carries a single (vec_id, cell) row per vector.
    */
  private[graft] def assignCells(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        assignSim(col("embedding"), col("cent_emb")).as("sim"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"), struct(col("sim"), -col("cent_id"))).as("cell"))

  /** Query → its `nprobe` nearest cells (|queries| × nlist rows: a tiny
    * broadcast-side window).
    */
  private[graft] def probeCells(queries: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame =
    queries.crossJoin(broadcast(cents))
      .withColumn("qsim", assignSim(col("q_emb"), col("cent_emb")))
      .withColumn("prb", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("qsim").desc, col("cent_id"))))
      .filter(col("prb") <= nprobe)
      .select(col("query_id"), col("cent_id").as("cell"))

  def ivfTopKOf(emb: DataFrame, nlist: Int, nprobe: Int, nQueries: Int,
      k: Int, refineIters: Int = 0): DataFrame = {
    val cents = coarseCentroids(emb, nlist, refineIters)
    val cells = assignCells(emb, cents)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val probes = probeCells(queries, cents, nprobe)

    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    // probes are nQueries × nprobe rows — always broadcast (the planner
    // has no stats on this subtree and would fall back to SMJ)
    broadcast(probes).join(cells, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .join(emb, Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("sim", cosine(col("q_emb"), col("embedding")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id"), round(col("sim"), 4).as("sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** k-NN GRAPH construction — the batch substrate under NN-descent,
    * graph clustering, SemDeDup-style pruning and HNSW/UMAP builds: every
    * vector's top-k cosine neighbors, searched within its IVF coarse cell
    * only (the dd14 no-cartesian discipline: pair candidates form
    * cell-keyed, never corpus × corpus), plus the MUTUAL flag — edge
    * (i → j) is mutual iff (j → i) is also a top-k edge, the symmetric
    * backbone graph algorithms actually consume.
    *
    * Scale shape: the codebook broadcasts; candidate volume is
    * Σ|cell|² (bounded by the coarse partitioning, not n²); the top-k
    * ranking window carries partial WindowGroupLimit so no task sorts a
    * whole cell's pair list; the mutual check is an ids-only self-join of
    * the k·n edge relation — embeddings never ride it.
    */
  def knnGraphOf(emb: DataFrame, nlist: Int = 16, k: Int = 3,
      refineIters: Int = 1): DataFrame =
    knnGraphWith(emb, coarseCentroids(emb, nlist, refineIters), k)

  /** [[knnGraphOf]] over a given coarse codebook `cents`. */
  private[ann] def knnGraphWith(emb: DataFrame, cents: DataFrame,
      k: Int): DataFrame = {
    val keyed = assignCells(emb, cents).join(emb, Seq("vec_id"))
    val nbrs = keyed.select(col("cell"), col("vec_id").as("nbr_id"),
      col("embedding").as("nbr_emb"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("nbr_id"))
    val edges = keyed.join(nbrs, Seq("cell"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        cosine(col("embedding"), col("nbr_emb")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("nbr_id"), col("rank"))
    val reverse = edges.select(col("nbr_id").as("vec_id"),
      col("vec_id").as("nbr_id"), lit(true).as("mutual"))
    edges.join(reverse, Seq("vec_id", "nbr_id"), "left")
      .withColumn("mutual", coalesce(col("mutual"), lit(false)))
  }

  /** ann16's driver-checked shape: [[knnGraphOf]] over the corpus with
    * planted EXACT copies. A copy assigns to its original's cell
    * (identical similarities, identical tie-break), each twin's rank-1
    * neighbor is the other at sim 1.0 (naturals cap ≈ 0.4, no duplicate
    * vectors in the fixture), and BOTH directions are top-k edges — so
    * every original's rank-1 row is (original, copy, mutual = true), the
    * relation DuckDB re-derives from the planting formula while the full
    * cell-keyed pairing + ranking + mutual-join machinery executes.
    */
  def knnGraphSelfRecall(spark: SparkSession, d: String): DataFrame = {
    val base = Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding")))
    knnGraphOf(withExactCopies(base))
      .filter(col("rank") === 1 && col("vec_id") < 100000L)
      .select(col("vec_id"), col("nbr_id"), col("mutual"))
      .orderBy(col("vec_id"))
  }

  /** GREEDY GRAPH SEARCH over a k-NN edge relation — the consumer that
    * makes the graph load-bearing (HNSW/NSG's beam-search move): starting
    * from per-query SEED vertices, expand `hops` rounds of graph
    * neighbors, keep a beam of the best `beam` visited vertices per query
    * by EXACT cosine after each round, and return the top-k of everything
    * visited. Candidates come ONLY from the seeds and the graph's edges —
    * no cell probe, no corpus scan — so a broken graph (a missing edge)
    * surfaces as a missing result, never silently recovered.
    *
    * The contract, hop by hop:
    *  - hop 1 expands EVERY distinct (query_id, vec_id) seed pair: the
    *    beam never cuts the seeds, and a seed with no embedding row still
    *    routes (it is never scored, so it cannot rank or re-expand);
    *  - after each expansion the next frontier is the `beam` best scored
    *    visited vertices per query, seeds included, ordered by sim desc
    *    then vec_id asc (`Double.compare`, Spark's own sort order: NaN
    *    largest, -0.0 below 0.0);
    *  - a vec_id with several `emb` rows is scored once per row, and each
    *    scored row competes for the beam and the result on its own;
    *  - the result is the top `k` scored visited vertices per query, with
    *    the query itself and `exclude`d vertices removed BEFORE the cut.
    *
    * Evaluation: the queries, the frontier, the visited set and the scores
    * live on the DRIVER, and Spark only reads the stores. Each hop is two
    * bounded scans with no join and no shuffle: [[hopExpansion]] reads the
    * frontier vertices' edges (statically group-pruned on a persisted
    * store), and one `vec_id IN (…)` read of `emb` fetches the new
    * candidates' embeddings. The fan-out to queries, the `seen` filter,
    * the scoring ([[graft.plans.SketchUtil.cosineSimilarity]], the kernel
    * the codegen'd [[cosine]] runs, so sims are bit-identical), the beam
    * and the final top-k are plain driver code; `exclude` is one
    * `vec_id IN (scored ids)` read. The result is a sorted LocalRelation.
    * Condition on the caller: per hop the driver holds
    * ≤ |queries| · (seeds + beam·degree) (query, vertex) pairs and at most
    * that many distinct candidate embeddings, so the query batch times the
    * seed count must fit the driver; Spark's `spark.driver.maxResultSize`
    * is the only guard on each read. `graph` and `emb` are re-read by
    * every hop: pass a stored or pinned relation, never an in-plan
    * construction ([[graphSearchSelfRecall]] pins its [[knnGraphOf]]
    * output for the call).
    *
    * @param graph     (vec_id, nbr_id, …) edge relation; with `groupedBy`
    *                  it also carries the store's `ggrp` partition column
    * @param emb       (vec_id, embedding) store for exact scoring
    * @param queries   (query_id, q_emb) — small, collected once
    * @param seeds     (query_id, vec_id) entry points (an IVF probe's
    *                  coarse winners, a prior result, or any known-near
    *                  vertex)
    * @param exclude   (vec_id) vertices banned from the RESULT — the
    *                  persisted store's tombstone set. Removed BEFORE
    *                  the top-k cut (a dead vertex must not consume result
    *                  slots — the ann14/ann15 pre-filter rule) but NOT
    *                  from expansion: a tombstoned vertex keeps ROUTING
    *                  until compaction drops its edges physically (the
    *                  HNSW soft-delete discipline — removing a hub from
    *                  routing would orphan its neighborhood).
    * @param groupedBy the persisted store's group dial: the frontier's
    *                  groups then prune each hop's edge scan
    */
  def graphSearchTopK(graph: DataFrame, emb: DataFrame, queries: DataFrame,
      seeds: DataFrame, hops: Int = 2, beam: Int = 8, k: Int = 5,
      exclude: Option[DataFrame] = None,
      groupedBy: Option[Int] = None): DataFrame = {
    require(hops >= 1 && hops <= 4, "hops must be a small constant (1..4)")
    val spark = graph.sparkSession
    import spark.implicits._
    type Scored = (Long, Long, Double)
    val before: (Scored, Scored) => Boolean = { (a, b) =>
      val c = java.lang.Double.compare(a._3, b._3)
      if (c != 0) c > 0 else a._2 < b._2
    }
    val qEmbs = embeddingsById(queries, "query_id", "q_emb")
    def score(pairs: Seq[(Long, Long)]): Seq[Scored] = {
      val ids = pairs.map(_._2).distinct
      val embs = if (ids.isEmpty) Map.empty[Long, Seq[ArrayData]]
        else embeddingsById(emb.filter(col("vec_id").isin(ids: _*)),
          "vec_id", "embedding")
      for {
        (q, v) <- pairs
        qe <- qEmbs.getOrElse(q, Nil)
        e <- embs.getOrElse(v, Nil)
      } yield (q, v, cosineOf(qe, e, q, v))
    }
    def beamOf(scored: Seq[Scored]): Seq[(Long, Long)] =
      scored.groupBy(_._1).valuesIterator
        .flatMap(_.sortWith(before).take(beam))
        .map { case (q, v, _) => (q, v) }.toSeq.distinct
    val seedPairs = seeds
      .select(col("query_id").cast("long"), col("vec_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.distinct
    var seen = seedPairs.toSet
    var frontier = seedPairs
    var scored = Vector.empty[Scored]
    var hop = 0
    while (hop < hops && frontier.nonEmpty) {
      val adj = hopExpansion(graph, frontier.map(_._2).distinct, groupedBy)
        .collect().toSeq.groupMap(_.getLong(0))(_.getLong(1))
      val cands = frontier.flatMap { case (q, v) =>
        adj.getOrElse(v, Nil).map(q -> _)
      }.distinct.filterNot(seen)
      // the seeds are scored in hop 1's read, beside its candidates
      scored ++= score(if (hop > 0) cands else cands ++ seedPairs)
      seen ++= cands
      frontier = beamOf(scored)
      hop += 1
    }
    val dead = exclude match {
      case Some(t) if scored.nonEmpty =>
        val ids = scored.map(_._2).distinct
        t.filter(col("vec_id").isin(ids: _*))
          .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
      case _ => Set.empty[Long]
    }
    scored.filter { case (q, v, _) => v != q && !dead(v) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (_, qs) =>
        qs.sortWith(before).take(k).zipWithIndex
          .map { case ((q, v, sim), i) => (q, i + 1, v, sim) }
      }
      .toDF("query_id", "rnk", "vec_id", "sim")
      .select(col("query_id"), col("rnk"), col("vec_id"),
        round(col("sim"), 4).as("sim"))
  }

  /** (id, embedding) rows of `df` collected and keyed by id, one entry
    * per row, as the ArrayData the cosine kernel reads (nulls preserved).
    */
  private def embeddingsById(df: DataFrame, idCol: String,
      embCol: String): Map[Long, Seq[ArrayData]] = {
    df.schema(embCol).dataType match {
      case ArrayType(FloatType, _) => ()
      case t => throw new IllegalArgumentException(
        s"graph search scores ARRAY<FLOAT> embeddings; $embCol is $t")
    }
    df.select(col(idCol).cast("long"), col(embCol)).collect().toSeq
      .groupMap(_.getLong(0)) { r =>
        Option(r.getSeq[Any](1)).map(s => new GenericArrayData(s.toArray))
          .orNull: ArrayData
      }
  }

  private def cosineOf(a: ArrayData, b: ArrayData, q: Long, v: Long): Double = {
    val sim =
      if (a == null || b == null) null
      else graft.plans.SketchUtil.cosineSimilarity(a, b)
    if (sim == null) throw new IllegalArgumentException(
      s"cosine of query $q and vertex $v is undefined: a null embedding, " +
        "a null element or mismatched lengths")
    sim
  }

  /** One hop of [[graphSearchTopK]], factored so its plan shape is
    * spec-pinnable: the edges `(vec_id, nbr_id)` leaving the frontier's
    * distinct vertex `ids`, as ONE scan with no join and no shuffle
    * (`vec_id IN (…)`). With `groupedBy` (a persisted store's dial) the
    * ids' groups are computed on the driver with the store's own hash
    * ([[groupOf]]) and applied as a STATIC partition filter
    * (`ggrp IN (…)` at plan time — the committed store is hash-range
    * partitioned by `ggrp`), so the scan reads the frontier's groups and
    * nothing else.
    */
  private[graft] def hopExpansion(edges: DataFrame, ids: Seq[Long],
      groupedBy: Option[Int]): DataFrame =
    groupedBy.fold(edges)(n => edges.filter(col("ggrp").isin(
        ids.map(groupOf(_, n)).distinct.map(Int.box): _*)))
      .filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").cast("long"), col("nbr_id").cast("long"))

  /** A vertex's group under a store dial of `n`: Spark's
    * `pmod(xxhash64(vec_id), n)` for a BIGINT vec_id, evaluated on the
    * driver (the same XXH64 kernel and seed the `xxhash64` expression
    * runs).
    */
  private[graft] def groupOf(id: Long, n: Int): Int =
    java.lang.Math.floorMod(XXH64.hashLong(id, 42L), n.toLong).toInt

  /** One NN-DESCENT refinement round (Dong et al. 2011) — the
    * graph-improvement move that turns a cheap/degraded initial k-NN
    * graph into a better one without any corpus×corpus pass: each
    * node's candidate set is its current neighbors, its REVERSE
    * neighbors, and the neighbors of both (the "a neighbor of my
    * neighbor is probably my neighbor" step); candidates are verified
    * by EXACT cosine and each node keeps its new top-k. All joins are
    * ids-only until the bounded per-node verification; embeddings ride
    * only the candidate-scoring join, never a shuffle of the corpus.
    * Cost per round: |E|·degree candidate rows, |E| = k·n — linear in
    * the corpus, never quadratic.
    */
  def nnDescentRound(graph: DataFrame, emb: DataFrame, k: Int = 3): DataFrame = {
    val fwd = graph.select(col("vec_id"), col("nbr_id"))
    val rev = fwd.select(col("nbr_id").as("vec_id"), col("vec_id").as("nbr_id"))
    val und = fwd.unionByName(rev) // neighbors ∪ reverse neighbors
    val twoHop = und
      .join(und.select(col("vec_id").as("nbr_id"), col("nbr_id").as("hop2")),
        Seq("nbr_id"))
      .select(col("vec_id"), col("hop2").as("nbr_id"))
    val cands = und.unionByName(twoHop)
      .filter(col("vec_id") =!= col("nbr_id"))
      .distinct()
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("nbr_id"))
    cands
      .join(emb, Seq("vec_id"))
      .join(emb.select(col("vec_id").as("nbr_id"),
        col("embedding").as("nbr_emb")), Seq("nbr_id"))
      .withColumn("sim", cosine(col("embedding"), col("nbr_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("nbr_id"), col("rank"),
        round(col("sim"), 4).as("sim"))
  }

  /** ann19's driver-checked shape — NN-descent made PROVABLE: build a
    * deliberately DEGRADED initial graph (k = 1: every node keeps only
    * its single nearest neighbor) over the corpus plus TWO exact copies
    * per planted original, then run ONE [[nnDescentRound]] at k = 2.
    * In the k = 1 graph each member of a planted sim-1.0 triple
    * (i, i+100000, i+200000) points at exactly one twin (ascending-id
    * tie-break: i→i+1e5, i+1e5→i, i+2e5→i), so the +200000 node's list
    * provably LACKS its second twin — and one refinement round
    * provably finds it: candidates include neighbors-of-neighbors, and
    * nbr(nbr(i+2e5)) = nbr(i) ∋ i+100000. After the round every
    * +200000 node's top-2 is exactly {original, +100000 copy} at sim
    * 1.0 (no other candidate reaches 1.0; naturals cap ≈ 0.4) — the
    * relation the oracle re-derives from the planting formula alone,
    * while degraded-build → candidate generation → exact verify →
    * re-rank all execute. A refinement that stopped at 1 hop, skipped
    * reverse edges, or mis-ranked candidates breaks the gate.
    */
  def nnDescentSelfRecall(spark: SparkSession, d: String,
      nQueries: Int = 64): DataFrame = {
    val base = Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))).cache()
    val qs = base.filter(col("vec_id") < nQueries)
    val copies1 = qs.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"))
    val copies2 = qs.select((col("vec_id") + 200000L).as("vec_id"),
      col("embedding"))
    val all = base.unionByName(copies1).unionByName(copies2)
    // the ≤ 2·nQueries result rows are collected into a LocalRelation,
    // so the corpus and centroid pins end with the call
    val cents = centroidGenerations(all, nlist = 16, refineIters = 1)
    try {
      val found = nnDescentRound(knnGraphWith(all, cents.last, k = 1), all, k = 2)
        .filter(col("vec_id") >= 200000L)
        .select(col("vec_id").as("node_id"), col("rank"),
          col("nbr_id"), col("sim"))
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(found.collect().toSeq.asJava, found.schema)
        .orderBy(col("node_id"), col("rank"))
    } finally { (cents :+ base).foreach(_.unpersist()) }
  }

  /** ann18's driver-checked shape — the planted theorem through
    * build → SEARCH: [[knnGraphOf]] over the corpus plus TWO exact
    * copies per planted original (+100000, +200000 — a sim-1.0
    * triple), then [[graphSearchTopK]] with each +200000 copy as the
    * query, seeded AT ITSELF. The only path to an answer is the
    * graph: hop 1 reaches the seed's top-k edges, which provably
    * include both its twins (identical vectors rank 1–2 at sim 1.0 in
    * the seed's cell — same cell by identical assignment); exact
    * rerank then puts the ORIGINAL first (sim 1.0, ascending-id
    * tie-break beats +100000; organic sims cap ≈ 0.4 in the fixture).
    * A lost edge, a broken expansion join, or a wrong beam cut all
    * surface as a missing or mis-ranked row — the graph is
    * load-bearing, not decorative.
    */
  def graphSearchSelfRecall(spark: SparkSession, d: String,
      nQueries: Int = 64): DataFrame = {
    val base = Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))).cache()
    val qs = base.filter(col("vec_id") < nQueries)
    val copies1 = qs.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"))
    val copies2 = qs.select((col("vec_id") + 200000L).as("vec_id"),
      col("embedding"))
    val all = base.unionByName(copies1).unionByName(copies2)
    val queries = copies2.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val seeds = copies2.select((col("vec_id")).as("query_id"),
      col("vec_id"))
    // every hop re-reads the graph: build it once; the search returns
    // rows already collected to the driver, so every pin ends with the call
    val cents = centroidGenerations(all, nlist = 16, refineIters = 1)
    val graph = knnGraphWith(all, cents.last, k = 3).cache()
    try graphSearchTopK(graph, all, queries, seeds, hops = 2, beam = 8, k = 1)
      .select(col("query_id"), col("vec_id").as("match_id"), col("sim"))
      .orderBy(col("query_id"))
    finally { (graph +: cents :+ base).foreach(_.unpersist()) }
  }

  /** Per-label embedding stats (norm distribution) — the sanity scan a
    * pipeline runs before indexing.
    *
    * Norms are accumulated as scaled integers: each float² is exact in
    * double (24-bit mantissa squared < 53 bits), scaled by 1e8 and rounded
    * per element, then summed as BIGINT — exact, partition-order
    * independent, and engine-portable (no DECIMAL canonicalization drift).
    */
  def labelStats(spark: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.embeddings(spark, d))
      .select(col("label"), col("vec_id"),
        aggregate(col("embedding"), lit(0L),
          (acc, v) => acc +
            round(v.cast("double") * v.cast("double") * lit(1e8)).cast("long"))
          .as("norm_sq_e8"),
        size(col("embedding")).as("dim"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        max(col("dim")).as("dim"),
        sum(col("norm_sq_e8")).as("sum_norm_sq_e8"))
      .orderBy(col("label"))

  // ---------------------------------------------------------------------
  // Product quantization (PQ) — the compressed-domain ANN scale path
  // alongside LSH (ann02) and IVF (ann04): the embedding splits into `m`
  // subvectors, each quantized against its own `ksub`-centroid codebook,
  // so a vector's index footprint is m small codes instead of `dim`
  // floats (64-dim float → 4 bytes at m=4/ksub≤256 — a 64× compression),
  // and candidate scoring runs in the compressed domain (ADC: per-query
  // lookup tables over the codebooks, summed per candidate) with exact
  // reranking only on the shortlist. Reference scope: walex has no ANN
  // surface; this is the training-data-pipeline extension the brief
  // specifies, same family as `lib/walex` event filtering is to streams.
  // ---------------------------------------------------------------------

  /** Per-subspace PQ codebooks, one frame: (m, code, cent_emb), m*ksub
    * rows, always broadcast. Init is the ivf discipline — a deterministic
    * hash-ranked corpus sample (codes keep their seed vec_id; density is
    * irrelevant to equality joins and argmax) — optionally refined by
    * `refineIters` FUSED Lloyd iterations ([[pqRefineOnce]]: all m
    * subspaces assigned and re-centered in one corpus pass per iteration,
    * not one per lane). Each generation is cache-pinned to one execution
    * (the ann04 rationale: several consumers, zero-job constructors,
    * linear plan growth).
    */
  private[graft] def pqCodebooks(emb: DataFrame, m: Int, ksub: Int,
      subLen: Int, refineIters: Int): DataFrame =
    pqCodebookGenerations(emb, m, ksub, subLen, refineIters).last

  /** Every pinned generation of [[pqCodebooks]], oldest first: for a
    * caller that releases them once its plan over the last one has run.
    */
  private[ann] def pqCodebookGenerations(emb: DataFrame, m: Int, ksub: Int,
      subLen: Int, refineIters: Int): Seq[DataFrame] = {
    // all m subspace lanes of the hash-ranked seed sample in one frame:
    // explode the subspace index, slice by column arithmetic — no per-lane
    // corpus pass at init or during refinement
    val init = emb
      .select(col("vec_id"), col("embedding"), xxhash64(col("vec_id")).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(ksub)
      .select(col("vec_id").as("code"), col("embedding"),
        explode(sequence(lit(0), lit(m - 1))).as("m"))
      .select(col("m"), col("code"),
        slice(col("embedding"), col("m") * subLen + 1, lit(subLen)).as("cent_emb"))
    (0 until refineIters)
      .scanLeft(init.cache())((b, _) => pqRefineOnce(emb, b, subLen).cache())
  }

  /** One Lloyd iteration over ALL m subspace codebooks in a single corpus
    * pass (the fused analogue of [[kmeansRefineOnce]]): assign via
    * [[pqEncode]], re-center each (m, code) cell on the element-wise mean
    * of its members' subvectors. Means accumulate as scaled integers
    * (×1e8 longs — exact in any partition arrival order) so refined
    * codebooks are bit-deterministic run to run; empty cells keep their
    * previous centroid. Cost per iteration: one encode pass + one
    * mean pass over the corpus, independent of m.
    */
  private[graft] def pqRefineOnce(emb: DataFrame, books: DataFrame,
      subLen: Int): DataFrame = {
    val assigned = pqEncode(emb, books, subLen)
    val means = assigned.join(emb, Seq("vec_id"))
      .select(col("m"), col("code"),
        posexplode(slice(col("embedding"), col("m") * subLen + 1, lit(subLen)))
          .as(Seq("pos", "v")))
      .groupBy(col("m"), col("code"), col("pos"))
      .agg((sum(round(col("v").cast("double") * 1e8).cast("long")).cast("double")
        / (count(lit(1)) * 1e8)).as("mv"))
      .groupBy(col("m"), col("code"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mv")))).as("pm"))
      .select(col("m"), col("code"),
        transform(col("pm"), x => x.getField("mv").cast("float")).as("mean_emb"))
    books.select(col("m"), col("code"), col("cent_emb").as("prev_emb"))
      .join(broadcast(means), Seq("m", "code"), "left")
      .select(col("m"), col("code"),
        coalesce(col("mean_emb"), col("prev_emb")).as("cent_emb"))
  }

  /** Encode a corpus against trained codebooks: ONE corpus pass — each
    * vector crossed with the broadcast m*ksub codebook, the matching
    * subvector sliced out per codebook row (column-arithmetic start, no
    * per-subspace scan), then a map-side-combined argmax per (vec_id, m).
    * The exchange carries (vec_id, m, code) — ids and codes only, never
    * embeddings: the output IS the compressed index (m codes per vector).
    */
  private[graft] def pqEncode(emb: DataFrame, codebooks: DataFrame,
      subLen: Int): DataFrame =
    emb.crossJoin(broadcast(codebooks))
      .select(col("vec_id"), col("m"), col("code"),
        assignSim(slice(col("embedding"), col("m") * subLen + 1, lit(subLen)),
          col("cent_emb")).as("sim"))
      .groupBy(col("vec_id"), col("m"))
      .agg(max_by(col("code"), struct(col("sim"), -col("code"))).as("code"))

  /** Collapse per-subspace codes to one canonical full-code string per
    * vector (subspace-ordered — array_sort on the (m, code) structs, so
    * the string is partition-order independent).
    */
  private[graft] def pqFullCodes(codes: DataFrame): DataFrame =
    codes.groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("m"), col("code")))).as("mc"))
      .select(col("vec_id"),
        concat_ws(",", transform(col("mc"),
          x => x.getField("code").cast("string"))).as("pq_code"))

  /** ann05's driver-checked shape: full-PQ-code collision blocking over
    * the corpus with planted EXACT copies, exact-cosine verified. The
    * theorem mirrors ann02's: an identical vector has bitwise-identical
    * subvectors, hence identical assignment similarities and the same
    * argmax code in EVERY subspace (same tie-break), so original and copy
    * share the full code and the equality join always pairs them; exact
    * verification then ranks the copy first at sim 1.0 (naturals top out
    * ≈0.4; the fixture has no duplicate vectors). The output is provably
    * the planting relation — codebook-independent, so Lloyd refinement
    * can move centroids freely — while the whole train → encode →
    * collide → verify pipeline still executes and any encoding or
    * blocking bug surfaces as missing/mis-ranked rows.
    *
    * Scale shape: the collision join shuffles (vec_id, pq_code) only;
    * embeddings re-attach by id for actual collision candidates (the
    * dd03/ann02 discipline). The code space is ksub^m (~16^4 = 65k here,
    * 256^8 ≈ 1.8e19 in production shapes), so buckets stay small and the
    * join never degenerates into all-pairs.
    */
  def pqSelfRecall(spark: SparkSession, d: String, m: Int = 4,
      ksub: Int = 16, dim: Int = 64, refineIters: Int = 1): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split into m=$m subvectors")
    val subLen = dim / m
    val base = Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding")))
    val all = withExactCopies(base).cache() // encode + two id-joins below
    val codes = pqFullCodes(
      pqEncode(all, pqCodebooks(all, m, ksub, subLen, refineIters), subLen))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("cand_id"))
    codes.filter(col("vec_id") < 100000L)
      .join(codes.select(col("vec_id").as("cand_id"), col("pq_code")),
        Seq("pq_code"))
      .filter(col("cand_id") =!= col("vec_id"))
      .select(col("vec_id"), col("cand_id"))
      .join(all, Seq("vec_id"))
      .join(all.select(col("vec_id").as("cand_id"),
        col("embedding").as("cand_emb")), Seq("cand_id"))
      .withColumn("sim", cosine(col("embedding"), col("cand_emb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("vec_id"), col("cand_id").as("pq_nearest"),
        round(col("sim"), 4).as("sim"))
      .orderBy(col("vec_id"))
  }

  /** ADC (asymmetric distance computation) top-k — the PQ search lane
    * proper: per query, a lookup table of subspace similarities against
    * every codebook centroid (m*ksub entries, broadcast); each candidate's
    * compressed-domain score is the SUM of its codes' table entries.
    * Entries are scaled-integer (×1e8, the labelStats discipline), so the
    * per-candidate sum is exact long arithmetic — partition-order
    * independent and engine-portable. The ADC shortlist (`rerank` ids per
    * query) then reranks by exact cosine; only those ids re-attach
    * embeddings. At 100 TB the scored index is (vec_id, m, code) — the
    * corpus embeddings are read once to encode and once per shortlist id,
    * never shuffled wholesale.
    */
  def pqTopKOf(emb: DataFrame, m: Int = 4, ksub: Int = 16, dim: Int = 64,
      nQueries: Int = 8, k: Int = 5, rerank: Int = 32,
      refineIters: Int = 1): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split into m=$m subvectors")
    val subLen = dim / m
    val corpus = emb.cache()
    val books = pqCodebooks(corpus, m, ksub, subLen, refineIters)
    val codes = pqEncode(corpus, books, subLen)
    val queries = corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // per-query subspace lookup tables: nQueries × m × ksub rows, tiny
    val tables = queries.crossJoin(broadcast(books))
      .select(col("query_id"), col("m"), col("code"),
        round(assignSim(slice(col("q_emb"), col("m") * subLen + 1, lit(subLen)),
          col("cent_emb")) * lit(1e8)).cast("long").as("subscore"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val shortlist = codes
      .join(broadcast(tables), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("subscore")).as("adc"))
      .withColumn("arnk", row_number().over(wAdc))
      .filter(col("arnk") <= rerank)
      .select(col("query_id"), col("vec_id"))
    val wSim = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    shortlist
      .join(corpus, Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("sim", cosine(col("q_emb"), col("embedding")))
      .withColumn("rnk", row_number().over(wSim))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id"),
        round(col("sim"), 4).as("sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** ann11 — HYBRID retrieval: BM25 sparse leg + brute-cosine dense leg
    * fused by Reciprocal Rank Fusion (Cormack et al. 2009), the standard
    * two-tower production shape (every RAG/search stack runs exactly
    * this: lexical candidates ∪ vector candidates → rank fusion). The
    * corpus is the documents/embeddings pair keyed by the shared id
    * (doc_id ≡ vec_id); sparse queries are the [[graft.operators.text
    * .TextOps.bm25Queries]] workload and each dense query is the
    * embedding of the same id — one fused ranking per query.
    *
    * RRF is computed INTEGRALLY: contribution = `1000000 div (60 + rank)`
    * per leg (k=60, the published constant; the 1e6 scale keeps the
    * score integer so cross-engine float summation order never enters
    * the contract). Absent legs contribute 0 and surface as rank 0.
    *
    * Scale shape: each leg is its own already-audited plan (bm25's
    * two-stage bucketed top-k; the dense leg's broadcast-query single
    * scan); fusion touches only the ≤ 2·kLeg survivors per query — a
    * full-outer join on (query_id, doc_id) over a few dozen rows per
    * query, never the corpus. At 10⁹ docs the legs dominate and the
    * fusion cost is invisible.
    */
  def hybridRrfTopK(spark: SparkSession, d: String,
      kLeg: Int = 20, k: Int = 10): DataFrame = {
    import graft.operators.text.TextOps
    val qids = TextOps.bm25Queries.map(_._1.toLong)
    val sparse = TextOps.bm25TopKFor(
        Tables.documents(spark, d), TextOps.bm25Queries, kLeg)
      .select(col("query_id").cast("long").as("query_id"),
        col("doc_id"), col("rnk").as("sparse_rnk"))
    val emb = Tables.spread(Tables.embeddings(spark, d))
    val queries = broadcast(emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("doc_id"))
    val dense = queries.join(emb, col("vec_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("q_emb"), col("embedding")))
      .select(col("query_id"), col("vec_id").as("doc_id"), col("sim"))
      .withColumn("dense_rnk", row_number().over(w))
      .filter(col("dense_rnk") <= kLeg)
      .select(col("query_id"), col("doc_id"), col("dense_rnk"))
    val fused = sparse.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("sparse_rnk"), lit(0)).as("sparse_rnk"),
        coalesce(col("dense_rnk"), lit(0)).as("dense_rnk"))
      .withColumn("rrf_score",
        (when(col("sparse_rnk") > 0,
          expr("1000000 div (60 + sparse_rnk)")).otherwise(0L) +
         when(col("dense_rnk") > 0,
           expr("1000000 div (60 + dense_rnk)")).otherwise(0L))
          .cast("long"))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rnk", row_number().over(wf))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"),
        col("rrf_score"), col("sparse_rnk"), col("dense_rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  def pqTopK(spark: SparkSession, d: String, m: Int = 4, ksub: Int = 16,
      nQueries: Int = 8, k: Int = 5): DataFrame =
    pqTopKOf(Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))), m, ksub,
      nQueries = nQueries, k = k)
}
