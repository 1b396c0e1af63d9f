package graft.operators

import graft.Ckpt._
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** L3 (SURVEY.md §2.9): similarity search over the `embeddings` fixture
  * (64-d float vectors).
  *
  * Two declared variants:
  *  - brute-force cosine top-k (the exact baseline): broadcast the 1-row
  *    query vector, compute cosine per row with higher-order array
  *    functions (codegen'd, no UDF), TakeOrderedAndProject for the top-k —
  *    a single narrow pass over the table, no driver-side collect.
  *  - sign-bit LSH bucketed ANN (the scale path): vectors are bucketed by
  *    the sign pattern of their leading dimensions (a random-projection
  *    family — embedding dims are already random directions); the search
  *    touches only the query's bucket, ~n/2^bits of the data. At 100 TB
  *    the bucket id is a partition/cluster key so a probe reads one
  *    partition instead of the full corpus.
  *
  * Determinism-for-oracle discipline: float elements are widened to
  * double (exact), per-element products are cast to DECIMAL(30,15)
  * (order-independent exact sum — same trick as [[graft.Det.dsum]]), and
  * the final cosine is rounded at 6 dp on both engines.
  */
object Similarity {

  /** Array<float> → array<double> (exact widening). */
  private def dbl(a: Column): Column = transform(a, _.cast("double"))

  /** Exact order-independent sum of an array<double> via DECIMAL(30,15). */
  private def dsumArr(a: Column): Column =
    aggregate(
      a,
      lit(0).cast("decimal(30,15)"),
      (acc, x) => (acc + x.cast("decimal(30,15)")).cast("decimal(30,15)"))

  /** Cosine similarity of two array<double> columns, rounded at `scale`.
    * At the default 6-dp scale this rides the fused native
    * [[graft.functions.ExactCosine]] pass (same decimal algebra, one
    * array walk instead of six interpreted ones); any other scale takes
    * the declarative scaffold. PropertiesSpec pins native == declarative.
    */
  def cosine(a: Column, b: Column, scale: Int = 6): Column =
    if (scale == 6) graft.functions.ExactCosineCol(a, b)
    else cosineDeclarative(a, b, scale)

  /** The declarative DECIMAL(30,15) formulation — the form the DuckDB
    * oracle replays CTE-for-CTE; kept as the differential reference.
    */
  def cosineDeclarative(a: Column, b: Column, scale: Int = 6): Column = {
    val dot = dsumArr(zip_with(a, b, (x, y) => x * y)).cast("double")
    val na  = dsumArr(zip_with(a, a, (x, y) => x * y)).cast("double")
    val nb  = dsumArr(zip_with(b, b, (x, y) => x * y)).cast("double")
    // zero-norm → NULL, matching the native kernel: without the guard a
    // caller changing only `scale` would flip edge behavior from NULL to
    // an ANSI divide-by-zero error. CaseWhen evaluates the division only
    // when the guard is false, so the ANSI path is never reached.
    when(na === 0d || nb === 0d, lit(null).cast("double"))
      .otherwise(round(dot / (sqrt(na) * sqrt(nb)), scale))
  }

  /** Reassemble [[cosine]] from a precomputed exact DECIMAL dot product
    * and the two precomputed self-norm decimals (each
    * [[graft.functions.ExactDotDec]] values): identical final arithmetic
    * to [[graft.functions.ExactCosine]] — double divide, zero-denominator
    * → null, 6-dp HALF_UP round — so `cosineFromParts(dot(a,b), dot(a,a),
    * dot(b,b)) <=> cosine(a, b)` bit-for-bit (exact decimal sums are
    * order- and grouping-independent; PropertiesSpec pins it). Lets a
    * pairwise operator pay each vector's norm chain once per VECTOR
    * instead of once per PAIR — the m-vs-n win behind [[knnGraph]].
    */
  def cosineFromParts(dot: Column, na: Column, nb: Column): Column = {
    val denom = sqrt(na.cast("double")) * sqrt(nb.cast("double"))
    when(denom === 0d, lit(null).cast("double"))
      .otherwise(round(dot.cast("double") / denom, 6))
  }

  /** The query vector (vec_id = `queryId`) as a 1-row broadcastable frame. */
  private def queryVec(t: Tables, queryId: Long): DataFrame =
    t.embeddings.filter(col("vec_id") === queryId)
      .select(dbl(col("embedding")).as("q_emb"))

  /** Single-query screen/rescore core shared by [[bruteForceTopK]],
    * [[annTopK]] and [[annMultiProbeTopK]]: rank `corpus` (vec_id,
    * label, embedding[, carry…]) against the 1-row query frame `q`
    * (q_f float array + q_emb double array) with the fused codegen'd
    * double kernel (TakeOrderedAndProject, no shuffle), keep a padded
    * top-P, and pay the exact-DECIMAL contract [[cosine]] only for
    * those P rows. Same bounded-divergence + identical-tie-break
    * argument as [[topKBatch]], so the exact top-k is preserved by
    * construction; NaN screen scores (zero-norm vectors) are dropped —
    * their exact cosine is a never-ranking NULL.
    */
  private def screenRescoreTopK(corpus: DataFrame, q: DataFrame, k: Int,
                                carry: Seq[String] = Nil): DataFrame = {
    val pad = math.max(4 * k, k + 30)
    val cand = corpus.crossJoin(broadcast(q.select(col("q_f"))))
      .select(col("vec_id"),
        graft.functions.CosineFast(col("embedding"), col("q_f")).as("cf"))
      .filter(!isnan(col("cf")))
      .orderBy(col("cf").desc, col("vec_id"))
      .limit(pad)
      .select(col("vec_id"))
    corpus.join(broadcast(cand), "vec_id")
      .crossJoin(broadcast(q.select(col("q_emb"))))
      .select(Seq(col("vec_id"), col("label")) ++ carry.map(col) :+
        cosine(dbl(col("embedding")), col("q_emb")).as("cosine"): _*)
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** The 1-row query frame for [[screenRescoreTopK]]: raw floats for
    * the screen kernel, widened doubles for the exact rescore.
    */
  private def queryBoth(t: Tables, queryId: Long): DataFrame =
    t.embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_f"), dbl(col("embedding")).as("q_emb"))

  /** Top-k rows by cosine similarity to the query vector. Both stages
    * ride broadcast nested-loop + TakeOrderedAndProject — the plan never
    * materializes a global sort, and the exact-DECIMAL kernel prices
    * only the padded candidate set ([[screenRescoreTopK]]).
    */
  def bruteForceTopK(t: Tables, queryId: Long, k: Int): DataFrame =
    screenRescoreTopK(t.embeddings, queryBoth(t, queryId), k)

  /** Sign-bit bucket id over the first `bits` dimensions: bit i set iff
    * embedding[i] > 0. SQL-expressible (oracle-checked) and computable at
    * write time as a partition key.
    */
  def signBucket(emb: Column, bits: Int): Column =
    (0 until bits)
      .map(i => (emb.getItem(i) > 0).cast("int") * lit(1 << i))
      .reduce(_ + _)

  /** ANN: search only the query's sign-bucket, then exact cosine top-k
    * within it ([[screenRescoreTopK]] over the bucket-restricted
    * corpus). Recall vs [[bruteForceTopK]] is asserted in scalatest.
    */
  def annTopK(t: Tables, queryId: Long, k: Int, bits: Int): DataFrame = {
    val bucketed = t.embeddings
      .withColumn("bucket", signBucket(col("embedding"), bits))
    val qb = t.embeddings.filter(col("vec_id") === queryId)
      .select(signBucket(col("embedding"), bits).as("q_bucket"))
    val corpus = bucketed
      .join(broadcast(qb), col("bucket") === col("q_bucket"))
      .drop("q_bucket")
    screenRescoreTopK(corpus, queryBoth(t, queryId), k, carry = Seq("bucket"))
  }

  /** L3c: MULTI-PROBE sign-bit LSH — search the query's bucket plus every
    * bucket at Hamming distance 1 (one sign bit flipped), the classic
    * recall-recovery move for LSH at a fixed index: vectors near a
    * hyperplane land on either side, so the 1-flip neighborhood recovers
    * most single-probe misses at (bits+1)/2^bits of the corpus instead of
    * rebuilding with fewer bits (which would double EVERY probe's cost).
    * The probe set is a `bits+1`-row broadcast; candidates join on the
    * precomputable bucket id exactly like [[annTopK]], so at 100 TB the
    * probe still touches only the probed partitions.
    */
  def annMultiProbeTopK(t: Tables, queryId: Long, k: Int, bits: Int): DataFrame = {
    val bucketed = t.embeddings
      .withColumn("bucket", signBucket(col("embedding"), bits))
    val qb = t.embeddings.filter(col("vec_id") === queryId)
      .select(signBucket(col("embedding"), bits).as("q_bucket"))
    // q_bucket XOR each of the `bits` single-bit masks, plus q_bucket itself
    val probes = qb.select(col("q_bucket"), explode(array(
      lit(0) +: (0 until bits).map(i => lit(1 << i)): _*)).as("flip"))
      .select(col("q_bucket").bitwiseXOR(col("flip")).as("probe"))
    val corpus = bucketed
      .join(broadcast(probes), col("bucket") === col("probe"))
      .drop("probe")
    screenRescoreTopK(corpus, queryBoth(t, queryId), k, carry = Seq("bucket"))
  }

  /** Shared-scan exact + bucket-ANN top-k pair for the recall eval (M2):
    * ONE [[graft.functions.CosineFast]] screen pass over the corpus
    * feeds BOTH candidate sets (global top-P and bucket-restricted
    * top-P), and ONE exact-DECIMAL rescore join prices their union —
    * result frames are row-identical to [[bruteForceTopK]] /
    * [[annTopK]] at the same (k, bits) (same pad, same kernels, same
    * tie-break; superset candidates cannot change a top-k the screen
    * bound already guarantees — pinned against the composed forms in
    * LlmOpsSpec), at half the corpus scans and half the exact-kernel
    * work the composed form pays. The query vector is 1-row bounded
    * metadata: collected once and injected as literals (the SCALING.md
    * local-relation lesson), so no per-site query-broadcast build jobs.
    * The narrow screen frame is materialized because its repeated
    * consumers (two band thresholds + the candidate filter) sit under
    * SEPARATE TakeOrdered/aggregate subtrees, which ReuseExchange cannot
    * share (it deduplicates exchange subtrees only) — without the
    * barrier the screen kernel re-executes once per branch, measured
    * slower at fixture scale and linearly worse with corpus size. Both
    * candidate cuts are score BANDS, not counts (the
    * [[embedNearDupPairs]] argument): every row whose screen score
    * reaches (pad-th score − 2·[[SemPrefilterEps]]) survives, so each
    * candidate set is a strict superset of its exact top-k even when
    * > pad near-identical scores pack at the boundary.
    */
  def annVsExactTopK(t: Tables, queryId: Long, k: Int,
                     bits: Int): (DataFrame, DataFrame) = {
    val (rescored0, qBucket) = annVsExactScored(t, queryId, k, bits)
    // ≤ ~2·pad-row frame consumed by four subtrees downstream — pin it
    // so the rescore join never re-runs per branch (persist: chain stays
    // rooted at the scan, re-declared runs cache-match — round 13)
    val rescored = rescored0.persist()
    val exact = rescored.select(col("vec_id"), col("label"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id")).limit(k)
    val ann = rescored.filter(col("bucket") === lit(qBucket))
      .select(col("vec_id"), col("label"), col("bucket"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id")).limit(k)
    (ann, exact)
  }

  /** The shared scan behind [[annVsExactTopK]] and [[Eval.m2AnnRecall]]:
    * the LAZY exact-rescored candidate frame (vec_id, label, bucket,
    * cosine) — a band-cut superset of BOTH the global and the
    * bucket-restricted top-k — plus the query's bucket id. Returned
    * un-materialized so a single-consumer caller (the fused recall) pays
    * no extra barrier; multi-branch callers materialize it themselves.
    */
  private[graft] def annVsExactScored(t: Tables, queryId: Long, k: Int,
                                      bits: Int): (DataFrame, Int) = {
    val pad = math.max(4 * k, k + 30)
    val qRow = t.embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding"), signBucket(col("embedding"), bits)).head()
    val qF = qRow.getSeq[Float](0)
    val qBucket = qRow.getInt(1)
    val qfLit = typedLit(qF)
    val qeLit = typedLit(qF.map(_.toDouble))
    val scored = t.embeddings
      .select(col("vec_id"),
        signBucket(col("embedding"), bits).as("bucket"),
        graft.functions.CosineFast(col("embedding"), qfLit).as("cf"))
      .filter(!isnan(col("cf")))
      .persist()
    // 1-row band thresholds, in-plan (broadcast), one per candidate set;
    // an empty bucket yields a NULL thr_b whose disjunct three-values to
    // false — only the global band survives, which is correct
    def bandThr(df: DataFrame, name: String) =
      df.orderBy(col("cf").desc, col("vec_id")).limit(pad)
        .agg((min(col("cf")) - lit(2 * SemPrefilterEps)).as(name))
    val thrAll = bandThr(scored, "thr_all")
    val thrB = bandThr(scored.filter(col("bucket") === lit(qBucket)), "thr_b")
    val candidates = scored
      .crossJoin(broadcast(thrAll)).crossJoin(broadcast(thrB))
      .filter(col("cf") >= col("thr_all") ||
        (col("bucket") === lit(qBucket) && col("cf") >= col("thr_b")))
      .select(col("vec_id"))
    val rescored = t.embeddings.join(broadcast(candidates), "vec_id")
      .select(col("vec_id"), col("label"),
        signBucket(col("embedding"), bits).as("bucket"),
        cosine(dbl(col("embedding")), qeLit).as("cosine"))
    (rescored, qBucket)
  }

  /** Production-fast top-k via the native codegen'd [[graft.functions.CosineSimilarity]]
    * expression (`cosine_fast`): single fused pass, no decimal casts, no
    * interpreted higher-order calls. The declared queries keep the exact-
    * DECIMAL [[cosine]] because the DuckDB oracle must reproduce each bit;
    * this is the path a user would run at 100 TB.
    */
  def bruteForceTopKFast(t: Tables, queryId: Long, k: Int): DataFrame =
    t.embeddings
      .crossJoin(broadcast(
        t.embeddings.filter(col("vec_id") === queryId).select(col("embedding").as("q_emb"))))
      .select(col("vec_id"), col("label"),
        graft.functions.CosineFast(col("embedding"), col("q_emb")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)

  /** Exact order-independent squared-L2 distance of two array<double>
    * columns — per-element squared differences cast to DECIMAL(30,15) and
    * summed exactly, so an argmin over cells is bit-identical on any
    * engine (IEEE subtract/multiply are deterministic; the sum order is
    * neutralized by the decimal cast; no sqrt is needed for ranking).
    */
  /** Exact-DECIMAL squared L2 — fused native pass (same decimal algebra
    * as the declarative scaffold the oracle replays; PropertiesSpec pins
    * equality via [[dist2Declarative]]).
    */
  private def dist2(a: Column, b: Column): Column =
    graft.functions.ExactDist2Col(a, b)

  /** Declarative reference for the [[dist2]] differential test. */
  def dist2Declarative(a: Column, b: Column): Column =
    dsumArr(zip_with(a, b, (x, y) => (x - y) * (x - y)))

  /** Lloyd iterations for the trained IVF coarse quantizer (shared with
    * the Registry oracle builder — the DuckDB replay runs exactly this
    * many assign/re-center rounds).
    */
  val KmIters = 3

  /** Training-sample modulus: the quantizer trains on the deterministic
    * `vec_id % KmTrainMod == 0` slice (shared with the oracle builder).
    * A coarse quantizer at 100 TB is NEVER trained on the full corpus —
    * a uniform sample bounds the per-round O(sample·k) cost while the
    * final assignment pass still covers every vector; the id-modulus
    * sample keeps it deterministic and engine-replayable.
    */
  val KmTrainMod = 4

  /** Offset making every per-dimension sum positive before the integer
    * HALF_UP mean (fixture embeddings are within ±1; `div` truncates
    * toward zero, so the davg-style rounding identity needs a
    * non-negative numerator). Subtracted back after the division —
    * both engines run the identical double ops, so the result is
    * bit-identical even though the offset add/subtract rounds.
    */
  private val KmOffset = 1024L

  /** K-means-trained IVF centroids: `iters` fixed Lloyd rounds as pure
    * DataFrame ops, deterministic end to end so the DuckDB oracle can
    * replay the training round-for-round:
    *
    *  - training set = the `vec_id % KmTrainMod == 0` slice (see
    *    [[KmTrainMod]]); re-centering sees only the slice, the caller's
    *    final assignment pass sees everything;
    *  - init = the slice's first nCells members
    *    (vec_id < nCells·KmTrainMod, vec_id ≡ 0 mod KmTrainMod);
    *  - assignment = exact-DECIMAL squared-L2 argmin (same [[dist2]] as
    *    the probe path — bit-replayable, ties broken on cid);
    *  - re-center = per-(cell, dimension) mean, rounded HALF_UP at 9 dp
    *    in exact integer arithmetic (the [[graft.Det.davg]] discipline:
    *    DECIMAL(30,15) sums are order-independent, the division is an
    *    integer `div`, and the final int→double divide is correctly
    *    rounded — identical on any engine). A cell that loses every
    *    member simply disappears (both engines compute that identically).
    *
    * Scale shape per round: broadcast k centroids, one narrow O(n·k)
    * scored pass with partial-agg min (assignment), then a posexplode to
    * (cell, dim, x) rows whose groupBy is map-side combined into at most
    * k·dims groups — no all-pairs, no driver collect; `localCheckpoint`
    * truncates the per-round lineage. At 100 TB training runs on a
    * sample and the final assignment pass writes cell as the partition
    * key; the round structure here is exactly that job.
    */
  def trainedCentroids(emb: DataFrame, nCells: Int, iters: Int = KmIters): DataFrame =
    trainedCentroidsSub(emb.withColumn("sub", lit(0)), nCells, iters).drop("sub")

  /** The keyed generalization of [[trainedCentroids]]: trains an
    * INDEPENDENT k-means codebook per value of a `sub` column in ONE
    * chained job — every Lloyd round is one assignment pass and one
    * re-center pass grouped by (sub, …), so PQ's m codebooks cost m-times
    * the rows of one codebook but the same number of Spark jobs and
    * materializations (the per-round barrier dominates at any scale where
    * the train sample fits the cluster; sequential per-subspace training
    * paid it m times). Subspaces never interact — every groupBy carries
    * `sub` — so each codebook is bit-identical to what a solo
    * [[trainedCentroids]] run over that slice produces; the PQ oracle's
    * per-subspace SQL replay and the single-space IVF delegation both
    * hold without change. Input: (vec_id, sub, embedding); output:
    * (sub, cid, ce).
    */
  def trainedCentroidsSub(subbed: DataFrame, nCells: Int,
                          iters: Int = KmIters): DataFrame = {
    // parallelism floor on the train slice: every Lloyd round's
    // exact-decimal assignment argmin runs in the slice's scan stage,
    // which the single-row-group fixture plans as ONE task (no-op on an
    // already-parallel corpus; the slice is narrow — (vec_id, sub,
    // embedding) — so the one-time exchange is cheap at any scale)
    val train = graft.Engine.parallelFloor(
      subbed.filter(col("vec_id") % KmTrainMod === 0)).persist()
    // cid renormalized to 0..nCells-1 (vec_id DIV mod) so cell ids keep
    // the same compact range as the untrained-init form
    var cents = train.filter(col("vec_id") < nCells * KmTrainMod)
      .select(col("sub"), expr(s"vec_id DIV $KmTrainMod").as("cid"),
        dbl(col("embedding")).as("ce"))
    for (_ <- 1 to iters) {
      val cells = train.select(col("vec_id"), col("sub"), dbl(col("embedding")).as("e"))
        .join(broadcast(cents), "sub")
        .select(col("vec_id"), col("sub"), col("cid"), dist2(col("e"), col("ce")).as("d2"))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("vec_id"), col("sub"), col("m.cid").as("cell"))
      // R = ⌊(2·S·10¹⁵ + c·10⁶) / (2c·10⁶)⌋ = HALF_UP(mean·10⁹) for the
      // offset-shifted values; mean = R/10⁹ − offset (all ops bit-identical
      // cross-engine: exact decimal sum, integer div, correctly-rounded
      // double divide/subtract)
      val dims = train.join(cells, Seq("vec_id", "sub"))
        .select(col("sub"), col("cell"), posexplode(dbl(col("embedding"))).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("cell"), col("pos"))
        .agg(sum((col("x") + lit(KmOffset.toDouble)).cast("decimal(30,15)")).as("s"),
          count(lit(1)).as("c"))
        .select(col("sub"), col("cell"), col("pos"),
          (call_function("div",
            (col("s") * lit(2L * 1000000000000000L)).cast("decimal(38,0)")
              + (col("c") * lit(1000000L)).cast("decimal(38,0)"),
            (col("c") * lit(2000000L)).cast("decimal(38,0)"))
            .cast("double") / lit(1e9) - lit(KmOffset.toDouble)).as("cx"))
      cents = dims.groupBy(col("sub"), col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pc"))
        .select(col("sub"), col("cell").as("cid"),
          transform(col("pc"), p => p.getField("cx")).as("ce"))
        .materialize()
    }
    cents
  }

  /** IVF (inverted-file) ANN — the other classic scale path beside
    * sign-bit LSH: a coarse quantizer assigns every vector to its nearest
    * centroid's cell; a probe searches only the `nprobe` cells whose
    * centroids are nearest the query, touching ~nprobe/k of the corpus.
    * At 100 TB the cell id is the partition/cluster key, the centroid set
    * is broadcast (k ≪ n), and assignment is one narrow O(n·k) pass with
    * map-side partial min — no all-pairs anything.
    *
    * Centroids are k-means-trained ([[trainedCentroids]], [[KmIters]]
    * Lloyd rounds from the deterministic vec_id < k init) with exact
    * arithmetic throughout, so the DuckDB oracle replays training AND
    * assignment bit-for-bit.
    */
  def ivfTopK(t: Tables, queryId: Long, k: Int, nCells: Int, nprobe: Int,
              centroids: Option[DataFrame] = None): DataFrame = {
    val cents = centroids.getOrElse(trainedCentroids(t.embeddings, nCells))
    val scored = t.embeddings
      .select(col("vec_id"), dbl(col("embedding")).as("e"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"), dist2(col("e"), col("ce")).as("d2"))
    // cell assignment: argmin over centroids via partial-aggregated
    // min(struct) — no window sort over the n·k scored rows
    val cells = scored
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cell"))
    // probe = nprobe nearest cells to the query: ranked on the k-row
    // centroid frame directly (same values the assignment computes for
    // vec_id = queryId, without re-running the n·k scored branch)
    val probed = cents
      .crossJoin(broadcast(queryVec(t, queryId)))
      .select(col("cid"), dist2(col("ce"), col("q_emb")).as("d2"))
      .orderBy(col("d2"), col("cid")).limit(nprobe)
      .select(col("cid").as("cell"))
    t.embeddings
      .join(cells, "vec_id")
      .join(broadcast(probed), "cell")
      .crossJoin(broadcast(queryVec(t, queryId)))
      .select(col("vec_id"), col("label"), col("cell"),
        cosine(dbl(col("embedding")), col("q_emb")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Production-fast IVF twin: double-precision squared-L2 assignment and
    * the codegen'd `cosine_fast` ranking — no decimal casts on the QUERY
    * path, which is what a user runs at 100 TB. Centroids are shared with
    * [[ivfTopK]] ([[trainedCentroids]]): training is an offline
    * index-build step whose cost is amortized across every query, and a
    * plain double-sum mean would be partial-aggregation-order-dependent
    * (nondeterministic across runs) — the exact trainer is both the
    * correct and the reproducible choice. The declared query keeps
    * [[ivfTopK]]'s exact-decimal assignment because the DuckDB oracle
    * must replay every bit; LlmOpsSpec asserts both paths probe the same
    * cells on the fixtures.
    */
  /** Double-precision squared L2 — the production twin of [[dist2]] (no
    * decimal casts; partial-order-dependent only below ranking precision).
    */
  private def d2Fast(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0d), (acc, x) => acc + x)

  /** Nearest-centroid cell per vector, double arithmetic (the production
    * assignment pass): broadcast the k-row centroid frame, one narrow
    * O(n·k) scored pass, argmin via partial-aggregated min(struct).
    */
  def assignCellsFast(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.select(col("vec_id"), dbl(col("embedding")).as("e"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"), d2Fast(col("e"), col("ce")).as("d2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cell"))

  def ivfTopKFast(t: Tables, queryId: Long, k: Int, nCells: Int, nprobe: Int,
                  centroids: Option[DataFrame] = None): DataFrame = {
    // index build is offline/amortized: serve repeated queries by passing
    // the trained-once (or persisted) centroid frame instead of retraining
    val cents = centroids.getOrElse(trainedCentroids(t.embeddings, nCells))
    val cells = assignCellsFast(t.embeddings, cents)
    val probed = cents.crossJoin(broadcast(queryVec(t, queryId)))
      .select(col("cid"), d2Fast(col("ce"), col("q_emb")).as("d2"))
      .orderBy(col("d2"), col("cid")).limit(nprobe)
      .select(col("cid").as("cell"))
    t.embeddings
      .join(cells, "vec_id")
      .join(broadcast(probed), "cell")
      .crossJoin(broadcast(
        t.embeddings.filter(col("vec_id") === queryId).select(col("embedding").as("q_raw"))))
      .select(col("vec_id"), col("label"), col("cell"),
        graft.functions.CosineFast(col("embedding"), col("q_raw")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Embedding near-duplicate pairs: sign-bucket the vectors (so pairs
    * only form within a bucket — never all-pairs), exact cosine on the
    * candidates, strongest pairs first. With a threshold instead of a
    * limit this is embedding-cosine dedup; the fixture's random vectors
    * have no true near-dups, so the declared query reports the top-k
    * candidate pairs (deterministic + oracle-checkable) instead.
    *
    * Scale shape: the within-bucket self-join is triangle-salted via
    * [[Dedup.saltedSelfJoin]] — a hot sign-bucket's m² pair generation is
    * spread over chunks·(chunks+1)/2 tasks instead of one — and only
    * NARROW (vec_id, bucket) rows traverse the multiplicative join; the
    * 64-d vectors join back per-side afterwards.
    */
  def embedNearDupPairs(t: Tables, bits: Int, k: Int, chunks: Int = 8): DataFrame = {
    // screen/rescore, the topKBatch discipline: rank ALL within-bucket
    // pairs with the fused double kernel (TakeOrderedAndProject over a
    // codegen'd pass), cut by a score BAND, and pay the exact-DECIMAL
    // contract kernel only for the band. The cut is a band, not a count:
    // a count cut of pad rows could drop a true top-k pair when > pad
    // near-duplicate (not bit-identical) pairs pack inside the ~1e-6
    // screen-vs-exact divergence at the k-th boundary — exactly the mass
    // a dedup corpus concentrates there. Keeping every pair whose screen
    // score reaches (pad-th score − 2·SemPrefilterEps) makes the candidate
    // set a superset of the exact top-k outright: an excluded pair's exact
    // score is < pad-th exact score, and ≥ pad ≥ k pairs beat it. NaN
    // screen scores (zero-norm vectors — absent from any real embedding
    // store) are dropped: NaN sorts GREATEST and would otherwise squat
    // the padded slots while rescoring to a never-ranking NULL.
    val pad = math.max(4 * k, k + 30)
    val scored = bucketPairsF(t.embeddings, bits, chunks)
      .select(col("a_id"), col("b_id"),
        graft.functions.CosineFast(col("fa"), col("fb")).as("cf"))
      .filter(!isnan(col("cf")))
      .persist() // narrow (id, id, double) — scored once, read twice
    // 1-row threshold frame: the pad-th screen score minus the band.
    // Stays in-plan (broadcast), no driver collect; an empty corpus gives
    // a NULL threshold and the >= predicate filters everything — correct.
    val thr = scored.orderBy(col("cf").desc, col("a_id"), col("b_id"))
      .limit(pad)
      .agg((min(col("cf")) - lit(2 * SemPrefilterEps)).as("thr"))
    val cand = scored.crossJoin(broadcast(thr))
      .filter(col("cf") >= col("thr"))
      .select(col("a_id"), col("b_id"))
    val e = t.embeddings.select(col("vec_id"), dbl(col("embedding")).as("e"))
    cand
      .join(e.withColumnRenamed("vec_id", "a_id").withColumnRenamed("e", "ea"), "a_id")
      .join(e.withColumnRenamed("vec_id", "b_id").withColumnRenamed("e", "eb"), "b_id")
      .select(col("a_id"), col("b_id"), cosine(col("ea"), col("eb")).as("cosine"))
      .orderBy(col("cosine").desc, col("a_id"), col("b_id"))
      .limit(k)
  }

  /** All within-bucket candidate pairs carrying BOTH float vectors —
    * the shared pair generator behind [[nearDupPairs]] (exact scoring),
    * [[embedNearDupPairs]] (screen + rescore) and [[dedupByEmbedding]]
    * (two-stage threshold). Floats, not widened doubles: half the join
    * bytes, and the screen kernel wants them raw.
    */
  private def bucketPairsF(emb: DataFrame, bits: Int, chunks: Int): DataFrame = {
    val narrow = emb.select(col("vec_id"),
      signBucket(col("embedding"), bits).as("bucket"))
    val pairs = Dedup.saltedSelfJoin(narrow, Seq("bucket"), "vec_id", chunks)
      .select(least(col("x.vec_id"), col("y.vec_id")).as("a_id"),
        greatest(col("x.vec_id"), col("y.vec_id")).as("b_id"))
    val ef = emb.select(col("vec_id"), col("embedding"))
    pairs
      .join(ef.select(col("vec_id").as("a_id"), col("embedding").as("fa")), "a_id")
      .join(ef.select(col("vec_id").as("b_id"), col("embedding").as("fb")), "b_id")
  }

  /** All within-bucket candidate pairs with their exact cosine — the
    * single-stage reference form (LlmOpsSpec pins the screened declared
    * paths against it).
    */
  def nearDupPairs(emb: DataFrame, bits: Int, chunks: Int = 8): DataFrame =
    bucketPairsF(emb, bits, chunks)
      .select(col("a_id"), col("b_id"),
        cosine(dbl(col("fa")), dbl(col("fb"))).as("cosine"))

  /** Embedding-cosine near-duplicate DEDUP: drop every vector that has a
    * lower-id partner with cosine ≥ `minCosine` in its sign-bucket —
    * keep-smallest-id, the embedding twin of [[Dedup.exact]].
    *
    * Drop semantics are SINGLE-PASS: a vector is dropped when ANY lower-id
    * near-dup partner exists, regardless of whether that partner itself
    * survives. In a chain A~B, B~C, A≁C this drops both B and C (survivor
    * {A}), where sequential greedy would keep C (its only partner B was
    * dropped first). Single-pass is the scale-correct choice — it is one
    * distributed anti-join with no iteration — and it over-drops only
    * along chains, never within a clique. Callers wanting one survivor
    * per CONNECTED near-dup cluster (chain-aware) should use
    * [[Dedup.clusterCollapse]] on the pair output instead.
    *
    * Candidate pairs never leave their LSH bucket (no all-pairs), so at
    * scale recall is bounded by the bucketing like any ANN dedup; raise
    * `bits` for precision, lower for recall. Idempotent: survivors
    * re-deduped drop nothing (asserted in LlmOpsSpec).
    */
  def dedupByEmbedding(emb: DataFrame, bits: Int, minCosine: Double,
                       chunks: Int = 8): DataFrame = {
    // two-stage threshold, the semanticDedup discipline: the codegen'd
    // double screen rejects the overwhelming non-dup mass; only pairs
    // inside SemPrefilterEps of the threshold pay the exact-DECIMAL
    // contract kernel (And short-circuits left to right)
    val dropIds = bucketPairsF(emb, bits, chunks)
      .filter(graft.functions.CosineFast(col("fa"), col("fb")) >= minCosine - SemPrefilterEps)
      .filter(cosine(dbl(col("fa")), dbl(col("fb"))) >= minCosine)
      .select(col("b_id").as("vec_id")).distinct()
    emb.join(dropIds, Seq("vec_id"), "left_anti")
  }

  /** L6b declared query: top-20 bucketed embedding near-dup candidates. */
  def l6EmbedNearDup(spark: SparkSession, dir: String): DataFrame =
    embedNearDupPairs(Tables(spark, dir), bits = 6, k = 20)

  /** L3c: bucketed k-NN GRAPH — for every vector, its k most-cosine-similar
    * bucket-mates (ties by neighbor id). The pairwise-similarity frame
    * downstream clustering consumes: near-dup cluster collapse
    * ([[graft.operators.Dedup.clusterCollapse]] over thresholded edges),
    * graph-based community detection ([[graft.operators.Graph.labelPropagation]]),
    * and kNN-classification evals all start from exactly this artifact.
    *
    * Scale shape: candidate pairs never leave their sign-LSH bucket
    * (no all-pairs — the [[bucketPairsF]] generator, triangle-salted for
    * hot buckets), the screen frame is materialized ONCE and read by both
    * symmetrization branches, and every per-node rank (screen band AND
    * final) rides the bounded [[graft.functions.TopKAgg]] partial
    * aggregate — O(k) state per (node × partition), map-side combine,
    * never a per-node sort window over the pair frame. Exact-DECIMAL
    * cosine (the hash contract) is paid only for the ~n·pad band
    * survivors, deduplicated across endpoints. Nodes with no bucket-mate
    * are absent (an isolated vector has no kNN edge at this bits
    * setting — raise recall by lowering `bits`, the standard ANN trade).
    */
  def knnGraph(emb: DataFrame, k: Int, bits: Int, chunks: Int = 8): DataFrame = {
    require(k >= 1, s"bad k: $k")
    // screen/rescore, the embedNearDupPairs discipline applied PER NODE:
    // exact-DECIMAL cosine on every bucket pair is the correctness
    // contract but ~an order of magnitude over the codegen'd double
    // kernel, so the fast kernel scores ALL pairs once and the exact
    // kernel is paid only for each node's candidate band. The cut is a
    // BAND, not a count: every pair whose screen score reaches a node's
    // pad-th screen score − 2·SemPrefilterEps stays, which makes the
    // node's candidate set a superset of its exact top-k outright (an
    // excluded pair's exact score is below the pad-th exact score, and
    // pad ≥ k pairs beat it). NaN screens (zero-norm vectors) drop here —
    // they sort GREATEST and would otherwise squat every padded slot.
    val pad = math.max(2 * k, k + 10)
    val fast = bucketPairsF(emb, bits, chunks)
      .select(col("a_id"), col("b_id"),
        graft.functions.CosineFast(col("fa"), col("fb")).as("cf"))
      .filter(!isnan(col("cf")))
      .persist() // narrow (id, id, double) — read by both directions
    val sym = fast
      .select(col("a_id").as("vec_id"), col("b_id").as("nbr"), col("cf"))
      .unionByName(fast
        .select(col("b_id").as("vec_id"), col("a_id").as("nbr"), col("cf")))
    // per-node band threshold off the bounded top-pad buffer: the buffer
    // is ascending by s = −cf, so its LAST element is the pad-th-best
    // screen score; a node with < pad candidates thresholds at its own
    // minimum − band and keeps everything — correct automatically
    val thr = sym.groupBy(col("vec_id"))
      .agg(graft.functions.TopKNative.topK(pad)(
        negate(col("cf")), col("nbr"), lit(0.0), lit(0L), lit(0L)).as("__tk"))
      .select(col("vec_id"),
        (negate(element_at(col("__tk"), -1).getField("s"))
          - lit(2 * SemPrefilterEps)).as("thr"))
    // unique surviving pairs (a candidate can serve both endpoints —
    // rescore it once); rescoring MORE pairs than a node's own band only
    // grows its candidate superset, so the union across endpoints is safe
    val candPairs = sym.join(thr, "vec_id")
      .filter(col("cf") >= col("thr"))
      .select(least(col("vec_id"), col("nbr")).as("a_id"),
        greatest(col("vec_id"), col("nbr")).as("b_id"))
      .distinct()
    // exact rescore with the norm chains factored OUT of the pair loop:
    // each vector's Σdec15(e_i²) is computed once per side (2n decimal
    // chains) and joined in, so each pair pays ONE decimal chain (the
    // dot) instead of three — bit-identical to the fused kernel
    // (cosineFromParts contract)
    val e = emb.select(col("vec_id"), dbl(col("embedding")).as("e"))
      .withColumn("nsq", graft.functions.ExactDotDecCol(col("e"), col("e")))
    val rescored = candPairs
      .join(e.select(col("vec_id").as("a_id"), col("e").as("ea"),
        col("nsq").as("na")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("e").as("eb"),
        col("nsq").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        cosineFromParts(graft.functions.ExactDotDecCol(col("ea"), col("eb")),
          col("na"), col("nb")).as("cosine"))
      .filter(col("cosine").isNotNull)
      .persist()
    val symx = rescored
      .select(col("a_id").as("vec_id"), col("b_id").as("nbr"), col("cosine"))
      .unionByName(rescored
        .select(col("b_id").as("vec_id"), col("a_id").as("nbr"), col("cosine")))
    symx.groupBy(col("vec_id"))
      .agg(graft.functions.TopKNative.topK(k)(
        negate(col("cosine")), col("nbr"), col("cosine"), lit(0L), lit(0L))
        .as("__tk"))
      .select(col("vec_id"), posexplode(col("__tk")).as(Seq("__i", "__r")))
      .select(col("vec_id"), (col("__i") + 1).cast("int").as("rnk"),
        col("__r.id").as("nbr_id"), col("__r.payload").as("cosine"))
  }

  /** L3c declared query: 5-NN graph of the embedding corpus, 64 buckets. */
  def l3KnnGraph(spark: SparkSession, dir: String): DataFrame =
    knnGraph(Tables(spark, dir).embeddings, k = 5, bits = 6)
      .orderBy(col("vec_id"), col("rnk"))

  /** L3 declared query: exact top-10 neighbours of vec_id 0. */
  def l3CosineTopK(spark: SparkSession, dir: String): DataFrame =
    bruteForceTopK(Tables(spark, dir), queryId = 0L, k = 10)

  /** L3 declared query (scale path): bucketed ANN top-10 for vec_id 0,
    * 6 sign bits → 64 buckets.
    */
  def l3AnnBucket(spark: SparkSession, dir: String): DataFrame =
    annTopK(Tables(spark, dir), queryId = 0L, k = 10, bits = 6)

  /** L3c declared query: multi-probe over the same 6-bit sign buckets. */
  def l3AnnMultiProbe(spark: SparkSession, dir: String): DataFrame =
    annMultiProbeTopK(Tables(spark, dir), queryId = 0L, k = 10, bits = 6)

  /** IVF geometry for the declared query (shared with the oracle builder). */
  val IvfCells  = 8
  val IvfNprobe = 2

  /** L3 declared query (IVF scale path): top-10 for vec_id 0 over the
    * [[IvfNprobe]] nearest of [[IvfCells]] cells.
    */
  def l3IvfTopK(spark: SparkSession, dir: String): DataFrame =
    ivfTopK(Tables(spark, dir), queryId = 0L, k = 10,
      nCells = IvfCells, nprobe = IvfNprobe,
      centroids = Some(defaultCentroids(spark, dir)))

  /** Trained coarse-quantizer centroids memoized per (session, corpus
    * dir, nCells) — the [[Dedup.defaultSimJoinParts]] discipline. An IVF
    * index is trained ONCE offline and amortized over every probe; a
    * Verify/Bench session re-training the same centroids for each of
    * the IVF probe, the semantic dedup, and the index build would
    * charge the Lloyd chain once per query instead. The cached frame is
    * the [[trainedCentroids]] output, whose final round already
    * materialized — recompute-equality is spec-pinned in LlmOpsSpec.
    * Keyed by session; stopped sessions' entries are purged on access
    * ([[graft.SessionCache]]).
    */
  private val CentroidCache = new graft.SessionCache[(String, Int), DataFrame]

  def defaultCentroids(spark: SparkSession, dir: String,
                       nCells: Int = IvfCells): DataFrame =
    CentroidCache.getOrElseUpdate(spark, (dir, nCells))(
      trainedCentroids(Tables(spark, dir).embeddings, nCells))

  /** Semantic-dedup cosine threshold for the declared query. Real
    * corpora run SemDeDup-style pruning at τ ≈ 0.95+ (embeddings of
    * near-identical documents); the fixture's embeddings are
    * near-isotropic random vectors (max pairwise cosine ≈ 0.6 at sf0.1),
    * so the declared constant sits low enough that the drop path is
    * exercised with real eliminations at fixture scale. The semantics
    * are τ-independent and pinned with constructed vectors in
    * LlmOpsSpec.
    */
  val SemTau = 0.45

  /** Target mean cell population for [[semanticDedup]]'s coarse
    * quantizer: cells = max([[IvfCells]], ⌈n/[[SemCellTarget]]⌉), so the
    * cluster count GROWS with the corpus and the within-cell pair sweep
    * is Σ|cell|² ≈ n·[[SemCellTarget]] — linear in n at a fixed target,
    * the SemDeDup paper's k ∝ n discipline — instead of n²/k at a fixed
    * k (quadratic, the round-9 finding). 128 exercises the scaling at
    * fixture scale (sf0.1's 2000 vectors → 16 cells, not the floor) and
    * the oracle replays the same formula as a scalar subquery, so the
    * declared query stays hash-checked at every scale.
    */
  val SemCellTarget = 128L

  /** ⌈n/[[SemCellTarget]]⌉ floored at [[IvfCells]] — the engine side of
    * the cell-count formula (integer ceil; the oracle's
    * CEIL(COUNT(*)/128.0) agrees exactly for any corpus below 2⁵³).
    * The result must fit an Int (the k-means trainer's centroid count);
    * past ~2.7e11 rows the silent `.toInt` wrap would diverge from the
    * oracle long before 2⁵³, so fail LOUD there instead — a corpus that
    * big needs a larger [[SemCellTarget]], not a wrapped cell count.
    */
  def semCellsFor(n: Long): Int = {
    val cells = math.max(IvfCells.toLong, (n + SemCellTarget - 1) / SemCellTarget)
    require(cells.isValidInt,
      s"semanticDedup cell count $cells (n=$n, target=$SemCellTarget) " +
        "exceeds Int.MaxValue; raise SemCellTarget for this corpus")
    cells.toInt
  }

  /** Corpus row count memoized per (session, dir) — one metadata-cheap
    * count job per session feeds every [[semCellsFor]] call (Verify and
    * Bench invoke the declared query repeatedly). Same immutable-corpus
    * assumption as [[CentroidCache]]; [[graft.SessionCache.clearAll]]
    * clears both.
    */
  private val CorpusCountCache = new graft.SessionCache[String, Long]

  def embeddingCount(spark: SparkSession, dir: String): Long =
    CorpusCountCache.getOrElseUpdate(spark, dir)(
      Tables(spark, dir).embeddings.count())

  /** Prefilter slack for [[semanticDedup]]'s two-stage scoring: a pair
    * whose 6-dp-rounded exact-DECIMAL cosine reaches τ has a plain
    * double cosine within 5·10⁻⁷ + O(64·2⁻⁵²) of it (rounding half-step
    * plus 64-term float accumulation error), so a 10⁻⁴ band is ~200×
    * safety — the codegen'd double pass can never drop a pair the exact
    * contract would keep.
    */
  val SemPrefilterEps = 1e-4

  /** L11: SEMANTIC dedup (SemDeDup-shaped, Abbas et al. 2023): cluster
    * the corpus with the deterministic k-means coarse quantizer
    * ([[trainedCentroids]] — the IVF trainer, exact-decimal, oracle-
    * replayable), then drop every vector that has a same-cell neighbor
    * with cosine ≥ τ and a SMALLER id — the greedy keep-first sweep of
    * an ε-ball, pairwise by design (NOT transitively closed: a dropped
    * doc still shadows its own neighbors, exactly the paper's greedy
    * semantics; the transitive variant is [[Dedup.clusterCollapse]]
    * over an L6 pair graph).
    *
    * Why cluster first: within-cell pairing bounds the quadratic —
    * Σ|cell|² pairs instead of n² — and because callers size `nCells`
    * with the corpus ([[semCellsFor]]: cells ∝ n at a fixed
    * [[SemCellTarget]] mean population), the sweep is ~n·target pairs,
    * LINEAR in n — the SemDeDup paper's k ∝ n discipline (a fixed cell
    * count would leave it n²/k). Scale shape: assignment is the IVF
    * pass (broadcast k-row centroids, partial-agg argmin), the narrow
    * (cell, vec_id) frame is materialized ONCE for pair-gen + summary,
    * within-cell pairs ride [[Dedup.saltedSelfJoin]] (a hot cell's m²
    * pair generation spreads over chunk-pair tasks), and the embedding
    * arrays join back only at pair-scoring time (the narrow-candidates
    * discipline) — as FLOATS, half the shuffle bytes of the widened
    * doubles. Pair scoring is TWO-STAGE, the L3 probe discipline: the
    * codegen'd double [[graft.functions.CosineFast]] screens every
    * candidate (short-circuit conjunct, one fused array pass), and only
    * pairs inside [[SemPrefilterEps]] of τ reach the interpreted
    * exact-DECIMAL [[cosine]] that defines the contract — on a
    * near-isotropic corpus that is a vanishing fraction, so the exact
    * kernel prices the decision boundary, not the candidate set. The
    * per-cell summary + id digest pins exactly WHICH vectors the sweep
    * removes.
    */
  /** The IVF assignment pass as a shared helper: nearest trained
    * centroid per vector — broadcast k-row centroids, exact-DECIMAL
    * squared-L2, partial-agg argmin tie-broken on cid (the min-struct
    * trick). Output: (vec_id, embedding, cell). Consumed by the batch
    * [[semanticDedup]] sweep and the streaming
    * [[graft.streaming.Streams.runSemanticDedupStream]] admission, so
    * the two cannot drift on cell geometry.
    */
  def assignCells(emb: DataFrame, cents: DataFrame): DataFrame =
    // parallelism floor: the broadcast-centroid crossJoin multiplies
    // rows by k INSIDE the scan stage, and the fixture's single-row-
    // group scan plans that whole exact-decimal argmin as ONE task
    // (Engine.parallelFloor — no-op on an already-parallel corpus)
    graft.Engine.parallelFloor(emb)
      .select(col("vec_id"), col("embedding"), dbl(col("embedding")).as("e"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cid"),
        dist2(col("e"), col("ce")).as("d2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"))).as("m"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"), col("m.cid").as("cell"))

  def semanticDedup(emb: DataFrame, nCells: Int = IvfCells, tau: Double = SemTau,
                    chunks: Int = Dedup.DefaultChunks,
                    centroids: Option[DataFrame] = None): DataFrame = {
    val cents = centroids.getOrElse(trainedCentroids(emb, nCells))
    val ef = emb.select(col("vec_id"), col("embedding"))
    val cells = assignCells(emb, cents)
      .select(col("vec_id"), col("cell"))
      .persist() // two consumers: pair generation and the summary
    val pairs = Dedup.saltedSelfJoin(cells, Seq("cell"), "vec_id", chunks)
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
    val dropped = pairs
      .join(ef.select(col("vec_id").as("a_id"), col("embedding").as("fa")), "a_id")
      .join(ef.select(col("vec_id").as("b_id"), col("embedding").as("fb")), "b_id")
      // stage 1: fused double screen; stage 2: the exact-DECIMAL contract
      // cosine, reached only when the screen passes (And short-circuits)
      .filter(graft.functions.CosineFast(col("fa"), col("fb")) >= tau - SemPrefilterEps)
      .filter(cosine(dbl(col("fa")), dbl(col("fb"))) >= tau)
      // saltedSelfJoin orients cross-chunk pairs arbitrarily — greatest()
      // recovers "drop the larger id of every qualifying pair", i.e. a
      // vector dies iff SOME smaller-id neighbor is within τ
      .select(greatest(col("a_id"), col("b_id")).as("vec_id"))
      .distinct()
      .withColumn("dropped", lit(true))
    cells.join(dropped, Seq("vec_id"), "left")
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("dropped"), col("vec_id")).otherwise(0L)).as("dropped_id_digest"))
      .orderBy(col("cell"))
  }

  /** L11 declared query: semantic dedup of the embeddings corpus at
    * [[SemTau]] over [[semCellsFor]](n) k-means cells — the cell count
    * derives from the corpus size on BOTH engines (the oracle computes
    * the same formula as a scalar subquery), so the declared query
    * exercises the k ∝ n scaling, not a fixture-pinned constant.
    */
  def l11SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val nCells = semCellsFor(embeddingCount(spark, dir))
    semanticDedup(Tables(spark, dir).embeddings, nCells = nCells,
      centroids = Some(defaultCentroids(spark, dir, nCells)))
  }

  /** PQ geometry: [[PqM]] subspaces of [[PqSubDim]] dims (m·sub = the
    * fixture's 64), [[PqK]] centroids per subspace — 4-bit codes, so a
    * vector compresses 64 floats → 4 codes. Candidates kept per
    * requested neighbour before the exact rescore.
    */
  val PqM = 4
  val PqSubDim = 16
  val PqK = 16
  val PqRescoreFactor = 4

  /** L3f: PRODUCT QUANTIZATION (ADC) top-k — the third classic
    * compression path beside cell pruning (IVF) and scalar quantization
    * (SQ8): each subspace gets its own k-means codebook
    * ([[trainedCentroidsSub]], all m trained in one keyed job — same
    * Lloyd rounds, same deterministic init, exact arithmetic), a
    * vector's code is its per-subspace nearest centroid, and a query
    * ranks candidates by ASYMMETRIC DISTANCE — the sum of m table
    * lookups d²(q_j, cb_j[code]) — touching only m·k precomputed
    * distances instead of the full vector. Top [[PqRescoreFactor]]·k
    * candidates rescore by exact cosine.
    *
    * Scale shape: codebooks and ADC tables are m·k-row broadcasts;
    * encoding is ONE narrow broadcast-join+partial-min pass over the
    * subspace-exploded rows ([[pqAssign]]); the candidate rank rides
    * TakeOrderedAndProject. At 100 TB the 4-byte codes column IS the
    * index (16× less scan bandwidth than the floats), exactly FAISS's
    * PQ storage layout; all distances stay exact DECIMAL so the oracle
    * replays the ranking bit-for-bit.
    */
  /** PQ codebooks memoized per (session, corpus dir) — the
    * [[defaultCentroids]] discipline: a quantizer is trained once
    * offline and amortized over every probe; a Verify/Bench session
    * re-training the joint Lloyd chain per `l3_pq_topk` execution would
    * charge the build once per query. Cached frame == what the
    * un-memoized call computes (the final Lloyd round is already
    * materialized); [[graft.SessionCache.clearAll]] clears it.
    */
  private val PqBooksCache =
    new graft.SessionCache[(String, Int, Int), DataFrame]

  private[graft] def defaultPqBooks(t: Tables): DataFrame =
    PqBooksCache.getOrElseUpdate(t.spark, (t.dir, PqM, PqK))(
      trainedCentroidsSub(subspaced(t.embeddings), PqK))

  def pqTopK(t: Tables, queryId: Long, k: Int): DataFrame = {
    val emb = t.embeddings
    val query = queryVec(t, queryId)
    // ONE joint training job for all m codebooks (see
    // [[trainedCentroidsSub]]) — memoized per session like every
    // quantizer here. The in-query encode + ADC rank is a FLAT
    // PROJECTION pipeline: the codebooks are bounded index metadata
    // (m·k = 64 rows), so the per-subspace argmin inlines them as
    // array literals (least() over (d2, cid, pos) structs — identical
    // tie-break to the join form's min(struct(d2, cid))) and the ADC
    // lookup rides ONE broadcast 1-row crossJoin, leaving scan →
    // project → TakeOrdered with no explode, no join, and no exchange
    // before the top-candidate cut. The join form ([[pqTopKJoinForm]],
    // the differential reference BucketingSpec pins this against)
    // paid a 4× row explode, two broadcast joins and two aggregation
    // exchanges for the same 64 dist2 evaluations per vector —
    // pure orchestration at any corpus size (measured 1.66 → 0.49 s
    // warm at sf0.1; same exact-DECIMAL arithmetic, same candidates,
    // same rescored rows, oracle hash unchanged).
    val adcRow = adcBySubRow(defaultPqBooks(t), query)
    val bookRows = collectedPqBooks(t)
    def bestPos(sv: Column, j: Int): Column =
      least(bookRows(j).zipWithIndex.map { case ((cid, ce), pos) =>
        struct(dist2(sv, typedLit(ce)).as("d"), lit(cid).as("c"),
          lit(pos + 1).as("p"))
      }: _*).getField("p")
    // parallelism floor (Engine.parallelFloor): the fixture's
    // single-row-group embeddings scan plans as ONE task, serializing
    // the 64-dist2 encode projection; no-op on an already-parallel scan
    val sliced = graft.Engine.parallelFloor(emb)
      .select(col("vec_id") +: col("label") +: col("embedding") +:
        (0 until PqM).map(j =>
          dbl(slice(col("embedding"), j * PqSubDim + 1, PqSubDim)).as(s"__s$j")): _*)
    val withPos = sliced.select(col("vec_id") +: col("label") +: col("embedding") +:
      (0 until PqM).map(j => bestPos(col(s"__s$j"), j).as(s"__p$j")): _*)
    // adc_d2 via the fixed-order adc_0+…+adc_{m-1} chain: exact decimal
    // addition is order-independent, so the value equals the join
    // form's sum() aggregate
    withPos.crossJoin(broadcast(adcRow))
      .select(col("vec_id"), col("label"), col("embedding"),
        (0 until PqM).map(j =>
          element_at(element_at(col("adc_by_sub"), j + 1), col(s"__p$j")))
          .reduce(_ + _).as("adc_d2"))
      .orderBy(col("adc_d2"), col("vec_id"))
      .limit(PqRescoreFactor * k)
      .crossJoin(broadcast(query))
      .select(col("vec_id"), col("label"),
        cosine(dbl(col("embedding")), col("q_emb")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** The ADC table folded to ONE broadcastable row: per subspace, the
    * cid-ordered array of exact-DECIMAL d²(q_j, cb_j[cid]) lookups —
    * computed IN-PLAN on the m·k-row codebook frame (the decimal
    * arithmetic the oracle replays never leaves Spark), then pivoted
    * via two bounded collect_list aggregates. Output schema:
    * (adc_by_sub: array<array<decimal>>), element j+1 = subspace j in
    * cid order — positions align with [[collectedPqBooks]]' cid-sorted
    * entries by construction.
    */
  private def adcBySubRow(books: DataFrame, query: DataFrame): DataFrame =
    books.crossJoin(broadcast(query))
      .select(col("sub"), col("cid"),
        dist2(col("ce"),
          slice(col("q_emb"), col("sub") * lit(PqSubDim) + lit(1),
            lit(PqSubDim))).as("adc"))
      .groupBy(col("sub"))
      .agg(array_sort(collect_list(struct(col("cid"), col("adc")))).as("pc"))
      .select(struct(col("sub").as("sub"),
        transform(col("pc"), p => p.getField("adc")).as("arr")).as("sa"))
      .agg(array_sort(collect_list(col("sa"))).as("bysub"))
      .select(transform(col("bysub"), s => s.getField("arr")).as("adc_by_sub"))

  /** The trained PQ codebooks collected once per (session, corpus dir)
    * as driver metadata — m·k = 64 rows of (cid, 16 doubles), the
    * bounded-collect discipline [[probePqIndex]]'s candidate ids and
    * the L3 index-metadata reads already follow — so the in-query
    * encode can inline them as argmin literals. cid-sorted per sub;
    * positions (1-based) index [[adcBySubRow]]'s arrays.
    */
  private val PqBookRowsCache = new graft.SessionCache[
    (String, Int, Int), Map[Int, IndexedSeq[(Long, Seq[Double])]]]
  private def collectedPqBooks(t: Tables): Map[Int, IndexedSeq[(Long, Seq[Double])]] =
    PqBookRowsCache.getOrElseUpdate(t.spark, (t.dir, PqM, PqK)) {
      defaultPqBooks(t).select(col("sub"), col("cid"), col("ce")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
        .groupBy(_._1).map { case (s, rs) =>
          s -> rs.map(x => (x._2, x._3)).sortBy(_._1).toIndexedSeq
        }
    }

  /** The r15 join-form of [[pqTopK]] — kept as the differential
    * reference (the [[cosineDeclarative]] discipline): BucketingSpec
    * pins the flat-projection form's output row-for-row against this.
    */
  private[graft] def pqTopKJoinForm(t: Tables, queryId: Long, k: Int): DataFrame = {
    val emb = t.embeddings
    val subbed = subspaced(emb)
    val query = queryVec(t, queryId)
    val books = defaultPqBooks(t)
    val adc = books.crossJoin(broadcast(query))
      .select(col("sub"), col("cid"),
        dist2(col("ce"),
          slice(col("q_emb"), col("sub") * lit(PqSubDim) + lit(1),
            lit(PqSubDim))).as("adc"))
    val approx = pqAssign(subbed, books)
      .join(broadcast(adc), Seq("sub", "cid"))
      .groupBy(col("vec_id")).agg(sum(col("adc")).as("adc_d2"))
    emb
      .join(approx.orderBy(col("adc_d2"), col("vec_id"))
        .limit(PqRescoreFactor * k).select("vec_id"), "vec_id")
      .crossJoin(broadcast(query))
      .select(col("vec_id"), col("label"),
        cosine(dbl(col("embedding")), col("q_emb")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Each embedding exploded into its m PQ subspace slices:
    * (vec_id, sub ∈ 0..m−1, embedding = the subDim-wide slice). One
    * narrow pass; the slices stay in the float element type (callers
    * [[dbl]] exactly where the unexploded paths did).
    */
  def subspaced(emb: DataFrame, m: Int = PqM, subDim: Int = PqSubDim): DataFrame =
    emb.select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        j => slice(col("embedding"), j * subDim + 1, lit(subDim))))
        .as(Seq("sub", "embedding")))

  /** Nearest-codebook-centroid assignment for every (vec_id, sub) slice:
    * one broadcast join + partial-agg argmin over all m subspaces at
    * once — (vec_id, sub, cid). The encode kernel shared by the in-query
    * [[pqTopK]] and the persisted [[buildPqIndex]].
    */
  private def pqAssign(subbed: DataFrame, books: DataFrame): DataFrame =
    subbed.select(col("vec_id"), col("sub"), dbl(col("embedding")).as("e"))
      .join(broadcast(books), "sub")
      .select(col("vec_id"), col("sub"), col("cid"), dist2(col("e"), col("ce")).as("d2"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.cid").as("cid"))

  /** L3f declared query: PQ-ADC top-10 for query vector 0. */
  def l3PqTopK(spark: SparkSession, dir: String): DataFrame =
    pqTopK(Tables(spark, dir), queryId = 0L, k = 10)

  /** PERSISTED PQ index — the serving shape for PQ at 100 TB, where
    * [[pqTopK]]'s in-query codebook training (a joint Lloyd chain over
    * the corpus per execution) is an index-BUILD cost paid once, exactly like
    * [[buildIvfIndex]]'s centroids:
    *
    *   indexDir/codebooks/   m·k rows (sub, cid, ce) — the per-subspace
    *                         k-means codebooks
    *   indexDir/codes/       (vec_id, label, code_0..code_{m-1}) — each
    *                         code a 4-byte INT ∈ 0..k−1, 16× less scan
    *                         bandwidth than the 64 floats it replaces
    *
    * Training and encoding reuse the exact-DECIMAL trainer/assignment
    * ([[trainedCentroids]], [[dist2]]) so a probe's candidate ranking is
    * bit-identical to the in-query [[pqTopK]] form — BucketingSpec pins
    * probe == pqTopK on the fixture. Encoding assigns against the RE-READ
    * codebooks (double roundtrips parquet exactly), same discipline as
    * [[buildIvfIndex]].
    */
  def buildPqIndex(emb: DataFrame, indexDir: String, m: Int = PqM,
                   subDim: Int = PqSubDim, k: Int = PqK): Unit = {
    val spark = emb.sparkSession
    trainedCentroidsSub(subspaced(emb, m, subDim), k)
      .write.mode("overwrite").parquet(s"$indexDir/codebooks")
    encodePq(emb, spark.read.parquet(s"$indexDir/codebooks"), m, subDim)
      .write.mode("overwrite").parquet(s"$indexDir/codes")
  }

  /** Encode a vector frame against FIXED codebooks: one joint assignment
    * pass ([[pqAssign]]) pivoted to the 4-byte code_0..code_{m-1} storage
    * columns — (vec_id, label, code_*). The kernel [[buildPqIndex]] uses
    * for the initial corpus and [[graft.streaming.Streams.runPqIngest]]
    * uses per arriving micro-batch (work ∝ batch; codebooks are static
    * serving state, exactly like an IVF quantizer's centroids).
    */
  def encodePq(emb: DataFrame, books: DataFrame, m: Int = PqM,
               subDim: Int = PqSubDim): DataFrame = {
    val assigns = pqAssign(subspaced(emb, m, subDim), books)
      .select(col("vec_id"), col("sub"), col("cid").cast("int").as("code"))
    val codes = assigns.groupBy(col("vec_id"))
      .agg(max(when(col("sub") === 0, col("code"))).as("code_0"),
        (1 until m).map(j =>
          max(when(col("sub") === j, col("code"))).as(s"code_$j")): _*)
    emb.select(col("vec_id"), col("label")).join(codes, "vec_id")
  }

  /** ADC candidate ranking over a [[buildPqIndex]] index: broadcast the
    * m·k-entry ADC table (squared distance of each codebook centroid to
    * the query's subspace slice — computed on the k-row codebook frame,
    * never the corpus), then rank codes rows by the sum of m table
    * lookups. The ONLY corpus-sized input is the codes parquet —
    * BucketingSpec asserts the scan schema is vec_id + code_* and
    * nothing else. Exposed separately from [[probePqIndex]] so the
    * candidate-stage plan is assertable.
    */
  def pqCandidates(spark: SparkSession, indexDir: String, query: Seq[Float],
                   nCand: Int, m: Int = PqM, subDim: Int = PqSubDim): DataFrame = {
    val qDbl = typedLit(query.map(_.toDouble))
    val books = spark.read.parquet(s"$indexDir/codebooks")
    val codes = spark.read.parquet(s"$indexDir/codes")
      .select(col("vec_id") +: (0 until m).map(j => col(s"code_$j")): _*)
    (0 until m).foldLeft(codes) { (df, j) =>
      val tb = books.filter(col("sub") === j)
        .select(col("cid").cast("int").as(s"code_$j"),
          dist2(col("ce"), slice(qDbl, j * subDim + 1, subDim)).as(s"adc_$j"))
      df.join(broadcast(tb), s"code_$j")
    }.select(col("vec_id"),
        (0 until m).map(j => col(s"adc_$j")).reduce(_ + _).as("adc_d2"))
      .orderBy(col("adc_d2"), col("vec_id"))
      .limit(nCand)
  }

  /** Top-k cosine neighbours of an out-of-corpus query against a
    * [[buildPqIndex]] index: ADC candidate rank over the codes column
    * ([[pqCandidates]], TakeOrderedAndProject), then exact-cosine rescore
    * of only the top [[PqRescoreFactor]]·k survivors. The candidate id
    * set is a bounded factor·k-row collect (index-metadata scale, like
    * [[probeIvfIndex]]'s cell rank) so the rescore reaches `rescoreFrom`
    * as a pushed-down `vec_id IN (...)` filter instead of a join that
    * would scan the corpus — PQ stores codes, not vectors, so the
    * original embeddings live wherever the caller keeps them (FAISS's
    * refine-from-flat-store shape).
    */
  def probePqIndex(spark: SparkSession, indexDir: String, query: Seq[Float],
                   k: Int, rescoreFrom: DataFrame, m: Int = PqM,
                   subDim: Int = PqSubDim): DataFrame = {
    val candIds = pqCandidates(spark, indexDir, query, PqRescoreFactor * k, m, subDim)
      .collect().map(_.getAs[Long]("vec_id"))
    val qDbl = typedLit(query.map(_.toDouble))
    rescoreFrom
      .filter(col("vec_id").isin(candIds.toIndexedSeq: _*))
      .select(col("vec_id"), col("label"),
        cosine(dbl(col("embedding")), qDbl).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Query ids for the declared batched top-k: one per region of the id
    * space so the three exact rankings exercise different neighborhoods
    * at every fixture scale.
    */
  val BatchQueryIds: Seq[Long] = Seq(0L, 7L, 42L)

  /** The batch-query frame (query_id, q_emb) for a bounded id set — the
    * multi-query counterpart of [[queryVec]]. Broadcast-sized by
    * contract: a serving/eval query batch is KBs against a 100 TB
    * corpus, so every consumer attaches it with `broadcast(...)`.
    * Collected ONCE and re-injected as a LOCAL relation (the SCALING.md
    * local-relation lesson, same as [[annVsExactScored]]'s 1-row query):
    * a lazy frame here made every consumer's `broadcast()` pay its own
    * id-filtered corpus-scan build job — topKBatch broadcasts the batch
    * twice (screen + rescore), so the lazy form cost two scans per
    * execution for 3 rows of metadata. The collected rows are memoized
    * per (session, dir, ids) — bounded query metadata over an immutable
    * corpus dir, the [[defaultCentroids]] discipline — so a serving/eval
    * session re-ranking against the same query batch pays the id-probe
    * scan once, not once per execution; [[graft.SessionCache.clearAll]]
    * clears it with the rest.
    */
  private val BatchQueryCache =
    new graft.SessionCache[(String, Seq[Long]), Array[org.apache.spark.sql.Row]]

  def batchQueryVecs(t: Tables, ids: Seq[Long]): DataFrame = {
    val lazyQ = t.embeddings.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("query_id"), dbl(col("embedding")).as("q_emb"))
    val rows = BatchQueryCache.getOrElseUpdate(t.spark, (t.dir, ids))(lazyQ.collect())
    t.spark.createDataFrame(java.util.Arrays.asList(rows: _*), lazyQ.schema)
  }

  /** Per-query top-k over an UNBOUNDED per-query candidate frame. A
    * `Window.partitionBy(query_id)` would funnel each query's candidate
    * set — the whole corpus, for exact batch scoring — through one task,
    * and a full distributed ranking would exchange the corpus-sized
    * scored frame twice for a k-row answer; this rides the bounded
    * [[graft.functions.TopKAgg]] partial aggregate instead: one narrow
    * pass, O(k) state per (query × partition), and a shuffle of
    * `|Q| · partitions · k` structs regardless of corpus size. `s` is
    * the ASCENDING rank key (negate a descending score); `payload`,
    * `tag`, `tag2` ride through to the output columns of those names.
    * NULL rank keys are dropped (the typed aggregate cannot represent
    * them; every caller's NULL is a zero-norm sentinel that never ranks).
    * Emits (query_id, rnk ∈ 1..k, vec_id, payload, tag, tag2).
    */
  private def perQueryTopK(scored: DataFrame, s: Column, k: Int,
                           payload: Column = lit(0.0), tag: Column = lit(0L),
                           tag2: Column = lit(0L)): DataFrame =
    // NULL rank keys (zero-norm sentinels that never rank) are skipped by
    // the aggregate's own update — an explicit filter(s.isNotNull) here
    // pushed through the scoring projection and made Catalyst evaluate
    // the exact-DECIMAL cosine TWICE per row (once as predicate, once as
    // aggregate input): the classic double-eval of an expensive
    // expression under predicate pushdown, measured as ~2× the scoring
    // pass on l3_batch_topk
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKNative.topK(k)(
        s, col("vec_id"), payload, tag, tag2).as("__tk"))
      .select(col("query_id"), posexplode(col("__tk")).as(Seq("__i", "__r")))
      .select(col("query_id"), (col("__i") + 1).cast("int").as("rnk"),
        col("__r.id").as("vec_id"), col("__r.payload").as("payload"),
        col("__r.tag").as("tag"), col("__r.tag2").as("tag2"))

  /** Largest candidate-id list inlined as a literal `vec_id IN (...)`
    * pushdown before [[topKBatch]] falls back to the broadcast-join-only
    * rescore. Catalyst converts In literal lists above
    * `spark.sql.optimizer.inSetConversionThreshold` to InSet (O(1) probe),
    * but the ANALYZER cost of building/transforming the expression tree
    * and the parquet row-group pruning payoff both scale with list size
    * in opposite directions — past tens of thousands of ids the filter
    * touches most row groups anyway while the plan-time cost keeps
    * growing, so a single broadcast-join probe pass is strictly better.
    */
  val IsinPushdownMaxIds = 32768

  /** L3g: BATCHED exact top-k — every query of a batch scored in ONE
    * corpus pass. The single-query [[bruteForceTopK]] rides
    * TakeOrderedAndProject, but a per-query loop re-scans the corpus per
    * query; serving and eval (ground truth for recall@k over a query
    * SET) score the batch at once, and the per-query rank is the bounded
    * [[perQueryTopK]] partial aggregate — no per-query scan, no 1-task
    * window, no corpus-sized exchange, at any corpus scale.
    *
    * TWO-STAGE, the L3 rescore discipline: the corpus pass scores with
    * the fused codegen'd double [[graft.functions.CosineFast]] and keeps
    * a PADDED top-P per query (P = max(4k, k+30)); only those ≤ P·|Q|
    * survivors pay the exact-DECIMAL [[cosine]] that defines the output
    * values, joined back by id (broadcast candidate list — the corpus is
    * never exchanged). Why the answer is still the EXACT top-k: a
    * 6-dp-rounded exact cosine differs from the double screen score by
    * < 5.1·10⁻⁷ ([[SemPrefilterEps]] rationale), so a true top-k member
    * can only be screened out if ≥ P vectors pack inside a ~10⁻⁶ cosine
    * band above it — and EQUAL screen scores (exact duplicates, the one
    * realistic mass-tie) tie-break by id in BOTH stages, so the padded
    * set keeps exactly the ids the exact rank would. Rank key is
    * `-cosine` (same total order as the window form's `desc`, signed
    * zeros included); the unnegated cosine rides through as the payload
    * so no double negation can perturb it.
    */
  def topKBatch(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val pad = math.max(4 * k, k + 30)
    // q_f: float cast of the widened doubles == the original float
    // vector, so the screen sees the same bits CosineFast callers do
    val qn = queries.select(col("query_id"), col("q_emb"),
      transform(col("q_emb"), _.cast("float")).as("q_f"))
    val screened = emb.crossJoin(broadcast(qn.select(col("query_id"), col("q_f"))))
      .select(col("query_id"), col("vec_id"),
        graft.functions.CosineFast(col("embedding"), col("q_f")).as("cf"))
    // zero-norm/NaN screen scores order LAST ascending (Double.compare),
    // so they fill only leftover slots; their exact rescore is NULL and
    // the final aggregate skips them — same nulls-never-rank outcome as
    // the single-stage form
    //
    // bounded metadata collect (≤ pad·|Q| id pairs — the 64k serving-cap
    // family): the survivors' ids come to the driver so the rescore scan
    // is a PUSHED-DOWN `vec_id IN (...)` — the annExactRescore shape. The
    // broadcast-join form this replaced re-scanned the ENTIRE corpus as
    // the probe side to rescore ~pad·|Q| rows; with the IN filter the
    // rescore reads only the row groups holding survivors, which at
    // 100 TB is the difference between a second full pass and a
    // metadata-pruned point read.
    val cand = perQueryTopK(screened, negate(col("cf")), pad)
      .select(col("query_id"), col("vec_id"))
    val candPairs = cand.collect()
    val candIds = candPairs.map(_.getLong(1)).distinct.toIndexedSeq
    val candLocal = emb.sparkSession.createDataFrame(
      java.util.Arrays.asList(candPairs: _*), cand.schema)
    // The IN-literal pushdown is only a win while the list stays small:
    // above ~tens of thousands of ids the In expression's analyzer /
    // optimizer cost grows superlinearly and the literal list itself is
    // driver-memory pressure, while the pruning benefit saturates (a
    // filter touching most row groups prunes nothing). Past the cap the
    // broadcast hash join on candLocal alone restricts the rescore — one
    // streaming corpus probe pass, no giant expression tree. At the 64k
    // serving cap with pad≈40 that is ~2.6M pairs, far past the cap, so
    // serving-scale batches take the join path by construction.
    val base = emb.select(col("vec_id"), col("label"), col("embedding"))
    val pruned =
      if (candIds.length <= IsinPushdownMaxIds) base.filter(col("vec_id").isin(candIds: _*))
      else base
    val exact = pruned
      .join(broadcast(candLocal), "vec_id")
      .join(broadcast(qn.select(col("query_id"), col("q_emb"))), "query_id")
      .select(col("query_id"), col("vec_id"), col("label"),
        cosine(dbl(col("embedding")), col("q_emb")).as("cosine"))
    perQueryTopK(exact, negate(col("cosine")), k,
      payload = col("cosine"), tag = col("label").cast("long"))
      .select(col("query_id"), col("rnk"), col("vec_id"),
        col("tag").cast(emb.schema("label").dataType).as("label"),
        col("payload").as("cosine"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** L3g declared query: exact top-10 for the [[BatchQueryIds]] batch. */
  def l3BatchTopK(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    topKBatch(t.embeddings, batchQueryVecs(t, BatchQueryIds), k = 10)
  }

  /** Label predicate for the declared FILTERED search query. */
  val FilteredLabel = 3

  /** L3h declared query: FILTERED vector search — top-10 among only the
    * label-[[FilteredLabel]] vectors, for the same query batch. Filtered
    * ANN is its own serving feature (metadata predicate + similarity
    * rank); the exact form is the oracle anchor, and the index-side
    * scale path is [[probePqIndexBatchFiltered]], where the predicate
    * rides the CODES scan as a pushed-down filter BEFORE candidate
    * ranking (post-filtering a top-k would under-fill it).
    */
  def l3FilteredTopK(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    topKBatch(t.embeddings.filter(col("label") === FilteredLabel),
      batchQueryVecs(t, BatchQueryIds), k = 10)
  }

  /** [[probePqIndexBatch]] under a metadata predicate: the filter
    * applies to the codes frame (which carries the metadata columns)
    * BEFORE ADC candidate ranking — so the top factor·k candidates are
    * all predicate-true and the final k is never under-filled by
    * post-filtering — and to the rescore store symmetrically. On the
    * codes parquet the predicate is a pushed-down scan filter
    * (BucketingSpec asserts PushedFilters), so a selective predicate
    * cuts the candidate scan itself, the FAISS-style pre-filter shape.
    */
  def probePqIndexBatchFiltered(spark: SparkSession, indexDir: String,
                                queries: DataFrame, k: Int, rescoreFrom: DataFrame,
                                pred: Column, m: Int = PqM,
                                subDim: Int = PqSubDim): DataFrame =
    probePqCodes(spark.read.parquet(s"$indexDir/codebooks"),
      spark.read.parquet(s"$indexDir/codes").filter(pred),
      queries, k, rescoreFrom.filter(pred), m, subDim)

  /** Batched [[probePqIndex]]: a whole query batch served off the
    * persisted PQ index in one pass over the CODES columns. Per query
    * the plan is the single probe's; across the batch everything is
    * shared: the codes scan melts once to (vec_id, sub, code), the ADC
    * tables for ALL queries are one |Q|·m·k-row broadcast, candidate
    * ranking is the bounded [[perQueryTopK]] partial aggregate
    * (corpus-sized per query — never a per-query window, never a
    * corpus-sized exchange), and the exact
    * rescore touches `rescoreFrom` through ONE broadcast semi-join of
    * the bounded |Q|·factor·k candidate ids (the batch form of the
    * single probe's pushed-down `vec_id IN (...)`). The final per-query
    * rank IS a `Window.partitionBy(query_id)` — by then each query
    * holds ≤ factor·k rescored rows, row-bounded state. Candidate
    * selection and tie-breaks replay [[pqCandidates]] exactly, so each
    * query's slice equals its solo probe (BucketingSpec pins this).
    */
  def probePqIndexBatch(spark: SparkSession, indexDir: String, queries: DataFrame,
                        k: Int, rescoreFrom: DataFrame, m: Int = PqM,
                        subDim: Int = PqSubDim): DataFrame =
    probePqCodes(spark.read.parquet(s"$indexDir/codebooks"),
      spark.read.parquet(s"$indexDir/codes"), queries, k, rescoreFrom, m, subDim)

  /** The batch probe over EXPLICIT codebook/codes frames — the core
    * [[probePqIndexBatch]] (flat index) and
    * [[graft.streaming.Streams.probePqIngested]] (segmented, streaming-
    * ingested index) both delegate to.
    */
  def probePqCodes(books: DataFrame, codesRaw: DataFrame, queries: DataFrame,
                   k: Int, rescoreFrom: DataFrame, m: Int = PqM,
                   subDim: Int = PqSubDim): DataFrame = {
    val codes = codesRaw
      .select(col("vec_id") +: (0 until m).map(j => col(s"code_$j")): _*)
    val melted = codes.select(col("vec_id"),
      posexplode(array((0 until m).map(j => col(s"code_$j")): _*))
        .as(Seq("sub", "cid")))
    val adc = books.crossJoin(broadcast(queries))
      .select(col("query_id"), col("sub"), col("cid").cast("int").as("cid"),
        dist2(col("ce"),
          slice(col("q_emb"), col("sub") * lit(subDim) + lit(1),
            lit(subDim))).as("adc"))
    val cand = melted.join(broadcast(adc), Seq("sub", "cid"))
      .groupBy(col("query_id"), col("vec_id")).agg(sum(col("adc")).as("adc_d2"))
    val top = perQueryTopK(cand, col("adc_d2"), PqRescoreFactor * k)
      .select(col("query_id"), col("vec_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    rescoreFrom.join(broadcast(top), "vec_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("vec_id"), col("label"),
        cosine(dbl(col("embedding")), col("q_emb")).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id"), col("label"), col("cosine"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** PERSISTED IVF index — the actual serving shape at 100 TB, where
    * [[ivfTopKFast]]'s in-session centroid reuse still re-scans and
    * re-assigns the full corpus per session. The index is built once,
    * offline:
    *
    *   indexDir/centroids/          k-row (cid, ce) parquet
    *   indexDir/vectors/cell=<c>/   the corpus, hive-partitioned by cell
    *
    * so a probe reads the tiny centroid frame, ranks the k cells against
    * the query, and scans ONLY the nprobe matching `cell=` partitions —
    * the other k−nprobe directories are pruned at planning time and never
    * opened (asserted via `inputFiles` in BucketingSpec).
    */
  def buildIvfIndex(emb: DataFrame, indexDir: String,
                    nCells: Int = IvfCells): Unit = {
    trainedCentroids(emb, nCells)
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
    // assign against the RE-READ centroids so the stored cells are exactly
    // what any later probe recomputes from the persisted frame
    val cents = emb.sparkSession.read.parquet(s"$indexDir/centroids")
    emb.join(assignCellsFast(emb, cents), "vec_id")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/vectors")
  }

  /** Top-k cosine neighbours of an out-of-corpus query vector against a
    * [[buildIvfIndex]] index. The centroid read + nprobe ranking is a
    * k-row INDEX-METADATA action at query-planning time (k ≪ n, the same
    * scale as a broadcast) — the resulting literal `isin` filter on the
    * partition column is what static-prunes the scan to nprobe
    * directories; a join-based probe would at best achieve the same via
    * runtime DPP while making the pruning best-effort.
    */
  def probeIvfIndex(spark: SparkSession, indexDir: String, query: Seq[Float],
                    k: Int, nprobe: Int = IvfNprobe): DataFrame = {
    val qDbl = typedLit(query.map(_.toDouble))
    val probedCells = spark.read.parquet(s"$indexDir/centroids")
      .select(col("cid"), d2Fast(col("ce"), qDbl).as("d2"))
      .orderBy(col("d2"), col("cid")).limit(nprobe)
      .collect().map(_.getAs[Long]("cid")) // k-row index metadata, not data
    spark.read.parquet(s"$indexDir/vectors")
      .filter(col("cell").isin(probedCells.toIndexedSeq: _*))
      .withColumn("__q", typedLit(query))
      .select(col("vec_id"), col("label"), col("cell"),
        graft.functions.CosineFast(col("embedding"), col("__q")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Batched [[probeIvfIndex]]: a query batch served off the persisted
    * IVF index with ONE partition-pruned scan. Per-query cell choice is a
    * centroid-frame × batch cross (index-metadata scale, |Q|·k rows,
    * ranked by a row-bounded per-query window); the vectors scan is
    * statically pruned to the UNION of all probed `cell=` partitions
    * (collected like the solo probe's cell rank — bounded |Q|·nprobe
    * rows, never data); each cell's vectors fan out only to the queries
    * that probed it via a broadcast join. The per-query final rank is
    * corpus-scale (nprobe/k of the corpus per query), so it rides the
    * offset-localized [[perQueryTopK]], not a per-query window.
    */
  def probeIvfIndexBatch(spark: SparkSession, indexDir: String, queries: DataFrame,
                         k: Int, nprobe: Int = IvfNprobe): DataFrame = {
    val cents = spark.read.parquet(s"$indexDir/centroids")
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d2"), col("cid"))
    val probed = cents.crossJoin(broadcast(queries))
      .select(col("query_id"), col("cid"), d2Fast(col("ce"), col("q_emb")).as("d2"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("cid").as("cell"))
    val probedRows = probed.collect() // |Q|·nprobe rows — index metadata, not data
    val cellsUnion = probedRows.map(_.getAs[Long]("cell")).distinct.toIndexedSeq
    val probedDf = spark.createDataFrame(
      spark.sparkContext.parallelize(probedRows.toIndexedSeq, 1), probed.schema)
    val scored = spark.read.parquet(s"$indexDir/vectors")
      .filter(col("cell").isin(cellsUnion: _*)) // static partition pruning
      .join(broadcast(probedDf), "cell")
      .join(broadcast(queries.select(col("query_id"),
        // CosineFast wants the raw float arrays; the double form cast
        // back is exact (the values originated as floats)
        col("q_emb").cast("array<float>").as("__q"))), "query_id")
      .select(col("query_id"), col("vec_id"), col("label"), col("cell"),
        graft.functions.CosineFast(col("embedding"), col("__q")).as("cosine"))
    perQueryTopK(scored, negate(col("cosine")), k, payload = col("cosine"),
      tag = col("label").cast("long"), tag2 = col("cell").cast("long"))
      .select(col("query_id"), col("rnk"), col("vec_id"),
        col("tag").cast(scored.schema("label").dataType).as("label"),
        col("tag2").cast(scored.schema("cell").dataType).as("cell"),
        col("payload").as("cosine"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** The composed production serving shape — IVF cells × SQ8 codes, what
    * FAISS calls IVF-SQ: [[buildIvfIndex]]'s layout plus a per-vector
    * signed-SQ8 code column and the one corpus-wide scale stored as index
    * metadata. A probe then (1) statically prunes the scan to nprobe
    * `cell=` partitions, (2) ranks the survivors by integer-cosine over
    * the 1-byte codes (4× less scan bandwidth than floats), and
    * (3) exact-rescoring only the top [[SqRescoreFactor]]·k. Each stage
    * cuts the next stage's input: partitions → codes → floats.
    */
  def buildIvfSqIndex(emb: DataFrame, indexDir: String,
                      nCells: Int = IvfCells): Unit = {
    buildIvfIndex(emb, indexDir, nCells)
    val spark = emb.sparkSession
    val vecs = spark.read.parquet(s"$indexDir/vectors")
    val scale = vecs.select(explode(dbl(col("embedding"))).as("x"))
      .agg(max(abs(col("x"))).as("maxabs"))
    scale.write.mode("overwrite").parquet(s"$indexDir/scale")
    val s = spark.read.parquet(s"$indexDir/scale")
    vecs.crossJoin(broadcast(s))
      .select(col("vec_id"), col("label"), col("embedding"), col("cell"),
        transform(dbl(col("embedding")), x =>
          when(col("maxabs") === 0, lit(0L))
            .otherwise(floor(x / col("maxabs") * lit(127)))).as("codes"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/vectors_sq")
  }

  /** Probe of a [[buildIvfSqIndex]] index: partition-pruned scan →
    * integer-cosine candidate rank → exact rescore. Both ranked stages
    * ride TakeOrderedAndProject (no global sort).
    */
  def probeIvfSqIndex(spark: SparkSession, indexDir: String, query: Seq[Float],
                      k: Int, nprobe: Int = IvfNprobe): DataFrame = {
    val qDbl = typedLit(query.map(_.toDouble))
    val probedCells = spark.read.parquet(s"$indexDir/centroids")
      .select(col("cid"), d2Fast(col("ce"), qDbl).as("d2"))
      .orderBy(col("d2"), col("cid")).limit(nprobe)
      .collect().map(_.getAs[Long]("cid"))
    // 1-row index metadata, same planning-time scale as the centroid rank;
    // read by NAME with a null guard — an index built over an empty corpus
    // stores a NULL maxabs, which must fail loudly, not NPE
    val scaleRows = spark.read.parquet(s"$indexDir/scale").collect()
    require(scaleRows.nonEmpty, s"IVF-SQ index at $indexDir has no scale row")
    val maxabsBoxed = scaleRows(0).getAs[java.lang.Double]("maxabs")
    require(maxabsBoxed != null,
      s"IVF-SQ index at $indexDir has NULL maxabs (built over an empty corpus?)")
    val maxabs = maxabsBoxed.doubleValue()
    val qCodes = typedLit(query.map(x =>
      if (maxabs == 0) 0L else math.floor(x.toDouble / maxabs * 127).toLong))
    def idot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (s, x) => s + x)
    spark.read.parquet(s"$indexDir/vectors_sq")
      .filter(col("cell").isin(probedCells.toIndexedSeq: _*))
      .withColumn("intdot", idot(col("codes"), qCodes))
      .withColumn("na", idot(col("codes"), col("codes")))
      .withColumn("nb", idot(qCodes, qCodes))
      .withColumn("approx",
        when(col("na") === 0 || col("nb") === 0, lit(-2.0d))
          .otherwise(col("intdot").cast("double") /
            sqrt((col("na") * col("nb")).cast("double"))))
      .orderBy(col("approx").desc, col("vec_id")).limit(SqRescoreFactor * k)
      .withColumn("__q", typedLit(query))
      .select(col("vec_id"), col("label"),
        graft.functions.CosineFast(col("embedding"), col("__q")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** How many approximate candidates the SQ rescore pass keeps per
    * requested neighbour (top 4k by integer score → exact top-k).
    */
  val SqRescoreFactor = 4

  /** L3e: SCALAR-QUANTIZED (8-bit) ANN — the memory-bandwidth scale path,
    * complementary to the IVF/LSH CELL-pruning paths: quantize every value
    * to a SIGNED code `floor(x / max|x| · 127)` ∈ −127..127 against the
    * one corpus-wide scale, rank by the integer-cosine
    * `dot(c,qc)/√(|c|²·|qc|²)`, then exact-cosine rescore only the top
    * [[SqRescoreFactor]]·k survivors. Symmetric (not min/max-affine)
    * quantization on purpose: an affine shift makes every code positive,
    * so code dot products measure magnitude instead of direction and the
    * cosine ranking collapses (measured: recall@10 fell to 1/10). At
    * 100 TB the wins are (a) the approximate pass scans 1-byte codes
    * instead of 4-byte floats — 4× less bandwidth on the full-corpus
    * stage, the signed-SQ8 posture FAISS ships for flat indexes — and
    * (b) the scoring loop is integer multiply-add. Codes and the 1-scalar
    * scale are computed at index-write time; here they are derived
    * in-plan so the whole pipeline stays a declared query.
    *
    * Deterministic cross-engine by construction: the scale is an exact
    * input double, `x / s · 127` is two exactly-rounded IEEE ops on
    * identical operands, and `floor` (not round — no half-way mode to
    * disagree on) lands identical integers. The approximate score divides
    * exact integers (|c|²·|qc|² ≤ (64·127²)² < 2⁵³, exact in double)
    * through one exactly-rounded sqrt and division — identical doubles on
    * both engines — and the rescore reuses the shared decimal-exact
    * [[cosine]].
    */
  def sqTopK(t: Tables, queryId: Long, k: Int): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("label"), dbl(col("embedding")).as("emb"))
    // corpus-wide symmetric scale: ONE max-|x| scalar, a broadcast stat
    val mm = e.select(explode(col("emb")).as("x")).agg(max(abs(col("x"))).as("maxabs"))
    def codesOf(emb: Column): Column =
      transform(emb, x =>
        when(col("maxabs") === 0, lit(0L)).otherwise(floor(x / col("maxabs") * lit(127))))
    def idot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (s, x) => s + x)
    val coded = e.crossJoin(broadcast(mm))
      .select(col("vec_id"), col("label"), col("emb"), codesOf(col("emb")).as("codes"))
    val q = coded.filter(col("vec_id") === queryId)
      .select(col("codes").as("qcodes"), col("emb").as("q_emb"))
    coded.crossJoin(broadcast(q))
      .withColumn("intdot", idot(col("codes"), col("qcodes")))
      .withColumn("na", idot(col("codes"), col("codes")))
      .withColumn("nb", idot(col("qcodes"), col("qcodes")))
      // all-zero codes (a vector tiny against the corpus scale) score −2,
      // below every real cosine — mirrored in the oracle CASE
      .withColumn("approx",
        when(col("na") === 0 || col("nb") === 0, lit(-2.0d))
          .otherwise(col("intdot").cast("double") /
            sqrt((col("na") * col("nb")).cast("double"))))
      // both stages ride TakeOrderedAndProject: top-4k by integer cosine
      // over the corpus, then exact top-k over those 4k rows only
      .orderBy(col("approx").desc, col("vec_id")).limit(SqRescoreFactor * k)
      .select(col("vec_id"), col("label"), cosine(col("emb"), col("q_emb")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** L3e declared query: SQ8 top-10 for vec_id 0. */
  def l3SqTopK(spark: SparkSession, dir: String): DataFrame =
    sqTopK(Tables(spark, dir), queryId = 0L, k = 10)
}
