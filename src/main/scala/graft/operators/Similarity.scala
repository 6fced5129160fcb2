package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.FloatVecDot.dot

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]).
  *
  * Two paths: brute-force cosine top-k (the correctness baseline — a
  * broadcast of the query set against a full corpus scan, O(|Q|·n) but
  * embarrassingly parallel), and IVF (inverted-file) — vectors are
  * bucketed by nearest centroid once, queries probe only the closest
  * `nprobe` buckets, cutting the scan by ~|buckets|/nprobe. At 100 TB
  * the IVF path is the only viable one; the bucket assignment is a
  * narrow shuffle on centroid id and the probe is a semi-join.
  */
object Similarity {

  /** Cosine similarity of two float-array columns: codegen'd dot
    * product (FloatVecDot) accumulated sequentially in double.
    *
    * TOTAL on zero-norm inputs: a zero vector's cosine is NaN — the
    * IEEE answer the bulk assignment path's JVM arithmetic (0.0/0.0)
    * produces, and the value Spark's orderings put ABOVE every number,
    * so downstream argmax/rank semantics are identical on both
    * physical paths. Without the guard the raw division is 0/0, which
    * under Spark 4's default ANSI mode is not NaN but a runtime
    * DIVIDE_BY_ZERO error (and silently NULL with ANSI off — a THIRD
    * semantics): one zero-norm embedding in a 100 TB corpus would
    * kill the whole assignment job. Caught by IvfIndexSpec's
    * hand-built tie/NaN parity case; the `when` short-circuits, so the
    * division never executes with a zero divisor. */
  def cosine(a: Column, b: Column): Column = {
    val d = sqrt(dot(a, a)) * sqrt(dot(b, b))
    when(d === 0.0d, lit(Double.NaN)).otherwise(dot(a, b) / d)
  }

  /** Guarded cosine from PRECOMPUTED dot and norm product — the same
    * totality contract as [[cosine]] for the paths that hoist norms out
    * of the per-pair work (bruteForceTopK, int8TopK): a zero norm
    * product yields NaN instead of ANSI's runtime DIVIDE_BY_ZERO, so
    * one zero-norm embedding cannot kill a corpus-wide scan. */
  private def guardedSim(dotCol: Column, normProd: Column): Column =
    when(normProd === 0.0d, lit(Double.NaN)).otherwise(dotCol / normProd)

  /** Canonical similarity quantization — SURVEY §7.4's 1e-9 rounding
    * rule, realized as the SAME IEEE double ops on both engines:
    * `floor(sim·1e9 + 0.5)` (1e9 is exactly representable; both Spark
    * and DuckDB run the identical multiply/add/floor, so the rounding
    * step itself can never diverge — the int8Scale precedent). Every
    * rank window and threshold filter in this module compares the
    * QUANTIZED value, and every DuckDB oracle twin applies the same
    * expression, so a 1-ulp accumulation-order difference between the
    * two engines flips a comparison only when the raw sims straddle an
    * exact integer boundary of sim·1e9+0.5 (~1e-7 per pair) instead of
    * whenever two independent float sums land on opposite sides of a
    * rank or threshold cut — the r17 sf10 sweep's q24/q25/q46
    * exceptions were all the latter class. NaN (zero-norm inputs)
    * quantizes to NULL, which the rank windows order last and the
    * threshold filters drop — a zero-norm vector is never anyone's
    * neighbor (per-path docs); NaN-as-max survives only inside the
    * argmax ASSIGNMENT paths, where both physical shapes need IEEE's
    * total order and nothing is oracle-compared at the boundary. */
  def simQ(sim: Column): Column =
    when(isnan(sim), lit(null)).otherwise(floor(sim * 1e9d + 0.5d)).cast("long")

  /** [[simQ]] for a Scala-side threshold constant. */
  def simQ(threshold: Double): Long = math.floor(threshold * 1e9d + 0.5d).toLong

  /** Nearest-centroid assignment. Two physical shapes, one semantics
    * (QUANTIZED-cosine argmax per vector — [[simQ]], NaN as max —
    * lowest-cid tiebreak; quantized because the r18 sf10 sweep showed
    * assignment was the last raw 1-ulp engine-vs-oracle boundary after
    * rank/threshold were quantized):
    *
    *  - SMALL k (<= [[BulkAssignThreshold]]): a map-side-combinable
    *    aggregation — score the broadcast centroid set per vector via
    *    crossJoin, then `max_by(struct(cid, embedding), struct(csim,
    *    -cid))` per vec_id. Partial aggregation folds the ×k expansion
    *    back to one row per vector BEFORE any exchange, and the whole
    *    thing runs inside whole-stage codegen — the right plan at the
    *    oracle queries' k=8, and the plan those queries keep.
    *  - LARGE k: the crossJoin shape materializes one Tungsten row per
    *    (vector, centroid) pair just to argmax-reduce them, and at
    *    index-build scale that row machinery IS the cost (measured:
    *    200k vectors x 447 centroids = 746 s; 2M x 1414 extrapolates
    *    to hours for ~3e11 raw multiplies that are seconds of FLOPs).
    *    The bulk path runs the k-length argmax as a partition-local
    *    loop over a broadcast centroid matrix — the shape Spark
    *    MLlib's own KMeans uses (per-partition scan over broadcast
    *    centers) — so the job stays one pass over n rows with zero
    *    expansion. Dot products accumulate index-ascending in double
    *    (FloatVecDot's order), centroids scan cid-ascending with a
    *    strict `>`, so the argmax and tiebreak match the aggregation
    *    bit-for-bit.
    *
    * Expects `c` as (cid, cv); returns (vec_id, embedding, cid). */
  private val BulkAssignThreshold = 64L

  /** `kHint`: callers that know the centroid count (trainCentroids)
    * pass it so path selection runs NO job; unknown-k callers pay one
    * BOUNDED count (limit threshold+1 — a local-limit scan that stops
    * early, never a full pass over a corpus-derived centroid frame).
    * Corpus vec_ids must be unique (every caller's table contract):
    * the aggregation path would collapse duplicates per key, the bulk
    * path emits one row per input row. */
  private def assignToNearest(corpus: DataFrame, c: DataFrame,
                              kHint: Option[Long] = None): DataFrame = {
    val k = kHint.getOrElse(c.limit(BulkAssignThreshold.toInt + 1).count())
    if (k <= BulkAssignThreshold)
      corpus.crossJoin(broadcast(c))
        // argmax on the QUANTIZED similarity (simQ; NaN keeps its
        // above-every-number rank via the MaxValue sentinel — cosine is
        // in [-1,1], so no real simq can reach it): the r18 sf10 sweep
        // proved rank/threshold quantization alone leaves ASSIGNMENT
        // as the last raw 1-ulp boundary (q25: 18 rows flipped bucket
        // between the engine's and DuckDB's accumulation orders)
        .withColumn("csimq",
          coalesce(simQ(cosine(col("cv"), col("embedding"))), lit(Long.MaxValue)))
        .groupBy(col("vec_id"))
        .agg(max_by(struct(col("cid"), col("embedding")),
          struct(col("csimq"), negate(col("cid")))).as("best"))
        .select(col("vec_id"), col("best.embedding").as("embedding"),
          col("best.cid").as("cid"))
    else assignToNearestBulk(corpus, c)
  }

  /** Index-ascending double-accumulated dot — the exact arithmetic of
    * [[graft.functions.FloatVecDot]], for the bulk path's executor loop. */
  private def dotD(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  private def assignToNearestBulk(corpus: DataFrame, c: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // cid-ascending so a strict > keeps the lowest cid on ties — the
    // same total order as the aggregation's (csim desc, cid asc)
    val cents = c.select(col("cid").cast("long"), col("cv"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val norms = cents.map { case (_, cv) => math.sqrt(dotD(cv, cv)) }
    val bc = spark.sparkContext.broadcast((cents, norms))
    corpus.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (cs, ns) = bc.value
        it.map { case (id, emb) =>
          val en = math.sqrt(dotD(emb, emb))
          var bestSimq = Long.MinValue
          var bestCid = 0L
          var j = 0
          while (j < cs.length) {
            val sim = dotD(cs(j)._2, emb) / (ns(j) * en)
            // the aggregation path's exact ordering key: the QUANTIZED
            // similarity (floor(sim*1e9+0.5) — simQ's IEEE ops, run
            // here in the JVM on the same doubles SQL codegen uses),
            // with NaN (a zero-norm vector or centroid) mapped to the
            // MaxValue sentinel so it keeps NaN's above-every-number
            // rank — cosine is in [-1,1], no real simq can collide.
            // Both paths then pick the identical bucket: highest simq,
            // lowest cid on ties (cid-ascending scan + strict >).
            val simq =
              if (java.lang.Double.isNaN(sim)) Long.MaxValue
              else math.floor(sim * 1e9d + 0.5d).toLong
            if (j == 0 || simq > bestSimq) {
              bestSimq = simq; bestCid = cs(j)._1
            }
            j += 1
          }
          (id, emb, bestCid)
        }
      }
      .toDF("vec_id", "embedding", "cid")
  }

  /** Brute-force top-k cosine neighbors for each query vector.
    * Norms are computed once per side, so the per-pair work is a single
    * codegen'd dot product. Ranking is on the [[simQ]]-quantized
    * similarity (vec_id tiebreak), so the oracle's independently
    * accumulated sims rank identically; zero-norm vectors (NaN sim)
    * are excluded — they are not meaningful neighbors, and before the
    * guard one of them killed the whole scan under ANSI.
    * Output: (query_id, rank, neighbor_id). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
    val c = corpus.withColumn("cn", sqrt(dot(col("embedding"), col("embedding"))))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("simq",
        simQ(guardedSim(dot(col("qv"), col("embedding")), col("qn") * col("cn"))))
      .filter(col("simq").isNotNull)
    val w = Window.partitionBy("query_id").orderBy(col("simq").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"))
  }

  /** Lloyd-iteration (k-means) centroid training for the IVF index, all
    * DataFrame ops: seed with the first `k` vectors by id, then
    * `iters`× { assign every vector to its nearest centroid by cosine;
    * recompute each centroid as the element-wise mean of its members }.
    * The mean is computed by posexplode → groupBy(cid, pos) → avg →
    * re-assemble, so no vector ever leaves the executors; the driver
    * loop holds only the iteration counter. A centroid that loses all
    * members keeps its previous position. Cosine is scale-invariant, so
    * means are not re-normalized. Returns (cid, cv) ready for
    * [[ivfTopK]] / [[cosineNearDupPairs]] `centroids` (as vec_id,
    * embedding), as a local checkpoint: nothing is left cached.
    */
  def trainCentroids(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    var cents = corpus.orderBy("vec_id").limit(k)
      .select(col("vec_id").cast("long").as("cid"), col("embedding").as("cv"))
      .persist()
    cents.count()
    for (_ <- 1 to iters) {
      val assigned = assignToNearest(corpus, cents.select(col("cid"), col("cv")),
          kHint = Some(k.toLong)) // known k: no per-iteration count job
        .select(col("cid"), col("embedding"))
      val means = assigned
        .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cid", "pos").agg(avg(col("v")).as("m"))
        .groupBy("cid")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m)))," +
          " s -> cast(s.m as float))").as("mv"))
      val next = cents.as("c")
        .join(means.as("m"), Seq("cid"), "left")
        .select(col("cid"), coalesce(col("mv"), col("cv")).as("cv"))
        .persist()
      next.count()
      cents.unpersist()
      cents = next
    }
    released(cents).select(col("cid").as("vec_id"), col("cv").as("embedding"))
  }

  /** The trained frame, out of the cache: its rows as a local checkpoint
    * (lineage cut, so reading it never retrains) and its cache entry
    * dropped. No caller unpersists a returned frame, so a cached one
    * would stay for the life of the JVM, and the next training on the
    * same corpus would ask to cache the identical plan again. The
    * checkpoint's blocks go when the returned frame is unreachable. */
  private def released(trained: DataFrame): DataFrame = {
    val out = trained.localCheckpoint()
    trained.unpersist()
    out
  }

  /** Bucket assignment for a PERSISTABLE IVF index: every corpus
    * vector labelled with its nearest centroid. Written out partitioned
    * by `cid` (with the centroid table beside it), this IS the stored
    * index — the build-once half of build-once/query-many; the query
    * half ([[ivfTopKAssigned]]) then never recomputes assignments and
    * reads only probed buckets. Returns (vec_id, embedding, cid).
    *
    * `kHint`: the centroid count (an upper bound suffices — it only
    * selects the aggregation-vs-bulk physical path). Callers that know
    * it (an index build that chose k) should pass it: without the hint
    * path selection pays one bounded count job AND evaluates the
    * centroid frame a second time (selection and assignment each read
    * it) — safe only because centroid frames are deterministic or
    * persisted, which is therefore part of this method's contract for
    * hint-less calls. */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame,
                kHint: Option[Long] = None): DataFrame =
    assignToNearest(corpus,
      centroids.select(col("vec_id").as("cid"), col("embedding").as("cv")),
      kHint)

  /** IVF query path over an ALREADY-ASSIGNED corpus (freshly computed
    * or read back from a stored index): probe the `nprobe` closest
    * buckets per query, rank within the probed candidates only. When
    * `assigned` is a cid-partitioned table, the probe join prunes the
    * scan to probed buckets (dynamic partition pruning — the q89
    * machinery applied to ANN). */
  def ivfTopKAssigned(assigned: DataFrame, queries: DataFrame,
                      centroids: DataFrame, k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = centroids.select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    // probe ranking stays a window: it needs top-nprobe (not argmax) and
    // runs over the tiny query set ×k only, never the corpus
    // probe selection and candidate ranking both order on the
    // simQ-quantized similarity (cid / vec_id tiebreaks) — the oracle
    // twins quantize identically, so probe-set and rank agreement no
    // longer hang on accumulation-order ulps
    val wProbe = Window.partitionBy("query_id").orderBy(col("qsimq").desc, col("cid").asc)
    val probes = q.crossJoin(broadcast(c))
      .withColumn("qsimq", simQ(cosine(col("cv"), col("qv"))))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("query_id"), col("qv"), col("cid"))
    val wRank = Window.partitionBy("query_id").orderBy(col("simq").desc, col("vec_id").asc)
    assigned.join(probes, Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("simq", simQ(cosine(col("qv"), col("embedding"))))
      .filter(col("simq").isNotNull) // zero-norm: not a neighbor
      .withColumn("rank", row_number().over(wRank)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"))
  }

  /** IVF top-k: assign every vector to its nearest centroid (argmax
    * cosine, centroid-id tiebreak), probe the `nprobe` closest buckets
    * per query, rank within the probed candidates only. `kHint` as in
    * [[ivfAssign]]: pass the centroid count when known to skip the
    * bounded path-selection count job. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
              k: Int, nprobe: Int, kHint: Option[Long] = None): DataFrame =
    ivfTopKAssigned(ivfAssign(corpus, centroids, kHint), queries, centroids,
      k, nprobe)

  /** Result of [[calibrateNprobe]]: the chosen operating point plus the
    * whole measured recall curve, so a caller (or probe artifact) can
    * see HOW achievable the target was, not just whether.
    *
    *  - `nprobe`: smallest probe depth whose estimated recall@k meets
    *    the target, or the sweep's max when none does;
    *  - `estRecall`: the estimate AT `nprobe`;
    *  - `achievable`: false means the corpus is unclusterable at this
    *    index — even probing `maxNprobe` buckets misses the target, so
    *    IVF at this centroid count cannot serve the workload; use
    *    brute force or a rerank cascade (measured, not asserted:
    *    probe_r16_ann_decade.json, recall 0.36–0.57 on structure-free
    *    vectors at any constant nprobe);
    *  - `curve`: (nprobe → estimated recall@k), every swept depth. */
  final case class NprobeCalibration(nprobe: Int, estRecall: Double,
      achievable: Boolean, curve: Seq[(Int, Double)]) {
    /** Loud one-line verdict for logs/probe artifacts. */
    def describe(targetRecall: Double): String =
      if (achievable)
        f"calibrated nprobe=$nprobe (estimated recall@k $estRecall%.3f >= " +
          f"target $targetRecall%.2f)"
      else
        f"corpus unclusterable at this index: estimated recall@k " +
          f"$estRecall%.3f at nprobe=$nprobe < target $targetRecall%.2f — " +
          "use brute force or a rerank cascade"
  }

  /** Recall-targeted nprobe calibration — the executable form of the
    * deployment rule the round-16 decade probe left as prose ("measure
    * your corpus's clusterability before sizing nprobe"): given a
    * built index (`assigned` = (vec_id, embedding, cid) and its
    * `centroids`), a SAMPLE of query vectors, and a recall target,
    * return the smallest nprobe whose estimated recall@k meets the
    * target — or a loud refusal carrying the best estimate when none
    * up to `maxNprobe` does.
    *
    * Cost: ONE brute-force pass of the sample over the corpus (the
    * ground truth — |sample| bounded by the caller; 100 queries × n is
    * one scan) plus a sample×centroids probe-ranking. The whole
    * recall-vs-nprobe CURVE then falls out of a single join, with no
    * per-nprobe re-query, because recall at depth p is decided by
    * bucket ranks alone: a true top-k neighbor is recovered at depth p
    * IFF its bucket ranks <= p in the query's centroid ordering — once
    * its bucket is probed nothing can displace it (only candidates
    * with strictly higher similarity could, and the global top-k
    * outrank every other candidate in ANY probed subset; ties break on
    * vec_id identically in [[bruteForceTopK]] and [[ivfTopKAssigned]],
    * so the tie the brute ranking kept also wins inside the probed
    * subset, where the tied loser either is absent or loses the same
    * comparison). The curve is therefore EXACTLY what running
    * [[ivfTopKAssigned]] at each depth would measure on the sample —
    * checked by IvfIndexSpec against the direct measurement.
    *
    * The driver materializes one row per (query, true neighbor) —
    * |sample|·k, bounded by the caller's sample size. */
  def calibrateNprobe(assigned: DataFrame, centroids: DataFrame,
                      sampleQueries: DataFrame, k: Int, targetRecall: Double,
                      maxNprobe: Int): NprobeCalibration = {
    import org.apache.spark.sql.expressions.Window
    require(maxNprobe >= 1, s"maxNprobe=$maxNprobe must be >= 1")
    val corpus = assigned.select(col("vec_id"), col("embedding"))
    // ground truth: brute-force top-k of the SAMPLE only — one corpus
    // scan, the price of measuring instead of guessing
    val truth = bruteForceTopK(corpus, sampleQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    // each query's centroid ordering, exactly ivfTopKAssigned's probe
    // ranking (cosine desc, cid asc) — sample × centroids only
    val c = centroids.select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val q = sampleQueries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("qsimq").desc, col("cid").asc)
    val probeRank = q.crossJoin(broadcast(c))
      .withColumn("qsimq", simQ(cosine(col("cv"), col("qv")))) // as ivfTopKAssigned ranks probes
      .withColumn("prn", row_number().over(wProbe))
      .select(col("query_id"), col("cid"), col("prn"))
    // every true neighbor's minimal recovering depth: the probe rank of
    // its bucket under its query
    val depths = truth
      .join(assigned.select(col("vec_id").as("neighbor_id"), col("cid")),
        Seq("neighbor_id"))
      .join(probeRank, Seq("query_id", "cid"))
      .select(col("prn")).collect().map(_.getInt(0))
    val nTruth = truth.count().toDouble
    // recall@k at depth p = |{truth pairs: bucket rank <= p}| / |truth|
    val sweep = (1 to maxNprobe).map { p =>
      p -> (if (nTruth == 0) 1.0 else depths.count(_ <= p) / nTruth)
    }
    sweep.find { case (_, r) => r >= targetRecall } match {
      case Some((p, r)) => NprobeCalibration(p, r, achievable = true, sweep)
      case None =>
        val (p, r) = sweep.last
        NprobeCalibration(p, r, achievable = false, sweep)
    }
  }

  /** All m subvectors of every vector as one exploded frame
    * (vec_id, sub, sv) — the layout that lets PQ train, encode, and
    * build ADC tables in ONE pass over the corpus per step instead of
    * m separate subspace passes (at 100 TB the encode scan dominates;
    * m=8 separate passes would read the corpus 8 times). */
  private def sliceSubs(df: DataFrame, vecCol: String, d: Int, m: Int): DataFrame = {
    val dsub = d / m
    df.select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => slice(col(vecCol), s * dsub + 1, lit(dsub)))).as(Seq("sub", "sv")))
  }

  /** Product-quantization codebooks: the d-dim vector splits into `m`
    * subvectors of d/m dims and each subspace trains its own
    * `ksub`-centroid codebook. A vector then encodes as m small codes —
    * m bytes instead of d floats at ksub<=256, the 16-32x memory
    * compression that lets a 100 TB corpus' ANN index live in RAM.
    * All m codebooks train JOINTLY, keyed by (sub, cid): each Lloyd
    * step is one corpus pass + one (sub, cid, pos) mean aggregation for
    * every subspace at once, not an m-way loop of separate jobs. Seeds,
    * assignment tiebreaks, and empty-centroid handling are identical to
    * [[trainCentroids]] per subspace. Returns (sub, cid, cv). */
  def trainProductCodebooks(corpus: DataFrame, d: Int, m: Int, ksub: Int,
                            iters: Int): DataFrame = {
    require(d % m == 0, s"m=$m must divide d=$d")
    val sliced = sliceSubs(corpus, "embedding", d, m).persist()
    // seeds: the ksub smallest vec_ids (each contributes its subvector
    // to every subspace's codebook — same choice per-subspace training
    // would make, since all subspaces share the id set)
    val seedIds = corpus.select(col("vec_id")).orderBy("vec_id").limit(ksub)
    var cents = sliced.join(broadcast(seedIds), "vec_id")
      .select(col("sub"), col("vec_id").cast("long").as("cid"), col("sv").as("cv"))
      .persist()
    cents.count()
    for (_ <- 1 to iters) {
      val assigned = sliced.join(broadcast(cents), "sub")
        .withColumn("csim", cosine(col("cv"), col("sv")))
        .groupBy(col("sub"), col("vec_id"))
        .agg(max_by(struct(col("cid"), col("sv")),
          struct(col("csim"), negate(col("cid")))).as("best"))
        .select(col("sub"), col("best.cid").as("cid"), col("best.sv").as("sv"))
      val means = assigned
        .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy("sub", "cid", "pos").agg(avg(col("v")).as("mn"))
        .groupBy("sub", "cid")
        .agg(expr("transform(array_sort(collect_list(struct(pos, mn)))," +
          " s -> cast(s.mn as float))").as("mv"))
      val next = cents.join(means, Seq("sub", "cid"), "left")
        .select(col("sub"), col("cid"), coalesce(col("mv"), col("cv")).as("cv"))
        .persist()
      next.count()
      cents.unpersist()
      cents = next
    }
    sliced.unpersist()
    released(cents)
  }

  /** PQ top-k with asymmetric-distance scan + exact rerank — the
    * production shape: the corpus is consulted as its CODE table
    * (n x m small ints), each query's similarity to every codebook
    * entry is a tiny broadcast lookup table, the approximate score is
    * the sum of m table lookups, and only the top `rerankR` candidates
    * per query are re-scored against their true vectors. Work per
    * query: a codes-table scan + an R-row exact pass; the full float
    * corpus is touched only for the short list (semi-join). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, codebooks: DataFrame,
             d: Int, m: Int, k: Int, rerankR: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(d % m == 0, s"m=$m must divide d=$d")
    // corpus -> (vec_id, sub, code) in ONE pass: explode to subvectors,
    // broadcast-join ALL codebooks on sub, map-side max_by folds the
    // ×ksub expansion back before the exchange — the single corpus scan
    // that replaces m per-subspace scans
    val encoded = sliceSubs(corpus, "embedding", d, m)
      .join(broadcast(codebooks), "sub")
      .withColumn("csim", cosine(col("cv"), col("sv")))
      .groupBy(col("sub"), col("vec_id"))
      .agg(max_by(col("cid"), struct(col("csim"), negate(col("cid")))).as("cid"))
      .select(col("vec_id"), col("sub"), col("cid"))
    // per-query ADC lookup tables: |Q| x m x ksub partial dot products
    val tables = sliceSubs(
        queries.select(col("vec_id"), col("embedding")), "embedding", d, m)
      .withColumnRenamed("vec_id", "query_id")
      .join(codebooks, "sub")
      .select(col("query_id"), col("sub"), col("cid"),
        dot(col("sv"), col("cv")).as("pdot"))
    val wAdc = Window.partitionBy("query_id").orderBy(col("approx").desc, col("vec_id").asc)
    val shortList = encoded.join(broadcast(tables), Seq("sub", "cid"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("approx"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= rerankR)
      .select("query_id", "vec_id")
    // exact rerank over the short list only — quantized rank (simQ), so
    // the brute-force oracle's independently summed sims order the same
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val wRank = Window.partitionBy("query_id").orderBy(col("simq").desc, col("vec_id").asc)
    shortList
      .join(corpus, "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("simq", simQ(cosine(col("qv"), col("embedding"))))
      .filter(col("simq").isNotNull) // zero-norm: not a neighbor
      .withColumn("rank", row_number().over(wRank)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"))
  }

  /** Embedding-cosine near-duplicate pairs above a similarity threshold,
    * via the IVF buckets (pairs in the same bucket only — the scalable
    * near-dup shape; recall is bounded by bucketing like any LSH).
    * The threshold cut compares the [[simQ]]-quantized similarity to the
    * quantized threshold, matching the oracle twin's identical cut, so a
    * pair sitting 1 ulp from the threshold lands on the same side in
    * both engines (30 such pairs at sf10 before this). NaN sims
    * (zero-norm vectors) quantize to NULL and are dropped — previously
    * NaN compared greater than every number, so one zero-norm embedding
    * silently paired with its whole bucket at any threshold. */
  def cosineNearDupPairs(corpus: DataFrame, centroids: DataFrame,
                         threshold: Double,
                         kHint: Option[Long] = None): DataFrame = {
    val c = centroids.select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val assigned = assignToNearest(corpus, c, kHint)
    assigned.as("x").join(assigned.as("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id"))
      .withColumn("simq", simQ(cosine(col("x.embedding"), col("y.embedding"))))
      .filter(col("simq") >= simQ(threshold))
      .select(col("x.vec_id").as("ia"), col("y.vec_id").as("ib"))
  }

  /** Symmetric per-vector int8 scale: max|x| maps to ±127. Zero vectors
    * quantize to all-zero with scale 0 (guarded everywhere scale
    * divides). All arithmetic is double with an explicit
    * `floor(x + 0.5)` round so the DuckDB oracle twin is bit-identical
    * (both engines run the same IEEE ops in the same order). */
  def int8Scale(v: Column): Column =
    aggregate(v, lit(0.0d),
      (acc, x) => greatest(acc, abs(x.cast("double")))) / 127.0d

  /** Quantize a float vector to `array<tinyint>` under `scale` — 1 byte
    * per element in Tungsten rows and on the wire, a 4× cut of the
    * memory/shuffle/cache footprint that dominates ANN at 100 TB. */
  def int8Quantize(v: Column, scale: Column): Column =
    transform(v, x => when(scale === 0.0d, lit(0L))
      .otherwise(floor(x.cast("double") / scale + 0.5d))
      .cast("tinyint"))

  /** Int8-domain dot product: tinyint pairs multiply and accumulate in
    * long (max |q|·|q|·d = 127²·d, nowhere near overflow). The
    * codegen'd [[graft.functions.Int8VecDot]] — a tight 2-bytes-per-
    * element loop inside whole-stage codegen, vs an interpreted lambda
    * per element for the HOF form (Int8QuantSpec pins their
    * equality). */
  def int8Dot(a: Column, b: Column): Column =
    graft.functions.Int8VecDot.dot8(a, b)

  /** The HOF reference formulation of [[int8Dot]] — spec baseline. */
  def int8DotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("int") * y.cast("int")),
      lit(0L), (acc, p) => acc + p.cast("long"))

  /** Int8 ANN: candidates ranked by the quantized estimate, then an
    * exact float rerank of the top `rerank·k` — the standard
    * two-stage recall/cost trade. The candidate pass streams the
    * 4×-smaller quantized corpus; only candidates touch float vectors
    * again. Candidate selection is the bounded-heap
    * [[graft.functions.TopKRows]] (O(n log k) with map-side partials,
    * no per-query sort). Output: (query_id, rank, neighbor_id). */
  def int8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
               rerank: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def quantized(df: DataFrame, prefix: String) = {
      val s = int8Scale(col("embedding"))
      df.select(col("vec_id").as(s"${prefix}_id"),
        col("embedding").as(s"${prefix}v"),
        s.as(s"${prefix}scale"),
        int8Quantize(col("embedding"), s).as(s"${prefix}q"),
        sqrt(dot(col("embedding"), col("embedding"))).as(s"${prefix}n"))
    }
    val q = quantized(queries, "query")
    val c = quantized(corpus, "c")
    val est = c.join(broadcast(q), col("c_id") =!= col("query_id"))
      .withColumn("est_sim",
        guardedSim(col("cscale") * col("queryscale") *
          int8Dot(col("cq"), col("queryq")), col("cn") * col("queryn")))
    val cand = est
      .filter(!isnan(col("est_sim"))) // zero-norm: never a candidate
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKRows.topKRows(
        struct(col("est_sim").as("priority"),
          col("c_id").cast("string").as("tiebreak"),
          col("c_id").as("c_id")), rerank * k).as("_top"))
      .select(col("query_id"), explode(col("_top.c_id")).as("c_id"))
    val exact = cand
      .join(broadcast(q.select(col("query_id"), col("queryv"), col("queryn"))),
        Seq("query_id"))
      .join(corpus.select(col("vec_id").as("c_id"), col("embedding").as("cv"),
        sqrt(dot(col("embedding"), col("embedding"))).as("cn")), Seq("c_id"))
      .withColumn("simq",
        simQ(guardedSim(dot(col("queryv"), col("cv")), col("queryn") * col("cn"))))
      .filter(col("simq").isNotNull)
    val w = Window.partitionBy("query_id").orderBy(col("simq").desc, col("c_id").asc)
    exact.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("c_id").as("neighbor_id"))
  }
}
