package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.queries.PipelineQueries

/** q125's scale claim is build-once/query-many: the stored IVF index's
  * query path must (a) reproduce the freshly-trained q75 run exactly
  * and (b) scan only the probed buckets — the bucket store is
  * partitioned by cid, so the probe join must drive partition pruning
  * of the candidate scan (the q89 DPP machinery applied to ANN).
  */
class IvfIndexSpec extends SparkSpec {

  test("persisted-index query path equals the freshly-trained run") {
    val got = PipelineQueries.q125IvfPersisted(spark, sf())
      .collect().map(_.toSeq).toSeq
    val want = PipelineQueries.q75IvfTrained(spark, sf())
      .collect().map(_.toSeq).toSeq
    assert(got == want && got.nonEmpty,
      "store round-trip must not perturb the ANN results")
  }

  test("bucket scan is pruned to probed cids") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfspec").toString
    val emb = spark.read.parquet(PipelineQueries.ClusteredEmbFixture)
    val trained = Similarity.trainCentroids(emb, k = 8, iters = 1)
    trained.write.mode("overwrite").parquet(s"$dir/centroids")
    Similarity.ivfAssign(emb, trained)
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/buckets")
    // ONE query vector probing 2 of 8 buckets: the candidate scan must
    // not read the other six partitions
    val queries = emb.filter(col("vec_id") === 0)
    val frame = Similarity.ivfTopKAssigned(
      spark.read.parquet(s"$dir/buckets"), queries,
      spark.read.parquet(s"$dir/centroids"), k = 5, nprobe = 2)
    val planStr = frame.queryExecution.executedPlan.toString
    val pruned = planStr.contains("dynamicpruningexpression") &&
      """dynamicpruningexpression\([^)]*cid""".r.findFirstIn(planStr).isDefined
    assert(pruned, s"no dynamic partition pruning over cid in plan:\n$planStr")
    // and the pruned scan still answers correctly
    assert(frame.count() == 5)
  }

  test("bulk assignment (large k) equals the aggregation path") {
    // above the bulk threshold the assignment runs as a partition-local
    // loop over broadcast centroids instead of a crossJoin aggregation
    // (the n x k row materialization is the index-build bottleneck at
    // scale — see Similarity.assignToNearest). Same argmax, same
    // lowest-cid tiebreak, same dot-product arithmetic: the two paths
    // must agree on every vector's bucket.
    val emb = spark.read.parquet(PipelineQueries.ClusteredEmbFixture)
    val cents = emb.orderBy("vec_id").limit(100) // k=100 > threshold 64
    val got = Similarity.ivfAssign(emb, cents)
      .select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference: the small-k aggregation formulation, written inline
    val expected = emb.crossJoin(broadcast(
        cents.select(col("vec_id").as("cid"), col("embedding").as("cv"))))
      .withColumn("csim", Similarity.cosine(col("cv"), col("embedding")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("csim"), negate(col("cid")))).as("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(got.size == emb.count())
  }

  test("bulk path matches aggregation on exact ties and NaN (zero-norm) scores") {
    // the clustered fixture never produces an exact similarity tie or a
    // zero-norm vector, so the parity test above can't exercise the
    // tiebreak and NaN-ordering claims in assignToNearestBulk's
    // comments — this frame forces both:
    //  - centroids cid=0 and cid=1 share ONE vector, so any corpus
    //    vector similar to it scores an exact tie → lowest cid (0) wins
    //  - corpus vec_id=99 is the zero vector: cosine is NaN against
    //    every centroid, and both paths order NaN above every number
    //    with the same lowest-cid tiebreak → cid 0 again, never a
    //    sentinel no centroid owns
    import spark.implicits._
    val dup = Array.fill(4)(1.0f)
    // 66 centroids (> BulkAssignThreshold 64) so ivfAssign takes the
    // bulk partition-local path; the inline crossJoin aggregation below
    // is the small-k reference formulation
    val cents = ((0L to 1L).map(i => (i, dup)) ++
      (2L to 65L).map(i => (i, Array(i.toFloat, 1f, -i.toFloat, 2f))))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (98L, dup),                       // exact tie between cid 0 and 1
      (99L, Array.fill(4)(0.0f)),       // zero norm: NaN vs everything
      (100L, Array(5f, 1f, -5f, 2f)),   // exact match of cid 5
      (101L, Array(0.1f, -2f, 3f, 0.5f))).toDF("vec_id", "embedding")
    val got = Similarity.ivfAssign(corpus, cents)
      .select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = corpus.crossJoin(broadcast(
        cents.select(col("vec_id").as("cid"), col("embedding").as("cv"))))
      .withColumn("csim", Similarity.cosine(col("cv"), col("embedding")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("csim"), negate(col("cid")))).as("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected, s"bulk $got != aggregation $expected")
    assert(got(98L) == 0L, "exact tie must resolve to the lowest cid")
    assert(got(99L) == 0L,
      "all-NaN scores must pick the lowest cid, not a sentinel")
    assert(got(100L) == 5L)
  }

  test("calibrateNprobe picks a small nprobe on the clustered corpus") {
    // the executable form of the round-16 deployment rule: on a corpus
    // whose embedding space HAS cluster structure, a trained IVF index
    // recovers the true neighbors from very few probed buckets, and
    // calibration must find that operating point instead of making the
    // user guess
    val emb = spark.read.parquet(PipelineQueries.ClusteredEmbFixture)
    val trained = Similarity.trainCentroids(emb, k = 8, iters = 2)
    val assigned = Similarity.ivfAssign(emb, trained, kHint = Some(8L))
    val sample = emb.filter(col("vec_id") % 31 === 0)
    val cal = Similarity.calibrateNprobe(assigned, trained, sample,
      k = 5, targetRecall = 0.95, maxNprobe = 8)
    assert(cal.achievable, s"clustered corpus must calibrate: $cal")
    assert(cal.nprobe <= 2,
      s"q75 measures recall 1.0 at nprobe=2 on this fixture; calibration " +
        s"found ${cal.nprobe}")
    assert(cal.estRecall >= 0.95)
    // the curve is monotone (deeper probing can only add candidates)
    assert(cal.curve.map(_._2).sliding(2).forall(w => w.head <= w.last))
  }

  test("calibrateNprobe refuses loudly on the structure-free corpus") {
    // the testdata embeddings are stride-permuted near-uniform vectors:
    // the round-16 decade probe measured IVF recall 0.36-0.57 there at
    // constant nprobe — no index can beat entropy. Calibration must
    // NAME the achievable estimate instead of silently serving low
    // recall.
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val k = 16 // sqrt-ish index over the sf0.001 corpus
    val trained = Similarity.trainCentroids(emb, k, iters = 1)
    val assigned = Similarity.ivfAssign(emb, trained, kHint = Some(k.toLong))
    val sample = emb.filter(col("vec_id") % 97 === 0).limit(50)
    val cal = Similarity.calibrateNprobe(assigned, trained, sample,
      k = 5, targetRecall = 0.95, maxNprobe = k / 2)
    assert(!cal.achievable,
      s"structure-free vectors must not calibrate to 0.95 within k/2 probes: $cal")
    assert(cal.estRecall < 0.95 && cal.estRecall > 0.0)
    assert(cal.nprobe == k / 2, "the refusal names the deepest swept point")
    assert(cal.describe(0.95).contains("unclusterable"))
  }

  test("calibration curve equals direct per-nprobe measurement") {
    // the one-pass curve construction rests on a claim (a true neighbor
    // is recovered at depth p iff its bucket ranks <= p) — pin it
    // against the thing it predicts: actually running ivfTopKAssigned
    // at each depth and measuring recall on the same sample
    val emb = spark.read.parquet(PipelineQueries.ClusteredEmbFixture)
    val trained = Similarity.trainCentroids(emb, k = 8, iters = 1)
    val assigned = Similarity.ivfAssign(emb, trained, kHint = Some(8L))
      .persist()
    val sample = emb.filter(col("vec_id") % 31 === 0)
    val cal = Similarity.calibrateNprobe(assigned, trained, sample,
      k = 5, targetRecall = 2.0, maxNprobe = 4) // unreachable target: full sweep
    def topPairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = topPairs(Similarity.bruteForceTopK(
      assigned.select("vec_id", "embedding"), sample, 5))
    val measured = (1 to 4).map { p =>
      val got = topPairs(Similarity.ivfTopKAssigned(assigned, sample, trained,
        k = 5, nprobe = p))
      p -> got.intersect(truth).size.toDouble / truth.size
    }
    assert(cal.curve == measured,
      s"predicted curve ${cal.curve} != measured $measured")
    assigned.unpersist()
  }

  test("index store roundtrip: calibrated nprobe persisted, defaulted, overridable") {
    // build-once/query-many including the recall knob: the manifest
    // stores the operating point calibrateNprobe measured at build
    // time, a fresh session's default query uses it, and an explicit
    // nprobe still overrides it.
    import graft.sources.IvfIndexStore
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfstore").toString
    val emb = spark.read.parquet(PipelineQueries.ClusteredEmbFixture)
    val queries = emb.filter(col("vec_id") % 31 === 0)
    val m = IvfIndexStore.build(spark, emb, dir, k = 8, iters = 2,
      calQueries = queries, calK = 5, targetRecall = 1.0)
    assert(m.calAchievable, s"clustered fixture must calibrate: $m")
    assert(m.calNprobe == 2 && m.calRecall == 1.0,
      s"q75 measures recall 1.0 exactly at nprobe=2 on this fixture: $m")
    // a fresh reader sees the same manifest the build returned
    assert(IvfIndexStore.manifest(dir) == m)
    // the DEFAULT query path uses the stored point: equal to the
    // explicit nprobe=2 run on the same store
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val byDefault = rows(IvfIndexStore.topK(spark, dir, queries, k = 5))
    val explicit2 = rows(IvfIndexStore.topK(spark, dir, queries, k = 5,
      nprobe = Some(2)))
    assert(byDefault == explicit2 && byDefault.nonEmpty,
      "defaulted query must run at the calibrated nprobe")
    // an explicit override is honored (nprobe=1: recall 0.98 on this
    // fixture — the result set must actually differ)
    val explicit1 = rows(IvfIndexStore.topK(spark, dir, queries, k = 5,
      nprobe = Some(1)))
    assert(explicit1 != byDefault,
      "explicit nprobe must override the calibrated default")
    // a store without a manifest (incomplete build) refuses loudly
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "manifest.json"))
    val e = intercept[IllegalArgumentException] {
      IvfIndexStore.topK(spark, dir, queries, k = 5)
    }
    assert(e.getMessage.contains("manifest"))
  }

  test("buildOnce amortizes per corpus version and self-validates on a missing manifest") {
    import graft.sources.IvfIndexStore
    IvfIndexStore.built.clear()
    val emb = spark.read.parquet(PipelineQueries.ClusteredEmbFixture)
    val queries = emb.filter(col("vec_id") % 31 === 0)
    val d1 = IvfIndexStore.buildOnce(spark, emb, k = 8, iters = 2,
      calQueries = queries, calK = 5, targetRecall = 1.0)
    // same corpus + params: the SAME completed dir, no rebuild
    val d2 = IvfIndexStore.buildOnce(spark, emb, k = 8, iters = 2,
      calQueries = queries, calK = 5, targetRecall = 1.0)
    assert(d1 == d2, "identical corpus+params must reuse the built index")
    // different params: a different index (never a stale-shape reuse)
    val d3 = IvfIndexStore.buildOnce(spark, emb, k = 4, iters = 2,
      calQueries = queries, calK = 5, targetRecall = 1.0)
    assert(d3 != d1, "a different index shape must not reuse the k=8 store")
    // a memoized dir whose manifest vanished (half-built / cleaned) is
    // not trusted: buildOnce rebuilds into a fresh completed dir
    java.nio.file.Files.delete(java.nio.file.Paths.get(d1, "manifest.json"))
    val d4 = IvfIndexStore.buildOnce(spark, emb, k = 8, iters = 2,
      calQueries = queries, calK = 5, targetRecall = 1.0)
    assert(d4 != d1 && java.nio.file.Files.exists(
      java.nio.file.Paths.get(d4, "manifest.json")),
      "a manifest-less memo entry must be rebuilt, not served")
    // ADVICE r18: a DIFFERENT calibration sample over the same corpus
    // and params must not share the index dir — the manifest's
    // operating point was calibrated against d4's queries, not these
    val d5 = IvfIndexStore.buildOnce(spark, emb, k = 8, iters = 2,
      calQueries = emb.filter(col("vec_id") % 17 === 0), calK = 5,
      targetRecall = 1.0)
    assert(d5 != d4,
      "a different calibration sample must build (and calibrate) its own store")
    // ADVICE r18: a memoized dir whose DATA was reaped (manifest
    // survives) must rebuild, not serve a store whose topK read fails
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rmTree)
      f.delete(): Unit
    }
    rmTree(new java.io.File(d4, "buckets"))
    val d6 = IvfIndexStore.buildOnce(spark, emb, k = 8, iters = 2,
      calQueries = queries, calK = 5, targetRecall = 1.0)
    assert(d6 != d4 && java.nio.file.Files.exists(
      java.nio.file.Paths.get(d6, "buckets")),
      "a bucket-less memo entry must be rebuilt, not served")
    IvfIndexStore.built.clear()
  }

  test("quantized rank resolves a crafted 1-ulp similarity boundary by id") {
    // the r17 sf10 sweep's q24/q25/q46 exceptions were accumulation-order
    // ulps deciding a rank or threshold cut differently in the two
    // engines. Craft that exact regime: vectors a and b hold the same
    // component multiset in different positions, so their dots against
    // an all-ones query sum the same terms in different order — the
    // (a+b)+c != (c+b)+a double divergence — which needs a wide
    // exponent spread: float32 components within ~2^29 of each other
    // sum EXACTLY in a 53-bit double, so same-magnitude triples
    // commute. First prove the crafted pair IS a live boundary (raw
    // doubles differ), then assert the engine ranks them by the vec_id
    // tiebreak — the simQ quantization collapsed the ulp, so rank no
    // longer depends on which engine's accumulation order won.
    // (This fixture's raw sims: 0.5000061439565128 vs ...127 — 1 ulp.)
    val vals = Array(8570.647f, 6.97481700e8f, 7.223105e-06f, 9.3943333e-07f)
    def seqsum(xs: Seq[Float]): Double = xs.foldLeft(0.0d)(_ + _.toDouble)
    assert(seqsum(vals.toSeq) != seqsum(vals.reverse.toSeq),
      "fixture must exercise a real accumulation-order divergence")
    import spark.implicits._
    val corpus = Seq(
      (10L, vals),
      (5L, vals.reverse),
      (0L, Array(1.0f, 1.0f, 1.0f, 1.0f))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 0L)
    val got = Similarity.bruteForceTopK(corpus, queries, k = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    // identical quantized sims (same norm multiset, same dot multiset):
    // lowest vec_id first, deterministically on every engine
    assert(got == Seq(5L, 10L),
      s"1-ulp boundary must resolve by vec_id tiebreak, got $got")
  }

  test("zero-norm vectors are never neighbors and never near-dup pairs") {
    // one bad (all-zero) embedding in a 100 TB corpus: cosine is
    // undefined (NaN). Before the guards it either killed the job
    // (ANSI DIVIDE_BY_ZERO in bruteForceTopK's hoisted-norm division)
    // or — because Spark orders NaN above every number — silently
    // became a 'near-dup' of every co-bucketed vector in
    // cosineNearDupPairs. Both paths must now EXCLUDE it.
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (7L, Array(0.0f, 0.0f, 0.0f, 0.0f)) // the bad embedding
    ).toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val neighbors = Similarity.bruteForceTopK(corpus, queries, k = 3)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!neighbors.contains(7L),
      s"zero-norm vector ranked as a neighbor: $neighbors")
    // single centroid = everything shares one bucket: the zero vector
    // is co-bucketed with all, and must still pair with none
    val centroids = Seq((0L, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(corpus, centroids, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)),
      s"zero-norm vector must pair with nothing, got $pairs")
    // and the int8 two-stage path survives + excludes it too
    val i8 = Similarity.int8TopK(corpus, queries, k = 3, rerank = 2)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!i8.contains(7L), s"int8 path ranked the zero vector: $i8")
  }
}
