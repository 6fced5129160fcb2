package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Candidate-volume diagnostic for the prefix-filtered Jaccard join:
  * counts — WITHOUT materializing the verify join — how many candidate
  * pairs the prefix self-join generates at a given scale, and how many
  * of them are CROSS-COPY pairs under ScaleUp's key-shift layout
  * (copy index = doc % mult). Motivation: the sf10 probe's uncapped
  * q21 run exhausted local shuffle disk twice (65 GB on string
  * shingles, then again after the xxhash64 cut), and the question
  * "is that the engine or the workload?" needs numbers, not vibes.
  * The expected answer, confirmed by this tool's output in SCALING.md:
  * word-permutation preserves a small set of permutation-invariant
  * shingles per source doc (short docs, repeated phrases), so every
  * source doc's ~mult copies share them pairwise — candidates grow
  * ~quadratically in mult while TRUE >=t pairs grow linearly. That is
  * the canonical regime where exact all-pairs similarity is
  * super-linear by nature and the capped (q39) / LSH (q22) variants
  * are the scale path.
  *
  * The count streams through one aggregate: prefix postings are
  * shuffled once (small), the pair join feeds count() directly — no
  * distinct, no verify arrays, no pair materialization on disk.
  *
  * A 4th arg switches to the CAPPED (q39, df <= maxDf) pipeline and
  * adds a full stage decomposition — per-stage wall time and volume
  * for shingle+cap, byDoc aggregation, candidate join, and verify —
  * the round-17 attribution of q39's super-LSH decade trend: under a
  * fixed df cap on a salted (disjoint-vocab) fixture every copy is
  * statistically identical, so candidate/pair VOLUMES must grow
  * exactly linearly and any super-linear wall-time term is engine
  * machinery (shuffle sort/spill), not workload.
  *
  * Usage: sbt "runMain graft.tools.JaccardStats [sfDir] [threshold] [mult] [maxDf]"
  *        (defaults: /tmp/graft_sf10  0.8  100  0 = uncapped)
  */
object JaccardStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf10")
    val threshold = args.drop(1).headOption.map(_.toDouble).getOrElse(0.8)
    val mult = args.drop(2).headOption.map(_.toInt).getOrElse(100)
    val maxDf = args.drop(3).headOption.map(_.toInt).getOrElse(0)
    val spark = graft.Sessions.graft().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = graft.sources.Tables.documents(spark, sfDir)
    if (maxDf > 0) { cappedDecomposition(spark, docs, sfDir, threshold, maxDf); return }
    // The stages ARE the production pipeline's (Dedup.prefixStages is
    // shared with the q21/q39 pair search), so these counts describe
    // the join q21 actually runs, not a re-implementation of it.
    // prefixStages expects hashed postings since round 17 (the hash
    // moved above the df-cap) — hash here exactly as production does.
    val st = Dedup.prefixStages(
      Dedup.shingles(docs, "doc_id", "text")
        .select(col("doc"), xxhash64(col("sh")).as("sh")), threshold)
    val nDocs = docs.count()
    val nPostings = st.postings.count()
    val nPrefix = st.prefixPostings.count()
    // raw candidate matches (pre-distinct): the volume the candidate
    // join actually pushes into its shuffle; split by copy locality
    val raw = st.rawCandidates
      .select((pmod(col("ia"), lit(mult)) === pmod(col("ib"), lit(mult)))
        .as("same_copy"))
      .groupBy("same_copy").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val sameCopy = raw.getOrElse(true, 0L)
    val crossCopy = raw.getOrElse(false, 0L)
    println(
      s"""{"sf_dir":"$sfDir","threshold":$threshold,"mult":$mult,
         |"docs":$nDocs,"postings":$nPostings,"prefix_postings":$nPrefix,
         |"raw_candidates_same_copy":$sameCopy,
         |"raw_candidates_cross_copy":$crossCopy}"""
        .stripMargin.replace("\n", ""))
    spark.stop()
  }

  /** Stage decomposition of the CAPPED (q39) pipeline: each stage is
    * persisted and forced in turn so its wall time and output volume
    * are ITS OWN, not its lineage's. The verify tail mirrors
    * Dedup.jaccardPairsFromShingles' verify join term for term (array
    * join + intersect + threshold) over the SAME persisted inputs the
    * production plan derives, so the timing decomposes the production
    * workload, not a lookalike. */
  private def cappedDecomposition(spark: SparkSession,
      docs: org.apache.spark.sql.DataFrame, sfDir: String, threshold: Double,
      maxDf: Int): Unit = {
    import org.apache.spark.storage.StorageLevel
    def secs[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, math.round((System.nanoTime() - t0) / 1e7) / 100.0)
    }
    val nDocs = docs.count()
    // stage 1: shingle + HASH + df count + cap — production order since
    // round 17 (the hash moved above the cap after THIS decomposition
    // measured the string-keyed cap at 97% of the pipeline)
    val s0 = Dedup.shingles(docs, "doc_id", "text")
      .select(col("doc"), xxhash64(col("sh")).as("sh"))
    val hot = s0.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("sh")
    val capped = s0.join(hot, Seq("sh"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (nCapped, tCap) = secs(capped.count())
    // stage 2: the rarest-first per-doc array aggregation
    val st = Dedup.prefixStages(capped, threshold)
    val byDoc = st.byDoc.persist(StorageLevel.MEMORY_AND_DISK)
    val (nByDoc, tByDoc) = secs(byDoc.count())
    // stage 3: prefix slice + candidate self-join
    val prefix = byDoc.select(col("doc"), col("ns"),
      explode(expr(s"slice(shs, 1, ns - CAST(ceil($threshold * ns - 1e-9)" +
        " AS INT) + 1)")).as("sh"))
    val raw = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc") < col("b.doc") &&
          col("b.ns") >= lit(threshold) * col("a.ns") - lit(1e-9) &&
          col("a.ns") >= lit(threshold) * col("b.ns") - lit(1e-9))
      .select(col("a.doc").as("ia"), col("b.doc").as("ib"))
    val cand = raw.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val (nCand, tCand) = secs(cand.count())
    // the verify join's wire volume: both docs' full hashed-shingle
    // arrays per candidate pair, 8 bytes per shingle
    val arrays = byDoc.select(col("doc"), col("shs"), col("ns"))
    val verifyBytes = cand
      .join(arrays.select(col("doc").as("ia"), col("ns").as("na")), "ia")
      .join(arrays.select(col("doc").as("ib"), col("ns").as("nb")), "ib")
      .agg(sum((col("na") + col("nb")) * 8L)).collect()(0).getLong(0)
    // stage 4: the exact verify itself (array intersect + threshold),
    // mirroring jaccardPairsFromShingles' tail over the same inputs
    val (nPairs, tVerify) = secs {
      cand
        .join(arrays.select(col("doc").as("ia"), col("shs").as("sa")), "ia")
        .join(arrays.select(col("doc").as("ib"), col("shs").as("sb")), "ib")
        .withColumn("c", size(array_intersect(col("sa"), col("sb"))).cast("long"))
        .withColumn("jaccard", col("c").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("c")))
        .filter(col("jaccard") >= threshold)
        .count()
    }
    println(
      s"""{"sf_dir":"$sfDir",
         |"mode":"capped_decomposition","threshold":$threshold,"max_df":$maxDf,
         |"docs":$nDocs,"capped_postings":$nCapped,"docs_with_shingles":$nByDoc,
         |"distinct_candidates":$nCand,"true_pairs":$nPairs,
         |"verify_bytes":$verifyBytes,
         |"t_cap_sec":$tCap,"t_bydoc_sec":$tByDoc,"t_cand_sec":$tCand,
         |"t_verify_sec":$tVerify}"""
        .stripMargin.replace("\n", ""))
    capped.unpersist(); byDoc.unpersist(); cand.unpersist()
    ()
  }
}
