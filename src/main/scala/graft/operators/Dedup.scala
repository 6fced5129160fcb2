package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators for training-data pipelines:
  * exact (hash groupBy), n-gram Jaccard (shingle self-join), and
  * MinHash+LSH (shingle -> k minhashes -> banded buckets -> candidate
  * join -> exact verify).
  *
  * Scale shape: everything is shuffle-on-key; no driver-side state, no
  * pairwise O(n^2) work outside LSH buckets. Oracle-visible hashes
  * (minhash signatures, simhash bits) are md5-derived integers with
  * pure-arithmetic mixing so the DuckDB oracle replicates them
  * bit-for-bit; oracle-invisible internals (shingle identity inside
  * the verify joins) use xxhash64 — cheaper, and equality-only.
  */
object Dedup {

  /** Distinct word 3-gram shingles per document; docs with fewer than 3
    * tokens have no shingles and drop out. Input cols: (id, text). */
  def shingles(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("tok", split(col(textCol), " "))
      .filter(size(col("tok")) >= 3)
      .select(col(idCol).as("doc"), explode(array_distinct(
        expr("transform(sequence(0, size(tok)-3), i -> concat_ws(' ', tok[i], tok[i+1], tok[i+2]))")))
        .as("sh"))

  /** Exact dedup: one row per distinct text with the surviving (minimum)
    * id and the number of copies collapsed. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** n-gram Jaccard via shingle self-join, with an OPTIONAL shingle
    * document-frequency cutoff — ONE implementation, the cutoff a
    * parameter (`None` = exact all-pairs semantics). When bounded,
    * shingles appearing in more than `maxDocFreq` docs are dropped from
    * every document's shingle set BEFORE the self-join (both
    * intersection and set sizes use the filtered sets — standard
    * "stop-shingle" semantics), capping the self-join fan-out per
    * shingle at maxDocFreq.
    *
    * The pair search itself is EXACT prefix-filtered AllPairs (see
    * [[jaccardPairsFromShingles]]): hot shingles no longer drive a
    * quadratic candidate join even uncapped, so the cap is a SEMANTIC
    * choice (ignore boilerplate shingles when judging similarity), not
    * a survival requirement. The sf1 scale probe that motivated the
    * rewrite is documented in SCALING.md; [[minhashLshPairs]] remains
    * the sub-linear-candidate path when approximate recall is
    * acceptable. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double,
                        maxDocFreq: Option[Int] = None): DataFrame = {
    // Hash shingles to XXHASH64 longs BEFORE the df count and cap, not
    // after (round 17): the cap stage shuffles the FULL posting list
    // twice (df groupBy + anti-join), and the round-17 sf10
    // decomposition measured it at 97% of the whole capped pipeline
    // (222.8 s of a 229 s run — byDoc 3.1, candidates 2.0, verify 1.4;
    // bench/probe_r17_q39_decompose_*.json) while every later stage
    // already travelled as 8-byte hashes. Moving the hash above the cap
    // puts the two dominant shuffles on longs instead of ~25-byte
    // 3-gram strings — the same ~3x wire cut the verify join got in
    // round 12. Exactness: a df now merges across a 64-bit collision of
    // two DISTINCT shingles, which could flip a df across the cap
    // boundary — probability bounded by (#distinct shingles)²/2^64
    // (~1e-6 at sf10) — the same accepted-and-oracle-cross-checked
    // class as the verify intersect's existing hash identity; swap the
    // hash for the string to restore bit-exactness at ~3x the cap cost.
    val s0 = shingles(docs, idCol, textCol)
      .select(col("doc"), xxhash64(col("sh")).as("sh"))
    val s = maxDocFreq.fold(s0) { cap =>
      val hot = s0.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") > cap)
        .select("sh")
      s0.join(hot, Seq("sh"), "left_anti")
    }
    // the UNCAPPED path is the one with no structural bound on the
    // verify join — guard it before committing 100s of GB to shuffle
    // disk (the capped variant bounds per-shingle fan-out by
    // construction; its callers chose the bound deliberately)
    if (maxDocFreq.isEmpty) verifyJoinGuard(docs.sparkSession, s, threshold)
    jaccardPairsFromShingles(s, threshold)
  }

  /** Spark-conf key for [[verifyJoinGuard]]'s budget, in bytes of
    * PROJECTED pre-compression verify-join volume. `0` disables the
    * guard (the JaccardStats diagnostic and the brute-force specs need
    * the uncapped join on inputs they control). */
  val VerifyBytesBudgetKey = "graft.jaccard.maxVerifyBytes"
  private val DefaultVerifyBytesBudget: Long = 64L << 30 // 64 GiB

  /** Pre-flight disk-wall guard for the exact all-pairs verify join.
    *
    * The sf10 probe established where exact all-pairs genuinely ends:
    * the verify join ships BOTH docs' full shingle arrays per candidate
    * pair, and at ~754M candidates × ~0.9 KB that is ~650 GB of
    * pre-compression shuffle — it exhausted the box's free disk 65 GB
    * in, TWICE (SCALING.md round-12). This guard runs the
    * `tools.JaccardStats` estimate as a metadata-scale pre-flight
    * (aggregates over the prefix postings — linear, no pair
    * materialization) and fails FAST with the projected numbers and
    * the in-library alternatives instead of dying mid-shuffle:
    *
    *  - candidate estimate: Σ over prefix shingles of C(pdf, 2), where
    *    pdf = the shingle's prefix-posting count — computed on a
    *    DETERMINISTIC 10% doc sample (xxhash64(doc) mod 10 = 0) and
    *    scaled ×100: a candidate pair survives doc sampling with
    *    probability p², so the rescaled sum is an unbiased estimator
    *    of the full-corpus candidate count, at ~10% of one prefix
    *    pass (a first, unsampled cut cost +60% of q21's whole bench
    *    time; this one costs ~5%). The size filter and the post-join
    *    `distinct()` only shrink the real volume below the estimate.
    *  - bytes per pair: both docs' shingle arrays ≈ 2 · avg(ns) · 8 B
    *    plus ~32 B row overhead, avg(ns) from the same sample.
    *
    * This is an order-of-magnitude pre-flight, not an exact audit —
    * the regimes it exists for (sf10's 754M-pair, ~650 GB projection
    * vs a 64 GiB budget) are decided by factors of 10, far beyond the
    * sample noise and the estimate's small biases (sample-local df
    * ranking; pair survival variance at tiny pdf).
    *
    * Contract note: the guard makes the uncapped path EAGER — building
    * the frame runs the two sampled estimate jobs and can throw. That
    * is the point (fail at build time, not 65 GB into the shuffle),
    * but explain-only tooling that constructs the plan for an
    * over-budget corpus without intending to run it should set the
    * budget conf to 0 first.
    *
    * The pre-flight is MEMOIZED per (canonicalized input plan,
    * physical input files, threshold, budget): a pipeline that calls
    * `ngramJaccardPairs` in a loop — or a bench trial matrix that
    * builds the same query three times — pays the two sampled estimate
    * jobs once. The key uses the CANONICALIZED analyzed plan's string
    * form — not its 32-bit semanticHash, whose Int collisions would
    * let one corpus's verdict stand in for another's (a memoized pass
    * waving an over-budget corpus into the very shuffle the guard
    * prevents). The canonicalized STRING alone is not enough either:
    * LogicalRelation's string form elides the data location, so two
    * parquet reads of the same schema from DIFFERENT paths print
    * identically ('Relation [none#0L,none#1] parquet') and would share
    * one verdict — a session touching sf1 then sf10 would wave the
    * over-budget corpus through on the small one's memoized pass (and
    * falsely trip on the safe one). The key therefore ALSO carries the
    * resolved input file list, which separates different paths AND
    * same-path corpora that gained files since the last estimate. A
    * different corpus, appended data, or a changed budget re-estimates.
    * A tripped guard is memoized too — repeat construction re-throws
    * the recorded verdict without re-running the jobs. The estimate
    * runs OUTSIDE the map's bin lock (get / compute / putIfAbsent), so
    * concurrent guard checks on different inputs never serialize on a
    * minutes-long sampled estimate; two threads racing the same key at
    * worst both compute the same verdict. The memo is capacity-bounded
    * by EVICTING one arbitrary entry past 256 — not by clearing the
    * whole map, which would forget all 256 verdicts (and re-run every
    * pre-flight) the moment a long session touched its 257th corpus. */
  private[graft] val guardMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Double, Long), Option[String]]()

  /** The memo key's input identity: canonicalized logical form PLUS the
    * physical files behind every scan. Exposed for the spec that pins
    * the same-schema-different-path non-collision. */
  private[graft] def guardMemoInputKey(s0: DataFrame): String =
    s0.queryExecution.analyzed.canonicalized.toString +
      s0.inputFiles.sorted.mkString("\u0000", "\u0000", "")

  private[graft] def verifyJoinGuard(spark: SparkSession, s0: DataFrame,
                                     threshold: Double): Unit = {
    val budget = spark.conf.getOption(VerifyBytesBudgetKey)
      .map(_.toLong).getOrElse(DefaultVerifyBytesBudget)
    if (budget <= 0) return
    val key = (guardMemoInputKey(s0), threshold, budget)
    val verdict = Option(guardMemo.get(key)).getOrElse {
      val v = estimateVerdict(s0, threshold, budget)
      if (guardMemo.size > 256) { // unbounded-session hygiene: evict ONE
        val it = guardMemo.keySet().iterator()
        if (it.hasNext) { it.next(); it.remove() }
      }
      guardMemo.putIfAbsent(key, v)
      v
    }
    verdict.foreach(msg => throw new IllegalStateException(msg))
  }

  /** One sampled estimate pass at doc-sampling rate 1/mod; returns
    * (projected bytes, estimated pairs, bytes/pair). */
  private def estimateAt(s0: DataFrame, threshold: Double,
                         mod: Int): (Long, Long, Double) = {
    val sampled = s0.filter(pmod(xxhash64(col("doc")), lit(mod)) === 0)
    val st = prefixStages(sampled, threshold)
    val row = st.prefixPostings.groupBy("sh").agg(count(lit(1)).as("pdf"))
      .agg(coalesce(sum(expr("pdf * (pdf - 1) div 2")), lit(0L)).as("pairs_est"))
      .collect()(0)
    val pairsEst = row.getLong(0) * mod.toLong * mod // rescale the p² pair survival
    // avg shingle count straight off the sampled postings — same number
    // as byDoc's avg(ns) but without re-running the ranked-array build
    val nsRow = sampled.groupBy("doc").agg(count(lit(1)).as("ns"))
      .agg(avg(col("ns"))).collect()(0)
    val avgNs = if (nsRow.isNullAt(0)) 0.0 else nsRow.getDouble(0)
    val bytesPerPair = 2.0 * avgNs * 8 + 32
    ((pairsEst * bytesPerPair).toLong, pairsEst, bytesPerPair)
  }

  /** Some(message) when the projection exceeds the budget, None when it
    * clears. The first estimate samples docs at p=1/10 (cheap, decides
    * the factor-of-10 regimes the guard exists for). When that estimate
    * lands WITHIN 10x of the budget either way — the regime where a
    * single unbiased draw's variance could flip the verdict, because a
    * corpus of many small duplicate groups gives most groups no
    * surviving sampled pair (survival p²=1%) — it re-estimates at
    * p=1/4 (survival 6.25%, ~6x more surviving pairs) and decides on
    * that. The refinement pass costs ~2.5x the first, paid only in the
    * ambiguous band. A coarse draw that surfaces ZERO surviving pairs
    * from a NONEMPTY doc sample is ambiguous too, not a decisive pass:
    * zero survival is exactly the many-small-groups variance regime
    * the refinement exists for (every group of ≤3 sampled docs most
    * likely contributes nothing at p²=1%), so a modestly over-budget
    * corpus could otherwise be waved through on a zero draw. An empty
    * SAMPLE (tiny corpus — no doc hashed into the 10% stratum) stays
    * decisive: the 25% redraw of a corpus that small is decided by the
    * same near-zero projection. */
  private def estimateVerdict(s0: DataFrame, threshold: Double,
                              budget: Long): Option[String] = {
    val coarse @ (p10, pairs10, bpp10) = estimateAt(s0, threshold, 10)
    // bytesPerPair > the 32 B row overhead ⇔ avg(ns) > 0 ⇔ the 10%
    // stratum actually contained documents
    val sampledDocs = bpp10 > 32.0
    val ambiguous = (p10 < budget * 10 && p10 > budget / 10) ||
      (pairs10 == 0L && sampledDocs)
    val (projected, pairsEst, bytesPerPair) =
      if (ambiguous) estimateAt(s0, threshold, 4) else coarse
    val sampleNote = if (ambiguous) "25%" else "10%"
    // human-readable bytes at any magnitude — integer-dividing by GiB
    // printed "~0 GiB exceeds the budget of 0 GiB" for sub-GiB values
    def human(b: Long): String =
      if (b >= (1L << 30)) f"${b / (1L << 30).toDouble}%.1f GiB"
      else if (b >= (1L << 20)) f"${b / (1L << 20).toDouble}%.1f MiB"
      else s"$b B"
    if (projected > budget) Some(
      f"ngramJaccardPairs pre-flight: projected verify-join volume " +
        f"~${human(projected)} (~$pairsEst%,d candidate pairs × " +
        f"~${bytesPerPair.toLong}%d B, estimated from a $sampleNote doc sample) " +
        f"exceeds the $VerifyBytesBudgetKey budget of " +
        f"${human(budget)}. Exact all-pairs is worst-case " +
        "quadratic in duplicate-group size by nature; use " +
        "ngramJaccardPairsCapped (df-capped, 4x/decade measured) or " +
        "minhashLshPairs (banded LSH, sub-linear candidates), or raise " +
        "the budget / set it to 0 to proceed anyway.")
    else None
  }

  /** The bounded form of [[ngramJaccardPairs]] with the cutoff
    * required, for call sites that must not compile without one. */
  def ngramJaccardPairsCapped(docs: DataFrame, idCol: String, textCol: String,
                              threshold: Double, maxDocFreq: Int): DataFrame =
    ngramJaccardPairs(docs, idCol, textCol, threshold, Some(maxDocFreq))

  /** EXACT all-pairs Jaccard via PREFIX FILTERING (Bayardo et al.,
    * "Scaling Up All Pairs Similarity Search", WWW'07; Xiao et al.,
    * PPJoin, WWW'08) — identical output to the naive co-shingle
    * self-join, at a fraction of its cost.
    *
    * Order every document's shingles RAREST-FIRST under one global
    * total order (df asc, shingle asc). If J(a,b) >= t, the pair's
    * required overlap forces a shared shingle inside BOTH docs' first
    * `ns - ceil(t*ns) + 1` shingles, so candidate generation joins only
    * on those prefixes. Hot boilerplate shingles have the HIGHEST df,
    * sort last, and never enter a prefix — the quadratic hot-shingle
    * blowup of the naive join (measured 68x at a 10x scale-up, see
    * SCALING.md) collapses to near-linear while the result stays
    * bit-identical (the sf1 probe and the DuckDB brute-force oracle
    * both confirm). A size filter (t*max <= min, necessary for J >= t)
    * prunes cross-length candidates before the verify. Candidates are
    * then exact-verified by shingle-set intersection, so prefix
    * filtering affects COST only, never the answer. The 1e-9 slack on
    * both bounds makes float wobble lengthen a prefix (safe: more
    * candidates) rather than shorten it (unsound: missed pairs).
    *
    * Shingles travel as XXHASH64 LONGS, not strings, from the df count
    * onward: every downstream stage — the df join, the per-doc arrays,
    * the prefix self-join, and above all the verify join that ships
    * BOTH docs' full shingle sets per candidate pair — moves 8 bytes
    * per shingle instead of a ~25-byte 3-gram, cutting the job's
    * shuffle volume ~3x (measured: the sf10 probe's uncapped run
    * exhausted 65 GB of local shuffle disk on strings). The ranking
    * order (df asc, hash asc) is still a single global total order, so
    * prefix soundness is untouched. Exactness caveat: a wrong answer
    * now requires two DISTINCT shingles of the same candidate pair to
    * collide in 64 bits — probability < 1e-5 at the sf10 probe scale
    * (~1e9 pairs x ~1e5 shingle-pairs each / 2^64) and the per-round
    * DuckDB brute-force oracle cross-checks the output empirically;
    * swap the hash for the string itself to restore bit-exactness at
    * ~3x the shuffle cost. */
  private def jaccardPairsFromShingles(s0: DataFrame, threshold: Double): DataFrame = {
    val st = prefixStages(s0, threshold)
    // Candidate pairs deliberately NOT persisted here (measured,
    // optimization r19): every duplicated subtree below this point —
    // the prefix self-join's two sides and the two verify-side arrays
    // joins — bottoms out in the SAME byDoc exchange, and runtime
    // exchange reuse already executes it once inside the single
    // triggered job. A persist of the pairs SPLITS that job (the cache
    // materializes first, then the verify joins re-derive byDoc in a
    // second job with nothing left to reuse against) and measured
    // SLOWER at both scales: q21 sf0.1 2.62→3.7 median, sf1
    // steady-trial 17→22 s. Contrast minhashLshPairs/jaccardVerify,
    // where the duplicated subtrees are NOT exchange-identical and the
    // same materialization wins — the deciding question is whether reuse
    // already covers the duplication, not how many scans the unexecuted
    // plan prints.
    val cand = st.rawCandidates.distinct()
    val arrays = st.byDoc.select(col("doc"), col("shs"))
    cand
      .join(arrays.select(col("doc").as("ia"), col("shs").as("sa")), "ia")
      .join(arrays.select(col("doc").as("ib"), col("shs").as("sb")), "ib")
      .withColumn("c", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard",
        col("c").cast("double") / (size(col("sa")) + size(col("sb")) - col("c")))
      .filter(col("jaccard") >= threshold)
      .select("ia", "ib", "jaccard")
  }

  /** The stages of the prefix-filtered pair search up to (and
    * including) the RAW candidate join, shared between
    * [[jaccardPairsFromShingles]] and the `tools.JaccardStats`
    * candidate-volume diagnostic — the prefix rule (ranking order,
    * slice length, size-filter predicates, 1e-9 slack) lives in
    * exactly one place, so the diagnostic always measures the
    * workload the production join actually runs. */
  private[graft] case class PrefixStages(
      postings: DataFrame,      // (doc, sh: long) — hashed shingle postings
      byDoc: DataFrame,         // (doc, shs: array<long> rarest-first, ns)
      prefixPostings: DataFrame, // (doc, ns, sh) — prefix slice, exploded
      rawCandidates: DataFrame) // (ia, ib) — pre-distinct candidate matches

  /** Input contract (round 17): `s0` is (doc, sh: LONG) — shingles
    * already hashed to xxhash64 longs by the CALLER. Hashing moved
    * above the df-cap in [[ngramJaccardPairs]] (the cap's two
    * full-posting shuffles were 97% of the capped pipeline on strings),
    * so this stage no longer re-hashes; the input being distinct per
    * (doc, shingle) still holds (a duplicate long per doc requires a
    * same-doc 64-bit collision, ~1e-9 across the sf10 corpus — not
    * worth a defensive re-distinct's extra full shuffle). */
  private[graft] def prefixStages(s0: DataFrame, threshold: Double): PrefixStages = {
    val s = s0
    // ONE doc-keyed aggregation builds each doc's rarest-first shingle
    // array; the prefix is a slice of it and the SAME array feeds the
    // exact verify, so no window sort, no verify-side semi-join +
    // re-collect — the shingle set crosses the wire once per doc
    val byDoc = s
      .join(s.groupBy("sh").agg(count(lit(1)).as("df")), "sh")
      .groupBy("doc")
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("ranked"))
      .select(col("doc"),
        expr("transform(ranked, x -> x.sh)").as("shs"),
        size(col("ranked")).as("ns"))
    val prefix = byDoc.select(col("doc"), col("ns"),
      explode(expr(
        s"slice(shs, 1, ns - CAST(ceil($threshold * ns - 1e-9) AS INT) + 1)"))
        .as("sh"))
    val raw = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc") < col("b.doc") &&
          col("b.ns") >= lit(threshold) * col("a.ns") - lit(1e-9) &&
          col("a.ns") >= lit(threshold) * col("b.ns") - lit(1e-9))
      .select(col("a.doc").as("ia"), col("b.doc").as("ib"))
    PrefixStages(s, byDoc, prefix, raw)
  }

  /** The Carter-Wegman modulus (the Mersenne prime 2^31 - 1) and the
    * fixed per-function mixing constants (a_i, b_i), a_i in [1, M).
    * Both the Spark plan and the DuckDB oracle SQL are generated from
    * THIS list (PipelineQueries interpolates it into the twin), so the
    * two engines compute identical signatures by construction. Bounds:
    * h < M and a < 2^32, so a*h + b < 2^63 — no overflow under ANSI. */
  val MinhashPrime = 2147483647L
  def minhashMixers(k: Int): IndexedSeq[(Long, Long)] =
    (0 until k).map { i =>
      val a = (2654435761L * (i + 1) + 1013904223L) % (MinhashPrime - 1) + 1
      val b = (1103515245L * (i + 1) + 12345L) % MinhashPrime
      (a, b)
    }

  /** MinHash signatures, wide form: one row per doc with columns
    * mh0..mh{k-1}, mh_i = min over shingles of (a_i*h + b_i) mod M
    * where h = the shingle's md5-derived 60-bit integer reduced mod M
    * (the q23 simhash idiom — replicable in DuckDB as
    * ('0x'||substr(md5(sh),1,15))::BIGINT). ONE md5 per shingle row
    * plus k integer multiply-mixes, instead of k md5-of-string
    * computations: the k-fold string hashing was 83% of q22's wall
    * time at sf10 (bench/probe_r12_q22_stages). Computed in a single
    * aggregation pass — no k-way row blowup, one shuffle on doc. */
  def minhashSignature(sh: DataFrame, k: Int): DataFrame = {
    val h = conv(substring(md5(col("sh")), 1, 15), 16, 10)
      .cast("long") % MinhashPrime
    val mins = minhashMixers(k).zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % MinhashPrime).as(s"mh$i") }
    // shingle count rides along in the same pass for callers that need
    // set sizes without a separate groupBy over the shingle set
    val aggs = mins :+ count(lit(1)).as("ns")
    sh.select(col("doc"), h.as("h")).groupBy(col("doc"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Banded minhash signature table — one row per (doc, band) with the
    * band's bucket hash. This is the PERSISTABLE dedup index: at 100 TB
    * a growing corpus stores this table once per batch (a few dozen
    * bytes per doc) and never recomputes signatures for text it has
    * already seen — see [[minhashLshIncrementalPairs]]. */
  def minhashBandTable(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val r = k / bands
    val sig = minhashSignature(shingles(docs, idCol, textCol), k)
    // one row per (doc, band): band bucket = polynomial combine of the
    // band's integer minhashes (each < M < 2^31, so the base-31 fold
    // stays < 2^47 — overflow-free, and identical in the oracle)
    val bandStructs = array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        (0 until r).map(j => col(s"mh${b * r + j}"))
          .reduce((acc, c) => acc * 31 + c).as("bh"))): _*)
    sig
      .select(col("doc"), explode(bandStructs).as("bs"))
      .select(col("doc"), col("bs.band").as("band"), col("bs.bh").as("bh"))
  }

  /** Exact-Jaccard verify restricted to candidate pairs: semi-join the
    * shingle set down to docs that appear in some candidate pair, gather
    * each doc's (distinct) shingles into one array, then join candidate
    * pairs to the two arrays and intersect. Verify work is proportional
    * to candidate pairs — NOT the all-pairs co-shingle join, which would
    * redo the brute-force path and negate LSH at scale. */
  private def jaccardVerify(cand0: DataFrame, s0: DataFrame,
                            threshold: Double): DataFrame = {
    // 64-bit shingle hashes through the verify join, as in the q21
    // prefix-filter path: intersection counts are identical modulo
    // xxhash64 collisions within one doc pair (~2^-64 per shingle
    // pair), and the gathered arrays shed ~3x their bytes
    val s = s0.select(col("doc"), xxhash64(col("sh")).as("sh"))
    // candidate pairs materialized once, as the band table is in
    // minhashLshPairs: (ia, ib) is the small frame, and it is referenced THREE times here (two sides
    // of candDocs + the verify spine) — each reference re-derived the
    // whole candidate-generation subtree (q22: the banded self-join
    // twice per reference, 24 documents scans in the r18 plan audit).
    // Bounded by the candidate count at any scale; never the
    // corpus-scale shingle arrays (r18's reverted 4x-at-sf1 mistake).
    val cand = cand0.localCheckpoint()
    val candDocs = cand.select(col("ia").as("doc"))
      .union(cand.select(col("ib").as("doc"))).distinct()
    val docShingles = s.join(candDocs, Seq("doc"), "left_semi")
      .groupBy("doc").agg(collect_list(col("sh")).as("shs"))
    cand
      .join(docShingles.select(col("doc").as("ia"), col("shs").as("sa")), "ia")
      .join(docShingles.select(col("doc").as("ib"), col("shs").as("sb")), "ib")
      .withColumn("c", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard",
        col("c").cast("double") / (size(col("sa")) + size(col("sb")) - col("c")))
      .filter(col("jaccard") >= threshold)
      .select("ia", "ib", "jaccard")
  }

  /** MinHash + LSH banded near-dup detection: k minhashes in `bands`
    * bands of k/bands rows; docs sharing any band bucket become
    * candidate pairs; candidates are verified with exact Jaccard.
    * Returns (ia, ib, jaccard) for verified pairs >= threshold. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      k: Int, bands: Int, threshold: Double): DataFrame = {
    // The band table IS materialized once since optimization r19: it is
    // a few dozen bytes per document (doc, band, bh — the PERSISTABLE
    // index, per its own doc), referenced twice by the candidate
    // self-join, and each reference re-derived the full scan → shingle
    // → md5 → minhash aggregation. Exchange reuse did NOT cover it
    // (the r18 AQE-finalized q22 plan still executed 14 scans). This
    // is the sub-corpus-scale frame the r18 revert (67cb8b6) said to
    // keep: memory is O(docs · bands), never the shingle arrays. A local
    // checkpoint (memory, then disk), as `Similarity` returns its trained
    // frames, not a persist: a persist registered the plan with the
    // session's cache manager, which nothing released, so each distinct
    // corpus kept its entries for the life of the JVM; the checkpoint's
    // blocks go when the query is unreachable. It is eager: it runs when
    // the query is built.
    val bandHash = minhashBandTable(docs, idCol, textCol, k, bands).localCheckpoint()
    val cand = bandHash.as("x").join(bandHash.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("ia"), col("y.doc").as("ib")).distinct()
    jaccardVerify(cand, shingles(docs, idCol, textCol), threshold)
  }

  /** INCREMENTAL MinHash-LSH: the pairs a NEW batch introduces against
    * a corpus whose signatures are already in the index. `sigs` is the
    * full banded signature table (doc, band, bh, is_new) — stored rows
    * read back from the index plus the new batch's freshly computed
    * rows — and `s` the shingle set used only to verify candidates.
    * Candidate pairs require AT LEAST ONE new side: old–old pairs were
    * reported by previous runs and are never re-derived, so per-batch
    * work is proportional to the batch's bucket overlaps, not the
    * corpus — the property that makes daily dedup of a growing 100 TB
    * corpus affordable. Verify touches only candidate docs' text
    * (bounded), exactly like the one-shot path. */
  /** Candidate derivation of the incremental path, shared with the
    * stage probe (graft.tools.Q124Stages) so a predicate change there
    * can never silently diverge from what the probe times: same-band
    * same-bucket pairs where at least one side is NEW. */
  private[graft] def incrementalCandidates(sigs: DataFrame): DataFrame =
    sigs.as("x").join(sigs.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc") < col("y.doc") &&
          (col("x.is_new") || col("y.is_new")))
      .select(col("x.doc").as("ia"), col("y.doc").as("ib")).distinct()

  def minhashLshIncrementalPairs(sigs: DataFrame, s: DataFrame,
                                 threshold: Double): DataFrame =
    jaccardVerify(incrementalCandidates(sigs), s, threshold)

  /** Connected components over an undirected pair list (ia, ib) —
    * the step that turns near-dup PAIRS into dedup CLUSTERS, so one
    * canonical document per cluster can be kept. Iterative min-label
    * propagation: every node starts as its own label; each round joins
    * labels across edges and keeps the minimum; stops when a round
    * changes nothing. Rounds needed = graph diameter (near-dup clusters
    * are shallow — a handful of rounds even at 100 TB), each round is
    * two shuffles, state is one (node, label) row per node — nothing on
    * the driver but the convergence flag.
    *
    * Per round there is exactly ONE job: the round's frame (carrying a
    * per-node changed flag) is materialized by an eager
    * [[Lineage.truncate]] (localCheckpoint by default; reliable
    * `checkpoint()` under `graft.checkpoint.reliable=true` — the
    * executor-loss-surviving form a deploy needs), which also truncates
    * lineage so plan depth and analysis cost stay O(1) in the round
    * count instead of nesting one join deeper per round. The
    * convergence flag is then a cheap
    * aggregate over the checkpointed blocks — no second label-join, no
    * extra shuffle. Superseded round RDDs are unreferenced on
    * reassignment and reclaimed by the context cleaner.
    *
    * SHUFFLE SHAPE: the loop-invariant edge list is partitioned by its
    * join key `b` once and cut with
    * [[Lineage.truncateKeepPartitioning]], so every round's label join
    * reads the edge blocks IN PLACE — at 100 TB the edge list is the
    * dominant relation and moves once, not once per round (the q115
    * discipline). Per round only the label table and the propagated
    * minima shuffle.
    * Returns (doc, cluster) with cluster = min doc id in the component;
    * isolated docs are not returned (they are their own cluster). */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("ia").as("a"), col("ib").as("b"))
      .union(pairs.select(col("ib").as("a"), col("ia").as("b")))
      .distinct()
      .repartition(col("b"))
      .transform(Lineage.truncateKeepPartitioning)
    // labels keep their hash(doc) layout across cuts (the q115 lesson):
    // the rename doc->b preserves the attribute, so BOTH loop joins run
    // exchange-free against the b-partitioned edges / doc-partitioned
    // prop, and the SHUFFLE_HASH hints build on the |V|-sized label
    // table — without them Spark plans sort-merge and re-SORTS the
    // cached |E| edge list every iteration
    var labels = edges.select(col("a").as("doc")).distinct()
      .withColumn("cluster", col("doc"))
      .transform(Lineage.truncateKeepPartitioning)
    var converged = false
    while (!converged) {
      // candidate label per node: its own, plus every neighbor's; chg
      // records whether the propagated minimum beats the current label
      val next = edges
        .join(labels.withColumnRenamed("doc", "b")
          .withColumnRenamed("cluster", "nb_cluster")
          .hint("SHUFFLE_HASH"), "b")
        .groupBy(col("a").as("doc"))
        .agg(min(col("nb_cluster")).as("prop"))
        .join(labels.hint("SHUFFLE_HASH"), "doc")
        .select(col("doc"), least(col("cluster"), col("prop")).as("cluster"),
          (col("prop") < col("cluster")).as("chg"))
        .transform(Lineage.truncateKeepPartitioning)
      // read convergence off the already-materialized blocks; an empty
      // label set (no pairs at all) converges immediately via coalesce
      val changed = next.agg(coalesce(max(col("chg")), lit(false)))
        .head.getBoolean(0)
      labels = next.drop("chg")
      converged = !changed
    }
    labels
  }

  /** SimHash near-dup JOIN via hamming-LSH band buckets: the 60-bit
    * simhash splits into 4 bands of 15 bits; docs sharing any band
    * value become candidate pairs; candidates are verified with the
    * exact hamming distance (`bit_count(xor)`). By pigeonhole, a pair
    * within hamming distance 3 differs in at most 3 bands, so at least
    * one band matches — ZERO false negatives up to distance 3, and the
    * self-join fans out per 15-bit bucket instead of all-pairs. The
    * per-pair verify is two longs, the cheapest near-dup check in the
    * engine (vs shingle-set intersection). */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      "4 bands of 15 bits guarantee recall only up to hamming distance 3")
    val keys = simhash(docs, idCol, textCol)
      .select(col("doc"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bv", expr("shiftright(simhash, band * 15) & 32767"))
    val cand = keys.as("x").join(keys.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("ia"), col("y.doc").as("ib"),
        col("x.simhash").as("ha"), col("y.simhash").as("hb"))
      .distinct()
    cand
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("ia", "ib", "hamming")
  }

  /** Connected components via alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the O(log n)-round alternative to [[connectedComponents]]'s
    * min-label propagation, whose round count equals the graph
    * DIAMETER. Near-dup clusters are usually shallow, but adversarial
    * boilerplate CHAINS (each doc near-dups only its neighbors) make
    * the diameter O(n); the star operations contract such chains in
    * logarithmically many rounds, each round the same two-shuffle
    * groupBy+join shape with an eager [[Lineage.truncate]] (local or
    * reliable per the `graft.checkpoint.reliable` flag) truncating
    * lineage.
    *
    *  - large-star: every node attaches its LARGER neighbors to the
    *    minimum of its neighborhood (incl. itself);
    *  - small-star: every node attaches its smaller-or-equal neighbors
    *    (and itself) to that minimum.
    *
    * At fixpoint the edge set is a star forest centered at component
    * minima; output matches [[connectedComponents]] exactly:
    * (doc, cluster = min doc id), isolated docs omitted. Convergence =
    * an (edge-count, checksum, second-seed checksum) triple going stable
    * — computed on the already-checkpointed round in one job, no extra
    * shuffle; early termination on wrong clusters would need the two
    * independent 64-bit xor-folds to collide simultaneously (~2^-128). */
  def connectedComponentsStar(pairs: DataFrame): DataFrame = {
    def bidir(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
    // neighborhood minimum per node: m(u) = min(N(u) + {u})
    def withMin(e: DataFrame): DataFrame = {
      val m = bidir(e).groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      bidir(e).join(m, "u")
    }
    def normalize(e: DataFrame): DataFrame =
      e.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .distinct()
    def fingerprint(e: DataFrame): (Long, Long, Long) = {
      // xor-folds of row hashes: order-independent, overflow-free (the
      // edge set is distinct, so no two rows cancel). TWO independent
      // 64-bit hashes (the second seeded by an extra literal) in the
      // same single-job agg: ending the loop on wrong clusters needs a
      // simultaneous collision in both folds across equal-sized sets
      // (~2^-128) — the guarantee a set-equality probe buys, without
      // its extra two-sided shuffle over the full edge set at 100 TB.
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)),
        coalesce(bit_xor(xxhash64(lit(0x9e3779b9L), col("u"), col("v"))), lit(0L))).head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    var edges = normalize(
        pairs.select(col("ia").as("u"), col("ib").as("v")))
      .transform(Lineage.truncate)
    var prev = fingerprint(edges)
    var converged = false
    while (!converged) {
      // large-star: (v, m) for v in N(u) with v > u
      val large = normalize(withMin(edges)
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
        .transform(Lineage.truncate)
      // small-star: (v, m) for v in N(u) with v <= u, plus (u, m);
      // (identical withMin subtrees -> one runtime exchange via reuse)
      val wm = withMin(large)
      val small = normalize(wm
        .filter(col("v") <= col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(wm.select(col("u"), col("m").as("v"))))
        .transform(Lineage.truncate)
      val cur = fingerprint(small)
      converged = cur == prev
      edges = small
      prev = cur
    }
    // star forest; normalize orients (u < v), so u is each star's
    // center = the component minimum and v its leaf
    edges.select(col("v").as("doc"), col("u").as("cluster"))
      .union(edges.select(col("u").as("doc"), col("u").as("cluster")))
      .distinct()
  }

  /** 60-bit SimHash over tokens (with multiplicity): per bit j, sum +1/-1
    * by whether bit j of md5-derived token hash is set; simhash bit j =
    * (sum > 0). md5's first 15 hex chars give 60 bits, replicable in
    * DuckDB. Single aggregation pass — no per-bit explode. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc"), explode(split(col(textCol), " ")).as("t"))
      .withColumn("h", conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long"))
    val bitSums = (0 until 60).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j"))
    val assembled = (0 until 60).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    toks.groupBy("doc").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc"), assembled.as("simhash"))
  }

  /** Cross-document EXACT-SUBSTRING duplication stats — the span-level
    * complement to the document-level dedup family above (exact /
    * Jaccard / MinHash / SimHash all judge whole documents; this finds
    * the duplicated REGIONS inside them, the "exact substring
    * deduplication" of the training-data literature, realized over
    * word k-grams instead of a suffix array).
    *
    * Per document (with >= k tokens): every token position opens one
    * k-gram window; a window is DUPLICATED if its k-gram occurs in at
    * least one OTHER document. Emitted per document with any
    * duplicated window: total windows, duplicated windows, and
    * `dup_tokens` — the exact size of the UNION of the duplicated
    * [pos, pos+k) intervals, computed gaps-and-islands style (each
    * window contributes min(k, pos - prev_pos) tokens), NOT by
    * exploding k rows per window.
    *
    * Scale shape: one explode to ~|tokens| gram rows, a postings-style
    * groupBy on the gram hash (min/max doc per gram — "more than one
    * distinct doc" is just min != max, ONE map-side-combinable shuffle
    * where count-distinct would cost two), one equi-join back (each
    * position matches
    * at most one surviving hash row — boilerplate grams cost O(their
    * positions), never O(pairs^2)), and a per-document window over only
    * the DUPLICATED positions. Gram identity is xxhash64 (oracle-
    * invisible: only equality matters downstream; the DuckDB twin joins
    * the raw gram strings), so the shuffle carries 8-byte keys instead
    * of k-word strings. */
  /** The REMOVAL companion to [[substringDupStats]]: emit every
    * document with its cross-doc duplicated spans cut out (every
    * occurrence is removed, both copies — the aggressive mode of the
    * published exact-substring dedup tooling). Duplicated window
    * positions are merged into disjoint [start,end] token intervals
    * per document (gaps-and-islands: a new island opens when
    * pos - prev_pos > k), the interval lists are collected per doc —
    * bounded by that doc's own window count, per-row state no bigger
    * than the document itself — and one codegen'd lambda
    * (`filter(tok, (t,i) -> !exists(ivs, ...))`) rebuilds the kept
    * text. Only flagged docs carry intervals through the join; clean
    * docs pass with a null interval list and zero removals. */
  def substringDedupClean(docs: DataFrame, idCol: String, textCol: String,
                          k: Int): DataFrame = {
    val dup = dupPositions(docs, idCol, textCol, k)
    val w = Window.partitionBy("doc").orderBy("pos")
    val islands = dup
      .withColumn("gap",
        when(col("pos") - lag(col("pos"), 1).over(w) > k, 1).otherwise(0))
      .withColumn("island", sum(col("gap")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val intervals = islands.groupBy("doc", "island")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + k - 1).as("e"))
      .groupBy("doc")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"))
    docs
      .select(col(idCol).as("doc"), split(col(textCol), " ").as("tok"))
      .join(intervals, Seq("doc"), "left")
      .select(
        col("doc").as("doc_id"),
        size(col("tok")).cast("long").as("n_tokens"),
        expr("filter(tok, (t, i) -> ivs IS NULL OR NOT exists(ivs, v -> i >= v.s AND i <= v.e))")
          .as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("removed_tokens"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** Shared core of the substring-dedup pair: (doc, n_windows, pos)
    * for every window position whose k-gram occurs in another doc. */
  private def dupPositions(docs: DataFrame, idCol: String, textCol: String,
                           k: Int): DataFrame = {
    val t = docs
      .withColumn("tok", split(col(textCol), " "))
      .filter(size(col("tok")) >= k)
      .select(col(idCol).as("doc"), col("tok"))
    // n_windows rides along each gram row (one int) so the final join
    // does not need a second pass over the text column
    val grams = t
      .select(col("doc"), (size(col("tok")) - k + 1).cast("long").as("n_windows"),
        posexplode(expr(
          s"transform(sequence(0, size(tok)-$k), " +
          s"i -> xxhash64(concat_ws(' ', slice(tok, i+1, $k))))"))
          .as(Seq("pos", "h")))
    // "occurs in >1 distinct doc" needs only min(doc) != max(doc) —
    // ONE map-side-combinable shuffle of the gram table, where a
    // count-distinct would expand to two (a (h,doc) dedup exchange,
    // then the h exchange)
    val crossDoc = grams.groupBy("h")
      .agg(min(col("doc")).as("dmin"), max(col("doc")).as("dmax"))
      .filter(col("dmin") =!= col("dmax"))
      .select("h")
    grams.join(crossDoc, "h").select("doc", "n_windows", "pos")
  }

  def substringDupStats(docs: DataFrame, idCol: String, textCol: String,
                        k: Int): DataFrame = {
    val dup = dupPositions(docs, idCol, textCol, k)
    val w = Window.partitionBy("doc").orderBy("pos")
    val cov = dup.withColumn("c",
      least(lit(k), col("pos") - lag(col("pos"), 1).over(w)))
    cov.groupBy("doc").agg(
        first(col("n_windows")).as("n_windows"),
        count(lit(1)).as("dup_windows"),
        sum(coalesce(col("c"), lit(k))).cast("long").as("dup_tokens"))
      .select(col("doc").as("doc_id"), col("n_windows"),
        col("dup_windows"), col("dup_tokens"))
  }
}
