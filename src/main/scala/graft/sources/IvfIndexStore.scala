package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Similarity

/** The PERSISTED IVF index as a self-describing store: centroids +
  * cid-partitioned bucket assignments + a manifest carrying the
  * CALIBRATED operating point (cal_nprobe / cal_recall /
  * cal_achievable), so the build-once/query-many contract covers the
  * recall knob too. Reference behavior being extended: the reference
  * has no ANN at all (`3_Models.py` is a placeholder); this is the
  * 100 TB similarity-search deployment shape from SURVEY §7.4.
  *
  * Why the manifest matters: [[Similarity.calibrateNprobe]] makes the
  * recall-vs-nprobe trade measurable at BUILD time (one brute-forced
  * sample), but an operating point that lives only in a probe artifact
  * helps nobody at query time — every caller was hardcoding nprobe.
  * Storing it beside the index means a query session opens the store
  * and gets the measured point by default: nprobe is a property of the
  * INDEX (its centroid structure vs the corpus), not of the query.
  *
  * Layout under `dir`:
  *   - `centroids/`  (vec_id, embedding) parquet
  *   - `buckets/`    (vec_id, embedding) parquet, partitioned by cid —
  *                   probe joins prune to probed partitions (DPP)
  *   - `manifest.json` written LAST via temp-file rename: its presence
  *     marks the index complete, so a reader never probes a
  *     half-written store.
  */
object IvfIndexStore {

  // built-index dirs per (corpus fingerprint | build params), a
  // [[Scaffold]]: an IVF index is rebuilt when the CORPUS changes, never
  // per query (this object's own doc), so a second build over identical
  // input files is pure waste. A hit is served only while it is
  // complete: the manifest is written last, so a half-built dir never
  // carries one, and a dir whose centroids/ or buckets/ were reaped
  // would fail its first topK read (ADVICE r18).
  private[graft] val built = Scaffold[String, String](dir =>
    Seq("manifest.json", "centroids", "buckets").forall(p =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir, p))))

  /** [[build]] amortized per corpus version: returns the directory of a
    * completed index for (`corpus` input files, build params), building
    * it only when this JVM has none. The key is the corpus's physical
    * input identity ([[DerivedStore.fingerprint]] — path, length,
    * mtime of every scan file) plus every build parameter, so a
    * regenerated fixture or a different index shape never reuses a
    * stale store. The build itself is deterministic (k-means from
    * deterministic seeds, quantized assignment), so one build serves
    * every subsequent query — the deployment contract ("rebuilt on
    * corpus changes, not per query"), applied to the bench's repeated
    * invocations (optimization r18; the calibration pass added in the
    * r18 build round made per-call rebuilds measurably expensive). */
  def buildOnce(spark: SparkSession, corpus: DataFrame, k: Int,
                iters: Int, calQueries: DataFrame, calK: Int,
                targetRecall: Double): String = {
    // The key also carries the IDENTITY of the calibration sample
    // (canonicalized plan + its resolved input files — the
    // Dedup.guardMemoInputKey discipline): the manifest's
    // cal_nprobe/cal_recall were measured against calQueries, so two
    // calls differing only in their calibration sample must not share
    // one index dir and silently serve each other's operating point
    // (ADVICE r18). DerivedStore.fingerprint alone cannot distinguish
    // corpus-derived samples — the plan string does.
    val calKey = calQueries.queryExecution.analyzed.canonicalized.toString +
      calQueries.inputFiles.sorted.mkString("\u0000", "\u0000", "")
    // full 128-bit digest, not hashCode: the Dedup guard memo's own
    // doc records why a 32-bit key is not a key (one entry standing in
    // for another on an Int collision)
    val calDigest = java.security.MessageDigest.getInstance("MD5")
      .digest(calKey.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val key = DerivedStore.fingerprint(spark, corpus) +
      s"|k=$k|iters=$iters|calK=$calK|tr=$targetRecall|cal=$calDigest"
    built.inDir(key, "graft_ivf_store") { dir =>
      build(spark, corpus, dir.toString, k, iters, calQueries, calK, targetRecall)
      dir.toString
    }
  }

  /** The stored operating point. `achievable=false` records a corpus
    * the index cannot serve at the build's target recall — the loud
    * refusal, persisted. */
  final case class Manifest(k: Int, calK: Int, targetRecall: Double,
      calNprobe: Int, calRecall: Double, calAchievable: Boolean)

  /** Build the full index: train centroids, assign every corpus vector
    * to its bucket (partitioned store), then CALIBRATE nprobe on the
    * store as queries will read it (the read-back frames, not the
    * in-session ones — the round-trip may not perturb anything, and
    * calibrating what we measured is the honest version of that
    * contract). `calQueries` is a bounded sample (the one brute-force
    * ground-truth pass is |sample| x n — price of measuring once at
    * build time instead of guessing at every query). */
  def build(spark: SparkSession, corpus: DataFrame, dir: String, k: Int,
            iters: Int, calQueries: DataFrame, calK: Int,
            targetRecall: Double): Manifest = {
    val trained = Similarity.trainCentroids(corpus, k, iters)
    trained.write.mode("overwrite").parquet(s"$dir/centroids")
    Similarity.ivfAssign(corpus, trained, kHint = Some(k.toLong))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/buckets")
    val cal = Similarity.calibrateNprobe(
      spark.read.parquet(s"$dir/buckets"),
      spark.read.parquet(s"$dir/centroids"),
      calQueries, calK, targetRecall, maxNprobe = k)
    val m = Manifest(k, calK, targetRecall, cal.nprobe, cal.estRecall,
      cal.achievable)
    val body =
      s"""{"k":${m.k},"cal_k":${m.calK},"target_recall":${m.targetRecall},
         |"cal_nprobe":${m.calNprobe},"cal_recall":${m.calRecall},
         |"cal_achievable":${m.calAchievable}}""".stripMargin.replace("\n", "")
    val tmp = java.nio.file.Paths.get(dir, "manifest.json.tmp")
    java.nio.file.Files.write(tmp, (body + "\n").getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, "manifest.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    m
  }

  /** Read the stored operating point (fails loudly on a store without
    * a manifest — i.e. an incomplete build). */
  def manifest(dir: String): Manifest = {
    val p = java.nio.file.Paths.get(dir, "manifest.json")
    require(java.nio.file.Files.exists(p),
      s"no manifest.json under $dir — incomplete or pre-calibration index; rebuild")
    val body = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    def field(name: String): String =
      s""""$name":([^,}]+)""".r.findFirstMatchIn(body)
        .getOrElse(sys.error(s"manifest.json under $dir lacks $name"))
        .group(1)
    Manifest(field("k").toInt, field("cal_k").toInt,
      field("target_recall").toDouble, field("cal_nprobe").toInt,
      field("cal_recall").toDouble, field("cal_achievable").toBoolean)
  }

  /** The query half: top-k over the stored index, defaulting nprobe to
    * the CALIBRATED point. An explicit `nprobe` always overrides; when
    * defaulting, a store whose calibration refused (`achievable=false`)
    * fails loudly instead of silently serving the low recall it
    * measured — the caller must either pass nprobe deliberately or
    * pick another index shape. */
  def topK(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
           nprobe: Option[Int] = None): DataFrame = {
    val m = manifest(dir)
    val chosen = nprobe.getOrElse {
      require(m.calAchievable,
        f"index at $dir calibrated UNACHIEVABLE: recall ${m.calRecall}%.3f " +
          f"at nprobe=${m.calNprobe} < target ${m.targetRecall}%.2f — pass " +
          "nprobe explicitly or use brute force / a rerank cascade")
      m.calNprobe
    }
    Similarity.ivfTopKAssigned(
      spark.read.parquet(s"$dir/buckets"), queries,
      spark.read.parquet(s"$dir/centroids"), k, chosen)
  }
}
