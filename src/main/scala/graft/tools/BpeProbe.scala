package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** BPE tokenizer at REALISTIC vocabulary scale — the probe behind
  * BpeEncode's 100 TB claims, which q167's 40-rule oracle fixture
  * cannot exercise:
  *
  *  1. the rank table "rides the plan as ONE reference object (~2 MB
  *     at GPT-2's 50k rules)" — measured here: the serialized size of
  *     the exact two-level HashMap the expression ships
  *     (ctx.addReferenceObj), plus the Spark-reported broadcast task
  *     binary size from the run itself;
  *  2. throughput with a 50k-rule table whose rules actually FIRE —
  *     the table is derived from the probed corpus (each of the top-M
  *     words contributes its left-fold merge chain: (c1,c2),
  *     (c1c2,c3), ...), so frequent words fully merge and the
  *     per-word loop iterates realistically, unlike a random table
  *     whose lookups all miss on the first pass;
  *  3. whole-stage codegen stays engaged at this table size (asserted
  *     on the executed plan, not the claim).
  *
  * Usage: BpeProbe <sfDir> [nRules=50000] [trials=3]; prints one JSON
  * line. Not on the verification path — q167/q168 are the correctness
  * carriers; this is the scale evidence.
  */
object BpeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf10s")
    val nRules = args.drop(1).headOption.map(_.toInt).getOrElse(50000)
    val trials = args.drop(2).headOption.map(_.toInt).getOrElse(3)
    val spark = graft.Sessions.graft()
      // AQE off: the probe asserts the EXPRESSION's codegen placement,
      // and an AdaptiveSparkPlan exposes no WholeStageCodegen nodes
      // until finalization — this is a one-stage agg, AQE adds nothing
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).persist()
    val nDocs = docs.count()

    // corpus-derived merge rules: top words by frequency, each
    // contributing its left-fold chain until the rule budget is met.
    // Driver-side state is bounded by the word limit (a vocabulary-
    // sized dimension, same class as bpeMerges' collect).
    val words = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("w"))
      .limit(math.max(nRules / 4, 10000))
      .select("w").collect().map(_.getString(0))
    val seen = scala.collection.mutable.HashSet.empty[(String, String)]
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var wi = 0
    while (merges.length < nRules && wi < words.length) {
      val w = words(wi)
      var left = w.substring(0, 1)
      var i = 1
      while (merges.length < nRules && i < w.length) {
        val r = w.substring(i, i + 1)
        val rule = (left, r)
        if (seen.add(rule)) merges += rule
        left = left + r
        i += 1
      }
      wi += 1
    }
    val firing = merges.length
    // fill to the target with synthetic vocabulary pairs at realistic
    // token lengths (~5-6 chars/side). These never fire (not in the
    // corpus), which is the realistic regime: most of GPT-2's 50k
    // rules don't fire on any given document either — they weigh the
    // shipped table and the per-pair hash lookups, exactly what this
    // probe measures. (The fixture corpora have tiny vocabularies —
    // ~30 distinct base words — so corpus chains alone cannot reach
    // 50k; real text would contribute far more firing rules.)
    var a = 0
    while (merges.length < nRules) {
      var b = 0
      while (merges.length < nRules && b < 512) {
        val rule = (f"tk$a%03d", f"tk$b%03d")
        if (seen.add(rule)) merges += rule
        b += 1
      }
      a += 1
    }

    // (1) the reference object's serialized size — exactly what the
    // stage's task binary carries once per stage
    val ranks = graft.functions.BpeEncode.buildRanks(merges.toSeq)
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(ranks); oos.close()
    val ranksBytes = bos.size()

    // (2) throughput: aggregate over the token arrays so Catalyst
    // cannot prune the encode (a bare count() would). Fresh parquet
    // read, not the persisted frame — the cached columnar scan is not
    // the plan a pipeline runs, and codegen is asserted on THIS plan.
    val frame = graft.sources.Tables.documents(spark, sfDir)
      .select(TextAnalysis.bpeEncode(col("text"), merges.toSeq).as("toks"))
      .agg(sum(size(col("toks"))).as("tokens"))
    // (3) codegen engaged: the BpeEncode projection sits inside a
    // WholeStageCodegen span (BpeSpec's structural check, not a
    // string match)
    val codegen = frame.queryExecution.executedPlan.exists {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
        w.child.exists {
          case p: org.apache.spark.sql.execution.ProjectExec =>
            p.projectList.exists(_.exists(_.isInstanceOf[graft.functions.BpeEncode]))
          case _ => false
        }
      case _ => false
    }
    val samples = (1 to trials).map { _ =>
      val t0 = System.nanoTime()
      val tokens = frame.collect()(0).getLong(0)
      (tokens, (System.nanoTime() - t0) / 1e9)
    }
    val tokens = samples.head._1
    val wall = samples.map(_._2).sorted.apply(trials / 2)
    val chars = docs.agg(sum(length(col("text")))).collect()(0).getLong(0)
    docs.unpersist()
    println(
      s"""{"probe":"bpe_vocab_scale","sf_dir":"$sfDir","rules":${merges.length},
         |"firing_rules":$firing,
         |"ranks_serialized_bytes":$ranksBytes,"codegen":$codegen,
         |"docs":$nDocs,"chars":$chars,"tokens":$tokens,
         |"wall_sec_median":${math.round(wall * 100) / 100.0},
         |"walls":[${samples.map(s => math.round(s._2 * 100) / 100.0).mkString(",")}],
         |"docs_per_sec":${math.round(nDocs / wall)},
         |"mb_per_sec":${math.round(chars / wall / 1e6 * 10) / 10.0}}"""
        .stripMargin.replace("\n", ""))
    spark.stop()
  }
}
