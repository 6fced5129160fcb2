package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe data generator: replicate the driver-provided testdata
  * `mult`× into a sibling layout, so the heavy queries can be timed at
  * ~sf1 (the next scale notch) without touching the read-only
  * testdata. The replication is SEMANTIC, not a blind union — blind
  * copies would distort the workload's complexity class:
  *
  *  - every join/group key is shifted per copy (`key·mult + i`), on
  *    BOTH sides of each relationship, so copies are disjoint
  *    subuniverses: per-key group sizes, join fan-outs, graph degrees
  *    and sessions-per-user stay exactly sf0.1-shaped while totals
  *    grow 10× — which is what a real 10× corpus looks like;
  *  - document TEXT is word-permuted per copy (deterministic per-copy
  *    shuffle): vocabulary and length stats survive (lang-ID, quality,
  *    token counts), but shingles decorrelate, so near-dup pair counts
  *    scale ~linearly as in a real corpus — naive text copies would
  *    make every cross-copy pair a duplicate and turn LSH verification
  *    quadratic, probing a workload that does not exist;
  *  - embedding VECTORS are stride-permuted per copy (a fixed
  *    coprime-stride index permutation): component distributions
  *    survive, cross-copy cosines drop, so ANN/near-dup candidate sets
  *    scale like a grown corpus;
  *  - events keep their real time span (10× users in the same window —
  *    parallel tenants, not a stretched history), so watermarks and
  *    session gaps behave identically;
  *  - dimension tables that are fixed-size in TPC-H (nation, region)
  *    are copied as-is: dims stay dims.
  *
  * A 4th arg `salt` switches documents to DISJOINT-VOCABULARY
  * replication: copy 0 keeps the text VERBATIM; copy c>0 tags every
  * word with the copy index (`w#c`). Each copy is then an exact
  * structural replica of the source corpus (same within-copy document
  * frequencies, duplicate groups, window repeats, shingle statistics)
  * sharing ZERO vocabulary with any other copy — the "10 parallel
  * tenants" shape of a really-grown corpus. Two uses:
  *  - replication-free decade probes: any super-linear scaling left on
  *    this fixture is a plan property, not a cross-copy artifact of the
  *    word permutation (which preserves word BAGS, so copies still
  *    collide on hot words/bands with small probability);
  *  - copy-closed sampled-key oracle twins (tools/sampled_compare.py)
  *    for the corpus-statistic operators: df-caps (q39/q48/q59/q51),
  *    duplicated-window detection (q165/q166) and LSH banding
  *    (q22/q124) are closed under the copy-0 restriction ONLY when no
  *    shingle/window/band value can cross copies — which the word
  *    permutation makes merely unlikely, and the salt makes impossible
  *    by construction.
  *
  * A 4th arg `span` switches EVENTS to time-EXTENDED replication: copy
  * c is shifted by c·(source span + ~1 day), so the history grows
  * mult× at the source's density instead of mult× tenants in the same
  * window. This is the events analogue of `salt`: the default
  * (densifying) shape is right for per-user/session state but grows
  * time-windowed join OUTPUT ~mult² (each probe meets mult× the
  * candidates — a fixture artifact no engine can dodge, since output
  * lower-bounds work); the span shape is the one where a linear
  * operator shows linear time. Span-mode events are written ts-sorted.
  *
  * Usage: sbt "runMain graft.tools.ScaleUp [src] [dst] [mult] [salt|span] [onlyTables]"
  *        (defaults: /root/testdata/sf0.1  /tmp/graft_sf1  10  off  all)
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.drop(1).headOption.getOrElse("/tmp/graft_sf1")
    val mult = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val mode = args.drop(3).headOption.getOrElse("off")
    // optional 5th arg: comma-list of tables to (re)generate — a span
    // probe only needs events, and regenerating 9 untouched tables at
    // sf10 is minutes of wasted writes
    val onlyTables = args.drop(4).headOption.map(_.split(",").map(_.trim).toSet)
    val spark = graft.Sessions.graft().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, src, dst, mult, mode, onlyTables)
    finally spark.stop()
  }

  /** The generation itself, session-agnostic so specs can drive it on
    * a shared test session (main owns the CLI session's lifecycle). */
  def run(spark: SparkSession, src: String, dst: String, mult: Int,
          mode: String, onlyTables: Option[Set[String]]): Unit = {
    val saltVocab = mode == "salt"
    val spanEvents = mode == "span"
    import spark.implicits._

    def raw(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    // one row per (source row, copy index); the copy column drives the
    // key shifts and the per-copy permutations below
    def copies(df: DataFrame): DataFrame = df
      .withColumn("_c", explode(lit((0 until mult).toArray)))

    def shift(c: String): org.apache.spark.sql.Column =
      col(c) * mult + col("_c")

    def write(df: DataFrame, t: String): Unit =
      if (onlyTables.forall(_.contains(t))) {
        df.drop("_c").write.mode("overwrite").parquet(s"$dst/$t.parquet")
        println(s"scaled $t")
      } else println(s"skipped $t (not in only-list)")

    write(copies(raw("lineitem"))
      .withColumn("l_orderkey", shift("l_orderkey"))
      .withColumn("l_partkey", shift("l_partkey"))
      .withColumn("l_suppkey", shift("l_suppkey")), "lineitem")
    write(copies(raw("orders"))
      .withColumn("o_orderkey", shift("o_orderkey"))
      .withColumn("o_custkey", shift("o_custkey")), "orders")
    write(copies(raw("customer"))
      .withColumn("c_custkey", shift("c_custkey")), "customer")
    write(copies(raw("supplier"))
      .withColumn("s_suppkey", shift("s_suppkey")), "supplier")
    write(copies(raw("part"))
      .withColumn("p_partkey", shift("p_partkey")), "part")
    Seq("nation", "region").foreach(t => write(raw(t), t))

    // Default: copies share the source TIME SPAN (10x users in the same
    // window — parallel tenants), so watermarks, session gaps and window
    // densities scale with the data. That is the right shape for
    // per-user state, but it makes TIME-windowed join DENSITY grow with
    // mult: every interval-join probe meets mult× the candidates, so
    // join OUTPUT (and any engine's work — output size lower-bounds it)
    // grows ~mult², a fixture artifact, not an operator property
    // (measured: q52's batch twin emits 15.1M pairs at sf1 vs ~1.5G at
    // sf10 on this shape). `span` mode instead EXTENDS history: copy c
    // is time-shifted by c·(span + span/29 gap), so per-window density
    // stays sf0.1-shaped while totals grow mult× — the linear-scaling
    // shape for time-windowed operators, mirroring what `salt` does for
    // the text family. Events are written ts-sorted in span mode so a
    // file-source stream replays them roughly in event-time order.
    val evs = copies(raw("events"))
      .withColumn("event_id", shift("event_id"))
      .withColumn("user_id", shift("user_id"))
    if (spanEvents) {
      import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
      val tsType = raw("events").schema("ts").dataType
      // timestamp[_ntz] goes through micros (session TZ is UTC, so the
      // TZ<->NTZ casts are lossless); integral epochs shift in their own
      // unit — the step is span-relative, so no unit inference is needed
      val asMicros: org.apache.spark.sql.Column = tsType match {
        case TimestampType | TimestampNTZType =>
          unix_micros(col("ts").cast(TimestampType))
        case _ => col("ts")
      }
      val Seq(lo, hi) = raw("events").agg(min(asMicros), max(asMicros))
        .as[(Long, Long)].collect().head.productIterator.toSeq
        .map(_.asInstanceOf[Long])
      val step = (hi - lo) + (hi - lo) / 29 // span + ~1-day gap
      val shifted = evs.withColumn("ts", tsType match {
        case TimestampType | TimestampNTZType =>
          timestamp_micros(asMicros + col("_c") * step).cast(tsType)
        case _ => col("ts") + col("_c") * step
      })
      write(shifted.orderBy("ts"), "events")
    } else write(evs, "events")

    // salt: copy-tagged vocabulary (exact structural replica per copy,
    // zero cross-copy term sharing; copy 0 verbatim). default: word
    // permutation — stable sort of (hash(word, position, copy), word) —
    // same bag of words, unrecognizable n-grams across copies
    val textExpr =
      if (saltVocab) expr(
        // empty tokens (consecutive spaces) stay empty in EVERY copy —
        // tagging them would mint bare '#c' words that copy 0 lacks,
        // breaking the exact-structural-replica property the decade
        // probe's argument rests on
        """concat_ws(' ', transform(split(text, ' '),
          |  w -> if(_c = 0 or w = '', w, concat(w, '#', _c))))""".stripMargin)
      else expr(
        """concat_ws(' ', transform(
          |  array_sort(zip_with(
          |    split(text, ' '),
          |    sequence(1, size(split(text, ' '))),
          |    (w, i) -> struct(xxhash64(w, i, _c) as h, w as w))),
          |  s -> s.w))""".stripMargin)
    write(copies(raw("documents"))
      .withColumn("doc_id", shift("doc_id"))
      .withColumn("text", textExpr)
      .withColumn("n_chars", length(col("text"))), "documents")

    // stride permutation of components: copy c reads index (j*s_c) mod d
    // with s_c odd (coprime with the even dim), so copy 0 keeps the
    // original layout and later copies decorrelate
    write(copies(raw("embeddings"))
      .withColumn("vec_id", shift("vec_id"))
      .withColumn("embedding", expr(
        """transform(sequence(0, size(embedding) - 1),
          |  j -> element_at(embedding,
          |         int((j * (2 * _c + 1)) % size(embedding)) + 1))""".stripMargin)),
      "embeddings")
  }
}
