package graft

import org.apache.spark.sql.functions._
import graft.operators.TradeValidation

class ValidationExtensionsSpec extends SparkSpec {
  import spark.implicits._

  private def mkTrades(rows: (Long, Long, String, Long, String, Double, Double, Double)*) =
    rows.toSeq.toDF("user_id", "ticker", "tss", "id", "side", "qty", "price", "fee")
      .withColumn("ts", to_date($"tss")).drop("tss")

  test("validate rejects each constraint violation with a reason") {
    val cands = Seq(
      (1L, 1L, "2024-01-02", 1L, "buy", 1.0, 10.0, 0.0),   // lower side -> normalized, valid
      (1L, 1L, "2024-01-02", 2L, "HOLD", 1.0, 10.0, 0.0),  // bad side
      (1L, 1L, "2024-01-02", 3L, "SELL", 0.0, 10.0, 0.0),  // qty
      (1L, 1L, "2024-01-02", 4L, "BUY", 1.0, -1.0, 0.0),   // price
      (1L, 1L, "2024-01-02", 5L, "BUY", 1.0, 10.0, -0.5))  // fee
      .toDF("user_id", "ticker", "tss", "id", "side", "qty", "price", "fee")
      .withColumn("ts", to_date($"tss")).drop("tss")
    val out = TradeValidation.validate(cands).orderBy("id").collect()
    assert(out(0).getAs[String]("reject_reason") == null)
    assert(out(0).getAs[String]("side") == "BUY")
    assert(out(1).getAs[String]("reject_reason").contains("side"))
    assert(out(2).getAs[String]("reject_reason").contains("qty"))
    assert(out(3).getAs[String]("reject_reason").contains("price"))
    assert(out(4).getAs[String]("reject_reason").contains("fee"))
  }

  test("oversell guard: reference scenario — SELL 15 holding 10 rejected") {
    val existing = mkTrades((1L, 1L, "2024-01-02", 1L, "BUY", 10.0, 200.0, 0.0))
    val cands = mkTrades(
      (1L, 1L, "2024-01-03", 2L, "SELL", 15.0, 220.0, 0.0), // oversell
      (1L, 1L, "2024-01-03", 3L, "SELL", 4.0, 220.0, 0.0))  // fine (checked vs signed sum)
    val out = TradeValidation.flagOversell(existing, cands).orderBy("id").collect()
    assert(out(0).getAs[Boolean]("oversell"))
    assert(!out(1).getAs[Boolean]("oversell"))
  }

  test("oversell guard allows selling exactly the held quantity") {
    val existing = mkTrades((1L, 1L, "2024-01-02", 1L, "BUY", 10.0, 100.0, 0.0))
    val cands = mkTrades((1L, 1L, "2024-01-03", 2L, "SELL", 10.0, 110.0, 0.0))
    val out = TradeValidation.flagOversell(existing, cands).collect()
    assert(!out.head.getAs[Boolean]("oversell"))
  }

  test("float_vec_dot is callable from SQL once registered") {
    val r = spark.sql(
      "SELECT float_vec_dot(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>), " +
        "CAST(array(3.0, 4.0) AS ARRAY<FLOAT>)) AS d").collect().head.getDouble(0)
    assert(r == 11.0)
    import graft.functions.FloatVecDot.dot
    val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    assert(df.select(dot(col("a"), col("b"))).collect().head.getDouble(0) == 11.0)
  }

  test("bottom_k and count_min aggregates are callable from SQL once registered") {
    Seq("c", "a", "b", "a").toDF("v").createOrReplaceTempView("gx_vals")
    val bk = spark.sql("SELECT bottom_k(v, 2) AS b FROM gx_vals")
      .collect().head.getSeq[String](0)
    assert(bk == Seq("a", "a"))
    val sk = spark.sql("SELECT count_min_graft(v, 2, 16) AS sk FROM gx_vals")
      .collect().head.getSeq[Long](0)
    assert(sk.length == 32 && sk.sum == 8) // 4 values x 2 sketch rows
    // merging two partial sketches cell-wise equals sketching the union
    val merged = spark.sql(
      "SELECT count_min_merge_graft(sk, 2, 16) AS sk FROM (" +
        "SELECT count_min_graft(v, 2, 16) AS sk FROM gx_vals GROUP BY v = 'a')")
      .collect().head.getSeq[Long](0)
    assert(merged == sk)
  }

  test("int8_vec_dot and zorder2 are callable from SQL once registered") {
    val d = spark.sql(
      "SELECT int8_vec_dot(CAST(array(1, -2) AS ARRAY<TINYINT>), " +
        "CAST(array(3, 4) AS ARRAY<TINYINT>)) AS d").collect().head.getLong(0)
    assert(d == -5L)
    val z = spark.sql("SELECT zorder2(0L, 3L) AS z").collect().head.getLong(0)
    assert(z == 10L) // bits of 3 land in the odd interleave positions
  }

  test("pcm_fold is callable from SQL once registered") {
    // canonical 44-byte-header WAV, fmt=1 (PCM), 16-bit, two samples:
    // +1 and -2 → n=2, sum=-1, peak=2
    val hdr = Array[Byte]('R', 'I', 'F', 'F', 0, 0, 0, 0,
      'W', 'A', 'V', 'E', 'f', 'm', 't', ' ',
      16, 0, 0, 0, 1, 0, 1, 0, 0x44, 0xac.toByte, 0, 0,
      0x88.toByte, 0x58, 0x01, 0, 2, 0, 16, 0,
      'd', 'a', 't', 'a', 4, 0, 0, 0,
      1, 0, 0xfe.toByte, 0xff.toByte)
    spark.createDataFrame(java.util.List.of(org.apache.spark.sql.Row(hdr)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType))))
      .createOrReplaceTempView("gx_wav")
    val r = spark.sql(
      "SELECT pcm_fold(content).n_samples AS n, pcm_fold(content).sample_sum AS s, " +
        "pcm_fold(content).sample_peak AS p FROM gx_wav").collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == -1L && r.getLong(2) == 2L)
  }
}
