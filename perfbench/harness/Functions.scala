package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import Main._

/** Traced run only: one projection per registered `graft_*` SQL function
  * over a cached generated table, reported as nanoseconds per row of the
  * whole projection (reading its inputs from the cache included). */
object Functions {
  val Rows = 100000L

  private def lit64(seed: Double): String =
    (1 to 64).map(i => f"${math.sin(seed * i)}%.6fD").mkString("array(", ", ", ")")

  /** Function name -> probed expression. graft_pq_encode runs with a
    * synthetic codebook; graft_adc_score, graft_adc_score_at and
    * graft_domain_lookup need index state (ADC tables, a broadcast
    * lookup handle) and are not probed. */
  val Exprs: Seq[(String, String)] = Seq(
    "graft_polyhash" -> "graft_polyhash(text)",
    "graft_hash_embed" -> "graft_hash_embed(th, 16)",
    "graft_minhash" -> "graft_minhash(th)",
    "graft_shingle_hash" -> "graft_shingle_hash(toks, 3)",
    "graft_lexcount" -> "graft_lexcount(toks)",
    "graft_token_hashes" -> "graft_token_hashes(toks)",
    "graft_topk" -> "graft_topk(x, id, 10)",
    "graft_dotp" -> "graft_dotp(v, w)",
    "graft_dot" -> s"graft_dot(v, ${lit64(0.3)})",
    "graft_html_strip" -> "graft_html_strip(html)",
    "graft_norm" -> "graft_norm(html)",
    "graft_field_stats" -> "graft_field_stats(text)",
    "graft_pii_scan" -> "graft_pii_scan(html)",
    "graft_quant8" -> "graft_quant8(v)",
    "graft_dequant_cosine" -> s"graft_dequant_cosine(qz.q, qz.scale, ${lit64(0.7)})",
    "graft_dequant_cosine_col" -> "graft_dequant_cosine_col(qz.q, qz.scale, w)",
    "graft_money_scaled" -> "graft_money_scaled(x, 2)",
    "graft_long_to_money" -> "graft_long_to_money(id * 137, 18, 2)",
    "graft_pq_encode" ->
      ((1 to 8 * 16 * 8).map(i => f"${math.cos(i * 0.37)}%.6fD")
        .mkString("graft_pq_encode(v, array(", ", ", "), 8, 16, 8)")))

  def probe(spark: SparkSession, p: Params, out: Out): Unit = {
    val base = spark.range(Rows).selectExpr(
      "id",
      "concat('<p>BTC <b>rally</b> ', cast(id % 1000 AS STRING), ' mail a', " +
        "cast(id % 97 AS STRING), '@x.io</p>') AS html",
      "concat('bitcoin price rally ', cast(id % 1000 AS STRING), ' market bull') AS text",
      "split(concat('bitcoin price rally ', cast(id % 1000 AS STRING), ' market bull'), ' ') AS toks",
      "transform(sequence(1, 64), i -> sin(id * 0.001 + i)) AS v",
      "transform(sequence(1, 64), i -> cos(id * 0.002 + i)) AS w",
      "cast(id AS DOUBLE) * 1.37 AS x")
      .selectExpr("*", "transform(sequence(1, 8), i -> id * 31 + i) AS th", "graft_quant8(v) AS qz")
      .cache()
    base.count()
    def timed(exprs: Seq[String], agg: Boolean): Double = {
      val df = if (agg) base.groupBy(col("id") % 100).agg(expr(exprs.head))
               else base.selectExpr(exprs: _*)
      df.write.format("noop").mode("overwrite").save() // warm
      med((1 to 3).map(_ => nanos(df.write.format("noop").mode("overwrite").save())._2.toDouble))
    }
    Exprs.foreach { case (name, e) =>
      out.layer(s"functions.$name.ns_per_row", timed(Seq(e), agg = name == "graft_topk") / Rows)
    }
    base.unpersist()
  }
}
