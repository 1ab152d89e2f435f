package perfbench

import graft.SparkEntry

/** A fixed panel of `SparkEntry.rawOps` queries, one per operator
  * family, each forced through the noop sink as `graft.Bench` does. The
  * only phase where `operators/` and the native `functions/` do the
  * work. Outputs are checked against each query's `SparkEntry.oracleSql`
  * in DuckDB by the launcher. */
object BatchOps {
  val Panel: Seq[String] = Seq("q_revenue_mv", "q_upsert_latest", "q_changelog_join",
    "q_window_agg", "q_dedup_minhash_lsh", "q_ann_lsh_recall", "q_bm25_topk",
    "q_text_winnow", "q_pagerank", "q_funnel")

  private def pass(ctx: Ctx, input: String): Seq[(String, Double)] = {
    ctx.spark.catalog.clearCache()
    Panel.map { q =>
      val f = SparkEntry.rawOps(q)
      val (_, ms) = ctx.op("batch_ops", q) {
        f(ctx.spark, input).write.format("noop").mode("overwrite").save()
      }
      q -> ms
    }
  }

  /** Set-up: one untimed pass that pays first-run JIT and codegen and
    * writes each query's rows, with its oracle SQL, for the DuckDB check
    * the launcher runs after the JVM exits. */
  def setup(ctx: Ctx, input: String): Unit = {
    val out = ctx.dir.resolve("panel_out")
    Panel.foreach { q =>
      SparkEntry.rawOps(q)(ctx.spark, input).write.mode("overwrite").parquet(out.resolve(q).toString)
    }
    val oracle = Panel.map(q => s"${Json.str(q)}: ${Json.str(SparkEntry.oracleSql(q))}")
      .mkString("{", ",\n", "}")
    Files2.write(out.resolve("oracle_sql.json"), oracle)
  }

  /** One timed pass, after set-up's warm-up pass. */
  def run(ctx: Ctx, input: String): Unit = {
    val times = pass(ctx, input)
    ctx.report.attempt(Panel.length)
    ctx.report.put("batch_panel_s", times.map(_._2).sum / 1000.0, "s")
    times.foreach { case (q, ms) => ctx.report.put(s"ops.ms.$q", ms, "ms") }
  }
}
