package perfbench

import graft.SparkEntry

/** The batch mix: registry queries over the seeded tables, where
  * Catalyst, the operators and the parquet and Delta readers do the work
  * with no streaming runtime or push channel. It runs inside the traced
  * `cdc_catchup` run, after the catch-up measurements, for the `queries` layer's
  * figures; see perfbench/README.md for why it is not a workload of its own.
  */
object BatchMix {
  val Mix: Seq[String] = Seq(
    "q15g_tpch_q10",          // relational joins and top-k aggregation
    "q15a_star_join",         // star join with broadcast dimensions
    "q47_debezium_cdc",       // batch CDC apply (Debezium.decode + ChangeModel)
    "q34g_lsh_eval_oracle",   // operators.Dedup MinHash-LSH
    "q40c_ann_ivf_fullprobe", // operators.Ivf
    "q86_cms_gram_freq",      // operators.Sketches / TextOps
    "q150_delta_cdf_batch")   // Delta reads next to writes
  val Passes = 2

  private def clearState(ctx: Ctx): Unit =
    // what graft.Bench does between queries: operators that persist an
    // index leave cache blocks behind, so each query starts from the same
    // state whatever ran before it
    ctx.spark.sharedState.cacheManager.clearCache()

  /** One pass over the mix, each result written as parquet (the last
    * pass's files are what the oracle comparison reads); per-query seconds,
    * or None if a query failed.
    */
  private def pass(ctx: Ctx, out: String): Option[Seq[Double]] = {
    ctx.trace.newRun()
    val times = Mix.map { name =>
      val t0 = System.nanoTime()
      val ok =
        try {
          ctx.trace.span("queries", name) {
            SparkEntry.queries(name)(ctx.spark, ctx.args.data)
              .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
          }
          true
        } catch { case e: Exception =>
          ctx.errors += s"$name failed: ${e.getMessage}"
          false
        }
      val s = (System.nanoTime() - t0) / 1e9
      clearState(ctx)
      ctx.check(ok, s"$name failed")
      if (ok) s else Double.NaN
    }
    if (times.exists(_.isNaN)) None else Some(times)
  }

  /** The oracle SQL of the mix, and the list of queries whose result files
    * the checker must find, for the DuckDB comparison made after the JVM
    * exits.
    */
  private def writeOracles(out: String): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val oracles = new java.util.TreeMap[String, String]()
    Mix.foreach(n => oracles.put(n, SparkEntry.oracleSql(n)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "oracle_sql.json"),
      mapper.writeValueAsString(oracles))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "manifest.json"),
      mapper.writeValueAsString(Mix.toArray))
  }

  /** Two passes over the mix on the run's session; per query, the faster
    * of its two times, and the faster pass as `batch_mix_s`.
    */
  def run(ctx: Ctx): Unit = {
    val out = ctx.dir("results")
    writeOracles(out)
    val passes = (1 to Passes).flatMap(_ => pass(ctx, out))
    if (passes.nonEmpty) {
      ctx.metric("batch_mix_s", passes.map(_.sum).min, "s")
      Mix.zipWithIndex.foreach { case (name, i) =>
        ctx.metric(s"query.${name}_s", passes.map(_(i)).min, "s")
      }
      ctx.line(f"batch_mix_s = ${passes.map(_.sum).min}%.3f s (faster of ${passes.size} passes over ${Mix.size} queries)")
    }
  }
}
