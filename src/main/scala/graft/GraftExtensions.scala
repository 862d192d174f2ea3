package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain

/** Session extensions: registers the native Catalyst expressions
  * ([[graft.functions.VectorExpressions]] and
  * [[graft.functions.TextExpressions]]) as SQL functions, plus
  * `graft_bloom_contains` — Spark's internal codegen'd bloom probe
  * (`BloomFilterMightContain`, the expression `InjectRuntimeFilter`
  * plants), surfaced as a SQL function so
  * [[graft.operators.BloomPrune]] can apply semi-join reduction when the
  * built-in runtime filter's thresholds don't trigger.
  *
  * Required, not optional: every native kernel the library calls
  * (`graft_dot`, `graft_dist_sq`, `graft_minhash_sig`, `graft_simhash64`,
  * `graft_jl_project`, `graft_pq_code`; the text kernels
  * `graft_quality_score`, `graft_ngrams`, `graft_shingle_minhash`,
  * `graft_jaro_winkler`, `graft_rolling_min_hash`, `graft_token_diversity`,
  * `graft_repetition_stats`, `graft_cdc_boundaries`; and
  * `graft_bloom_contains`) resolves only through these registrations, and
  * none has a fallback. On a session built without the extension,
  * analysis fails naming the missing `graft_*` function.
  *
  * Apply at session build (`SparkSession.builder.withExtensions(new
  * GraftExtensions)`), or on a cluster via
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.VectorExpressions.registrations.foreach(ext.injectFunction)
    graft.functions.TextExpressions.registrations.foreach(ext.injectFunction)
    ext.injectFunction(graft.functions.KernelArgs.register("graft_bloom_contains",
      classOf[BloomFilterMightContain], "bloom, value", 2)(a => BloomFilterMightContain(a(0), a(1))))
  }
}
