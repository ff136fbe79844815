package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Corpus profiling CLI — the operational "state of the corpus" report a
  * data team runs before/after a curation pass, composed from the same
  * oracle-checked operators the pipeline uses (no second implementation
  * to drift): exact-dup pressure from `dd_exact`, near-dup clusters from
  * `dd_cluster` (memoized — free if the dedup pass already ran), eval
  * contamination from `pipe_decontaminate`, length quantiles from
  * `text_length_quantiles`, vocabulary size from `sk_kmv_distinct`.
  * Mirrors the reference's operator-facing CLIs (`show_snapshot_history`,
  * `find_truncation_opportunities`) for the corpus half of the engine.
  * Emits ONE JSON line on stdout.
  */
object CorpusReport {

  /** Run one composed query, consume it, then sweep the transient
    * checkpoint pins it left — the same hygiene Verify/Bench apply
    * (several composed queries pin corpus-derived stages; accumulated
    * pins were the round-7 bench pathology). The sweep runs only AFTER
    * `consume` finishes, per the PinnedStages safety rule: a swept
    * checkpoint cannot recompute. */
  private def swept[T](spark: SparkSession)(consume: => T): T = {
    val r = consume
    graft.operators.PinnedStages.sweepTransient(spark)
    r
  }

  def report(spark: SparkSession, sfDir: String): String = {
    val q = SparkEntry.queries
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").count()

    val dupGroups = swept(spark)(q("dd_exact")(spark, sfDir).count())
    val ndClusters = swept(spark)(q("dd_cluster")(spark, sfDir)
      .select("cluster_id").distinct().count())
    // All the sum() aggregates below return NULL over zero rows, which
    // would NPE in getLong before the zero-denominator guards run —
    // coalesce to 0 so the report degrades to zeros on an empty corpus.
    val contaminated = swept(spark)(q("pipe_decontaminate")(spark, sfDir)
      .agg(coalesce(sum("contaminated_docs"), lit(0L))).head().getLong(0))
    val quant = swept(spark)(q("text_length_quantiles")(spark, sfDir).collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap.withDefaultValue(0L))
    val vocab = swept(spark)(q("sk_kmv_distinct")(spark, sfDir)
      .agg(coalesce(sum("exact_distinct").cast("long"), lit(0L)),
        coalesce(sum("kmv_estimate"), lit(0.0)))
      .head())
    val keptTokens = swept(spark)(q("pipe_curation")(spark, sfDir)
      .agg(coalesce(sum("tokens_kept"), lit(0L))).head().getLong(0))
    // r8 signals: containment (embedded-document) pairs the symmetric
    // near-dup metrics miss, the worst per-document contamination
    // fraction (the graded dirtiness behind partial-drop policies), and
    // the dominant-bigram count (boilerplate pressure).
    val containmentPairs = swept(spark)(q("dd_containment")(spark, sfDir).count())
    // max over an empty report (no partially-contaminated docs) is null.
    val worstContamination = swept(spark)(
      Option(q("pipe_contamination_rate")(spark, sfDir)
        .agg(max("contamination_rate")).head().get(0))
        .fold(0.0)(_.asInstanceOf[Double]))
    val heavyHitters = swept(spark)(q("text_heavy_hitters")(spark, sfDir).count())
    // r10 signals: tokenizer efficiency (mean chars per BPE token — the
    // number a pretraining budget converts corpus bytes with) and
    // duplicated-span pressure (fraction of aligned blocks the span
    // rewrite would excise — the C4-style cut size). Both are exact
    // integer sums with one final division.
    val bpe = swept(spark)(q("text_bpe_encode")(spark, sfDir)
      .agg(coalesce(sum("alpha_chars"), lit(0L)),
        coalesce(sum("bpe_tokens"), lit(0L))).head())
    val bpeCharsPerToken =
      if (bpe.getLong(1) == 0L) 0.0 else bpe.getLong(0).toDouble / bpe.getLong(1)
    val span = swept(spark)(q("dd_span_rewrite")(spark, sfDir)
      .agg(coalesce(sum("n_blocks"), lit(0L)),
        coalesce(sum("kept_blocks"), lit(0L))).head())
    val spanDupFraction =
      if (span.getLong(0) == 0L) 0.0
      else (span.getLong(0) - span.getLong(1)).toDouble / span.getLong(0)

    s"""{"docs":$docs,"exact_dup_groups":$dupGroups,""" +
      s""""near_dup_clusters":$ndClusters,"contaminated_docs":$contaminated,""" +
      s""""len_p25":${quant(0.25)},"len_p50":${quant(0.5)},"len_p75":${quant(0.75)},""" +
      s""""vocab_exact":${vocab.getLong(0)},"vocab_kmv":${vocab.getDouble(1)},""" +
      s""""curated_tokens_kept":$keptTokens,""" +
      s""""containment_pairs":$containmentPairs,""" +
      s""""worst_contamination_rate":$worstContamination,""" +
      s""""heavy_hitter_bigrams":$heavyHitters,""" +
      s""""bpe_chars_per_token":$bpeCharsPerToken,""" +
      s""""span_dup_block_fraction":$spanDupFraction}"""
  }

  /** CLI: `CorpusReport <sfDir>`. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.SparkEntry.session()
    println(s"[corpus-report] ${report(spark, sfDir)}")
    spark.stop()
  }
}
