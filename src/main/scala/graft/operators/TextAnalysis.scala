package graft.operators

import graft.expr.gf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for training-data curation: language ID (script
 * n-gram heuristic), quality scoring, token counting (whitespace + BPE-ish
 * estimate), document fingerprinting (rolling hash + simhash). All are
 * single custom codegen expressions per column — no UDFs, no shuffles.
 */
object TextAnalysis {

  /** Per-document profile columns appended to the input. */
  def profile(df: DataFrame, textCol: String = "text"): DataFrame =
    df
      .withColumn("lang_pred", gf.lang_id(col(textCol)))
      .withColumn("quality", gf.quality_score(col(textCol)))
      .withColumn("n_tokens", gf.token_count(col(textCol)))
      .withColumn("n_bpe", gf.bpe_count(col(textCol)))
      .withColumn("fingerprint", gf.fingerprint64(col(textCol)))
      .withColumn("simhash", gf.simhash64(col(textCol)))

  /** Corpus quality summary by predicted language. */
  def langQualitySummary(df: DataFrame, textCol: String = "text"): DataFrame =
    profile(df, textCol)
      .groupBy(col("lang_pred"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("quality")), 6).as("avg_quality"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_bpe")).as("total_bpe"),
        countDistinct(col("fingerprint")).as("distinct_fingerprints"))
}
