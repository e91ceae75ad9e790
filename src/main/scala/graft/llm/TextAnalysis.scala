package graft.llm

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Text-analysis operators: language-ID heuristic, stopword and
  * token counting, document fingerprinting. All pure column expressions
  * (whole-stage codegen; no UDFs) — per-row work, embarrassingly
  * parallel at any scale.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(split(Dedup.normalize(text), " "))

  /** Stopword hit count against a fixed (tiny, broadcast-as-literal)
    * marker list. */
  def stopwordCount(text: Column, stopwords: Seq[String]): Column = {
    val words = split(Dedup.normalize(text), " ")
    aggregate(words, lit(0), (acc, w) =>
      acc + when(w.isin(stopwords: _*), 1).otherwise(0))
  }

  val EnglishMarkers: Seq[String] = Seq("the", "and", "of", "to", "a", "in", "is")

  /** n-gram/marker-based language-ID heuristic: score each candidate
    * language by marker-word hits; argmax with deterministic tiebreak.
    * Candidates are (lang, markers) pairs. */
  def languageId(text: Column, markers: Seq[(String, Seq[String])]): Column = {
    val words = split(Dedup.normalize(text), " ")
    val scored = markers.map { case (lang, ms) =>
      struct(aggregate(words, lit(0), (acc, w) =>
        acc + when(w.isin(ms: _*), 1).otherwise(0)).as("score"),
        lit(lang).as("lang"))
    }
    // greatest(structs) orders by score then lang — deterministic argmax
    greatest(scored: _*).getField("lang")
  }

  /** Rolling-hash document fingerprint: md5 of normalized text,
    * truncated — collision-safe at corpus scale, identical in any
    * SQL engine. */
  def fingerprint(text: Column, hexLen: Int = 16): Column =
    substring(md5(Dedup.normalize(text)), 1, hexLen)

  /** DSIR-style data-selection importance scores (Xie et al. 2023):
    * per-document mean log-likelihood ratio between a target slice of
    * the corpus and the raw corpus, over hashed unigram features.
    * Add-one smoothing on both sides; `buckets` hashed feature cells.
    *
    * Scale shape: tokens are exploded TWICE (once for the bucket
    * census, once for scoring) rather than persisted — at 100 TB two
    * streaming passes beat materializing a tokens-sized shuffle. The
    * per-bucket log-ratio table is `buckets` rows, quantized to
    * BIGINT at 1e-7 so per-document sums are exact integers in any
    * aggregation order, then broadcast back onto the token stream.
    *
    * Returns (doc_id, n_tokens, dsir_score, keep). */
  def dsirScores(docs: DataFrame, id: Column, text: Column,
      targetFlag: Column, buckets: Int = 128): DataFrame = {
    val toks = docs.select(id.as("doc_id"), targetFlag.as("tgt"),
        explode(split(Dedup.normalize(text), " ")).as("term"))
      .withColumn("b", pmod(Dedup.md5Hash60(col("term")), lit(buckets.toLong)))
    val cb = toks.groupBy(col("b")).agg(
      count(lit(1)).as("n_all"),
      sum(when(col("tgt"), 1L).otherwise(0L)).as("n_t"))
    val tot = cb.agg(sum(col("n_all")).as("na"), sum(col("n_t")).as("nt"))
    // quantized log-ratio per bucket; term order in the 4-log sum is
    // pinned (a − b − c + d) so both engines round identical doubles
    val q = floor((log(col("n_t") + 1) - log(col("nt") + buckets) -
      log(col("n_all") + 1) + log(col("na") + buckets)) * 1e7 + 0.5)
      .cast("long").as("q")
    val lr = cb.crossJoin(broadcast(tot)).select(col("b"), q)
    toks.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("q")).cast("double") / count(lit(1)) / 1e7)
          .as("dsir_score"))
      .withColumn("keep", col("dsir_score") > 0)
  }
}
