package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.analysis.Analysis

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, language id, fingerprinting. Counting/ratio ops are
  * pure built-in Column expressions (codegen, pushdown-friendly);
  * language-id is a scalar UDF over char n-gram profiles. */
object TextStats {

  /** Whitespace token count — one split, no UDF. */
  def wsTokenCount(text: Column): Column =
    size(split(text, "\\s+"))

  /** Per-doc integer counting stats (exact, oracle-checkable):
    * (doc_id, n_tokens, n_chars, n_stop). */
  def countingStats(documents: DataFrame): DataFrame = {
    val stops = Analysis.EnglishStopWords
    documents.select(
      col("doc_id").cast("long").as("doc_id"),
      wsTokenCount(col("text")).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars"),
      size(filter(split(col("text"), " "),
        t => array_contains(lit(stops.toArray), t))).cast("long").as("n_stop"))
  }

  /** Raw quality blend in [0,1]: length band, stopword ratio, mean
    * token length — the shape of C4/CCNet-style heuristics, exact
    * formula is this engine's own. Pure double arithmetic over the
    * counting stats (identical op sequence to the DuckDB oracle SQL). */
  private def withQualityRaw(documents: DataFrame): DataFrame =
    countingStats(documents)
      .withColumn("stop_ratio", col("n_stop") / col("n_tokens"))
      .withColumn("mean_tok_len",
        (col("n_chars") - (col("n_tokens") - 1)) / col("n_tokens"))
      .withColumn("quality_raw",
        least(col("n_tokens") / lit(32.0), lit(1.0)) * lit(0.5) +
          least(col("stop_ratio") * lit(5.0), lit(1.0)) * lit(0.25) +
          when(col("mean_tok_len").between(2.0, 12.0), lit(1.0)).otherwise(lit(0.0)) * lit(0.25))

  def qualityScore(documents: DataFrame): DataFrame =
    withQualityRaw(documents)
      .withColumn("quality", round(col("quality_raw"), 6))
      .select("doc_id", "quality")

  /** Oracle-gated variant: quality in integer parts-per-million (exact
    * hash comparison across engines — no float-printing ambiguity). */
  def qualityPpm(documents: DataFrame): DataFrame =
    withQualityRaw(documents)
      .withColumn("quality_ppm",
        round(col("quality_raw") * lit(1000000.0)).cast("long"))
      .select("doc_id", "quality_ppm")

  // ---------- language id ----------

  /** Tiny char-trigram profiles for a handful of languages; a real
    * deployment would load fastText-style profiles — the *Spark shape*
    * (broadcast profiles + scalar function) is what matters here. */
  private val profiles: Map[String, Seq[String]] = Map(
    "en" -> Seq(" th", "the", "he ", " an", "and", "nd ", " of", "of ", "ing", " to"),
    "de" -> Seq("der", "ie ", " de", "ein", "sch", "ich", "nde", "die", "und", " un"),
    "fr" -> Seq(" de", "de ", " le", "es ", "le ", "ent", " la", "tio", "on ", "que"),
    "es" -> Seq(" de", "de ", "os ", " la", "la ", "el ", " el", "que", " qu", "ión"),
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "他", "这", "中", "大"))

  def langIdOf(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    val t = text.toLowerCase(java.util.Locale.ROOT)
    val scored = profiles.toSeq.map { case (lang, grams) =>
      var s = 0
      grams.foreach { g => var idx = t.indexOf(g); while (idx >= 0) { s += 1; idx = t.indexOf(g, idx + 1) } }
      (lang, s)
    }.sortBy { case (lang, s) => (-s, lang) }
    if (scored.head._2 == 0) "und" else scored.head._1
  }

  private val langIdUdf = udf(langIdOf _)

  /** Column form of the language-ID scorer (for URP-chain use). */
  def langIdCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    langIdUdf(text)

  /** (doc_id, lang_pred) heuristic language id. */
  def langId(documents: DataFrame): DataFrame =
    documents.select(col("doc_id").cast("long").as("doc_id"),
      langIdUdf(col("text")).as("lang_pred"))

  // ---------- fingerprinting ----------

  /** Content fingerprint (md5 hex — engine + DuckDB agree exactly). */
  def md5Fingerprint(documents: DataFrame): DataFrame =
    documents.select(col("doc_id").cast("long").as("doc_id"),
      md5(col("text")).as("fp"))

  /** 64-bit Karp-Rabin rolling hash over the token stream (polynomial
    * base 31, wrap-around Long arithmetic) — cheap shift-resistant
    * fingerprint for chunk-level dedup. */
  def rollingFingerprint(documents: DataFrame): DataFrame = {
    val rk = udf { (text: String) =>
      var h = 0L
      text.split(' ').foreach { t => h = h * 1000003L + Dedup.fnv64(t) }
      h
    }
    documents.select(col("doc_id").cast("long").as("doc_id"),
      rk(col("text")).as("fp64"))
  }
}
