package graft.operators

import graft.functions.GraftFunctions.call
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Text analysis for training-data pipelines: token counting, quality
 * scoring, language id (marker-word heuristic), document fingerprinting.
 * All outputs are exact-integer or exact-int-derived doubles so a SQL
 * oracle reproduces them bit-exactly.
 */
object TextAnalysis {

  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in")

  /** Marker word sets per language (n-gram/stopword heuristic language id).
   * Deterministic argmax with fixed precedence order. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of"),
    "de" -> Seq("der", "die", "das", "und"),
    "es" -> Seq("el", "los", "que", "y"),
    "fr" -> Seq("le", "la", "les", "et"),
    "zh" -> Seq("de", "shi", "le", "wo"))

  private def inList(c: String, ws: Seq[String]) =
    ws.map(w => s"'$w'").mkString(s"$c IN (", ", ", ")")

  /** Token counting: whitespace words, characters, and a BPE-ish estimate
   * (max of word count and ceil(chars/4) — the public ~4-chars-per-token
   * rule of thumb). */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      size(split(col(textCol), " ")).as("n_words"),
      length(col(textCol)).cast("int").as("n_chars"),
      greatest(
        size(split(col(textCol), " ")),
        expr(s"CAST((length($textCol) + 3) DIV 4 AS INT)")).as("est_bpe_tokens"))

  /** Quality scoring: word/char stats, stopword ratio, composite score.
   * avg_word_len and ratios are single divisions of exact ints. */
  def qualityScores(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = docs
      .select(col(idCol), length(col(textCol)).cast("long").as("n_chars"), explode(split(col(textCol), " ")).as("w"))
    words
      .groupBy(col(idCol), col("n_chars"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(when(expr(inList("w", Stopwords)), 1L).otherwise(0L)).as("stopword_cnt"),
        countDistinct(col("w")).as("n_distinct_words"))
      .select(
        col(idCol),
        col("n_words"),
        col("n_chars"),
        col("stopword_cnt"),
        // chars minus the (n_words - 1) separating spaces, over words
        ((col("n_chars") - (col("n_words") - 1)).cast("double") /
          col("n_words").cast("double")).as("avg_word_len"),
        (col("stopword_cnt").cast("double") / col("n_words").cast("double"))
          .as("stopword_ratio"),
        (col("n_distinct_words").cast("double") / col("n_words").cast("double"))
          .as("distinct_ratio"))
  }

  /** Language id: marker-word counts per language; argmax with the fixed
   * precedence order of [[LangMarkers]] on ties. */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = docs.select(col(idCol), explode(split(col(textCol), " ")).as("w"))
    val cnts = LangMarkers.map { case (lang, ms) =>
      sum(when(expr(inList("w", ms)), 1L).otherwise(0L)).as(s"cnt_$lang")
    }
    val counted = words.groupBy(col(idCol)).agg(cnts.head, cnts.tail: _*)
    // deterministic argmax: first language in precedence order with the max
    val best = LangMarkers.foldRight(lit("und")) { case ((lang, _), acc) =>
      when(
        col(s"cnt_$lang") > 0 &&
          col(s"cnt_$lang") === greatest(LangMarkers.map(l => col(s"cnt_${l._1}")): _*),
        lit(lang)).otherwise(acc)
    }
    counted.select(
      (col(idCol) +: LangMarkers.map(l => col(s"cnt_${l._1}"))) :+ best.as("pred_lang"): _*)
  }

  /** Repetition signals (the Gopher quality-filter family, Rae et al.
   * 2021 §A1.1, adapted to word coverage): per document and n-gram order
   * n — `slots_n` (n-gram occurrences), `top_cnt_n` (occurrences of the
   * most frequent n-gram), `dup_cnt_n` (occurrences whose n-gram repeats),
   * and the derived fractions. Computed per row by the `ngram_rep_stats`
   * kernel — no explode, no shuffle: at 100 TB this is a pure map over
   * the document scan. Fractions are single int/int divisions (exact on
   * both engines); empty slot sets yield 0.0. */
  def repetitionScores(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    val base = docs.select(
      col(idCol) +: ns.map(n =>
        call("ngram_rep_stats", col(textCol).cast("string"), lit(n))
          .as(s"s$n")): _*)
    val outCols = col(idCol) +: ns.flatMap { n =>
      val s = col(s"s$n")
      val slots = s.getItem(0)
      val top = s.getItem(1)
      val dup = s.getItem(2)
      Seq(
        slots.as(s"slots_$n"),
        top.as(s"top_cnt_$n"),
        dup.as(s"dup_cnt_$n"),
        when(slots > 0, top.cast("double") / slots.cast("double"))
          .otherwise(lit(0.0))
          .as(s"top_frac_$n"),
        when(slots > 0, dup.cast("double") / slots.cast("double"))
          .otherwise(lit(0.0))
          .as(s"dup_frac_$n"))
    }
    base.select(outCols: _*)
  }

  /** The composed curation verdict — the Gopher/C4-style quality filter
   * chain as one query: length, stopword, lexical-diversity, repetition,
   * and language gates, each surfaced as its own boolean column plus the
   * conjunction `keep`. Thresholds are the public Gopher-class defaults
   * adapted to word coverage; every input signal is one of this file's
   * oracle-checked ops, so the verdict itself is SQL-reproducible.
   *
   * Scale shape: the repetition signals are row-local kernels on the
   * document scan; the word-level signals share one explode + groupBy
   * keyed by doc; the final join is doc-keyed (co-partitioned with the
   * groupBy output — a single shuffle chain, no broadcast needed). */
  def curationVerdict(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Int = 20,
      maxStopwordRatio: Double = 0.5,
      minDistinctRatio: Double = 0.3,
      maxTopBigramFrac: Double = 0.2,
      maxDupTrigramFrac: Double = 0.2): DataFrame = {
    val quality = qualityScores(docs, idCol, textCol)
      .select(idCol, "n_words", "stopword_ratio", "distinct_ratio")
    val rep = repetitionScores(docs, idCol, textCol)
      .select(idCol, "top_frac_2", "dup_frac_3")
    quality
      .join(rep, Seq(idCol))
      .select(
        col(idCol),
        (col("n_words") >= minWords).as("len_ok"),
        (col("stopword_ratio") <= maxStopwordRatio).as("stopword_ok"),
        (col("distinct_ratio") >= minDistinctRatio).as("diversity_ok"),
        (col("top_frac_2") <= maxTopBigramFrac).as("rep_bigram_ok"),
        (col("dup_frac_3") <= maxDupTrigramFrac).as("rep_trigram_ok"))
      .withColumn(
        "keep",
        col("len_ok") && col("stopword_ok") && col("diversity_ok") &&
          col("rep_bigram_ok") && col("rep_trigram_ok"))
  }

  /** Unigram language-model quality score — the CCNet-style perplexity
   * filter reduced to its SQL-exact core: an add-1-smoothed unigram LM is
   * fit on the corpus itself, and each document is scored by its total
   * and mean negative log-likelihood under it (low mean NLL = typical
   * text, high = junk/outlier vocabulary — the standard LM-quality
   * ranking signal for pretraining curation).
   *
   * Exactness discipline: per-word-occurrence NLL is fixed-pointed as
   * `FLOOR(-ln((c_w + 1) / (N + V)) * 1e9)` nano-nats in BIGINT — ln is
   * bit-identical JVM vs DuckDB libm on the verified host (the q_eval_nll
   * precedent), FLOOR is engine-agnostic, and the per-doc SUM is integer,
   * so the score is order-independent and hash-exact; `avg_nll` is the
   * fixed double derivation `sum / 1e9 / n`.
   *
   * Scale shape: the corpus text is exploded and shuffled ONCE, into
   * per-(doc, word) occurrence counts — every downstream frame is
   * bounded by distinct (doc, word) pairs or vocabulary, never raw
   * occurrences, and both consumers of that frame share one canonical
   * subplan so the exchange is reused, not recomputed. The corpus totals
   * (N, V) are a 1-row aggregate broadcast via a literal equi-key (never
   * a cross join); the word-count table is vocabulary-sized (GBs at web
   * scale — a shuffle join, exactly what Spark picks); the final groupBy
   * is doc-keyed. Nothing here is driver-side. */
  /** ONE corpus-sized explode+shuffle: (doc, word) occurrence counts —
   * the shared tokenization contract (space split, empty words
   * preserved) for every word-statistics operator; downstream frames
   * built from it are (doc, word)- or vocab-bounded and share its
   * exchange within a query. */
  private def docWordCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      countName: String): DataFrame =
    docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .groupBy(col(idCol), col("w"))
      .agg(count(lit(1)).as(countName))

  def unigramLogLoss(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val dw = docWordCounts(docs, idCol, textCol, "dw_cnt")
    val counts = dw.groupBy(col("w")).agg(sum(col("dw_cnt")).as("cw"))
    val totals = counts
      .agg(
        sum(col("cw")).cast("long").as("n_total"),
        count(lit(1)).as("v_distinct"))
      .withColumn("_j", lit(1))
    val nll = counts
      .withColumn("_j", lit(1))
      .join(broadcast(totals), Seq("_j"))
      .select(
        col("w"),
        expr(
          "CAST(FLOOR(-LN(CAST(cw + 1 AS DOUBLE) / CAST(n_total + v_distinct AS DOUBLE)) * 1e9) AS BIGINT)")
          .as("nll_nano"))
    dw
      .join(nll, Seq("w")) // self-trained: every corpus word is in-vocab
      .groupBy(col(idCol))
      .agg(
        sum(col("dw_cnt")).as("n_words"),
        sum(col("dw_cnt") * col("nll_nano")).as("nll_nano_sum"))
      .withColumn(
        "avg_nll",
        expr("CAST(nll_nano_sum AS DOUBLE) / 1e9 / CAST(n_words AS DOUBLE)"))
  }

  /** Top-k keywords per document by exact fixed-point tf-idf: term
   * frequency from the one per-(doc, word) count pass (the
   * [[unigramLogLoss]] shape — corpus exploded and shuffled once,
   * exchange reused), document frequency from its vocab-sized rollup,
   * idf as FLOOR(ln(N / df) x 1e9) nano-nats (ln bit-identical JVM vs
   * DuckDB libm — the engine's verified-host discipline), score
   * tf x idf_nano in BIGINT, and a deterministic per-doc rank (score
   * desc, word asc on ties) keeping `k`. Corpus-wide N rides a 1-row
   * broadcast via a literal equi-key. Shuffles: the (doc, word) count,
   * its vocab rollup, the word-keyed join, and the doc-keyed rank — each
   * bounded by distinct pairs / vocab, never raw occurrences. */
  def tfIdfKeywords(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val dw = docWordCounts(docs, idCol, textCol, "tf")
    val dfreq = dw.groupBy(col("w")).agg(count(lit(1)).as("df"))
    // corpus size from the already-shuffled (doc, word) frame, NOT a
    // second documents scan: split always yields >= 1 element, so every
    // doc appears in dw and countDistinct(id) == count(*) of documents
    val nDocs = dw
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .withColumn("_j", lit(1))
    val rank = Window
      .partitionBy(col(idCol))
      .orderBy(col("tfidf_nano").desc, col("w").asc)
    dw
      .join(dfreq, Seq("w"))
      .withColumn("_j", lit(1))
      .join(broadcast(nDocs), Seq("_j"))
      .withColumn(
        "tfidf_nano",
        expr(
          "tf * CAST(FLOOR(LN(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) * 1e9) AS BIGINT)"))
      .withColumn("rank", row_number().over(rank))
      .filter(col("rank") <= k)
      .select(col(idCol), col("w"), col("tf"), col("df"), col("tfidf_nano"), col("rank"))
  }

  /** Document fingerprint: position-weighted rolling hash over words —
   * fp = sum_i ascii(first char of w_i) * ((i*31 + 7) mod 97), mod 1e9+7
   * (1-based i). Pure integer arithmetic, reproducible in any engine. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), posexplode(split(col(textCol), " ")).as(Seq("p", "w")))
      .groupBy(col(idCol))
      .agg(
        (sum(
          ascii(col("w")).cast("long") * (((col("p") + 1) * 31 + 7) % 97)) % 1000000007L)
          .as("fingerprint"),
        count(lit(1)).as("n_words"))
}
