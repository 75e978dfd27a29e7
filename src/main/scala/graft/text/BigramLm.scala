package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained character-bigram language model — the cheapest member
  * of the statistical-LM quality family (CCNet filters on KenLM
  * perplexity; a char-bigram model is its alphabet²-sized stand-in that
  * needs no external artifact). Train = one distributed count pass;
  * the model is KB-scale driver state (like the IVF centroids and PQ
  * codebooks); score = one native map pass per row.
  *
  * Training counts OCCURRENCE bigrams (multiplicity preserved) over
  * the lowercased codepoint stream; P(c2|c1) = cnt(c1c2) / cnt(c1·)
  * where the prefix mass is summed from the bigram table itself, so
  * train and score agree on boundary handling (a doc's last character
  * opens no bigram).
  */
object BigramLm {

  /** Precomputed log2 P(c2|c1) per bigram key ((c1 << 32) | c2), plus
    * the unseen-bigram fallback log2(1 / (V + 1)).
    */
  final case class Model(
      logp: java.util.HashMap[java.lang.Long, java.lang.Double],
      fallback: Double,
      vocab: Int)

  private val Ln2 = math.log(2.0)

  /** Occurrence char bigrams of a char array as an array column: the
    * [[TextOps.wordNgramsSep]] kernel with an empty joiner, every
    * occurrence kept.
    */
  private[graft] def bigramsAll(chars: Column): Column =
    TextOps.wordNgramsSep(chars, 2, "", distinct = false)

  private[graft] def charsOf(text: Column): Column =
    array_remove(split(lower(text), ""), "")

  /** One distributed pass: explode occurrence bigrams, count per gram
    * (partial-aggregatable — the shuffle carries one row per distinct
    * gram per partition, not per occurrence), collect the alphabet²
    * table to the driver and derive log-probs. Deterministic for a
    * given corpus, so callers memoize per corpus dir.
    */
  def fit(docs: DataFrame, textCol: String): Model = {
    val grams = docs
      .select(explode(bigramsAll(charsOf(col(textCol)))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("cg"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val prefix = grams
      .groupBy { case (g, _) => g.codePointAt(0) }
      .map { case (c, rows) => c -> rows.map(_._2).sum }
    val m = new java.util.HashMap[java.lang.Long, java.lang.Double]()
    grams.foreach { case (g, cg) =>
      val c1 = g.codePointAt(0)
      val c2 = g.codePointAt(Character.charCount(c1))
      // identical division order to the DuckDB twin: cg::DOUBLE / cp
      val p = cg.toDouble / prefix(c1)
      m.put(java.lang.Long.valueOf((c1.toLong << 32) | c2.toLong),
        java.lang.Double.valueOf(math.log(p) / Ln2))
    }
    Model(m, math.log(1.0 / (grams.length + 1)) / Ln2, grams.length)
  }

  /** Mean bigram log2-probability per row — the native one-pass
    * [[graft.functions.BigramLogProb]], session-free wrap.
    */
  def score(text: Column, model: Model): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.BigramLogProb(
        org.apache.spark.sql.graft.ColumnBridge.expression(lower(text)),
        model.logp, model.fallback))
}
