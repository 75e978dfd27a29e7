package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for a training-data pipeline:
  * tokenization, n-grams, quality metrics, language-ID scoring, and a
  * rolling-hash fingerprint.
  *
  * Everything here is a pure `Column` expression built from
  * `functions._` and graft's native codegen'd expressions — no UDFs, so
  * every metric stays inside WholeStageCodegen and partial aggregation
  * at 100 TB. The reference's users would run these as external `-mapper`
  * scripts (one process per record stream, MultiPipeMapRed.java); here
  * they are columns you can stack in ONE pass over the corpus.
  */
object TextOps {

  /** Whitespace tokens of the lowercased text, empty strings dropped.
    * `array_remove(split(...))` instead of a higher-order `filter` lambda:
    * both are codegen'd, whereas higher-order functions fall back to
    * interpreted eval — and worse, any non-attribute argument expression
    * gets RE-EVALUATED on every lambda invocation (measured 50×
    * slowdown on the shingling path before this rewrite).
    */
  def tokens(text: Column): Column =
    array_remove(split(lower(text), "\\s+"), "")

  /** Overlapping token-window chunks (embedding/RAG prep): windows of
    * `chunkTokens` tokens advancing by `stride` (< chunkTokens ⇒
    * overlap), the HF `return_overflowing_tokens` convention — the last
    * chunk starts at the final stride step that still adds tokens, so
    * the doc is fully covered and every chunk is ≤ chunkTokens long.
    * Chunk count per doc: 1 + max(0, ⌈(len − chunkTokens)/stride⌉).
    *
    * A per-row expression over the token array — no explode until the
    * caller asks for chunk rows, so the corpus pass stays map-only.
    */
  def chunked(toks: Column, chunkTokens: Int, stride: Int): Column = {
    require(stride > 0 && chunkTokens >= stride,
      s"need 0 < stride <= chunkTokens; got chunk=$chunkTokens stride=$stride")
    val nExtra = greatest(lit(0),
      floor((size(toks) - chunkTokens + stride - 1) / stride).cast("int"))
    transform(sequence(lit(0), nExtra),
      i => array_join(slice(toks, i * stride + 1, lit(chunkTokens)), " "))
  }

  /** Word n-grams (each gram = n tokens joined by one space), distinct,
    * in first-occurrence order. One native pass per row, the
    * [[graft.functions.Ngrams]] kernel (see [[wordNgramsSep]]); a doc
    * with fewer than n tokens comes out empty, a null array null.
    */
  def wordNgrams(toks: Column, n: Int): Column =
    wordNgramsSep(toks, n, " ", distinct = true)

  /** Word n-grams WITH multiplicity (no dedup): the occurrence stream
    * repetition metrics need — `dup_frac` counts how often the SAME
    * gram recurs within one doc, which `wordNgrams`' dedup destroys.
    * Same kernel, every window kept.
    */
  def wordNgramsAll(toks: Column, n: Int): Column =
    wordNgramsSep(toks, n, " ", distinct = false)

  /** Character n-grams of the lowercased text, distinct — the same
    * kernel over the char array with an empty joiner (split("") leaves a
    * trailing empty string; remove it or the last gram comes out one
    * char short).
    */
  def charNgrams(text: Column, n: Int): Column =
    wordNgramsSep(array_remove(split(lower(text), ""), ""), n, "", distinct = true)

  /** The n-grams of an `array<string>` joined by `sep`, shared by the
    * word, char and bigram shingles: the native
    * [[graft.functions.Ngrams]] expression, wrapped directly into the
    * Column (ColumnBridge). It reads each element once and builds each
    * gram in one copy, codegen'd; a window holding a null element is
    * dropped, and `distinct` keeps each gram's first occurrence.
    */
  private[graft] def wordNgramsSep(arr: Column, n: Int, sep: String,
      distinct: Boolean): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.Ngrams(
        org.apache.spark.sql.graft.ColumnBridge.expression(arr), n, sep, distinct))

  /** BPE-pretokenizer-style segmentation count: letter runs, digit runs,
    * and single punctuation marks over the lowercased text (whitespace
    * separates, never counts). The alternation is deliberately kept to
    * constructs Java regex and RE2 treat identically, so the DuckDB
    * oracle can run the same pattern.
    */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(BpePattern), lit(0)))

  // ---- quality scoring -------------------------------------------------

  /** Tokens counted as stopwords — the synthetic corpus' function words;
    * swap the list per real corpus. Kept tiny so the SQL oracle can
    * mirror it verbatim.
    */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to")

  /** Ratio of stopword occurrences to tokens (0 for empty docs). */
  def stopwordRatio(toks: Column): Column = {
    val stops = size(filter(toks, t => t.isin(Stopwords.map(x => x: Any): _*)))
    when(size(toks) > lit(0),
      stops.cast("double") / size(toks).cast("double")).otherwise(lit(0.0))
  }

  /** Mean token length in characters (0 for empty docs). */
  def avgTokenLen(toks: Column): Column =
    when(size(toks) > lit(0),
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(toks).cast("double"))
      .otherwise(lit(0.0))

  /** Composite quality score in [0,1]: rewards length (saturating at 100
    * tokens), non-stopword density, and plausible mean token length.
    * The exact formula is mirrored in the DuckDB oracle — simple by
    * design; weights are the tunable part.
    */
  def qualityScore(toks: Column): Column = {
    val lenTerm = least(size(toks).cast("double") / lit(100.0), lit(1.0))
    val stopTerm = lit(1.0) - stopwordRatio(toks)
    val tokLenTerm = least(avgTokenLen(toks) / lit(8.0), lit(1.0))
    lit(0.4) * lenTerm + lit(0.3) * stopTerm + lit(0.3) * tokLenTerm
  }

  // ---- language ID -----------------------------------------------------

  /** Marker tokens per language (count marker occurrences, argmax,
    * ties broken by language code); canonical frozen table lives with
    * the native expression, the oracle runs the identical scoring in
    * SQL.
    */
  val LangMarkers: Seq[(String, Seq[String])] =
    graft.functions.LangMarkerBest.DefaultMarkers

  /** Marker-occurrence score for one language. */
  def langScore(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers.map(x => x: Any): _*)))

  /** Predicted language: argmax of marker scores, ties → smallest
    * language code — the `LangMarkerBest` native expression (one
    * codegen'd token pass scoring all marker sets at once), wrapped
    * directly into the Column (ColumnBridge) so no session needs the
    * function registered. A null token array scores all-zero in the
    * composable formulation and falls to the smallest language code —
    * the coalesce keeps that contract (the native expression, like any
    * UnaryExpression, is null-intolerant on its own).
    */
  def langPredict(toks: Column): Column = coalesce(
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.LangMarkerBest(
        org.apache.spark.sql.graft.ColumnBridge.expression(toks),
        graft.functions.LangMarkerBest.DefaultMarkers)),
    lit(LangMarkers.head._1))

  /** The composable formulation langPredict replaced: one higher-order
    * `filter()` per language (each an interpreted CodegenFallback array
    * pass — ~5 passes/row, the round-6 bench's hot spot on the 10×
    * documents table). Kept as the parity pin for the native
    * expression; not used in any query path.
    */
  def langPredictComposable(toks: Column): Column = {
    val scored = array(LangMarkers.map { case (lang, ms) =>
      struct((-langScore(toks, ms)).as("neg"), lit(lang).as("lang"))
    }: _*)
    array_sort(scored).getItem(0).getField("lang")
  }

  // ---- PII scrubbing ---------------------------------------------------

  /** Redaction patterns, applied IN ORDER (email first: its local part
    * would otherwise be half-eaten by the number rule). Alternations
    * stay within the regex subset Java and RE2 treat identically, so
    * the DuckDB oracle can run the same patterns.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+",
    "ipv4" -> "([0-9]{1,3}\\.){3}[0-9]{1,3}",
    "number" -> "[0-9]{3,}")

  val PiiToken = "<PII>"

  /** One redaction step (count on the CURRENT text, then replace) —
    * callers chain steps binding each intermediate to a column, so the
    * regex runs once per stage per row. Sequential semantics make the
    * counts well-defined: a digit run inside an email is counted as
    * email, never double-counted as number.
    */
  def redactStep(cur: Column, pattern: String): (Column, Column) =
    (regexp_count(cur, lit(pattern)), regexp_replace(cur, pattern, PiiToken))

  // ---- fingerprint -----------------------------------------------------

  /** Rolling polynomial hash over the normalized text (whitespace
    * collapsed, lowercased): h = (h*31 + codepoint) mod 1e9+7.
    * Deterministic across partitionings — it's a per-row expression,
    * not an aggregation.
    *
    * One native codegen'd pass (see [[graft.functions.PolyFingerprint]])
    * — the previous `aggregate(transform(split(...)))` chain re-split
    * the text per character (HOFs re-evaluate non-attribute arguments
    * per lambda call, the SURVEY §8 50× pitfall). The expression is
    * wrapped directly into the Column (ColumnBridge), so there is no
    * function-registry round-trip and no dependency on which session —
    * if any — is active when the Column is BUILT; the SQL-callable
    * `graft_fingerprint` registration remains for SQL users.
    */
  def fingerprint(text: Column): Column = {
    val norm = regexp_replace(trim(lower(text)), "\\s+", " ")
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.PolyFingerprint(
        org.apache.spark.sql.graft.ColumnBridge.expression(norm)))
  }

  /** Shannon entropy of the codepoint distribution, bits/char — the
    * native one-pass [[graft.functions.CharEntropy]] (milli-bit
    * quantized sum, so the value is accumulation-order-free and has an
    * exact DuckDB twin). Session-free wrap like [[fingerprint]].
    */
  def charEntropy(text: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.CharEntropy(
        org.apache.spark.sql.graft.ColumnBridge.expression(text)))

  /** Canonical text: Unicode NFC (native codegen expression — composed
    * and decomposed spellings of the same glyph otherwise split every
    * downstream dedup/shingle key) + casefold + whitespace collapse.
    * Matches DuckDB's
    * `regexp_replace(trim(nfc_normalize(lower(t))), '\s+', ' ', 'g')`.
    */
  def normalized(text: Column): Column =
    // expression wrapped directly (no registry, no active-session
    // dependency — the advisor's finding: building this Column under no
    // or a foreign active session failed analysis as unresolved)
    regexp_replace(trim(
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.NfcNormalize(
          org.apache.spark.sql.graft.ColumnBridge.expression(lower(text))))),
      "\\s+", " ")
}
