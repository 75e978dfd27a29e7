package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.Decontaminate
import graft.ops.{ShuffleShard, SourceMixture}
import graft.text.TextOps
import graft.util.Tables

/** Training-data curation operators beyond the reference's surface —
  * the filters every large-scale corpus pipeline runs between raw text
  * and the tokenizer: PII redaction, heuristic quality rules
  * (C4/Gopher-style), benchmark decontamination, and deterministic
  * stratified sampling. All per-row expressions or uniform-key
  * aggregations; every query has a DuckDB oracle.
  */
object CurationQueries {

  /** Sum of `c` over the rows before this one in `w` (0 for the first). */
  private def sumBefore(c: Column,
      w: org.apache.spark.sql.expressions.WindowSpec): Column =
    coalesce(sum(c).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))

  private def round4(c: Column): Column =
    floor(c * 10000 + 0.5).cast("double") / 10000

  /** PII redaction with per-pattern counts. The corpus is synthetic and
    * PII-free, so the query INJECTS deterministic synthetic PII
    * (email + IPv4 + long number derived from doc_id) and the oracle
    * replays the same injection — the machinery under test is the
    * sequential count+redact chain, each stage bound to a column so
    * each regex runs once per row per stage.
    */
  def textPiiScrub(s: SparkSession, dir: String): DataFrame = {
    val injected = Tables(s, dir).documents
      .select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com from 10.0."),
          pmod(col("doc_id"), lit(256)), lit("."),
          pmod(col("doc_id") * 7, lit(256)),
          lit(" ref "), col("doc_id") * 1009).as("t0"))
    val staged = TextOps.PiiPatterns.zipWithIndex
      .foldLeft(injected) { case (df, ((name, pat), i)) =>
        val (cnt, red) = TextOps.redactStep(col(s"t$i"), pat)
        df.withColumn(s"n_$name", cnt).withColumn(s"t${i + 1}", red)
      }
    val tFinal = s"t${TextOps.PiiPatterns.size}"
    staged.select(col("doc_id"),
        col("n_email"), col("n_ipv4"), col("n_number"),
        length(col(tFinal)).as("len_clean"))
      .orderBy(col("doc_id"))
  }

  val textPiiScrubSql: String = {
    val Seq(email, ipv4, number) = TextOps.PiiPatterns.map(_._2).toSeq
    s"""SELECT doc_id, n_email, n_ipv4, n_number,
       |  length(regexp_replace(t3, '$number', '<PII>', 'g')) AS len_clean
       |FROM (
       |  SELECT doc_id, n_email, n_ipv4,
       |    len(regexp_extract_all(t3, '$number')) AS n_number, t3
       |  FROM (
       |    SELECT doc_id, n_email,
       |      len(regexp_extract_all(t2, '$ipv4')) AS n_ipv4,
       |      regexp_replace(t2, '$ipv4', '<PII>', 'g') AS t3
       |    FROM (
       |      SELECT doc_id,
       |        len(regexp_extract_all(t1, '$email')) AS n_email,
       |        regexp_replace(t1, '$email', '<PII>', 'g') AS t2
       |      FROM (
       |        SELECT doc_id,
       |          text || ' contact user' || doc_id || '@example.com from 10.0.'
       |            || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
       |            || ' ref ' || (doc_id * 1009) AS t1
       |        FROM documents))))
       |ORDER BY doc_id""".stripMargin
  }

  /** Gopher/C4-style heuristic quality rules, all from ONE exploded
    * token aggregation (plus a per-row symbol scan): token count, mean
    * token length (Σ cnt·len / Σ cnt), top-token dominance, symbol
    * ratio, and the resulting keep flag. The (doc_id, token) groupBy
    * keys are uniform; everything partial-aggregates.
    */
  def textQualityRules(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val tokStats = docs
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_toks"),
        (sum(col("cnt") * length(col("tok"))).cast("double") /
          sum(col("cnt")).cast("double")).as("mean_len"),
        (max(col("cnt")).cast("double") /
          sum(col("cnt")).cast("double")).as("top_ratio"))
    val symbol = docs.select(col("doc_id"),
      (length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", ""))
        .cast("double") / length(col("text")).cast("double")).as("symbol_ratio"))
    tokStats.join(symbol, "doc_id")
      .select(col("doc_id"), col("n_toks"),
        round4(col("mean_len")).as("mean_len"),
        round4(col("top_ratio")).as("top_ratio"),
        round4(col("symbol_ratio")).as("symbol_ratio"),
        (col("n_toks") >= 10 && col("n_toks") <= 100000 &&
          col("mean_len") >= 2.0 && col("mean_len") <= 12.0 &&
          col("top_ratio") <= 0.2 && col("symbol_ratio") <= 0.1).as("keep"))
      .orderBy(col("doc_id"))
  }

  val textQualityRulesSql: String =
    """SELECT doc_id, n_toks,
      |  floor(mean_len * 10000 + 0.5) / 10000 AS mean_len,
      |  floor(top_ratio * 10000 + 0.5) / 10000 AS top_ratio,
      |  floor(symbol_ratio * 10000 + 0.5) / 10000 AS symbol_ratio,
      |  (n_toks >= 10 AND n_toks <= 100000
      |    AND mean_len >= 2.0 AND mean_len <= 12.0
      |    AND top_ratio <= 0.2 AND symbol_ratio <= 0.1) AS keep
      |FROM (
      |  SELECT t.doc_id, t.n_toks, t.mean_len, t.top_ratio, d.symbol_ratio
      |  FROM (
      |    SELECT doc_id, sum(cnt)::BIGINT AS n_toks,
      |      sum(cnt * length(tok))::DOUBLE / sum(cnt) AS mean_len,
      |      max(cnt)::DOUBLE / sum(cnt) AS top_ratio
      |    FROM (
      |      SELECT doc_id, tok, count(*) AS cnt FROM (
      |        SELECT doc_id,
      |          unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |                             x -> x <> '')) AS tok
      |        FROM documents)
      |      GROUP BY doc_id, tok)
      |    GROUP BY doc_id) t
      |  JOIN (
      |    SELECT doc_id,
      |      length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g'))::DOUBLE
      |        / length(text) AS symbol_ratio
      |    FROM documents) d USING (doc_id))
      |ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination: corpus docs (doc_id % 25 ≠ 0) sharing
    * ≥ 5 distinct word trigrams with the synthetic holdout
    * (doc_id % 25 = 0) — near-dup partners of held-out docs surface
    * with large overlaps, background collisions sit at the threshold.
    */
  def dedupDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    Decontaminate.overlap(
        docs.filter(pmod(col("doc_id"), lit(25)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(25)) === 0),
        "doc_id", "text", n = 3, minShared = 5)
      .orderBy(col("doc_id"))
  }

  val dedupDecontaminateSql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct([array_to_string(toks[i:i+2], ' ')
      |                   FOR i IN range(1, len(toks) - 1)]) AS sh
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(lower(text), '\s+'),
      |                      x -> x <> '') AS toks
      |        FROM documents)
      |  WHERE len(toks) >= 3),
      |hold AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 25 = 0),
      |corp AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 25 <> 0)
      |SELECT doc_id, n_shared FROM (
      |  SELECT c.doc_id, count(*)::BIGINT AS n_shared
      |  FROM corp c JOIN hold h USING (g)
      |  GROUP BY c.doc_id)
      |WHERE n_shared >= 5
      |ORDER BY doc_id""".stripMargin

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis,
    * IPL 2006): each doc draws key = ln(u)/w with u uniform in (0,1]
    * and w its weight (n_chars — longer docs proportionally likelier),
    * and the top-k keys ARE a weighted sample without replacement.
    * The u is a seeded md5 hash, not an RNG — reproducible across
    * runs, partitionings, and engines — and the key is quantized to
    * integer MICRO-units (ties broken by doc_id) so the rank can never
    * flip on a last-ulp ln() difference between engines. One map pass
    * + one top-k (TakeOrderedAndProject — no global sort); the
    * one-pass-stream property of E-S is exactly what makes the
    * operator a single scan at 100 TB.
    */
  private val WeightedSeed = 77L
  private val WeightedK = 100

  def sampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val u01 = (ShuffleShard.hashKey(col("doc_id"), WeightedSeed) + 1L)
      .cast("double") / 4294967297.0 // (0, 1]: hash in [0, 2^32), +1, / (2^32+1)
    val keyMicro = floor(log(u01) / col("n_chars").cast("double")
      * lit(1000000.0) + lit(0.5))
    Tables(s, dir).documents
      .select(col("doc_id"), col("n_chars"), keyMicro.as("key_micro"))
      .orderBy(col("key_micro").desc, col("doc_id"))
      .limit(WeightedK)
      .select(col("doc_id"), col("n_chars"), col("key_micro"))
  }

  val sampleWeightedSql: String =
    s"""SELECT doc_id, n_chars, key_micro FROM (
       |  SELECT doc_id, n_chars,
       |    floor(ln((('0x' || substr(md5(doc_id::VARCHAR || ':$WeightedSeed'),
       |                       1, 8))::BIGINT + 1)::DOUBLE / 4294967297.0)
       |          / n_chars::DOUBLE * 1000000.0 + 0.5)::BIGINT AS key_micro
       |  FROM documents)
       |ORDER BY key_micro DESC, doc_id
       |LIMIT $WeightedK""".stripMargin

  /** Deterministic stratified sampling: k docs per language, selected
    * by Knuth multiplicative hash order — reproducible across runs,
    * partitionings and engines (no RNG state). `row_number ≤ k` over
    * the window compiles to WindowGroupLimit: each task keeps only its
    * local top-k per stratum BEFORE the exchange, so the shuffle
    * carries O(strata · k) rows per task, not the corpus.
    */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val h = pmod(col("doc_id") * lit(2654435761L), lit(4294967296L))
    Tables(s, dir).documents
      .select(col("lang"), col("doc_id"), h.as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))))
      .filter(col("rk") <= 20)
      .select(col("lang"), col("rk"), col("doc_id"))
      .orderBy(col("lang"), col("rk"))
  }

  val sampleStratifiedSql: String =
    """SELECT lang, rk, doc_id FROM (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 20
      |ORDER BY lang, rk""".stripMargin

  /** Sequence packing, concat-and-chunk style (the GPT training-data
    * layout: concatenate every doc's tokens per stratum, cut every
    * `Capacity` tokens): each doc is assigned to the chunk containing
    * its START offset — a pure prefix-sum, so the whole packing is one
    * window cumsum + one aggregation, no sequential bin state. Output:
    * per (lang, chunk) doc count and token count.
    */
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    val Capacity = 512
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
    Tables(s, dir).documents
      .select(col("lang"), col("doc_id"),
        size(TextOps.tokens(col("text"))).as("n_toks"))
      .withColumn("cum", sum(col("n_toks")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("chunk",
        floor((col("cum") - col("n_toks")) / Capacity).cast("long"))
      .groupBy(col("lang"), col("chunk"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .orderBy(col("lang"), col("chunk"))
  }

  val packSequencesSql: String =
    """SELECT lang, chunk, count(*) AS n_docs, sum(n_toks)::BIGINT AS n_tokens
      |FROM (
      |  SELECT lang, doc_id, n_toks,
      |    ((sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
      |                        ROWS UNBOUNDED PRECEDING) - n_toks)
      |     // 512)::BIGINT AS chunk
      |  FROM (
      |    SELECT lang, doc_id,
      |      len(list_filter(string_split_regex(lower(text), '\s+'),
      |                      x -> x <> '')) AS n_toks
      |    FROM documents))
      |GROUP BY lang, chunk
      |ORDER BY lang, chunk""".stripMargin

  private val PackSeed = 7L
  private val PackBlock = 512
  private val PackShards = 32L

  /** GLOBAL concat-then-chunk packing — the exact GPT pretraining
    * layout pack_sequences only approximates per-stratum: docs are
    * shuffled into ONE deterministic global order (sample_shard's
    * seeded md5 key), every doc contributes n_toks + 1 positions (the
    * trailing EOS), and the resulting token stream is cut into fixed
    * 512-position training blocks that freely cross document
    * boundaries. Per doc the query reports its stream offset and the
    * block span it lands in — the record a block-indexed loader needs.
    *
    * The global prefix sum is the scale hazard: a window over the full
    * corpus order plans a SinglePartition exchange. Decomposition
    * (same spirit as mix_curriculum_bounds): the md5 key is uniform on
    * [0, 2³²), so range-sharding its high bits keeps the global
    * (k, doc_id) order CONTIGUOUS across shards — offset = (sum of the
    * shards strictly below, a PackShards-row broadcast frame) + (the
    * cumsum within this shard, a window parallel across shards). No
    * doc-scale single-partition exchange anywhere; parity with the
    * naive global window is spec-pinned and the DuckDB oracle computes
    * the straightforward global cumsum.
    */
  def packConcat(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
      .select(col("doc_id"),
        ShuffleShard.hashKey(col("doc_id"), PackSeed).as("k"),
        (size(TextOps.tokens(col("text"))) + 1).cast("long").as("cost"))
    val sharded = docs.withColumn("shard",
      floor(col("k") / lit(4294967296L / PackShards)).cast("long"))
    val w = Window.partitionBy(col("shard")).orderBy(col("k"), col("doc_id"))
    val local = sharded.withColumn("local_cum", sumBefore(col("cost"), w))
    val bases = sharded.groupBy(col("shard"))
      .agg(sum(col("cost")).as("tot"))
      .withColumn("base", sumBefore(col("tot"), Window.orderBy(col("shard"))))
      .select(col("shard"), col("base"))
    local.join(broadcast(bases), "shard")
      .withColumn("start_off", col("base") + col("local_cum"))
      .select(col("doc_id"), (col("cost") - 1).as("n_toks"), col("start_off"),
        floor(col("start_off") / PackBlock).cast("long").as("first_block"),
        floor((col("start_off") + col("cost") - 1) / PackBlock).cast("long")
          .as("last_block"))
      .withColumn("n_blocks", col("last_block") - col("first_block") + 1)
      .orderBy(col("doc_id"))
  }

  val packConcatSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':$PackSeed'), 1, 8))::BIGINT
       |      AS k,
       |    len(list_filter(string_split_regex(lower(text), '\\s+'),
       |                    x -> x <> '')) + 1 AS cost
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, cost,
       |    (sum(cost) OVER (ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING)
       |      - cost) AS start_off
       |  FROM t)
       |SELECT doc_id, (cost - 1)::BIGINT AS n_toks, start_off::BIGINT
       |    AS start_off,
       |  (start_off // $PackBlock)::BIGINT AS first_block,
       |  ((start_off + cost - 1) // $PackBlock)::BIGINT AS last_block,
       |  ((start_off + cost - 1) // $PackBlock - start_off // $PackBlock
       |    + 1)::BIGINT AS n_blocks
       |FROM o ORDER BY doc_id""".stripMargin

  /** Data selection under a token budget — the "cut this corpus to N
    * tokens, best first" step between scoring and export: docs ordered
    * by quality (entropy here — the corpus is synthetic word soup, so
    * the oracle-exact quantized entropy stands in for whatever model
    * score production uses) and kept greedily while they still fit the
    * budget (half the corpus's tokens, computed in-plan and broadcast).
    * The cumulative token count over the global quality order is the
    * scale hazard; it decomposes like q_gini's rank: tokens in strictly
    * better score values come from a cumulative over the BOUNDED score
    * histogram (quantized entropy has ≤ ~2·10⁵ possible values — the
    * domain, not the corpus, bounds it), the within-value cumsum from a
    * window parallel across values. A doc is kept iff it fits ENTIRELY
    * (cum_before + n_toks ≤ budget) — no partial docs, matching how a
    * training-data cut actually ships.
    */
  def mixTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_toks"),
        floor(TextOps.charEntropy(col("text")) * 10000 + 0.5).cast("long")
          .as("sq"))
    val budget = docs.agg(
      floor(sum(col("n_toks")) / 2).cast("long").as("budget"))
    val hist = docs.groupBy(col("sq")).agg(sum(col("n_toks")).as("tv"))
      .withColumn("cum_better",
        sumBefore(col("tv"), Window.orderBy(col("sq").desc)))
      .select(col("sq").as("h_sq"), col("cum_better"))
    docs.join(broadcast(hist), col("sq") === col("h_sq"))
      .withColumn("cum_within", sumBefore(col("n_toks"),
        Window.partitionBy(col("sq")).orderBy(col("doc_id"))))
      .withColumn("cum_before", col("cum_better") + col("cum_within"))
      .crossJoin(broadcast(budget))
      .filter(col("cum_before") + col("n_toks") <= col("budget"))
      .select(col("doc_id"), col("n_toks"),
        (col("sq").cast("double") / 10000).as("score"), col("cum_before"))
      .orderBy(col("doc_id"))
  }

  val mixTokenBudgetSql: String =
    """WITH e AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS ch
      |  FROM documents WHERE length(text) > 0),
      |c AS (
      |  SELECT doc_id, ch, count(*) AS cnt FROM e GROUP BY doc_id, ch),
      |nn AS (SELECT doc_id, sum(cnt) AS n FROM c GROUP BY doc_id),
      |t AS (
      |  SELECT c.doc_id,
      |    floor(cnt * log2(nn.n / cnt::DOUBLE) * 1000.0 + 0.5)::BIGINT
      |      AS milli
      |  FROM c JOIN nn USING (doc_id)),
      |h AS (
      |  SELECT t.doc_id,
      |    sum(t.milli)::DOUBLE / (max(nn.n) * 1000.0) AS ent
      |  FROM t JOIN nn USING (doc_id) GROUP BY t.doc_id),
      |d AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split_regex(lower(text), '\s+'),
      |                    x -> x <> ''))::BIGINT AS n_toks,
      |    floor(coalesce(h.ent, 0.0) * 10000 + 0.5)::BIGINT AS sq
      |  FROM documents LEFT JOIN h USING (doc_id)),
      |o AS (
      |  SELECT doc_id, n_toks, sq,
      |    (sum(n_toks) OVER (ORDER BY sq DESC, doc_id
      |                       ROWS UNBOUNDED PRECEDING) - n_toks)
      |      AS cum_before
      |  FROM d),
      |b AS (SELECT sum(n_toks) // 2 AS budget FROM d)
      |SELECT doc_id, n_toks, sq::DOUBLE / 10000 AS score,
      |  cum_before::BIGINT AS cum_before
      |FROM o, b
      |WHERE cum_before + n_toks <= budget
      |ORDER BY doc_id""".stripMargin

  /** Per-source corpus report card — the one-page summary a data lead
    * reads before deciding source mix weights: per source, volume
    * (docs/tokens/chars), exact-duplicate mass (normKey classes WITHIN
    * the source — cross-source overlap is dedup_source_matrix's job),
    * and mean quantized entropy (the quality proxy). One pass computes
    * the per-doc signals map-side (tokens, entropy — both native or
    * codegen'd), then two aggregations: (source, normKey) → class
    * sizes → per-source dup mass, and the per-source moment rollup;
    * the join between them is |sources|-scale. Every float is
    * fixed-point floored identically in the oracle.
    */
  def qSourceQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
      .select(col("source"), col("n_chars"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_toks"),
        floor(TextOps.charEntropy(col("text")) * 10000 + 0.5).cast("long")
          .as("eq"),
        graft.dedup.Dedup.normKey(col("text")).as("k"))
    val dup = docs.groupBy(col("source"), col("k"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(sum(when(col("cnt") > 1, col("cnt")).otherwise(0L))
        .as("dup_docs"))
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars_total"), sum(col("eq")).as("sum_eq"))
      .join(dup, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round4(col("n_chars_total").cast("double") / col("n_docs"))
          .as("mean_chars"),
        round4(col("sum_eq").cast("double") / col("n_docs") / 10000)
          .as("mean_entropy"),
        round4(col("dup_docs").cast("double") / col("n_docs"))
          .as("dup_frac"))
      .orderBy(col("source"))
  }

  val qSourceQualitySql: String =
    s"""WITH e AS (
       |  SELECT doc_id, unnest(string_split(text, '')) AS ch
       |  FROM documents WHERE length(text) > 0),
       |c AS (
       |  SELECT doc_id, ch, count(*) AS cnt FROM e GROUP BY doc_id, ch),
       |nn AS (SELECT doc_id, sum(cnt) AS n FROM c GROUP BY doc_id),
       |t AS (
       |  SELECT c.doc_id,
       |    floor(cnt * log2(nn.n / cnt::DOUBLE) * 1000.0 + 0.5)::BIGINT
       |      AS milli
       |  FROM c JOIN nn USING (doc_id)),
       |h AS (
       |  SELECT t.doc_id,
       |    sum(t.milli)::DOUBLE / (max(nn.n) * 1000.0) AS ent
       |  FROM t JOIN nn USING (doc_id) GROUP BY t.doc_id),
       |d AS (
       |  SELECT source, doc_id, n_chars,
       |    len(list_filter(string_split_regex(lower(text), '\\s+'),
       |                    x -> x <> ''))::BIGINT AS n_toks,
       |    floor(coalesce(h.ent, 0.0) * 10000 + 0.5)::BIGINT AS eq,
       |    ${DedupQueries.normKeySql} AS k
       |  FROM documents LEFT JOIN h USING (doc_id)),
       |dup AS (
       |  SELECT source,
       |    sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::BIGINT AS dup_docs
       |  FROM (SELECT source, k, count(*) AS cnt FROM d GROUP BY source, k)
       |  GROUP BY source)
       |SELECT d.source, count(*) AS n_docs, sum(n_toks)::BIGINT AS n_tokens,
       |  floor(sum(n_chars)::DOUBLE / count(*) * 10000 + 0.5) / 10000
       |    AS mean_chars,
       |  floor(sum(eq)::DOUBLE / count(*) / 10000 * 10000 + 0.5) / 10000
       |    AS mean_entropy,
       |  floor(max(dup.dup_docs)::DOUBLE / count(*) * 10000 + 0.5) / 10000
       |    AS dup_frac
       |FROM d JOIN dup ON d.source = dup.source
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  /** Symmetric int8 quantization of the embedding column with
    * per-vector scale (max|x| / 127) and exact reconstruction-error
    * accounting, reported per label. The scale is one native array pass
    * per row (attribute argument); the error sum rides a posexplode →
    * partial-aggregatable avg. All arithmetic is the same IEEE double
    * sequence in both engines, so the oracle matches bit-for-bit after
    * the fixed-point floor rounding.
    */
  def embQuantize(s: SparkSession, dir: String): DataFrame = {
    val scale = (array_max(transform(col("embedding"), x => abs(x)))
      .cast("double") / 127.0).as("scale")
    Tables(s, dir).embeddings
      .select(col("label"), col("vec_id"), scale, col("embedding"))
      .select(col("label"), col("scale"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("xd", col("x").cast("double"))
      .withColumn("q",
        when(col("scale") > 0, floor(col("xd") / col("scale") + 0.5))
          .otherwise(lit(0.0)))
      .withColumn("resid", col("xd") - col("q") * col("scale"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_values"),
        round4(avg(col("scale")) * 1000).as("avg_scale_e3"),
        round4(avg(col("resid") * col("resid")) * 1000000).as("mse_e6"),
        max(abs(col("q"))).cast("long").as("max_q"))
      .orderBy(col("label"))
  }

  val embQuantizeSql: String =
    """SELECT label, count(*) AS n_values,
      |  floor(avg(scale) * 1000 * 10000 + 0.5) / 10000 AS avg_scale_e3,
      |  floor(avg(resid * resid) * 1000000 * 10000 + 0.5) / 10000 AS mse_e6,
      |  max(abs(q))::BIGINT AS max_q
      |FROM (
      |  SELECT label, scale, xd,
      |    CASE WHEN scale > 0 THEN floor(xd / scale + 0.5) ELSE 0.0 END AS q,
      |    xd - (CASE WHEN scale > 0 THEN floor(xd / scale + 0.5) ELSE 0.0 END)
      |      * scale AS resid
      |  FROM (
      |    SELECT label,
      |      list_max(list_transform(embedding, x -> abs(x)))::DOUBLE / 127.0
      |        AS scale,
      |      unnest(embedding)::DOUBLE AS xd
      |    FROM embeddings))
      |GROUP BY label
      |ORDER BY label""".stripMargin

  private val ShardSeed = 42L
  private val NShards = 16

  /** Deterministic training-data shuffle + shard audit: seeded md5-prefix
    * key → order-by-hash shuffle, key mod N → shard. The query reports
    * per-shard membership stats (count / chars / key range / key sum) so
    * the oracle pins BOTH the hash function and the shard routing; the
    * physical export (repartition + sortWithinPartitions + partitionBy)
    * is spec-tested on real files.
    */
  def sampleShard(s: SparkSession, dir: String): DataFrame =
    ShuffleShard.assign(Tables(s, dir).documents, "doc_id", ShardSeed, NShards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("shuffle_key")).as("min_key"),
        max(col("shuffle_key")).as("max_key"),
        sum(col("shuffle_key")).as("sum_key"))
      .orderBy(col("shard"))

  val sampleShardSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, n_chars,
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':$ShardSeed'), 1, 8))::BIGINT
       |      AS k
       |  FROM documents)
       |SELECT k % $NShards AS shard, count(*) AS n_docs,
       |  sum(n_chars)::BIGINT AS sum_chars,
       |  min(k) AS min_key, max(k) AS max_key, sum(k)::BIGINT AS sum_key
       |FROM h GROUP BY 1 ORDER BY 1""".stripMargin

  /** Dataset-publication manifest — the "release a snapshot" step: the
    * same seeded md5 shard assignment as sample_shard, plus what a
    * consumer needs to VALIDATE a delivered shard without re-reading the
    * publisher's data: row count, byte count, and an order-insensitive
    * content checksum. The checksum is `bit_xor` over a 60-bit md5
    * prefix of each row's (id, text): XOR is commutative/associative
    * with no overflow surface, so the aggregate is partial-aggregatable
    * AND independent of row order on the wire — any engine re-reading
    * the shard in any order reproduces it (a sum would need escrowed
    * overflow semantics; a concat-then-hash would need a global sort).
    * The shard rollup itself is [[graft.ops.Manifest.partial]] — the
    * SAME definition manifest_incremental merges and
    * Streams.manifestStream maintains at micro-batch cadence.
    */
  def exportManifest(s: SparkSession, dir: String): DataFrame =
    graft.ops.Manifest.partial(Tables(s, dir).documents,
        "doc_id", "text", ShardSeed, NShards)
      .orderBy(col("shard"))

  val exportManifestSql: String =
    s"""WITH h AS (
       |  SELECT
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':$ShardSeed'), 1, 8))::BIGINT
       |      % $NShards AS shard,
       |    strlen(text) AS nb,
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':' || text), 1, 15))::BIGINT
       |      AS row_sig
       |  FROM documents)
       |SELECT shard, count(*) AS n_rows, sum(nb)::BIGINT AS n_bytes,
       |  bit_xor(row_sig) AS checksum
       |FROM h GROUP BY shard ORDER BY shard""".stripMargin

  /** Incremental manifest maintenance, proven against the one-shot
    * export: the corpus splits into two halves (doc parity — any
    * disjoint cover works), each half rolls up its OWN manifest
    * partial, and [[graft.ops.Manifest.merge]] folds them — counts
    * and bytes sum, XOR checksums XOR — into a manifest that must
    * equal export_manifest's one-shot rollup EXACTLY (same driver
    * oracle SQL). This is the algebra that makes a published manifest
    * maintainable at 100 TB: appending a crawl batch = merging its
    * KB-scale partial (one scan of the NEW data only), a takedown
    * re-XORs the removed rows' signatures out — the full-corpus
    * re-manifest never runs. Streams.manifestStream is the same
    * partial/merge pair at micro-batch cadence.
    */
  def manifestIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    def part(d: DataFrame): DataFrame = graft.ops.Manifest.partial(
      d, "doc_id", "text", ShardSeed, NShards)
    graft.ops.Manifest.merge(
        part(docs.filter(col("doc_id") % 2 === 0))
          .unionByName(part(docs.filter(col("doc_id") % 2 =!= 0))))
      .orderBy(col("shard"))
  }

  /** The merge must reproduce the one-shot manifest bit-for-bit, so the
    * oracle IS export_manifest's.
    */
  val manifestIncrementalSql: String = exportManifestSql

  /** Max docs the manifest-stream fixture feeds through
    * [[graft.streaming.Replay]] — bounds the face's driver memory at
    * any corpus size (the AdmissionFeedBudget stride pattern; the
    * oracle replays the stride arithmetic). At every shipped SF the
    * stride resolves to 1 — the whole corpus flows.
    */
  val ManifestFeedBudget = 5000L

  /** The streaming-manifest lifecycle under the full hash oracle — the
    * registered face of [[graft.streaming.Streams.manifestStream]]
    * (the q_mv_compact / q_takedown_audit move applied to the last
    * lifecycle loop whose only gate was a spec): the corpus arrives as
    * three crawl batches (doc_id mod 3) through the REAL stream, each
    * micro-batch landing its own nShards-row manifest partial
    * (Manifest.partial — the identical arithmetic export_manifest
    * runs); the accumulated partials are then FOLDED by the
    * maintenance path (Streams.compactMv + Manifest.merge) and the
    * face returns the published manifest (readManifest's read-time
    * merge). The oracle is export_manifest's arithmetic over the fed
    * docs, so a hash match proves the whole loop — per-batch partials,
    * compaction, read-time merge — reproduces the one-shot manifest
    * bit-for-bit; a batch dropped, double-counted, or corrupted by
    * compaction flips the hash.
    *
    * The feed is a [[graft.streaming.Replay]] FIXTURE (production
    * feeds a file/queue source), one collected batch at a time, and is
    * budget-bounded by [[ManifestFeedBudget]]; the operator's own
    * per-batch cost is one scan of the BATCH, state is nShards rows per
    * batch — the 100 TB claim manifestStream documents.
    */
  def manifestStreamFace(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stateDir = graft.util.Staging.dir(s, "manifest_stream_face")
    val docs = Tables(s, dir).documents
    val stride = math.max(1L,
      (docs.count() + ManifestFeedBudget - 1) / ManifestFeedBudget)
    val fed = docs.filter(pmod(col("doc_id"), lit(stride)) === 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
    graft.streaming.Replay.feed(s,
        Seq(0L, 1L, 2L).map(m => fed.filter(col("doc_id") % 3 === m))) {
      ds => graft.streaming.Streams.manifestStream(ds.toDF("doc_id", "text"),
        stateDir, "doc_id", "text", ShardSeed, NShards)
    }
    // the maintenance fold: published manifest is invariant under it
    graft.streaming.Streams.compactMv(s, stateDir,
      graft.ops.Manifest.merge)
    graft.streaming.Streams.readManifest(s, stateDir)
      .orderBy(col("shard"))
  }

  /** export_manifest's arithmetic over the stride-bounded feed. */
  val manifestStreamSql: String =
    s"""WITH f AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % (SELECT greatest(1,
       |      (count(*) + ${ManifestFeedBudget - 1}) // $ManifestFeedBudget)
       |    FROM documents) = 0),
       |h AS (
       |  SELECT
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':$ShardSeed'), 1, 8))::BIGINT
       |      % $NShards AS shard,
       |    strlen(text) AS nb,
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':' || text), 1, 15))::BIGINT
       |      AS row_sig
       |  FROM f)
       |SELECT shard, count(*) AS n_rows, sum(nb)::BIGINT AS n_bytes,
       |  bit_xor(row_sig) AS checksum
       |FROM h GROUP BY shard ORDER BY shard""".stripMargin

  /** Doc budget for the novelty_stream fixture feed (the
    * ManifestFeedBudget pattern: bounds the driver-side feed collect
    * at any corpus size; stride resolves to 1 at every
    * shipped SF — the whole strided recrawl flows).
    */
  val NoveltyFeedBudget = 5000L

  /** The daily-crawl novelty LIFECYCLE under the full hash oracle —
    * [[graft.streaming.Streams.noveltyStream]] driven end-to-end
    * (the manifest_stream move applied to the acquisition loop): the
    * planted recrawl arrives as three TIME-ordered crawl batches
    * (doc_id mod 3) through the REAL streaming query; each batch is
    * probed against the persisted gram index (the epoch's sketch and
    * the exact membership test — the production tier stack), then
    * admitted, so batch k's probe measures novelty against corpus +
    * batches 0..k−1 — the "value of the next crawl given everything
    * already admitted" number the loop gates on. The oracle replays
    * the identical algebra in SQL: after admission the index holds
    * corpus ∪ ALL grams of earlier
    * batches (append admits exactly the novel ones; novel ∪ seen =
    * the batch), so batch k's novel grams are those absent from the
    * corpus whose FIRST carrying batch is k — a min(batch) rollup.
    * Hash equality across batch boundaries proves probe → admit →
    * append wired through foreachBatch loses and double-counts
    * nothing, and that each append is visible to the NEXT probe.
    */
  def noveltyStreamFace(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir).documents
    val stride = math.max(1L,
      (docs.count() + NoveltyFeedBudget - 1) / NoveltyFeedBudget)
    val base = docs.filter(pmod(col("doc_id"), lit(stride)) === 0)
    // index built ONCE per documents table (the noveltyIndexFor
    // pricing: production maintains a persisted index, it does not
    // rebuild it per crawl day); each RUN then clones the pristine epoch
    // tree so its three appends never leak into the next run — the
    // clone is a flat FS copy of the bucketed gram files + sketch,
    // priced in-face
    val pristine = noveltyStreamFit(s, dir, "documents")(
      noveltyIndexBuild(s, base, "novelty_stream_pristine"))
    val idxDir = graft.util.Staging.dir(s, "novelty_stream_idx")
    // per-run clone of the pristine epoch tree (parquet data files
    // hard-linked on local FS — the epoch tree is append-only;
    // markers byte-copied): graft.util.Staging.cloneTree
    graft.util.Staging.cloneTree(s, pristine, idxDir)
    val feed = recrawled(base)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Long, Long)]
    graft.streaming.Replay.feed(s,
        Seq(0L, 1L, 2L).map(m => feed.filter(col("doc_id") % 3 === m))) {
      ds => graft.streaming.Streams.noveltyStream(
          ds.toDF("doc_id", "source", "text"),
          idxDir, "source", "text", 3) { (batchId, rows) =>
        rows.foreach(r => buf += ((batchId, r.getString(0),
          r.getLong(1), r.getLong(2), r.getLong(3))))
      }
    }
    buf.toSeq.toDF("batch", "source", "n_grams", "n_novel", "novelty_bp")
      .orderBy(col("batch"), col("source"))
  }

  /** The cumulative-admission algebra in closed form: batch k novel =
    * gh ∉ corpus grams AND min carrying batch = k.
    */
  val noveltyStreamSql: String =
    s"""WITH base AS MATERIALIZED (
       |  SELECT * FROM documents
       |  WHERE doc_id % (SELECT greatest(1,
       |      (count(*) + ${NoveltyFeedBudget - 1}) // $NoveltyFeedBudget)
       |    FROM documents) = 0),
       |oldg AS MATERIALIZED (
       |  SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
       |  FROM (
       |    SELECT unnest([array_to_string(toks[i:i+2], ' ')
       |                   FOR i IN range(1, len(toks) - 1)]) AS g
       |    FROM (SELECT list_filter(string_split_regex(lower(text), '\\s+'),
       |                   x -> x <> '') AS toks
       |          FROM base))),
       |newd AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id % 13 = 0 THEN text || ' [edited]'
       |         ELSE text END AS text
       |  FROM base WHERE doc_id % 31 <> 0
       |  UNION ALL
       |  SELECT (SELECT max(doc_id) FROM base) + 1 + doc_id, source,
       |    text || ' v2'
       |  FROM base WHERE doc_id % 17 = 3),
       |newg AS MATERIALIZED (
       |  SELECT DISTINCT doc_id % 3 AS batch, source,
       |    ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
       |  FROM (
       |    SELECT doc_id, source,
       |      unnest([array_to_string(toks[i:i+2], ' ')
       |              FOR i IN range(1, len(toks) - 1)]) AS g
       |    FROM (SELECT doc_id, source,
       |            list_filter(string_split_regex(lower(text), '\\s+'),
       |              x -> x <> '') AS toks
       |          FROM newd))),
       |firstb AS (SELECT gh, min(batch) AS fb FROM newg GROUP BY gh)
       |SELECT n.batch, n.source, count(*)::BIGINT AS n_grams,
       |  count(*) FILTER (WHERE o.gh IS NULL AND f.fb = n.batch)::BIGINT
       |    AS n_novel,
       |  (count(*) FILTER (WHERE o.gh IS NULL AND f.fb = n.batch)
       |    * 10000 // count(*))::BIGINT AS novelty_bp
       |FROM newg n
       |LEFT JOIN oldg o ON n.gh = o.gh
       |LEFT JOIN firstb f ON n.gh = f.gh
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** Shard-level corpus change detection off MANIFESTS ALONE — the
    * step before q_corpus_diff in a real lake: two published snapshots
    * are first compared shard-by-shard (row/byte deltas + XOR checksum
    * mismatch), and only shards flagged `changed` ever get the
    * row-level digest diff. Against the same planted re-crawl as
    * q_corpus_diff; at 100 TB this reads two nShards-row manifests —
    * nothing else — and typically clears the vast unchanged majority
    * of shards from the expensive pass. Integer deltas, 0∕1 changed
    * flag via null-safe checksum compare (a shard empty on one side is
    * `changed` by definition).
    */
  def manifestDiff(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir).documents
    def mf(d: DataFrame): DataFrame = graft.ops.Manifest.partial(
      d, "doc_id", "text", ShardSeed, NShards)
    val old = mf(base).select(col("shard"),
      col("n_rows").as("old_rows"), col("n_bytes").as("old_bytes"),
      col("checksum").as("old_sum"))
    val neu = mf(recrawled(base)).select(col("shard"),
      col("n_rows").as("new_rows"), col("n_bytes").as("new_bytes"),
      col("checksum").as("new_sum"))
    old.join(neu, Seq("shard"), "full_outer")
      .select(col("shard"),
        coalesce(col("old_rows"), lit(0L)).as("old_rows"),
        coalesce(col("new_rows"), lit(0L)).as("new_rows"),
        (coalesce(col("new_rows"), lit(0L)) -
          coalesce(col("old_rows"), lit(0L))).as("rows_delta"),
        (coalesce(col("new_bytes"), lit(0L)) -
          coalesce(col("old_bytes"), lit(0L))).as("bytes_delta"),
        when(col("old_sum") <=> col("new_sum"), lit(0L)).otherwise(lit(1L))
          .as("changed"))
      .orderBy(col("shard"))
  }

  val manifestDiffSql: String =
    s"""WITH newv AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 13 = 0 THEN text || ' [edited]'
       |         ELSE text END AS text, n_chars
       |  FROM documents WHERE doc_id % 31 <> 0
       |  UNION ALL
       |  SELECT (SELECT max(doc_id) FROM documents) + 1 + doc_id,
       |    text || ' v2', n_chars
       |  FROM documents WHERE doc_id % 17 = 3),
       |mo AS (
       |  SELECT
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':$ShardSeed'), 1, 8))::BIGINT
       |      % $NShards AS shard,
       |    count(*) AS n_rows, sum(strlen(text))::BIGINT AS n_bytes,
       |    bit_xor(('0x' || substr(md5(doc_id::VARCHAR || ':' || text),
       |      1, 15))::BIGINT) AS checksum
       |  FROM documents GROUP BY 1),
       |mn AS (
       |  SELECT
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':$ShardSeed'), 1, 8))::BIGINT
       |      % $NShards AS shard,
       |    count(*) AS n_rows, sum(strlen(text))::BIGINT AS n_bytes,
       |    bit_xor(('0x' || substr(md5(doc_id::VARCHAR || ':' || text),
       |      1, 15))::BIGINT) AS checksum
       |  FROM newv GROUP BY 1)
       |SELECT coalesce(mo.shard, mn.shard) AS shard,
       |  coalesce(mo.n_rows, 0) AS old_rows,
       |  coalesce(mn.n_rows, 0) AS new_rows,
       |  (coalesce(mn.n_rows, 0) - coalesce(mo.n_rows, 0)) AS rows_delta,
       |  (coalesce(mn.n_bytes, 0) - coalesce(mo.n_bytes, 0)) AS bytes_delta,
       |  CASE WHEN mo.checksum IS NOT DISTINCT FROM mn.checksum
       |       THEN 0 ELSE 1 END::BIGINT AS changed
       |FROM mo FULL OUTER JOIN mn ON mo.shard = mn.shard
       |ORDER BY shard""".stripMargin

  /** Data-constrained mix allocation — the "how many epochs does each
    * source get" computation of budget-limited pretraining (Muennighoff
    * et al., arXiv:2305.16264: repeating data beyond a few epochs stops
    * paying, so a token budget B is split toward QUALITY weight w_s but
    * each source s is CAPPED at CapR epochs of its own T_s tokens).
    * That is exact water-filling with per-source caps:
    * a_s = min(cap_s, λ·w_s) with λ set so Σ a_s = B. Solved here with
    * NO floats and NO iteration: sources sort by the quantized
    * cap∕weight ratio; a prefix scan over that |sources|-row frame
    * decides who is capped via the CROSS-MULTIPLIED integer test
    * cap_s·(W−cumw) < (B−cumcap)·w_s (exact — division never happens),
    * and the uncapped remainder splits by integer `div`. Products
    * escrow in DECIMAL(38,0): cap·W crosses BIGINT at lake scale (the
    * q_corr move). Every frame is source-cardinality (the q_pareto
    * histogram convention — bounded by the catalog, not the corpus);
    * the only corpus-scale work is the per-source token/weight rollup,
    * one partial-aggregatable scan.
    *
    * Budget B = 2·ΣT (train for ~2 "epochs" of the whole corpus),
    * CapR = 3 (no source repeats more than 3×), weight = character
    * mass (stand-in for whatever quality mass production uses).
    * Allocations floor, so Σ a_s ≤ B with loss < |uncapped sources|
    * units (spec-pinned).
    */
  private val McCapEpochs = 3L
  private val McBudgetEpochs = 2L

  def mixDataConstrained(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val perSource = Tables(s, dir).documents
      .select(col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("t"),
        col("n_chars").as("w"))
      .groupBy(col("source"))
      .agg(sum(col("t")).as("t_tokens"), sum(col("w")).as("weight"))
      .withColumn("cap_tokens", col("t_tokens") * McCapEpochs)
    val totals = perSource.agg(
      (sum(col("t_tokens")) * McBudgetEpochs).as("budget"),
      sum(col("weight")).as("w_total"))
    // ascending quantized cap/weight ratio = water-filling order: the
    // smaller the cap relative to demanded share, the sooner it binds
    val wOrd = Window.orderBy(col("r_micro"), col("source"))
    val scanned = perSource.crossJoin(broadcast(totals))
      // decimal escrow on the product: cap_tokens × 1e6 overflows
      // BIGINT above ~9.2e12 cap tokens (inside 100 TB range); the
      // QUOTIENT (≈ ratio × 1e6) stays tiny, so div back to BIGINT
      .withColumn("r_micro",
        expr("(CAST(cap_tokens AS DECIMAL(38,0)) * 1000000) div weight"))
      .withColumn("cumcap_before", sumBefore(col("cap_tokens"), wOrd))
      .withColumn("cumw_before", sumBefore(col("weight"), wOrd))
      // exact integer water-filling test, cross-multiplied: capped iff
      // this source's cap undershoots its share of what remains after
      // every smaller-ratio source took its cap
      .withColumn("capped",
        (col("cap_tokens").cast(dec) * (col("w_total") - col("cumw_before")))
          < ((col("budget") - col("cumcap_before")).cast(dec) * col("weight")))
    val cappedTotals = scanned.groupBy()
      .agg(coalesce(sum(when(col("capped"), col("cap_tokens"))), lit(0L))
          .as("cap_sum"),
        coalesce(sum(when(col("capped"), col("weight"))), lit(0L))
          .as("w_capped"))
    scanned.crossJoin(broadcast(cappedTotals))
      .withColumn("alloc_tokens",
        when(col("capped"), col("cap_tokens")).otherwise(
          expr("(CAST(budget - cap_sum AS DECIMAL(38,0)) * weight) " +
            "div (w_total - w_capped)")))
      .select(col("source"), col("t_tokens"), col("weight"),
        col("capped").cast("long").as("capped"),
        col("alloc_tokens"),
        expr("(CAST(alloc_tokens AS DECIMAL(38,0)) * 1000000) div t_tokens")
          .as("epochs_ppm"))
      .orderBy(col("source"))
  }

  val mixDataConstrainedSql: String =
    s"""WITH per_source AS (
       |  SELECT source,
       |    CAST(sum(len(list_filter(string_split_regex(lower(text), '\\s+'),
       |                             x -> x <> ''))) AS BIGINT) AS t_tokens,
       |    CAST(sum(n_chars) AS BIGINT) AS weight
       |  FROM documents GROUP BY source),
       |caps AS (
       |  SELECT *, t_tokens * $McCapEpochs AS cap_tokens FROM per_source),
       |tot AS (
       |  SELECT CAST(sum(t_tokens) * $McBudgetEpochs AS BIGINT) AS budget,
       |    CAST(sum(weight) AS BIGINT) AS w_total
       |  FROM per_source),
       |scanned AS (
       |  SELECT c.*, t.budget, t.w_total,
       |    (cap_tokens::HUGEINT * 1000000) // weight AS r_micro,
       |    coalesce(sum(cap_tokens) OVER (
       |      ORDER BY (cap_tokens::HUGEINT * 1000000) // weight, source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS cumcap_before,
       |    coalesce(sum(weight) OVER (
       |      ORDER BY (cap_tokens::HUGEINT * 1000000) // weight, source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS cumw_before
       |  FROM caps c CROSS JOIN tot t),
       |flagged AS (
       |  SELECT *,
       |    (cap_tokens::HUGEINT * (w_total - cumw_before))
       |      < ((budget - cumcap_before)::HUGEINT * weight) AS capped
       |  FROM scanned),
       |ct AS (
       |  SELECT coalesce(sum(CASE WHEN capped THEN cap_tokens END), 0)
       |      AS cap_sum,
       |    coalesce(sum(CASE WHEN capped THEN weight END), 0) AS w_capped
       |  FROM flagged)
       |SELECT source, t_tokens, weight,
       |  CASE WHEN capped THEN 1 ELSE 0 END::BIGINT AS capped,
       |  CASE WHEN capped THEN cap_tokens
       |       ELSE CAST(((budget - cap_sum)::HUGEINT * weight)
       |                 // (w_total - w_capped) AS BIGINT) END
       |    AS alloc_tokens,
       |  CAST((CASE WHEN capped THEN cap_tokens
       |             ELSE CAST(((budget - cap_sum)::HUGEINT * weight)
       |                       // (w_total - w_capped) AS BIGINT)
       |        END::HUGEINT * 1000000) // t_tokens AS BIGINT) AS epochs_ppm
       |FROM flagged CROSS JOIN ct
       |ORDER BY source""".stripMargin

  /** Public: streaming ingestion (Streams.splitStream callers) must use
    * the SAME seed or batch and stream assign docs to different splits.
    */
  val SplitSeed = 31L

  /** Deterministic train/val/test split (97∕2∕1) — the export step
    * every training pipeline runs and the one place leakage between
    * splits is unfixable later: assignment is a pure function of the
    * doc id (seeded md5 bucket mod 100), so re-running any subset of
    * the corpus reproduces the same split, new docs never move old
    * ones, and a doc can never sit in two splits. Reports per-split
    * volume plus the key-sum audit sample_shard uses (pins the hash,
    * not just the routing). Map-side assignment, one aggregation.
    */
  def mixSplit(s: SparkSession, dir: String): DataFrame =
    ShuffleShard.splitAssign(Tables(s, dir).documents, "doc_id", SplitSeed)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        sum(col("bucket")).as("sum_bucket"))
      .orderBy(col("split"))

  val mixSplitSql: String =
    s"""WITH b AS (
       |  SELECT n_chars,
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':$SplitSeed'), 1, 8))
       |      ::BIGINT % 100 AS bucket
       |  FROM documents)
       |SELECT CASE WHEN bucket < 97 THEN 'train'
       |            WHEN bucket < 99 THEN 'val'
       |            ELSE 'test' END AS split,
       |  count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
       |  sum(bucket)::BIGINT AS sum_bucket
       |FROM b
       |GROUP BY 1
       |ORDER BY split""".stripMargin

  private val CurriculumSeed = 11L
  private val CurriculumPhases = 4

  /** Curriculum export order (the classic short-to-long schedule):
    * docs split into ntile phases by LENGTH (easy → hard), each phase
    * internally shuffled by the same seeded md5 key sample_shard uses
    * — so a loader streaming phase 1, 2, … sees difficulty ramp
    * across phases and an unbiased order within one. ntile over
    * (n_chars, doc_id) is a total order, so phase assignment is
    * deterministic and engine-independent; everything else is integer
    * arithmetic. One exchange for the global ntile (at 100 TB swap in
    * the exact-percentile boundary broadcast — agg_equidepth's shape —
    * to avoid the single ordered partition a global ntile implies;
    * documented trade, the phase SEMANTICS are identical).
    */
  def mixCurriculum(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables(s, dir).documents
      .select(col("doc_id"), col("n_chars"))
      .withColumn("phase", ntile(CurriculumPhases).over(
        Window.orderBy(col("n_chars"), col("doc_id"))))
      .withColumn("ord", row_number().over(
        Window.partitionBy(col("phase"))
          .orderBy(graft.ops.ShuffleShard.hashKey(col("doc_id"),
            CurriculumSeed), col("doc_id"))))
      .select(col("doc_id"), col("phase").cast("long").as("phase"),
        col("ord").cast("long").as("ord"))
      .orderBy(col("doc_id"))
  }

  /** The 100 TB form of the curriculum phase split — the swap the
    * ntile version's doc promises: EXACTLY the same phase semantics
    * (ntile over (n_chars, doc_id)) with NO global single-partition
    * sort. Decomposition: global rank = (rows with a smaller n_chars)
    * + (rank by doc_id within this n_chars) — the first term from a
    * vocab-scale value histogram with a running sum (the window runs
    * over DISTINCT LENGTHS, equidepth's small-aggregate shape, not
    * over docs), the second from a window partitioned by n_chars
    * (parallel across values). ntile boundary ranks are closed-form
    * from the total count (tile k's upper bound = k·⌊n∕P⌋ +
    * min(k, n mod P)) and ride a broadcast one-row frame, so phase
    * assignment is two broadcast joins + one map — byte-identical to
    * ntile by construction, which the shared oracle and the parity
    * spec both pin.
    */
  def mixCurriculumBounds(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir).documents.select(col("doc_id"), col("n_chars"))
    val cumBelow = docs.groupBy(col("n_chars"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum_below",
        sumBefore(col("cnt"), Window.orderBy(col("n_chars"))))
      .select(col("n_chars"), col("cum_below"))
    val p = CurriculumPhases
    val bounds = docs.agg(count(lit(1)).as("n")).select(
      (1 to p - 1).map(k =>
        (lit(k.toLong) * floor(col("n") / p).cast("long") +
          least(lit(k.toLong), col("n") % p)).as(s"b$k")): _*)
    val ranked = docs
      .join(broadcast(cumBelow), "n_chars")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("n_chars")).orderBy(col("doc_id"))))
      .crossJoin(broadcast(bounds))
      .withColumn("grank", col("cum_below") + col("rn"))
      .withColumn("phase",
        (1 to p - 1).foldLeft(lit(1L))((acc, k) =>
          acc + (col("grank") > col(s"b$k")).cast("long")))
    ranked
      .withColumn("ord", row_number().over(
        Window.partitionBy(col("phase"))
          .orderBy(graft.ops.ShuffleShard.hashKey(col("doc_id"),
            CurriculumSeed), col("doc_id"))))
      .select(col("doc_id"), col("phase"), col("ord").cast("long").as("ord"))
      .orderBy(col("doc_id"))
  }

  val mixCurriculumSql: String =
    s"""WITH p AS (
       |  SELECT doc_id, n_chars,
       |    ntile($CurriculumPhases) OVER (ORDER BY n_chars, doc_id)
       |      AS phase,
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':$CurriculumSeed'), 1, 8))
       |      ::BIGINT AS k
       |  FROM documents)
       |SELECT doc_id, phase::BIGINT AS phase,
       |  row_number() OVER (PARTITION BY phase ORDER BY k, doc_id)::BIGINT
       |    AS ord
       |FROM p
       |ORDER BY doc_id""".stripMargin

  private val MixSeed = 7L
  private val MixWeights = Map(
    "src0" -> 2.5, "src1" -> 0.25, "src2" -> 0.0, "src3" -> 1.75)

  /** Weighted source mixing audit: per-source in/out doc and char counts
    * after deterministic fractional-epoch replication (src0 ×2.5,
    * src1 ×0.25, src2 dropped, src3 ×1.75, everything else ×1). The
    * Spark side MATERIALIZES the copies (explode) and counts them; the
    * oracle computes the arithmetic twin.
    */
  def mixSources(s: SparkSession, dir: String): DataFrame =
    SourceMixture.mixStats(Tables(s, dir).documents, "source", "doc_id",
      "n_chars", MixWeights, MixSeed)

  val mixSourcesSql: String = {
    val values = MixWeights.toSeq.sortBy(_._1)
      .map { case (k, v) => s"('$k', ${v}::DOUBLE)" }.mkString(", ")
    s"""WITH w(source, weight) AS (VALUES $values),
       |d AS (
       |  SELECT source, doc_id, n_chars,
       |    coalesce(weight, 1.0) AS wt,
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':$MixSeed'), 1, 8))::BIGINT
       |      / 4294967296.0 AS u
       |  FROM documents LEFT JOIN w USING (source)),
       |m AS (
       |  SELECT source, doc_id, n_chars,
       |    (floor(wt) + CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END)::BIGINT
       |      AS n_copies
       |  FROM d)
       |SELECT source, count(*) AS n_in, sum(n_copies)::BIGINT AS n_out,
       |  sum(n_chars * n_copies)::BIGINT AS chars_out
       |FROM m GROUP BY source ORDER BY source""".stripMargin
  }

  /** Temperature-based source mixing (SourceMixture.temperatureWeights,
    * the XLM-R / mT5 multilingual α-sampling scheme): weights derived
    * from the per-source counts at α = 0.5, upweighting rare sources
    * toward equal output mass while preserving total size in
    * expectation, then the same deterministic-hash replication audit as
    * mix_sources. The oracle recomputes the weight arithmetic — counts,
    * pow, normalization, round(6) — entirely in SQL.
    */
  private val TempAlpha = 0.5

  def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    SourceMixture.mixStats(docs, "source", "doc_id", "n_chars",
      SourceMixture.temperatureWeights(docs, "source", TempAlpha), MixSeed)
  }

  // parity note: both engines round the derived weight to 6 decimals,
  // but the unrounded value comes from each engine's own pow/sum — an
  // ulp-level libm divergence could in principle flip the 6th decimal
  // at a .5e-6 boundary (the same accumulation-order class the
  // sf0.1 sweep caught in dedup_source_matrix). Accepted: green at both
  // test scales, and the weight values sit far from boundaries; if a
  // future scale factor trips it, inject the Scala-derived weights as
  // VALUES (the mix_sources oracle shape) instead of re-deriving in SQL.
  val mixTemperatureSql: String =
    s"""WITH c AS (
       |  SELECT source, count(*)::DOUBLE AS n FROM documents GROUP BY source),
       |t AS (SELECT sum(n) AS total FROM c),
       |z AS (SELECT sum(pow(n / total, $TempAlpha)) AS z FROM c, t),
       |w AS (
       |  SELECT source, round(pow(n / total, $TempAlpha - 1.0) / z, 6) AS wt
       |  FROM c, t, z),
       |d AS (
       |  SELECT d.source, doc_id, n_chars, wt,
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':$MixSeed'), 1, 8))::BIGINT
       |      / 4294967296.0 AS u
       |  FROM documents d JOIN w USING (source)),
       |m AS (
       |  SELECT source, doc_id, n_chars,
       |    (floor(wt) + CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END)::BIGINT
       |      AS n_copies
       |  FROM d)
       |SELECT source, count(*) AS n_in, sum(n_copies)::BIGINT AS n_out,
       |  sum(n_chars * n_copies)::BIGINT AS chars_out
       |FROM m GROUP BY source ORDER BY source""".stripMargin

  /** The whole curation pipeline as ONE declarative plan — quality gate
    * (≥ 20 tokens) → exact dedup (first doc per normalization key, a
    * WindowGroupLimit) → benchmark decontamination (trigram-overlap
    * anti-join vs the %25 holdout) → weighted source mixing → shard
    * assignment hashed on (doc, copy) so replicas spread across shards.
    * Every stage is the library operator the standalone queries test;
    * composing them costs no materialization barriers — Catalyst sees
    * one tree. Output: per (source, shard) copy/doc/char accounting.
    */
  def pipelineE2e(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val gated = docs.where(size(TextOps.tokens(col("text"))) >= 20)
    val firstPerKey = Window
      .partitionBy(graft.dedup.Dedup.normKey(col("text")))
      .orderBy(col("doc_id"))
    val deduped = gated.withColumn("rn", row_number().over(firstPerKey))
      .where(col("rn") === 1).drop("rn")
    val corpus = deduped.where(pmod(col("doc_id"), lit(25)) =!= 0)
    // minShared = 30 (vs dedup_decontaminate's 5): this corpus draws on
    // a ~40-word vocabulary, so BACKGROUND trigram overlap with a
    // holdout that covers ~18% of trigram space (sf0.1) has mean ≈ 10 —
    // at 5 the stage would flag nearly everything. 30 keeps only docs
    // sharing half their trigrams: real leaks, not vocabulary noise.
    val flagged = Decontaminate.overlap(corpus,
        docs.where(pmod(col("doc_id"), lit(25)) === 0),
        "doc_id", "text", n = 3, minShared = 30)
      .select(col("doc_id"))
    val clean = corpus.join(flagged, Seq("doc_id"), "left_anti")
    val mixed = SourceMixture.mix(clean, "source", "doc_id",
      MixWeights, MixSeed)
    val sharded = mixed.withColumn("shard",
      pmod(ShuffleShard.hashKey(
        concat(col("doc_id").cast("string"), lit("#"),
          col("copy").cast("string")), ShardSeed), lit(8L)))
    sharded.groupBy(col("source"), col("shard"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n_chars")).as("chars"))
      .orderBy(col("source"), col("shard"))
  }

  val pipelineE2eSql: String = {
    val values = MixWeights.toSeq.sortBy(_._1)
      .map { case (k, v) => s"('$k', ${v}::DOUBLE)" }.mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, source, n_chars, text,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |                x -> x <> '') AS toks
       |  FROM documents),
       |q AS (SELECT * FROM t WHERE len(toks) >= 20),
       |d AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY array_to_string(list_sort(list_distinct(toks)), ' ')
       |      ORDER BY doc_id) AS rn
       |    FROM q)
       |  WHERE rn = 1),
       |corp AS (SELECT * FROM d WHERE doc_id % 25 <> 0),
       |hold AS (
       |  SELECT DISTINCT unnest(list_distinct(
       |    [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]
       |  )) AS g
       |  FROM t WHERE doc_id % 25 = 0 AND len(toks) >= 3),
       |contaminated AS (
       |  SELECT doc_id FROM (
       |    SELECT c.doc_id, count(*) AS n FROM (
       |      SELECT doc_id, unnest(list_distinct(
       |        [array_to_string(toks[i:i+2], ' ')
       |         FOR i IN range(1, len(toks) - 1)])) AS g
       |      FROM corp WHERE len(toks) >= 3) c
       |    JOIN hold USING (g) GROUP BY c.doc_id)
       |  WHERE n >= 30),
       |clean AS (
       |  SELECT * FROM corp
       |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |w(source, weight) AS (VALUES $values),
       |m AS (
       |  SELECT source, doc_id, n_chars,
       |    (floor(wt) + CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END)::BIGINT
       |      AS n_copies
       |  FROM (
       |    SELECT source, doc_id, n_chars, coalesce(weight, 1.0) AS wt,
       |      ('0x' || substr(md5(doc_id::VARCHAR || ':$MixSeed'), 1, 8))::BIGINT
       |        / 4294967296.0 AS u
       |    FROM clean LEFT JOIN w USING (source))),
       |c AS (
       |  SELECT source, doc_id, n_chars, unnest(range(n_copies)) AS copy
       |  FROM m),
       |sh AS (
       |  SELECT source, doc_id, n_chars,
       |    ('0x' || substr(md5(doc_id || '#' || copy || ':$ShardSeed'), 1, 8))
       |      ::BIGINT % 8 AS shard
       |  FROM c)
       |SELECT source, shard, count(*) AS n_copies,
       |  count(DISTINCT doc_id) AS n_docs, sum(n_chars)::BIGINT AS chars
       |FROM sh
       |GROUP BY source, shard
       |ORDER BY source, shard""".stripMargin
  }

  private val DsirSeed = 29L
  private val DsirBuckets = 512

  /** DSIR importance-resampling weights (graft.ops.Dsir, Xie et al.
    * arXiv:2302.03169): every doc scored by how much more likely its
    * hashed-unigram buckets are under the target distribution — here
    * the lang = 'en' slice stands in for the trusted corpus — than
    * under the raw corpus; sel = 1 where the doc looks more target
    * than raw (the threshold-zero selection rule). The per-bucket
    * log-ratios are 1e-6-quantized BIGINTs and the per-doc score is an
    * exact integer sum, so the DuckDB twin matches bit-for-bit.
    */
  def mixDsir(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dsir.importanceWeights(Tables(s, dir).documents,
        "doc_id", "text", col("lang") === "en", DsirSeed, DsirBuckets)
      .orderBy(col("doc_id"))

  val mixDsirSql: String = {
    val b = DsirBuckets
    s"""WITH t AS (
       |  SELECT doc_id, lang = 'en' AS is_t,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |                x -> x <> '') AS toks
       |  FROM documents),
       |e AS (
       |  SELECT doc_id, is_t,
       |    ('0x' || substr(md5(unnest(toks) || ':$DsirSeed'), 1, 8))::BIGINT
       |      % $b AS b
       |  FROM t),
       |db AS (
       |  SELECT doc_id, is_t, b, count(*) AS cd FROM e GROUP BY doc_id, is_t, b),
       |raw AS (SELECT b, sum(cd)::BIGINT AS cr FROM db GROUP BY b),
       |tgt AS (SELECT b, sum(cd)::BIGINT AS ct FROM db WHERE is_t GROUP BY b),
       |tot AS (
       |  SELECT (SELECT sum(cr) FROM raw)::BIGINT AS tr,
       |         (SELECT coalesce(sum(ct), 0) FROM tgt)::BIGINT AS tt),
       |model AS (
       |  SELECT raw.b,
       |    floor(log2(((coalesce(ct, 0) + 1)::DOUBLE / (tt + $b))
       |               / ((cr + 1)::DOUBLE / (tr + $b)))
       |          * 1000000 + 0.5)::BIGINT AS w
       |  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot),
       |dw AS (
       |  SELECT doc_id, sum(cd)::BIGINT AS n_tokens,
       |    sum(cd * w)::BIGINT AS weight_units
       |  FROM db JOIN model USING (b) GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(dw.n_tokens, 0) AS n_tokens,
       |  coalesce(dw.weight_units, 0) AS weight_units,
       |  (CASE WHEN coalesce(dw.weight_units, 0) > 0 THEN 1 ELSE 0 END)::BIGINT
       |    AS sel
       |FROM documents d LEFT JOIN dw USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Best-fit-decreasing packing (graft.ops.BestFitPack): docs placed
    * WHOLE into 512-token bins — fullest feasible bin wins — with 8
    * deterministic xxhash64 shards as the parallelism unit; the
    * no-truncation twin of pack_sequences. Rows-only (BFD is
    * sequential state per shard, not SQL); the CurationSpec fixtures
    * pin the exact BFD placement (including a case where best-fit and
    * first-fit diverge), the invariants (no bin over capacity absent
    * an oversized doc; every doc packed exactly once), and the
    * pmod(xxhash64(id), 8) shard routing against an independent
    * computation. Determinism across partitionings rides the same
    * sweep gate as every query (the in-group sort makes output a pure
    * function of shard membership).
    */
  def packBestfit(s: SparkSession, dir: String): DataFrame =
    graft.ops.BestFitPack.pack(
      Tables(s, dir).documents
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).as("n_toks")),
      "doc_id", "n_toks", capacity = 512, shards = 8)
      .orderBy(col("shard"), col("bin_id"))

  /** Count-preserving dedup reweighting: exact-duplicate classes are
    * collapsed to their min-id representative, but the class SIZE
    * survives as a log-damped replication weight
    * w = floor(log2(size)) + 1 — keep one copy, yet let a document the
    * crawl saw 100× carry ~7× the training mass of a singleton instead
    * of 100× (duplication count is a popularity signal; replaying it
    * linearly is exactly the over-memorization dedup exists to stop).
    * The weight is integer arithmetic on the class count (bit_length,
    * no float log), replication is the map-side
    * `explode(array_repeat(...))` mixing shape (multiplies bytes
    * written, never bytes shuffled), and the output counts the
    * exploded copies back per kept doc — pinning that the physical
    * fan-out matches the computed weight. One dedup exchange + one
    * count exchange on kept-doc ids.
    */
  def mixDedupWeight(s: SparkSession, dir: String): DataFrame = {
    val classes = graft.dedup.Dedup
      .exact(Tables(s, dir).documents, "doc_id", "text")
      // floor(log2(n)) + 1 = the binary digit count of n — pure
      // integer arithmetic, no float log on either engine
      .withColumn("weight", length(conv(col("n_docs"), 10, 2)).cast("long"))
    classes
      .select(col("keep_id"), col("n_docs"),
        explode(array_repeat(col("keep_id"), col("weight").cast("int")))
          .as("copy_of"))
      .groupBy(col("keep_id"), col("n_docs"))
      .agg(count(lit(1)).as("n_copies"))
      .select(col("keep_id").as("doc_id"), col("n_docs").as("class_size"),
        col("n_copies"))
      .orderBy(col("doc_id"))
  }

  val mixDedupWeightSql: String =
    s"""WITH classes AS (
       |  SELECT min(doc_id) AS doc_id, count(*) AS class_size
       |  FROM (SELECT doc_id, ${DedupQueries.normKeySql} AS k FROM documents)
       |  GROUP BY k)
       |SELECT doc_id, class_size,
       |  length(bin(class_size))::BIGINT AS n_copies
       |FROM classes
       |ORDER BY doc_id""".stripMargin

  /** Corpus snapshot diff — the "what changed since the last crawl"
    * audit run before any re-training decision: two corpus versions
    * compared by CONTENT HASH, each doc classified
    * added / removed / changed / unchanged, rolled up per source. The
    * new version is a deterministic function of the old one (a re-crawl
    * in miniature): docs with id % 31 = 0 vanished, id % 13 = 0 pages
    * were edited, and id % 17 = 3 pages gained a v2 copy under a fresh
    * id — so the oracle can replay the exact transform. The fresh ids
    * sit at max(doc_id) + 1 + doc_id (a one-row broadcast aggregate,
    * not a constant): a fixed offset would collide with surviving real
    * ids once the corpus outgrows it, breaking the planted
    * added/changed classification at large SF.
    *
    * Scale (100 TB): the diff ships 16-byte md5 digests through one
    * doc_id-co-partitioned FULL OUTER join — never the bodies; in a
    * real lake the OLD side's hashes come straight off the published
    * manifest (export_manifest stores them), so only the new crawl is
    * ever hashed, and the dominant `unchanged` mass is anti-joined away
    * before any downstream re-processing.
    */
  /** The planted deterministic re-crawl both diff queries replay:
    * id % 31 = 0 vanished, id % 13 = 0 edited, id % 17 = 3 re-added
    * under a collision-free fresh id (max + 1 + id). All OTHER columns
    * ride along unchanged (n_chars deliberately stays the OLD
    * metadata — the planted edit models a crawler that hasn't
    * re-measured, and both engines share the convention).
    */
  private def recrawled(base: DataFrame): DataFrame = {
    val maxId = base.agg(max(col("doc_id")).as("max_id"))
    base.filter(col("doc_id") % 31 =!= 0)
      .withColumn("text", when(col("doc_id") % 13 === 0,
        concat(col("text"), lit(" [edited]"))).otherwise(col("text")))
      .unionByName(base.filter(col("doc_id") % 17 === 3)
        .crossJoin(broadcast(maxId))
        .withColumn("doc_id", col("max_id") + 1L + col("doc_id"))
        .drop("max_id")
        .withColumn("text", concat(col("text"), lit(" v2"))))
  }

  def qCorpusDiff(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir).documents
    val old = base.select(col("doc_id"), col("source").as("src_a"),
      md5(col("text")).as("h_a"))
    val newV = recrawled(base)
      .select(col("doc_id"), col("source").as("src_b"),
        md5(col("text")).as("h_b"))
    old.join(newV, Seq("doc_id"), "full_outer")
      .select(coalesce(col("src_a"), col("src_b")).as("source"),
        when(col("h_a").isNull, "added")
          .when(col("h_b").isNull, "removed")
          .when(col("h_a") === col("h_b"), "unchanged")
          .otherwise("changed").as("status"),
        col("doc_id"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("source"), col("status"))
  }

  val qCorpusDiffSql: String =
    """WITH old AS (
      |  SELECT doc_id, source, md5(text) AS h FROM documents),
      |newv AS (
      |  SELECT doc_id, source,
      |    md5(CASE WHEN doc_id % 13 = 0 THEN text || ' [edited]'
      |             ELSE text END) AS h
      |  FROM documents WHERE doc_id % 31 <> 0
      |  UNION ALL
      |  SELECT (SELECT max(doc_id) FROM documents) + 1 + doc_id,
      |    source, md5(text || ' v2')
      |  FROM documents WHERE doc_id % 17 = 3)
      |SELECT coalesce(o.source, n.source) AS source,
      |  CASE WHEN o.h IS NULL THEN 'added'
      |       WHEN n.h IS NULL THEN 'removed'
      |       WHEN o.h = n.h THEN 'unchanged'
      |       ELSE 'changed' END AS status,
      |  count(*) AS n_docs,
      |  sum(coalesce(o.doc_id, n.doc_id))::BIGINT AS sum_ids
      |FROM old o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Crawl n-gram NOVELTY — the "marginal value of the next crawl"
    * metric a data-acquisition loop gates on (doc-level diffs like
    * q_corpus_diff/manifest_diff miss it: a re-crawl can be 95% "new
    * docs" that are 99% already-seen TEXT): per source of the new
    * crawl, the distinct word-trigram count, how many of those grams
    * the OLD corpus has never seen anywhere, and the novelty share in
    * basis points (pure integer arithmetic). Same planted re-crawl as
    * q_corpus_diff ([[recrawled]]); grams ride the dedup pipeline's
    * exact tokenization ([[graft.text.TextOps.tokens]]/wordNgrams —
    * one definition corpus-wide) hashed to 60-bit md5 prefixes, so the
    * wide strings never cross a shuffle.
    *
    * Plan shape at 100 TB: gram tables are token-scale — this is the
    * honest cost of corpus-level novelty, and it is ONE exchange per
    * side (partial-aggregatable distinct on the 8-byte hash) plus one
    * hash anti-join (left join + null-count here, so the per-source
    * totals ride the same join), then a |sources|-row rollup. The old
    * side's distinct gram set is the reusable artifact, and
    * [[graft.dedup.NoveltyIndex]] IS that artifact (persisted, bucketed
    * by gh, Epochs-snapshotted): this query is the full-recompute
    * VALIDATOR, [[qCrawlNoveltyProbe]] is the O(new crawl) production
    * path against the saved index — same oracle, so probe ≡ recompute
    * is hash-proven at both SFs.
    */
  def qCrawlNovelty(s: SparkSession, dir: String): DataFrame = {
    def grams(d: DataFrame): DataFrame =
      graft.dedup.NoveltyIndex.sourceGramHashes(d, "source", "text", 3)
    val base = Tables(s, dir).documents
    val oldGrams = grams(base).select(col("gh")).distinct()
    val newGrams = grams(recrawled(base)).distinct()
    newGrams
      .join(oldGrams.withColumn("seen", lit(1)), Seq("gh"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("source"), col("n_grams"), col("n_novel"),
        expr("n_novel * 10000 div n_grams").as("novelty_bp"))
      .orderBy(col("source"))
  }

  /** Replays the recrawl transform, the exact tokenization, the 60-bit
    * gram hash, and the anti-join as a left-join null count.
    */
  val qCrawlNoveltySql: String =
    """WITH oldg AS MATERIALIZED (
      |  SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
      |  FROM (
      |    SELECT unnest([array_to_string(toks[i:i+2], ' ')
      |                   FOR i IN range(1, len(toks) - 1)]) AS g
      |    FROM (SELECT list_filter(string_split_regex(lower(text), '\s+'),
      |                   x -> x <> '') AS toks
      |          FROM documents))),
      |newd AS (
      |  SELECT source, CASE WHEN doc_id % 13 = 0 THEN text || ' [edited]'
      |                      ELSE text END AS text
      |  FROM documents WHERE doc_id % 31 <> 0
      |  UNION ALL
      |  SELECT source, text || ' v2' FROM documents WHERE doc_id % 17 = 3),
      |newg AS (
      |  SELECT DISTINCT source, ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
      |  FROM (
      |    SELECT source, unnest([array_to_string(toks[i:i+2], ' ')
      |                           FOR i IN range(1, len(toks) - 1)]) AS g
      |    FROM (SELECT source,
      |            list_filter(string_split_regex(lower(text), '\s+'),
      |              x -> x <> '') AS toks
      |          FROM newd)))
      |SELECT n.source, count(*)::BIGINT AS n_grams,
      |  count(*) FILTER (WHERE o.gh IS NULL)::BIGINT AS n_novel,
      |  (count(*) FILTER (WHERE o.gh IS NULL) * 10000 // count(*))::BIGINT
      |    AS novelty_bp
      |FROM newg n LEFT JOIN oldg o ON n.gh = o.gh
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** The q_crawl_novelty daily-job shape a 100 TB loop actually runs —
    * [[graft.dedup.NoveltyIndex]]'s probe against the PERSISTED corpus
    * gram index instead of q_crawl_novelty's per-run full recompute:
    * the index is built once per documents table ([[graft.util.FitOnce]]
    * — production materializes it once and appends admitted crawls),
    * and each run costs the map-side gram pass over the NEW crawl plus
    * one existence join on the 8-byte gh against the bucketed index.
    * Identical output columns, identical oracle SQL — a hash match at
    * both SFs IS the proof that the incremental path reproduces the
    * full recompute exactly. The append-≡-rebuild and
    * compaction-invariance halves of the index contract are
    * DedupSpec-pinned (the dedup_incremental precedent).
    *
    * The index's sketch prices the full production tier stack: it
    * proves the bloom-negative grams novel map-side, the exact
    * existence join sees only the positive residue, and the hash
    * staying green against the SAME full-recompute oracle is the
    * end-to-end proof the sketch's one-sided error never reaches the
    * output (sketched ≡ sketchless is additionally DedupSpec-pinned).
    */
  def qCrawlNoveltyProbe(s: SparkSession, dir: String): DataFrame = {
    val idxDir = noveltyIndexFor(s, dir)
    val snap = graft.dedup.NoveltyIndex.load(s, idxDir)
    graft.dedup.NoveltyIndex.probe(snap,
        recrawled(Tables(s, dir).documents), "source", "text", 3)
      .orderBy(col("source"))
  }

  /** The ZERO-JOIN novelty tier, registered — [[graft.dedup
    * .NoveltyIndex.probeApprox]] over the same planted recrawl and the
    * same persisted index as q_crawl_novelty_probe: per-source novelty
    * from the epoch's bloom sketch ALONE (one crawl gram pass, the
    * KB–MB sketch held in the plan; the gram index files are never
    * opened).
    * This is the tier a 100 TB acquisition loop runs HOURLY, promoting
    * only interesting crawls to the exact probe. No SQL twin
    * — the sketch's bit arithmetic has no DuckDB oracle — so the row
    * is declared rows-only; the value gates live in DedupSpec: n_grams
    * ≡ the exact probe's, n_novel_lb a per-source LOWER bound on the
    * exact n_novel (the bloom's one-sided error can only undercount),
    * deficit within the fpp budget, and the face deterministic (the
    * sketch is a pure hash artifact — same epoch, same bits).
    */
  def qCrawlNoveltySketch(s: SparkSession, dir: String): DataFrame = {
    val idxDir = noveltyIndexFor(s, dir)
    val snap = graft.dedup.NoveltyIndex.load(s, idxDir)
    graft.dedup.NoveltyIndex.probeApprox(snap,
        recrawled(Tables(s, dir).documents), "source", "text", 3)
      .orderBy(col("source"))
  }

  /** novelty_stream's pristine (never-appended) index is kept apart
    * from the probe faces' index: the stream face strides its base
    * corpus and each run must start from an append-free tree.
    *
    * PRICING (r13 verdict item 2): the amortized gram-index build is
    * benchmarked in full, every run, by its own registered face
    * [[qNoveltyIndexBuild]] (`q_novelty_index_build`, no memo) — the
    * stream face prices the maintained-index daily loop, the build
    * face prices the one-time corpus indexing it starts from.
    */
  private val noveltyIndexFit = new graft.util.FitOnce[String]
  private val noveltyStreamFit = new graft.util.FitOnce[String]

  private def noveltyIndexFor(s: SparkSession, dir: String): String =
    noveltyIndexFit(s, dir, "documents")(
      noveltyIndexBuild(s, Tables(s, dir).documents, "novelty_index"))

  /** The word-trigram novelty index of `docs`, published as epoch 0
    * into a fresh staging dir.
    */
  private def noveltyIndexBuild(s: SparkSession, docs: DataFrame,
      prefix: String): String = {
    val d = graft.util.Staging.dir(s, prefix)
    graft.dedup.NoveltyIndex.init(s, docs, d, "text", 3)
    d
  }

  /** The corpus gram-index BUILD priced as its own face (r13 verdict
    * item 2, the q_seen_index_build twin): distinct-gram derivation,
    * bucketed epoch-0 write, membership sketch and publish land in a
    * FRESH staging dir on EVERY invocation — no memo; this is exactly
    * the build [[noveltyIndexFor]] and [[noveltyStreamFace]]
    * amortize for the probe/stream faces (the stream face's strided
    * base resolves to the full corpus at every shipped SF). The face
    * then reads the SAVED epoch-0 gram table back and reports one
    * summary row; the gram-hash XOR makes the hash sensitive to WHICH
    * grams were indexed, and n_buckets counts the 64 hash residues the
    * grams cover (a property of the gram set, not of the on-disk bucket
    * count, which follows the gram count).
    */
  def qNoveltyIndexBuild(s: SparkSession, dir: String): DataFrame = {
    val d = noveltyIndexBuild(s, Tables(s, dir).documents,
      "novelty_index_build")
    graft.dedup.NoveltyIndex.load(s, d).grams
      .agg(count(lit(1)).as("n_grams"),
        expr("bit_xor(gh)").as("xor_gh"),
        countDistinct(pmod(col("gh"), lit(64))).as("n_buckets"))
  }

  val qNoveltyIndexBuildSql: String =
    """WITH oldg AS (
      |  SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
      |  FROM (
      |    SELECT unnest([array_to_string(toks[i:i+2], ' ')
      |                   FOR i IN range(1, len(toks) - 1)]) AS g
      |    FROM (SELECT list_filter(string_split_regex(lower(text), '\s+'),
      |                   x -> x <> '') AS toks
      |          FROM documents)))
      |SELECT count(*)::BIGINT AS n_grams, bit_xor(gh) AS xor_gh,
      |  count(DISTINCT gh % 64)::BIGINT AS n_buckets
      |FROM oldg""".stripMargin

  /** Packing-efficiency report — the accounting that justifies packing
    * at all: for the three canonical sequence layouts at block size 512
    * (each doc contributes n_toks + 1 positions, the EOS convention of
    * pack_concat), the padding and truncation bill:
    *
    *  - `truncate_per_doc` — one block per doc, overflow DROPPED (the
    *    BERT-era layout): pays both pad (short docs) and dropped tokens
    *    (long docs);
    *  - `pad_per_doc` — each doc alone in ⌈n/512⌉ blocks (no
    *    cross-doc attention, no loss): pays pad on every doc's last
    *    block;
    *  - `concat` — one global stream chunked into blocks (the GPT
    *    layout pack_concat materializes): pad only in the final block,
    *    the information-theoretic floor.
    *
    * Everything is a closed-form integer function of the per-doc token
    * count, so the whole report is ONE corpus scan + one partial-agg
    * exchange, melted to a row per strategy; pad_frac is the single
    * float, computed once per row. At 100 TB the report is what picks
    * the strategy BEFORE the (byte-multiplying) packing job runs.
    */
  def packStats(s: SparkSession, dir: String): DataFrame = {
    val cap = 512
    val one = Tables(s, dir).documents
      .select((size(TextOps.tokens(col("text"))) + 1).cast("long").as("n"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tok"),
        sum(ceil(col("n").cast("double") / cap).cast("long")).as("blk_pad"),
        sum(least(col("n"), lit(cap.toLong))).as("kept_trunc"))
    one.select(
        expr(s"""stack(3,
          |'concat', ceil(tok / ${cap}D), tok, 0L,
          |'pad_per_doc', blk_pad, tok, 0L,
          |'truncate_per_doc', n_docs, kept_trunc, tok - kept_trunc
          |)""".stripMargin)
          .as(Seq("strategy", "n_blocks", "n_kept_tokens", "n_dropped_tokens")))
      .withColumn("n_blocks", col("n_blocks").cast("long"))
      .withColumn("n_pad_tokens",
        col("n_blocks") * cap - col("n_kept_tokens"))
      .withColumn("pad_frac",
        round(col("n_pad_tokens").cast("double") / (col("n_blocks") * cap), 6))
      .select(col("strategy"), col("n_blocks"), col("n_kept_tokens"),
        col("n_dropped_tokens"), col("n_pad_tokens"), col("pad_frac"))
      .orderBy(col("strategy"))
  }

  val packStatsSql: String =
    """WITH d AS (
      |  SELECT (len(list_filter(string_split_regex(lower(text), '\s+'),
      |                          x -> x <> '')) + 1)::BIGINT AS n
      |  FROM documents),
      |agg AS (
      |  SELECT count(*) AS n_docs, sum(n)::BIGINT AS tok,
      |    sum(ceil(n::DOUBLE / 512)::BIGINT)::BIGINT AS blk_pad,
      |    sum(least(n, 512))::BIGINT AS kept_trunc
      |  FROM d),
      |m AS (
      |  SELECT 'concat' AS strategy, ceil(tok / 512.0)::BIGINT AS n_blocks,
      |    tok AS n_kept_tokens, 0::BIGINT AS n_dropped_tokens FROM agg
      |  UNION ALL
      |  SELECT 'pad_per_doc', blk_pad, tok, 0::BIGINT FROM agg
      |  UNION ALL
      |  SELECT 'truncate_per_doc', n_docs, kept_trunc,
      |    (tok - kept_trunc)::BIGINT FROM agg)
      |SELECT strategy, n_blocks, n_kept_tokens, n_dropped_tokens,
      |  (n_blocks * 512 - n_kept_tokens)::BIGINT AS n_pad_tokens,
      |  round((n_blocks * 512 - n_kept_tokens)::DOUBLE / (n_blocks * 512), 6)
      |    AS pad_frac
      |FROM m
      |ORDER BY strategy""".stripMargin

  /** The shard-publication lifecycle under the full hash oracle — the
    * registered query face of [[graft.ops.ShardStore]] (the q_mv_compact
    * move applied to exports): the corpus PUBLISHES as a real epoch-0
    * shard tree + manifest (ShuffleShard.writeShards through the
    * Epochs pointer swap), a consumer PINS the epoch (readShards — the
    * plans list only that epoch's files) and runs the delivery
    * handshake (validate: manifest arithmetic recomputed over the
    * shards actually read vs the published manifest). The oracle is
    * export_manifest's own SQL with `ok` TRUE — hash-green proves, in
    * one row set: the published tree is byte-complete (round-tripped
    * rows reproduce count/bytes/XOR-signature per shard), the manifest
    * written FROM the assigned frame equals the one recomputed FROM
    * the files, and the epoch publish/pin plumbing returns exactly the
    * corpus. A corrupted or partial delivery flips `ok` rows and the
    * hash. The tmp publish is a fixture artifact; production pays the
    * export it was already paying, and ExportSpec covers the
    * concurrency half (pinned-run-survives-publish, retention,
    * epoch reproduction).
    */
  def qShardDelivery(s: SparkSession, dir: String): DataFrame = {
    val store = graft.util.Staging.dir(s, "shard_delivery")
    val docs = Tables(s, dir).documents
    graft.ops.ShardStore.publish(s, store, docs,
      "doc_id", "text", ShardSeed, NShards)
    val pinned = graft.ops.ShardStore.readShards(s, store)
    graft.ops.ShardStore
      .validate(pinned, "doc_id", "text", ShardSeed, NShards)
      .orderBy(col("shard"))
  }

  val qShardDeliverySql: String =
    s"""WITH h AS (
       |  SELECT
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':$ShardSeed'), 1, 8))::BIGINT
       |      % $NShards AS shard,
       |    strlen(text) AS nb,
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':' || text), 1, 15))::BIGINT
       |      AS row_sig
       |  FROM documents)
       |SELECT shard, count(*) AS n_rows, sum(nb)::BIGINT AS n_bytes,
       |  bit_xor(row_sig) AS checksum, TRUE AS ok
       |FROM h GROUP BY shard ORDER BY shard""".stripMargin

  /** Mid-epoch training resume cursor — the checkpoint-restart
    * primitive a data loader needs: given the deterministic shard
    * layout (sample_shard / [[graft.ops.ShuffleShard]]: seeded md5 key,
    * key mod N shard, in-shard key order) and a global consumed-unit
    * offset T (units = chars here; any per-doc integer cost column
    * works the same), find the exact (shard, doc, skip-within-doc)
    * cursor so a restarted run continues at token T+1 without
    * re-reading or re-randomizing anything. Probes are the 1/8..7/8
    * points of the total, derived IN-PLAN from a one-row aggregate.
    *
    * Plan shape at 100 TB: within-shard running totals are windows
    * PARTITIONED BY shard (parallel across shards); the only
    * single-partition window is the per-shard prefix sum over nShards
    * rows; probes ride a broadcast nested-loop join (7 rows × corpus,
    * map-side). A production loader would additionally prune shards
    * whose [chars_before_shard, +shard_chars) range excludes T — the
    * manifest-level skip this query's per-shard totals already provide.
    */
  def qResumeCursor(s: SparkSession, dir: String): DataFrame = {
    // assigned feeds THREE subtrees (in-shard windows, the per-shard
    // prefix aggregate, the total-chars probe base) — checkpoint the
    // narrow (doc_id, n_chars, shuffle_key, shard) derivation so the
    // scan + md5 shard assignment runs once per query, not three times
    val assigned = ShuffleShard.assign(
        Tables(s, dir).documents.select(col("doc_id"), col("n_chars")),
        "doc_id", ShardSeed, NShards)
      .localCheckpoint(false)
    val wShard = Window.partitionBy(col("shard"))
      .orderBy(col("shuffle_key"), col("doc_id"))
    val inShard = assigned
      .withColumn("cum_in_shard", sum(col("n_chars")).over(wShard))
      .withColumn("row_in_shard", row_number().over(wShard).cast("long"))
    val wPrefix = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = assigned.groupBy(col("shard"))
      .agg(sum(col("n_chars")).as("shard_chars"),
        count(lit(1)).as("shard_docs"))
      .withColumn("chars_before_shard",
        coalesce(sum(col("shard_chars")).over(wPrefix), lit(0L)))
      .withColumn("docs_before_shard",
        coalesce(sum(col("shard_docs")).over(wPrefix), lit(0L)))
      .select(col("shard"), col("chars_before_shard"),
        col("docs_before_shard"))
    val global = inShard.join(broadcast(prefix), "shard")
      .withColumn("cum_after",
        col("chars_before_shard") + col("cum_in_shard"))
      .withColumn("cum_before", col("cum_after") - col("n_chars"))
      .withColumn("docs_before",
        col("docs_before_shard") + col("row_in_shard") - 1)
    val probes = s.range(1, 8).toDF("k")
      .crossJoin(broadcast(
        assigned.agg(sum(col("n_chars")).as("total_chars"))))
      .select(col("k"), expr("(total_chars * k) div 8").as("t_offset"))
    global.join(broadcast(probes),
        col("t_offset") >= col("cum_before") &&
          col("t_offset") < col("cum_after"))
      .select(col("k"), col("t_offset"), col("shard"), col("doc_id"),
        (col("t_offset") - col("cum_before")).as("skip_units"),
        col("docs_before"))
      .orderBy(col("k"))
  }

  /** The oracle replays the md5 key + one global window ordered by
    * (shard, key, doc_id) — provably equal to the two-level Spark plan.
    */
  val qResumeCursorSql: String =
    s"""WITH a AS (
       |  SELECT doc_id, n_chars,
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':$ShardSeed'), 1, 8))::BIGINT
       |      AS key
       |  FROM documents),
       |b AS (SELECT doc_id, n_chars, key, key % $NShards AS shard FROM a),
       |c AS (
       |  SELECT *,
       |    sum(n_chars) OVER (ORDER BY shard, key, doc_id)::BIGINT AS cum_after,
       |    (row_number() OVER (ORDER BY shard, key, doc_id) - 1)::BIGINT
       |      AS docs_before
       |  FROM b),
       |d AS (SELECT *, cum_after - n_chars AS cum_before FROM c),
       |t AS (SELECT sum(n_chars)::BIGINT AS total_chars FROM documents),
       |p AS (
       |  SELECT k, (total_chars * k) // 8 AS t_offset
       |  FROM t, range(1, 8) r(k))
       |SELECT p.k, p.t_offset, d.shard, d.doc_id,
       |  (p.t_offset - d.cum_before)::BIGINT AS skip_units, d.docs_before
       |FROM p JOIN d
       |  ON p.t_offset >= d.cum_before AND p.t_offset < d.cum_after
       |ORDER BY p.k""".stripMargin

  /** Within-source perplexity-band pruning (the CCNet/Gopher "drop the
    * weird tails" filter): keep each source's docs whose bigram-LM
    * score (text_lmscore's EXACT quantized definition — one model, one
    * arithmetic) lies inside the [p10, p90] band; report per source
    * what was kept/pruned and the band edges. Exact quantiles without a
    * corpus sort: scores are 1e-4-quantized integers with a BOUNDED
    * value range, so the edges come from a histogram-decomposed cumsum
    * — GROUP BY (source, q) first (partial-aggregatable), then windows
    * over the bounded histogram, never over docs. Edge rule: lo = min q
    * with cum ≥ ⌈n/10⌉, hi = min q with cum ≥ ⌈9n/10⌉ — pure integer
    * arithmetic, identical in both engines.
    *
    * At 100 TB: two linear scans (one to build the histogram, one to
    * classify — the unavoidable two-pass shape of an exact-quantile
    * filter), a bounded-cardinality histogram exchange, and a
    * |sources|-row broadcast back. Nothing sorts the corpus.
    */
  def mixPerplexityBand(s: SparkSession, dir: String): DataFrame = {
    val model = TextQueries.lmModel(s, dir)
    // scored feeds TWO subtrees (the edge histogram and the classify
    // join) — checkpoint the ~24 B/doc (source, n_chars, q) narrow
    // derivation so the corpus is tokenized + LM-scored ONCE per run
    // (the text_nbclassify/cooc_pmi doctrine); re-scoring 100 TB of
    // text for pass 2 is the expensive half of this query
    val scored = Tables(s, dir).documents
      .select(col("source"), col("n_chars"),
        floor(graft.text.BigramLm.score(col("text"), model) * 10000 + 0.5)
          .cast("long").as("q"))
      .localCheckpoint(false)
    val wCum = Window.partitionBy(col("source")).orderBy(col("q"))
    val wAll = Window.partitionBy(col("source"))
    val edges = scored.groupBy(col("source"), col("q"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n_src", sum(col("cnt")).over(wAll))
      .groupBy(col("source"))
      .agg(
        min(when(col("cum") >= expr("(n_src + 9) div 10"), col("q")))
          .as("lo_q"),
        min(when(col("cum") >= expr("(n_src * 9 + 9) div 10"), col("q")))
          .as("hi_q"))
    scored.join(broadcast(edges), "source")
      .withColumn("band",
        when(col("q") < col("lo_q"), lit("low"))
          .when(col("q") > col("hi_q"), lit("high"))
          .otherwise(lit("keep")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("band") === "keep", 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("band") === "low", 1L).otherwise(0L)).as("n_low"),
        sum(when(col("band") === "high", 1L).otherwise(0L)).as("n_high"),
        max(col("lo_q")).as("lo_q"), max(col("hi_q")).as("hi_q"),
        sum(when(col("band") === "keep", col("n_chars")).otherwise(0L))
          .as("kept_chars"))
      .orderBy(col("source"))
  }

  /** Replays text_lmscore's model CTEs, then the identical histogram
    * cumsum edge arithmetic.
    */
  val mixPerplexityBandSql: String =
    """WITH ch AS (
      |  SELECT doc_id, string_split(lower(text), '') AS a FROM documents),
      |occ AS (
      |  SELECT doc_id,
      |    unnest([a[i] || a[i + 1] FOR i IN range(1, len(a))]) AS g
      |  FROM ch WHERE len(a) >= 2),
      |model AS (SELECT g, count(*) AS cg FROM occ GROUP BY g),
      |pref AS (
      |  SELECT substr(g, 1, 1) AS c1, sum(cg) AS cp
      |  FROM model GROUP BY c1),
      |dtab AS (SELECT doc_id, g, count(*) AS cd FROM occ GROUP BY doc_id, g),
      |terms AS (
      |  SELECT d.doc_id,
      |    floor(d.cd * log2(m.cg::DOUBLE / p.cp) * 1000.0 + 0.5)::BIGINT
      |      AS milli,
      |    d.cd
      |  FROM dtab d
      |  JOIN model m USING (g)
      |  JOIN pref p ON substr(d.g, 1, 1) = p.c1),
      |h AS (
      |  SELECT doc_id, sum(milli)::DOUBLE / (sum(cd) * 1000.0) AS score
      |  FROM terms GROUP BY doc_id),
      |sc AS (
      |  SELECT d.source, d.n_chars,
      |    floor(coalesce(h.score, 0.0) * 10000 + 0.5)::BIGINT AS q
      |  FROM documents d LEFT JOIN h USING (doc_id)),
      |cum AS (
      |  SELECT source, q, cnt,
      |    sum(cnt) OVER (PARTITION BY source ORDER BY q) AS cum,
      |    sum(cnt) OVER (PARTITION BY source) AS n_src
      |  FROM (SELECT source, q, count(*) AS cnt FROM sc GROUP BY source, q)),
      |edges AS (
      |  SELECT source,
      |    min(CASE WHEN cum >= (n_src + 9) // 10 THEN q END) AS lo_q,
      |    min(CASE WHEN cum >= (n_src * 9 + 9) // 10 THEN q END) AS hi_q
      |  FROM cum GROUP BY source)
      |SELECT sc.source, count(*) AS n_docs,
      |  sum(CASE WHEN q BETWEEN lo_q AND hi_q THEN 1 ELSE 0 END)::BIGINT
      |    AS n_keep,
      |  sum(CASE WHEN q < lo_q THEN 1 ELSE 0 END)::BIGINT AS n_low,
      |  sum(CASE WHEN q > hi_q THEN 1 ELSE 0 END)::BIGINT AS n_high,
      |  max(lo_q)::BIGINT AS lo_q, max(hi_q)::BIGINT AS hi_q,
      |  sum(CASE WHEN q BETWEEN lo_q AND hi_q THEN n_chars ELSE 0 END)::BIGINT
      |    AS kept_chars
      |FROM sc JOIN edges USING (source)
      |GROUP BY sc.source
      |ORDER BY sc.source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_shard_delivery" -> (qShardDelivery _),
    "q_resume_cursor" -> (qResumeCursor _),
    "mix_perplexity_band" -> (mixPerplexityBand _),
    "pack_stats" -> (packStats _),
    "q_corpus_diff" -> (qCorpusDiff _),
    "q_crawl_novelty" -> (qCrawlNovelty _),
    "q_crawl_novelty_probe" -> (qCrawlNoveltyProbe _),
    "mix_dedup_weight" -> (mixDedupWeight _),
    "pack_bestfit" -> (packBestfit _),
    "mix_dsir" -> (mixDsir _),
    "pipeline_e2e" -> (pipelineE2e _),
    "sample_shard" -> (sampleShard _),
    "mix_split" -> (mixSplit _),
    "export_manifest" -> (exportManifest _),
    "manifest_incremental" -> (manifestIncremental _),
    "manifest_stream" -> (manifestStreamFace _),
    "novelty_stream" -> (noveltyStreamFace _),
    "q_novelty_index_build" -> (qNoveltyIndexBuild _),
    "q_crawl_novelty_sketch" -> (qCrawlNoveltySketch _),
    "manifest_diff" -> (manifestDiff _),
    "mix_data_constrained" -> (mixDataConstrained _),
    "sample_weighted" -> (sampleWeighted _),
    "mix_curriculum" -> (mixCurriculum _),
    "mix_curriculum_bounds" -> (mixCurriculumBounds _),
    "mix_sources" -> (mixSources _),
    "mix_temperature" -> (mixTemperature _),
    "text_pii_scrub" -> (textPiiScrub _),
    "text_quality_rules" -> (textQualityRules _),
    "dedup_decontaminate" -> (dedupDecontaminate _),
    "sample_stratified" -> (sampleStratified _),
    "pack_sequences" -> (packSequences _),
    "pack_concat" -> (packConcat _),
    "mix_token_budget" -> (mixTokenBudget _),
    "q_source_quality" -> (qSourceQuality _),
    "emb_quantize" -> (embQuantize _))

  val oracleSql: Map[String, String] = Map(
    "q_shard_delivery" -> qShardDeliverySql,
    "q_resume_cursor" -> qResumeCursorSql,
    "mix_perplexity_band" -> mixPerplexityBandSql,
    "pack_stats" -> packStatsSql,
    "q_corpus_diff" -> qCorpusDiffSql,
    "q_crawl_novelty" -> qCrawlNoveltySql,
    // the probe face must reproduce the full recompute bit-for-bit, so
    // the oracle IS q_crawl_novelty's (the manifest_incremental move)
    "q_crawl_novelty_probe" -> qCrawlNoveltySql,
    "mix_dsir" -> mixDsirSql,
    "pipeline_e2e" -> pipelineE2eSql,
    "sample_shard" -> sampleShardSql,
    "mix_split" -> mixSplitSql,
    "export_manifest" -> exportManifestSql,
    "manifest_incremental" -> manifestIncrementalSql,
    "manifest_stream" -> manifestStreamSql,
    "novelty_stream" -> noveltyStreamSql,
    "q_novelty_index_build" -> qNoveltyIndexBuildSql,
    "manifest_diff" -> manifestDiffSql,
    "mix_data_constrained" -> mixDataConstrainedSql,
    "sample_weighted" -> sampleWeightedSql,
    "mix_curriculum" -> mixCurriculumSql,
    // the bounds variant is byte-identical to ntile by construction,
    // so it shares the same oracle — a hash-green proof of the parity
    "mix_curriculum_bounds" -> mixCurriculumSql,
    "mix_sources" -> mixSourcesSql,
    "mix_temperature" -> mixTemperatureSql,
    "mix_dedup_weight" -> mixDedupWeightSql,
    "text_pii_scrub" -> textPiiScrubSql,
    "text_quality_rules" -> textQualityRulesSql,
    "dedup_decontaminate" -> dedupDecontaminateSql,
    "sample_stratified" -> sampleStratifiedSql,
    "pack_sequences" -> packSequencesSql,
    "pack_concat" -> packConcatSql,
    "mix_token_budget" -> mixTokenBudgetSql,
    "q_source_quality" -> qSourceQualitySql,
    "emb_quantize" -> embQuantizeSql)
}
