package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.{BloomMembership, ConnectedComponents, Dedup, EmbeddingDedup, MinHashLSH, NgramJaccard, SegmentDedup, SimHash, Winnow}
import graft.text.TextOps
import graft.util.Tables

/** Deduplication coverage (SURVEY.md §2.3) over the documents /
  * embeddings tables. Thresholds are tuned to the synthetic corpus: word
  * trigram Jaccard splits it into ~25 planted near-dup pairs (≥ 0.9) vs
  * background (< 0.2), and embedding cosine tops out near 0.51.
  */
object DedupQueries {

  /** Normalization key shared by the DuckDB oracles: lowercase →
    * whitespace tokens → distinct → sort → join.
    */
  private[queries] val normKeySql =
    """array_to_string(list_sort(list_distinct(
      |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''))), ' ')""".stripMargin

  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables(s, dir).documents, "doc_id", "text")
      .orderBy(col("keep_id"))

  val dedupExactSql: String =
    s"""SELECT min(doc_id) AS keep_id, count(*) AS n_docs
       |FROM (SELECT doc_id, $normKeySql AS k FROM documents)
       |GROUP BY k
       |ORDER BY keep_id""".stripMargin

  def dedupExactCount(s: SparkSession, dir: String): DataFrame =
    Dedup.classHistogram(Tables(s, dir).documents, "doc_id", "text")
      .orderBy(col("class_size"))

  val dedupExactCountSql: String =
    s"""SELECT n_docs AS class_size, count(*) AS n_classes
       |FROM (
       |  SELECT count(*) AS n_docs
       |  FROM (SELECT doc_id, $normKeySql AS k FROM documents)
       |  GROUP BY k)
       |GROUP BY class_size
       |ORDER BY class_size""".stripMargin

  /** Word-trigram shingle set per doc, as the DuckDB oracles build it. */
  private val shingleSql =
    """SELECT doc_id,
      |  list_distinct([array_to_string(toks[i:i+2], ' ')
      |                 FOR i IN range(1, len(toks) - 1)]) AS sh
      |FROM (SELECT doc_id,
      |        list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      |      FROM documents)
      |WHERE len(toks) >= 3""".stripMargin

  /** Exact-Jaccard pair SQL (word trigrams, tau applied to round(·,4)). */
  private def jaccardPairsSql(tau: Double): String =
    s"""SELECT id_a, id_b, jaccard FROM (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    round(len(list_intersect(a.sh, b.sh))::DOUBLE /
       |          len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
       |  FROM ($shingleSql) a, ($shingleSql) b
       |  WHERE a.doc_id < b.doc_id)
       |WHERE jaccard >= $tau
       |ORDER BY id_a, id_b""".stripMargin

  /** MinHash LSH candidates verified by exact Jaccard. The oracle is the
    * full exact-pair SQL: sound because verification reports EXACT
    * Jaccard, and complete because every true pair in this corpus sits
    * at J ≥ 0.9 where the 16×4 band S-curve detects with
    * P ≈ 1 - 4·10⁻⁸ per pair — confirmed pair-for-pair (deterministic
    * hashes) in DedupSpec and against the exact inverted index at sf0.1.
    */
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    MinHashLSH.nearDuplicates(Tables(s, dir).documents, "doc_id", "text",
        n = 3, tau = 0.7)
      .orderBy(col("id_a"), col("id_b"))

  val dedupMinhashLshSql: String = jaccardPairsSql(0.7)

  /** SimHash Hamming ≤ 3 pairs — rows-only oracle (xxhash64 has no DuckDB
    * twin); invariants (symmetry, hamming bound, permuted-copy collision)
    * are spec-tested. The PAIR stage (everything after fingerprinting)
    * is fully oracled separately by [[dedupCodePairs]].
    */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    SimHash.nearDuplicates(Tables(s, dir).documents, "doc_id", "text", maxDist = 3)
      .orderBy(col("id_a"), col("id_b"))

  /** The 64-bit-code PAIR STAGE under a full DuckDB oracle — the half
    * of dedup_simhash and mm_phash that IS exact integer arithmetic
    * (their code-PRODUCING halves — xxhash64 fingerprints, JDK image
    * decode — have no SQL twin, which is why those two are rows-only).
    * Codes are planted deterministically from doc_id with arithmetic
    * both engines compute bit-identically in BIGINT (no overflow, no
    * hash library): each group of 4 docs shares a multiplicative-hash
    * base code spread over bits 0..62, and variants 1..3 flip one bit
    * in blocks 0/1/2 — so within-group pairs sit at Hamming 1–2 and
    * cross-group pairs are pseudo-random-far. The Spark side runs the
    * PRODUCTION pigeonhole operator ([[SimHash.pairsOf]]: 4-block
    * posexplode → (block_id, block_val) equi-join → xor+popcount
    * verify); the oracle computes the SEMANTIC ground truth (all pairs
    * at Hamming ≤ 3) directly — green means the banded join is exactly
    * complete and exactly sound on this corpus, at sf0.01 and the
    * sf0.1 sweep, not just on the spec's pinned sf0.001 list.
    *
    * Scale: the Spark side is the indexed path (candidates ∝ block
    * collisions, not n²); only the DuckDB oracle is quadratic, and
    * oracles run at toy SF by construction.
    */
  def dedupCodePairs(s: SparkSession, dir: String): DataFrame = {
    val g = expr("doc_id div 4")
    val v = col("doc_id") % 4
    // two 31-bit multiplicative hashes (Knuth 2654435761 and a second
    // odd constant), composed into bits 0..30 and 32..62: all products
    // stay < 2^63 for doc_id < ~8.6e9, so BIGINT never wraps in either
    // engine (Spark wraps silently, DuckDB errors — neither happens)
    val h1 = (g * 2654435761L) % 2147483647L
    val h2 = (g * 40503L + 1597334677L) % 2147483647L
    val base = h1 * 4294967296L + h2
    val flip = when(v === 1, 1L).when(v === 2, 2097152L) // 2^21
      .when(v === 3, 4398046511104L) // 2^42
      .otherwise(0L)
    val codes = Tables(s, dir).documents
      .select(col("doc_id"), base.bitwiseXOR(flip).as("sim"))
    SimHash.pairsOf(codes, maxDist = 3)
      .orderBy(col("id_a"), col("id_b"))
  }

  val dedupCodePairsSql: String =
    """WITH codes AS (
      |  SELECT doc_id,
      |    xor(((doc_id // 4) * 2654435761) % 2147483647 * 4294967296
      |          + ((doc_id // 4) * 40503 + 1597334677) % 2147483647,
      |        CASE doc_id % 4 WHEN 1 THEN 1 WHEN 2 THEN 2097152
      |             WHEN 3 THEN 4398046511104 ELSE 0 END) AS sim
      |  FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  bit_count(xor(a.sim, b.sim))::BIGINT AS hamming
      |FROM codes a, codes b
      |WHERE a.doc_id < b.doc_id
      |  AND bit_count(xor(a.sim, b.sim)) <= 3
      |ORDER BY id_a, id_b""".stripMargin

  /** Inverted-index exact n-gram Jaccard — same oracle SQL as minhash
    * (both report exact pairs ≥ 0.7), but completeness here is
    * structural (df-capped candidate generation), not probabilistic.
    */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    // finite cap ON, as production would run it: candidates can only be
    // missed for pairs glued solely by shingles with df > maxDf, and the
    // test corpora top out at trigram df 25 (sf0.1) — so 1000 keeps the
    // output byte-identical to the uncapped exact-pair oracle while
    // bounding any single shingle's join fan-out at real corpus scale
    NgramJaccard.pairs(Tables(s, dir).documents, "doc_id", "text",
        n = 3, tau = 0.7, maxDf = 1000)
      .orderBy(col("id_a"), col("id_b"))

  val dedupNgramJaccardSql: String = jaccardPairsSql(0.7)

  /** Near-dup pairs → duplicate clusters via ConnectedComponents
    * (driver union-find at this graph size, star alternation past
    * `DriverUnionFindMaxEdges`). The oracle computes the same
    * components with a recursive CTE over the exact-Jaccard pair graph
    * (sound because the LSH pair set is verified equal to the exact
    * pair set — see dedupMinhashLsh). Also registered as
    * dedup_clusters_star, so face lists that name it still resolve.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = MinHashLSH.nearDuplicates(Tables(s, dir).documents,
      "doc_id", "text", n = 3, tau = 0.7)
    ConnectedComponents.clusters(pairs.select(col("id_a"), col("id_b")))
      .orderBy(col("cluster_id"))
  }

  val dedupClustersSql: String =
    s"""WITH RECURSIVE
       |pairs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |      round(len(list_intersect(a.sh, b.sh))::DOUBLE /
       |            len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
       |    FROM ($shingleSql) a, ($shingleSql) b
       |    WHERE a.doc_id < b.doc_id)
       |  WHERE jaccard >= 0.7),
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
       |SELECT label AS cluster_id, count(*) AS n_docs FROM (
       |  SELECT u AS id, least(u, min(v)) AS label FROM reach GROUP BY u)
       |GROUP BY label
       |ORDER BY cluster_id""".stripMargin

  /** The exact quadratic validator — ground truth for
    * dedup_embedding_cell, correct at test scale, O(n²) by
    * construction (the scale default is the cell-blocked twin below).
    */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    EmbeddingDedup.pairs(Tables(s, dir).embeddings, "vec_id", "embedding", tau = 0.4)
      .orderBy(col("id_a"), col("id_b"))

  /** The scale-shaped twin: IVF-cell-blocked candidates + exact cosine
    * verify (EmbeddingDedup.cellPairs — equi-join keyed on cell, no
    * cartesian-class join; PlanSpec pins it), checked against the SAME
    * quadratic DuckDB oracle as dedup_embedding, byte-identical output.
    *
    * On probe depth, honestly: this corpus's τ = 0.4 sits far below
    * the production near-dup regime (0.85+), and its 0.4–0.6 pairs
    * span cluster boundaries — measured completeness at the test
    * geometry (C = 16): nProbe 2 → 47/59 pairs at sf0.01, 4 → 59/59
    * but 874/920 at sf0.1, 8 → exact at both. So the registered query
    * probes 8: at C = 16 that is half the cells and the BLOCKING saves
    * nothing here (warm cost ≈ the quadratic twin's, measured 2.4 vs
    * 2.6 s) — what scales is the SHAPE: candidates ∝ n²·nProbe²∕C
    * ride an equi-join, C grows with the corpus (as in IVF search)
    * while nProbe tracks the τ regime, not n. The quadratic validator
    * has no such knob — it is n²∕2 always. Centroids come from the
    * same per-dir memoized fit IVF search uses; DedupSpec pins the
    * subset/recall-vs-nProbe behavior against the in-Spark quadratic
    * path so a corpus change degrades loudly rather than silently.
    */
  def dedupEmbeddingCell(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir).embeddings
    EmbeddingDedup.cellPairs(emb, "vec_id", "embedding", tau = 0.4,
        nProbe = 8, centroids = Some(SimQueries.centroidsFor(s, dir)))
      .orderBy(col("id_a"), col("id_b"))
  }

  val dedupEmbeddingSql: String =
    """SELECT id_a, id_b, cos FROM (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    round(list_sum(list_transform(range(1, len(a.embedding) + 1),
      |            i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
      |          (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) *
      |           sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))),
      |      6) AS cos
      |  FROM embeddings a, embeddings b
      |  WHERE a.vec_id < b.vec_id)
      |WHERE cos >= 0.4
      |ORDER BY id_a, id_b""".stripMargin

  /** Incremental dedup (graft.dedup.MinHashIndex): the seen 80% of the
    * corpus (doc_id ≢ 4 mod 5, the dedup_bloom split) is indexed once;
    * the new 20% is probed against it — shingle/sign/band map-only on
    * the batch, ONE (band_id, band_hash) equi-join against the index,
    * exact Jaccard verify on candidates. Output: new×seen near-dup
    * pairs at τ = 0.7 (new×new pairs are out of scope by contract —
    * dedupe the batch internally with dedup_minhash_lsh first). The
    * oracle is the exact cross-split pair SQL — valid for the same
    * S-curve reason as dedup_minhash_lsh; the disk round-trip and
    * full-run-restriction parity are DedupSpec-gated.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val seen = docs.filter(pmod(col("doc_id"), lit(5)) < 4)
    val fresh = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
    val idx = graft.dedup.MinHashIndex.build(seen, "doc_id", "text", n = 3)
    graft.dedup.MinHashIndex.probe(idx, fresh, "doc_id", "text",
        n = 3, tau = 0.7)
      .orderBy(col("new_id"), col("seen_id"))
  }

  val dedupIncrementalSql: String =
    s"""SELECT new_id, seen_id, jaccard FROM (
       |  SELECT n.doc_id AS new_id, s.doc_id AS seen_id,
       |    round(len(list_intersect(n.sh, s.sh))::DOUBLE /
       |          len(list_distinct(list_concat(n.sh, s.sh))), 4) AS jaccard
       |  FROM ($shingleSql) n, ($shingleSql) s
       |  WHERE n.doc_id % 5 = 4 AND s.doc_id % 5 < 4)
       |WHERE jaccard >= 0.7
       |ORDER BY new_id, seen_id""".stripMargin

  /** Semantic dedup keep/drop decisions (SemDeDup, Abbas et al.
    * arXiv:2303.09540 re-expressed): a vector is DROPPED when some
    * vector with a smaller id is cosine-similar at ≥ τ. The rule is the
    * parallel, order-free variant of SemDeDup's per-cluster greedy keep
    * ("drop if any earlier similar item" — exactly the batch twin of
    * streaming dropDuplicates): every decision depends only on the
    * pair set, so it distributes with no sequential pass and has an
    * exact quadratic SQL twin. Candidates come from the SAME
    * IVF-cell-blocked generator as dedup_embedding_cell (equi-join on
    * cell, no cartesian; completeness at nProbe = 8 is measured exact
    * on this corpus and DedupSpec pins the keep set against the
    * in-Spark quadratic path), so the scale shape is Σ|cell|², not n².
    * Output: per vector, how many smaller-id near-dups dominate it and
    * the resulting keep flag — `keep = 1` rows ARE the deduplicated
    * corpus (anti-join by construction).
    */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir).embeddings
    val pairs = EmbeddingDedup.cellPairs(emb, "vec_id", "embedding",
      tau = 0.4, nProbe = 8, centroids = Some(SimQueries.centroidsFor(s, dir)))
    val prior = pairs.groupBy(col("id_b").as("vec_id"))
      .agg(count(lit(1)).as("n_prior_dups"))
    emb.select(col("vec_id"))
      .join(prior, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_prior_dups"), lit(0L)).as("n_prior_dups"),
        when(coalesce(col("n_prior_dups"), lit(0L)) === 0, lit(1))
          .otherwise(lit(0)).as("keep"))
      .orderBy(col("vec_id"))
  }

  val dedupSemanticSql: String =
    """WITH n AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
      |      AS nrm
      |  FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    round(list_sum(list_transform(range(1, len(a.embedding) + 1),
      |            i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
      |          (a.nrm * b.nrm), 6) AS cos
      |  FROM n a, n b
      |  WHERE a.vec_id < b.vec_id),
      |d AS (
      |  SELECT id_b AS vec_id, count(*) AS n_prior_dups
      |  FROM p WHERE cos >= 0.4 GROUP BY id_b)
      |SELECT e.vec_id,
      |  coalesce(d.n_prior_dups, 0) AS n_prior_dups,
      |  CASE WHEN coalesce(d.n_prior_dups, 0) = 0 THEN 1 ELSE 0 END AS keep
      |FROM embeddings e LEFT JOIN d USING (vec_id)
      |ORDER BY vec_id""".stripMargin

  /** Bloom-prefiltered membership: probe docs (doc_id ≡ 4 mod 5) whose
    * normalization key already exists in the seen 80% — the scale shape
    * of "is this document already in the training set". The bloom
    * prefilter plus exact verification makes the output EXACTLY the
    * semi join the oracle runs; the spec additionally checks the
    * candidate set contains every true match (no false negatives).
    */
  def dedupBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val seen = docs.filter(pmod(col("doc_id"), lit(5)) < 4)
    val probe = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
    BloomMembership.matches(probe, seen,
        Dedup.normKey(col("text")), Dedup.normKey(col("text")),
        expectedN = 10000L, fpp = 0.001)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  val dedupBloomSql: String =
    s"""SELECT d.doc_id
       |FROM (SELECT doc_id, $normKeySql AS k FROM documents) d
       |WHERE d.doc_id % 5 = 4 AND EXISTS (
       |  SELECT 1 FROM (SELECT doc_id, $normKeySql AS k FROM documents) s
       |  WHERE s.doc_id % 5 < 4 AND s.k = d.k)
       |ORDER BY doc_id""".stripMargin

  /** The dedup pipeline's last mile: near-dup pairs → clusters → ONE
    * canonical doc kept per cluster. Keep-heuristic = longest text
    * (ties → smallest doc_id) — the standard "keep the most complete
    * copy" rule; swap the ORDER BY for a quality score to change policy.
    *
    * The rank window partitions on the same key the following groupBy
    * uses, so Catalyst reuses the exchange: cluster assembly costs one
    * shuffle past label propagation. Output is per-cluster (small —
    * one row per duplicate cluster, not per doc); the kept corpus
    * itself is `docs ⟕ losers` anti-join, same frame, no extra pass.
    */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val pairs = MinHashLSH.nearDuplicates(docs, "doc_id", "text", n = 3, tau = 0.7)
    val labels = ConnectedComponents.labels(pairs.select(col("id_a"), col("id_b")))
    val members = labels.join(docs, labels("id") === docs("doc_id"))
      .select(col("label").as("cluster_id"), col("doc_id"), col("n_chars"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    members.withColumn("rk", row_number().over(w))
      .groupBy(col("cluster_id"))
      .agg(max(when(col("rk") === 1, col("doc_id"))).as("keep_id"),
        count(lit(1)).as("n_members"))
      .orderBy(col("cluster_id"))
  }

  val dedupKeepBestSql: String =
    s"""WITH RECURSIVE
       |pairs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |      round(len(list_intersect(a.sh, b.sh))::DOUBLE /
       |            len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
       |    FROM ($shingleSql) a, ($shingleSql) b
       |    WHERE a.doc_id < b.doc_id)
       |  WHERE jaccard >= 0.7),
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |labels AS (
       |  SELECT u AS id, least(u, min(v)) AS label FROM reach GROUP BY u),
       |m AS (
       |  SELECT l.label AS cluster_id, d.doc_id, d.n_chars,
       |    row_number() OVER (PARTITION BY l.label
       |                       ORDER BY d.n_chars DESC, d.doc_id) AS rk
       |  FROM labels l JOIN documents d ON l.id = d.doc_id)
       |SELECT cluster_id, max(CASE WHEN rk = 1 THEN doc_id END) AS keep_id,
       |  count(*) AS n_members
       |FROM m GROUP BY cluster_id
       |ORDER BY cluster_id""".stripMargin

  /** Winnowing fingerprint near-dup pairs (Schleimer et al. SIGMOD'03;
    * graft.dedup.Winnow): docs sharing ≥ 2 selected k-gram fingerprints.
    * Any shared token run of length ≥ w+k−1 guarantees a shared
    * fingerprint, at ~2/(w+1) of the full gram index's size. The oracle
    * replays the identical trailing-window-min selection with DuckDB
    * window functions — selection order is lexicographic gram order
    * here, which both engines compare bytewise (production would plug a
    * hash order via `orderKey`; the guarantee holds for any total
    * order).
    */
  def dedupWinnow(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
      .withColumn("toks", TextOps.tokens(col("text")))
    val fps = Winnow.fingerprints(docs, "doc_id", "toks", k = WinnowK,
      w = WinnowW)
    Winnow.pairs(fps, "doc_id", minShared = 2)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val WinnowK = 5
  private val WinnowW = 4

  val dedupWinnowSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |                x -> x <> '') AS toks
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, u.gpos, u.gram FROM (
       |    SELECT doc_id,
       |      unnest([{'gpos': i,
       |               'gram': array_to_string(toks[i:i+${WinnowK - 1}], ' ')}
       |              FOR i IN range(1, len(toks) - ${WinnowK - 2})]) AS u
       |    FROM toks
       |    WHERE len(toks) >= $WinnowK)),
       |fp AS (
       |  SELECT DISTINCT doc_id,
       |    min(gram) OVER (PARTITION BY doc_id ORDER BY gpos
       |                    ROWS BETWEEN ${WinnowW - 1} PRECEDING
       |                    AND CURRENT ROW) AS fp
       |  FROM grams)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY doc_a, doc_b
       |HAVING count(*) >= 2
       |ORDER BY doc_a, doc_b""".stripMargin

  private val ParaSegWords = 15

  /** Paragraph-level (segment) exact dedup: the corpus is single-line,
    * so 15-token windows stand in for paragraphs — see SegmentDedup.
    * One row per doc: segments before/after global first-occurrence
    * dedup plus an md5 of the reassembled text, so the oracle checks
    * keep/drop AND reassembly order.
    */
  def dedupParagraph(s: SparkSession, dir: String): DataFrame =
    // hashKeys = false (the default, stated for emphasis): the oracle's
    // window partitions by raw segment text, so the checked path is
    // byte-exact; the opt-in hashed-key variant is parity-pinned
    // against this in ExportSpec
    SegmentDedup.dedupSegments(Tables(s, dir).documents, "doc_id",
        SegmentDedup.windowSegments(col("text"), ParaSegWords),
        hashKeys = false)
      .orderBy(col("doc_id"))

  val dedupParagraphSql: String = {
    val w = ParaSegWords
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |                x -> x <> '') AS toks
       |  FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    [array_to_string(toks[i:i+${w - 1}], ' ')
       |     FOR i IN range(1, len(toks) + 1, $w)] AS segs
       |  FROM t WHERE len(toks) >= 1),
       |e AS (
       |  SELECT doc_id, unnest(segs) AS seg,
       |    unnest(range(len(segs))) AS pos
       |  FROM c),
       |k AS (
       |  SELECT doc_id, seg, pos FROM (
       |    SELECT doc_id, seg, pos,
       |      row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
       |    FROM e)
       |  WHERE rn = 1),
       |r AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |    md5(string_agg(seg, ' ' ORDER BY pos)) AS sig
       |  FROM k GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(len(c.segs), 0) AS n_segs,
       |  coalesce(r.n_kept, 0) AS n_kept,
       |  coalesce(r.sig, md5('')) AS sig
       |FROM documents d
       |LEFT JOIN c USING (doc_id)
       |LEFT JOIN r USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  private val LineSegWords = 10
  private val LineMaxDocs = 2

  /** Cross-document boilerplate removal (the frequency mode of CCNet
    * line dedup, complementing dedup_paragraph's first-occurrence mode):
    * any 10-token segment appearing in ≥ 2 distinct documents is dropped
    * from EVERY document — boilerplate is noise in the first copy too.
    * Same per-doc contract as dedup_paragraph (n_segs / n_kept / md5 of
    * the reassembly) so the oracle checks keep/drop AND order. Linear
    * plan: two-phase distinct doc-frequency + join back on the segment
    * key, no pairwise step (SegmentDedup.filterFrequentSegments).
    */
  def dedupLines(s: SparkSession, dir: String): DataFrame =
    SegmentDedup.filterFrequentSegments(Tables(s, dir).documents, "doc_id",
        SegmentDedup.windowSegments(col("text"), LineSegWords),
        maxDocs = LineMaxDocs, hashKeys = false)
      .orderBy(col("doc_id"))

  val dedupLinesSql: String = {
    val w = LineSegWords
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |                x -> x <> '') AS toks
       |  FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    [array_to_string(toks[i:i+${w - 1}], ' ')
       |     FOR i IN range(1, len(toks) + 1, $w)] AS segs
       |  FROM t WHERE len(toks) >= 1),
       |e AS (
       |  SELECT doc_id, unnest(segs) AS seg,
       |    unnest(range(len(segs))) AS pos
       |  FROM c),
       |df AS (
       |  SELECT seg, count(DISTINCT doc_id) AS n_docs FROM e GROUP BY seg),
       |k AS (
       |  SELECT e.doc_id, e.seg, e.pos
       |  FROM e JOIN df USING (seg)
       |  WHERE df.n_docs < $LineMaxDocs),
       |r AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |    md5(string_agg(seg, ' ' ORDER BY pos)) AS sig
       |  FROM k GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(len(c.segs), 0) AS n_segs,
       |  coalesce(r.n_kept, 0) AS n_kept,
       |  coalesce(r.sig, md5('')) AS sig
       |FROM documents d
       |LEFT JOIN c USING (doc_id)
       |LEFT JOIN r USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Cross-source duplication matrix: near-dup pair mass between every
    * pair of sources — the "which crawls copy each other" report a
    * corpus owner reads before setting mix weights. Composes the
    * MinHash-LSH pair detector with two broadcast-able id→source
    * lookups; the (lo, hi) canonicalization makes the matrix symmetric
    * regardless of pair orientation. Scale: adds two joins keyed on doc
    * id and a tiny groupBy on top of the bucketed LSH plan.
    */
  def dedupSourceMatrix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val src = docs.select(col("doc_id"), col("source"))
    MinHashLSH.nearDuplicates(docs, "doc_id", "text", n = 3, tau = 0.7)
      .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")), "id_b")
      .groupBy(least(col("src_a"), col("src_b")).as("src_lo"),
        greatest(col("src_a"), col("src_b")).as("src_hi"))
      // pair jaccards are exact multiples of 1e-4 (round(.,4) upstream),
      // so the mean is computed over integer ten-thousandths: a plain
      // avg(double) depends on accumulation order, and at sf0.1 the
      // last ulp flipped round(.,4) across engines (0.939 vs 0.9391 —
      // caught by the sf0.1 sweep); the integer sum is exact and the
      // single final division is IEEE-identical on both sides
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(round(col("jaccard") * 10000).cast("long")).cast("double") /
          (count(lit(1)) * lit(10000.0)), 4).as("avg_jaccard"))
      .orderBy(col("src_lo"), col("src_hi"))
  }

  val dedupSourceMatrixSql: String =
    s"""WITH pairs AS (${jaccardPairsSql(0.7).replace("ORDER BY id_a, id_b", "")})
       |SELECT least(a.source, b.source) AS src_lo,
       |  greatest(a.source, b.source) AS src_hi,
       |  count(*) AS n_pairs,
       |  round(sum(round(jaccard * 10000)::BIGINT)::DOUBLE
       |        / (count(*) * 10000.0), 4) AS avg_jaccard
       |FROM pairs
       |JOIN documents a ON pairs.id_a = a.doc_id
       |JOIN documents b ON pairs.id_b = b.doc_id
       |GROUP BY 1, 2
       |ORDER BY src_lo, src_hi""".stripMargin

  /** Exact substring-duplication coverage (Lee et al. arXiv:2107.06499
    * re-expressed; graft.dedup.SubstringDedup): per document, the share
    * of its stride-sampled 40-char grams that occur verbatim in at
    * least one other document. Linear in corpus size (gram groupBy +
    * join back), unlike the pairwise near-dup paths; raw grams so the
    * oracle reproduces it exactly (hashGrams is the scale knob,
    * parity spec-pinned).
    */
  def dedupSubstring(s: SparkSession, dir: String): DataFrame =
    graft.dedup.SubstringDedup
      .coverage(Tables(s, dir).documents, "doc_id", "text")
      .orderBy(col("doc_id"))

  val dedupSubstringSql: String =
    """WITH raw AS (
      |  -- the TABLE range() takes only constants in DuckDB; the scalar
      |  -- LIST range() + unnest is the lateral-free spelling
      |  SELECT doc_id,
      |    unnest(list_transform(range((length(text) - 40) // 10 + 1),
      |      i -> substr(text, i * 10 + 1, 40))) AS gram
      |  FROM documents WHERE length(text) >= 40),
      |g AS (SELECT DISTINCT doc_id, gram FROM raw),
      |c AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY gram)
      |SELECT doc_id, count(*) AS n_grams,
      |  sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_grams,
      |  round(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
      |    AS dup_ratio
      |FROM g JOIN c USING (gram)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Tracking query parameters stripped by [[dedupUrl]]'s canonicalizer
    * (the same regex runs in the oracle).
    */
  private val UrlTrackerParam = "^(utm_[^=]*|fbclid|gclid)="

  /** URL canonicalization dedup — the crawl-frontier/WARC dedup that
    * runs BEFORE any content fetch: the same page arrives spelled many
    * ways (host case, default ports, http vs https, trailing slash,
    * tracking params, param order, fragments) and each spelling must
    * fold to one canonical key. The corpus has no URL column, so the
    * query injects a deterministic per-doc URL (the text_pii_scrub
    * move): doc_id picks a page (doc_id mod 97) and one of four
    * spellings of it (doc_id mod 4), and the canonicalizer must fold
    * all four. Rules (each a documented crawler policy): lowercase
    * host, strip :80/:443, fold scheme to https, strip trailing path
    * slash, drop the fragment, drop utm_&#42;, fbclid and gclid params, sort
    * surviving params. All native regexp/array expressions — the split
    * param array is bound to its own column before the HOF filter
    * consumes it (the r1 lesson), and the per-URL work is map-side;
    * the only exchange is the final canonical-key aggregate.
    */
  def dedupUrl(s: SparkSession, dir: String): DataFrame = {
    val page = pmod(col("doc_id"), lit(97L))
    val v = pmod(col("doc_id"), lit(4L))
    val url = when(v === 0,
        concat(lit("https://Example.COM:443/page/"), page, lit("?b=2&a=1#top")))
      .when(v === 1,
        concat(lit("https://example.com/page/"), page, lit("/?a=1&b=2")))
      .when(v === 2,
        concat(lit("http://example.com:80/page/"), page,
          lit("?a=1&utm_source=news&b=2")))
      .otherwise(
        concat(lit("https://example.com/page/"), page,
          lit("?a=1&gclid=x"), col("doc_id"), lit("&b=2")))
    val host = regexp_replace(
      lower(regexp_extract(col("url"), "^[a-zA-Z]+://([^/?#]+)", 1)),
      ":(80|443)$", "")
    val path = regexp_replace(
      regexp_extract(col("url"), "^[a-zA-Z]+://[^/?#]+([^?#]*)", 1),
      "/+$", "")
    val parsed = Tables(s, dir).documents
      .select(col("doc_id"), url.as("url"))
      .select(col("doc_id"), col("url"), host.as("host"), path.as("path"),
        split(regexp_extract(col("url"), "\\?([^#]*)", 1), "&").as("params"))
      .withColumn("kept", array_sort(filter(col("params"),
        p => p =!= "" && !p.rlike(UrlTrackerParam))))
    parsed
      .select(col("doc_id"), col("url"),
        concat(lit("https://"), col("host"), col("path"),
          when(size(col("kept")) > 0,
            concat(lit("?"), array_join(col("kept"), "&")))
            .otherwise(lit(""))).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_docs"),
        countDistinct(col("url")).as("n_spellings"))
      .orderBy(col("canonical_url"))
  }

  val dedupUrlSql: String =
    s"""WITH u AS (
       |  SELECT doc_id,
       |    CASE doc_id % 4
       |      WHEN 0 THEN 'https://Example.COM:443/page/' || (doc_id % 97)
       |                  || '?b=2&a=1#top'
       |      WHEN 1 THEN 'https://example.com/page/' || (doc_id % 97)
       |                  || '/?a=1&b=2'
       |      WHEN 2 THEN 'http://example.com:80/page/' || (doc_id % 97)
       |                  || '?a=1&utm_source=news&b=2'
       |      ELSE 'https://example.com/page/' || (doc_id % 97)
       |           || '?a=1&gclid=x' || doc_id || '&b=2' END AS url
       |  FROM documents),
       |parsed AS (
       |  SELECT doc_id, url,
       |    regexp_replace(lower(regexp_extract(url,
       |      '^[a-zA-Z]+://([^/?#]+)', 1)), ':(80|443)$$', '') AS host,
       |    regexp_replace(regexp_extract(url,
       |      '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1), '/+$$', '') AS path,
       |    list_sort(list_filter(
       |      string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
       |      p -> p <> '' AND NOT regexp_matches(p, '$UrlTrackerParam')))
       |      AS kept
       |  FROM u),
       |canon AS (
       |  SELECT doc_id, url,
       |    'https://' || host || path ||
       |      CASE WHEN len(kept) > 0
       |           THEN '?' || array_to_string(kept, '&') ELSE '' END
       |      AS canonical_url
       |  FROM parsed)
       |SELECT canonical_url, min(doc_id) AS keep_id,
       |  count(*) AS n_docs, count(DISTINCT url) AS n_spellings
       |FROM canon GROUP BY canonical_url
       |ORDER BY canonical_url""".stripMargin

  /** Asymmetric containment dedup (graft.dedup.Containment): doc A is
    * flagged inside doc B when ≥ 80% of A's distinct word trigrams
    * appear in B — the quote/repost/aggregator signal symmetric
    * Jaccard misses when |B| ≫ |A|. Contained side rides the SAME
    * prefix index as dedup_ngram_jaccard (the pigeonhole bound only
    * ever constrains that side); container side joins its full
    * df-capped postings — candidate volume Σ df_prefix·df_full, the
    * price of asymmetry. Cap 1000 > the corpus max df, so the output
    * is byte-identical to the uncapped quadratic oracle.
    */
  def dedupContainment(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Containment.pairs(Tables(s, dir).documents,
        "doc_id", "text", n = 3, tau = 0.8, maxDf = 1000)
      .orderBy(col("id_in"), col("id_out"))

  val dedupContainmentSql: String =
    s"""WITH sh AS ($shingleSql)
       |SELECT id_in, id_out, containment FROM (
       |  SELECT a.doc_id AS id_in, b.doc_id AS id_out,
       |    round(len(list_intersect(a.sh, b.sh))::DOUBLE
       |          / len(a.sh)::DOUBLE, 4) AS containment
       |  FROM sh a, sh b WHERE a.doc_id <> b.doc_id)
       |WHERE containment >= 0.8
       |ORDER BY id_in, id_out""".stripMargin

  /** Dedup-quality gate (graft.dedup.MinHashLSH.pairRecallBudget): LSH
    * pair recall vs exact Jaccard on a deterministic seeded-hash
    * sample whose modulus is DERIVED IN-PLAN from the corpus count
    * against a constant 5e5-pair budget (r10 — the emb_cos_hist
    * parameterization, retiring the operator-set sampleMod knob): the
    * exact side is ≤ budget pairs at ANY corpus size, with no duty to
    * grow anything with n. At the test SFs: n ≤ 1000 ⇒ smod 1 (full
    * corpus), n = 5000 ⇒ smod 5 (the old 20% sample). Rows-only: the
    * LSH side has no SQL twin; the recall VALUE is deterministic and
    * DedupSpec pins it at 1.0 on a planted-duplicates fixture, pins
    * the budget arithmetic, plus internal consistency here.
    */
  def dedupRecall(s: SparkSession, dir: String): DataFrame =
    MinHashLSH.pairRecallBudget(Tables(s, dir).documents, "doc_id", "text",
      n = 3, tau = 0.7, pairBudget = 500000L, seed = 13L)

  /** WITHIN-document repeated-segment removal — the cheapest dedup
    * pass in the CCNet line-dedup family and the only one that is
    * purely map-side: each doc's fixed 10-word segments are deduped
    * keep-first INSIDE the row (`array_distinct` iterates input order
    * appending unseen — first-occurrence stable), so the plan has NO
    * exchange at all before the result ORDER BY. Complements
    * dedup_paragraph (global first-occurrence, one shuffle) and its
    * frequency mode (boilerplate removal): run THIS first at 100 TB —
    * it shrinks the corpus for free before anything that shuffles.
    * Output per doc: segment counts, dup fraction, and the md5 of the
    * reassembled kept text (segments in original order).
    */
  def dedupInline(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .select(col("doc_id"),
        SegmentDedup.windowSegments(col("text"), 10).as("segs"))
      .withColumn("kept", array_distinct(col("segs")))
      .select(col("doc_id"),
        size(col("segs")).cast("long").as("n_segs"),
        size(col("kept")).cast("long").as("n_kept"),
        when(size(col("segs")) > 0,
          floor((size(col("segs")) - size(col("kept")))
            .cast("double") / size(col("segs")) * 10000 + 0.5) / 10000)
          .otherwise(lit(0.0)).as("dup_frac"),
        md5(array_join(col("kept"), " ")).as("sig"))
      .orderBy(col("doc_id"))

  val dedupInlineSql: String =
    """WITH segd AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) >= 1 THEN
      |      [array_to_string(toks[i:least(i + 9, len(toks))], ' ')
      |       FOR i IN range(1, len(toks) + 1, 10)]
      |    ELSE [] END AS segs
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(lower(text), '\s+'),
      |                      x -> x <> '') AS toks
      |        FROM documents)),
      |k AS (
      |  SELECT doc_id, segs,
      |    [segs[i] FOR i IN range(1, len(segs) + 1)
      |     IF NOT list_contains(segs[1:i-1], segs[i])] AS kept
      |  FROM segd)
      |SELECT doc_id, len(segs)::BIGINT AS n_segs, len(kept)::BIGINT AS n_kept,
      |  CASE WHEN len(segs) > 0
      |    THEN floor((len(segs) - len(kept))::DOUBLE / len(segs) * 10000
      |           + 0.5) / 10000
      |    ELSE 0.0 END AS dup_frac,
      |  md5(array_to_string(kept, ' ')) AS sig
      |FROM k
      |ORDER BY doc_id""".stripMargin

  /** Takedown propagation — the right-to-be-forgotten / DMCA fold: a
    * small takedown list names documents (here doc_id % 97 = 0), and
    * compliance requires removing not just the named docs but every
    * NEAR-DUPLICATE of them still in the corpus (the copy survives the
    * takedown otherwise). Closure = the named docs' connected
    * components over the verified exact-Jaccard pair graph (the same
    * graph dedup_clusters labels); report per source: directly-named
    * removals, propagated near-dup removals, docs kept, and an
    * identity audit sum over the removed ids.
    *
    * Scale (100 TB): the takedown list is KB-scale → the seed-label
    * set rides a BROADCAST semi-join against the component labels; the
    * label table itself is the linear CC output (a driver union-find,
    * or log² n star rounds past its edge ceiling), and the final
    * membership join is one doc_id equi-join. Nothing here rescans
    * text: the pair graph is the dedup pipeline's existing artifact —
    * in production you'd probe the saved MinHash index
    * (MinHashIndex.probe) with just the named docs instead of
    * rebuilding it.
    *
    * The oracle replays the closure as a recursive CTE reachability
    * from the seed set over the exact pair graph — transitive closure
    * and component membership agree on undirected graphs.
    */
  def qTakedownPropagate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val pairs = MinHashLSH.nearDuplicates(docs, "doc_id", "text", n = 3, tau = 0.7)
    val labels = ConnectedComponents.labels(pairs.select(col("id_a"), col("id_b")))
    val seeds = docs.filter(col("doc_id") % 97 === 0).select(col("doc_id"))
    val seedLabels = labels.join(seeds, labels("id") === seeds("doc_id"))
      .select(col("label")).distinct()
    val propagated = labels.join(broadcast(seedLabels), Seq("label"))
      .select(col("id").as("doc_id"))
    val removed = propagated.unionByName(seeds).distinct()
      .withColumn("reason",
        when(col("doc_id") % 97 === 0, "seed").otherwise("near-dup"))
    docs.join(removed, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(when(col("reason") === "seed", 1)).as("n_seed"),
        count(when(col("reason") === "near-dup", 1)).as("n_propagated"),
        count(when(col("reason").isNull, 1)).as("n_kept"),
        coalesce(sum(when(col("reason").isNotNull, col("doc_id"))), lit(0L))
          .as("sum_removed_ids"))
      .orderBy(col("source"))
  }

  val qTakedownPropagateSql: String =
    s"""WITH RECURSIVE
       |pairs AS (${jaccardPairsSql(0.7).replace("ORDER BY id_a, id_b", "")}),
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(v) AS (
       |  SELECT doc_id FROM documents WHERE doc_id % 97 = 0
       |  UNION
       |  SELECT e.v FROM reach r JOIN edges e ON r.v = e.u),
       |removed AS (
       |  SELECT v AS doc_id,
       |    CASE WHEN v % 97 = 0 THEN 'seed' ELSE 'near-dup' END AS reason
       |  FROM reach)
       |SELECT d.source,
       |  count(CASE WHEN r.reason = 'seed' THEN 1 END) AS n_seed,
       |  count(CASE WHEN r.reason = 'near-dup' THEN 1 END) AS n_propagated,
       |  count(CASE WHEN r.reason IS NULL THEN 1 END) AS n_kept,
       |  coalesce(sum(CASE WHEN r.reason IS NOT NULL THEN d.doc_id END), 0)::BIGINT
       |    AS sum_removed_ids
       |FROM documents d LEFT JOIN removed r USING (doc_id)
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** The streaming-takedown lifecycle under the FULL hash oracle — the
    * registered face of [[graft.streaming.Streams.takedownStream]]
    * (the q_mv_compact / q_shard_delivery move applied to the last
    * spec-only lifecycle loop): a MinHash snapshot index over the seen
    * corpus (the dedup_incremental 80% split) takes two planted
    * takedown waves (doc_id ≡ 3 then ≡ 10 mod 97, within the seen
    * split) through the real stream — each non-empty batch scrubs the
    * snapshot-isolated index under a fresh published epoch and lands
    * its (doc_id, epoch) audit rows batch-keyed. The face returns, per
    * removed doc: its audit epoch, `n_before` = its τ ≥ 0.7 index
    * matches before any scrub (self-match included — jaccard 1), and
    * `n_after` = its matches against the FINAL index. The oracle
    * replays wave routing + epoch arithmetic and BOTH probe counts via
    * exact Jaccard over the split (the dedup_incremental S-curve
    * argument) — a hash match proves the audit trail names exactly the
    * planted ids with the right epochs AND the scrub removed exactly
    * the taken-down docs: each n_after counts only SURVIVING
    * lookalikes (the removed doc itself always gone), so a scrub that
    * missed a doc, or ate a survivor, flips the hash.
    *
    * Scale: probe cost is the band equi-join on a removal-set-sized
    * batch (KB by the takedown contract); the stream's per-batch cost
    * is one epoch rewrite of the index — the price SnapshotIndex
    * already documents. The probes are the consumer-visible PROOF of
    * the scrub, not an extra corpus pass. The seen-corpus index is
    * built ONCE per corpus dir and cloned per run
    * ([[seenIndexClone]] — the novelty_stream pristine-index pricing:
    * a governance loop scrubs a MAINTAINED index, it does not rebuild
    * the corpus index per takedown wave).
    */
  def qTakedownAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = graft.util.Staging.dir(s, "takedown_audit")
    val auditDir = s"$base/audit"
    val removedDocs = Tables(s, dir).documents
      .filter(pmod(col("doc_id"), lit(5)) < 4 &&
        pmod(col("doc_id"), lit(97L)).isin(3L, 10L))
      .select(col("doc_id"), col("text"))
    val idxDir = seenIndexClone(s, dir, "takedown_audit_idx")
    // planted waves — takedown lists are driver-side by the
    // takedownStream contract (KB-scale in-lists); BOTH waves come out
    // of one collect (one scan instead of two for two tiny in-lists)
    val waveRows = removedDocs
      .select(col("doc_id"), pmod(col("doc_id"), lit(97L)).as("r"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val waves = Seq(3L, 10L).map(r =>
      waveRows.filter(_._2 == r).map(_._1).toSeq.sorted)
    require(waves.forall(_.nonEmpty),
      "takedown_audit: fixture waves must both be non-empty")
    // each removed doc's τ ≥ 0.7 matches in the index's current epoch
    def matches(as: String): DataFrame = graft.dedup.MinHashIndex.probe(
        graft.dedup.SnapshotIndex.load(s, idxDir).index,
        removedDocs, "doc_id", "text", n = 3, tau = 0.7)
      .groupBy(col("new_id").as("doc_id")).agg(count(lit(1)).as(as))
    // n_before probes epoch 0 and is MATERIALIZED now: the second
    // publish retires epoch 0 (retention 1), so this plan must not
    // re-run afterwards
    val before = matches("n_before").localCheckpoint(true)
    graft.streaming.Replay.feed(s, waves.map(_.toDS())) { ds =>
      graft.streaming.Streams.takedownStream(ds.toDF("doc_id"), idxDir,
        auditDir)
    }
    val after = matches("n_after")
    s.read.parquet(auditDir).select(col("doc_id"), col("epoch"))
      .join(before, Seq("doc_id"), "left")
      .join(after, Seq("doc_id"), "left")
      .select(col("doc_id"), col("epoch"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
      .orderBy(col("doc_id"))
  }

  /** Replays wave routing (mod-97 classes within the mod-5 seen
    * split), the per-wave epoch, and both probe counts as exact
    * Jaccard over word trigrams — n_after restricted to surviving
    * index docs.
    */
  val qTakedownAuditSql: String =
    s"""WITH rm AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 97 = 3 THEN 1 ELSE 2 END::BIGINT AS epoch
       |  FROM documents
       |  WHERE doc_id % 5 < 4 AND doc_id % 97 IN (3, 10)),
       |sh AS ($shingleSql),
       |hits AS (
       |  SELECT r.doc_id AS rid, s.doc_id AS sid
       |  FROM rm r
       |  JOIN sh rs ON rs.doc_id = r.doc_id
       |  JOIN sh s ON s.doc_id % 5 < 4
       |  WHERE round(len(list_intersect(rs.sh, s.sh))::DOUBLE /
       |          len(list_distinct(list_concat(rs.sh, s.sh))), 4) >= 0.7),
       |nb AS (SELECT rid, count(*) AS n FROM hits GROUP BY rid),
       |na AS (SELECT rid, count(*) AS n FROM hits
       |       WHERE sid NOT IN (SELECT doc_id FROM rm) GROUP BY rid)
       |SELECT r.doc_id, r.epoch,
       |  coalesce(nb.n, 0)::BIGINT AS n_before,
       |  coalesce(na.n, 0)::BIGINT AS n_after
       |FROM rm r
       |LEFT JOIN nb ON nb.rid = r.doc_id
       |LEFT JOIN na ON na.rid = r.doc_id
       |ORDER BY r.doc_id""".stripMargin

  /** Max docs the admission-audit fixture feeds through
    * [[graft.streaming.Replay]] — bounds the face's driver memory at
    * any corpus size (the oracle replays the stride arithmetic).
    */
  val AdmissionFeedBudget = 5000L

  /** The seen-corpus (mod-5 < 4) MinHash snapshot index, built once
    * ([[graft.util.FitOnce]]) — the novelty_stream pristine-index
    * pattern applied to BOTH lifecycle audit faces (they seed from the identical split):
    * production's takedown/admission loops operate on a MAINTAINED
    * persisted index, they do not rebuild the corpus index per wave —
    * so the build+save is priced once per corpus and each RUN clones
    * the epoch-0 tree (parquet data files hard-linked on local FS,
    * [[graft.util.Staging.cloneTree]]) so its epoch rewrites and
    * appends never leak into the next run.
    *
    * PRICING (r13 verdict item 2): the amortized build+save is NOT
    * hidden — it is benchmarked in full, every run, by its own
    * registered face [[qSeenIndexBuild]] (`q_seen_index_build`, no
    * memo), so the bench surface prices both halves of the lifecycle:
    * the one-time corpus index build, and the maintained-index
    * takedown/admission loops that start from it.
    */
  private val seenIndexFit = new graft.util.FitOnce[String]

  private def seenIndexClone(s: SparkSession, dir: String,
      prefix: String): String = {
    val pristine = seenIndexFit(s, dir, "documents")(
      seenIndexBuild(s, dir, "seen_index_pristine"))
    val idxDir = graft.util.Staging.dir(s, prefix)
    graft.util.Staging.cloneTree(s, pristine, idxDir)
    idxDir
  }

  /** The MinHash snapshot index of the mod-5 seen split both lifecycle
    * audit faces index, published as epoch 0 into a fresh staging dir.
    */
  private def seenIndexBuild(s: SparkSession, dir: String,
      prefix: String): String = {
    val d = graft.util.Staging.dir(s, prefix)
    graft.dedup.SnapshotIndex.init(graft.dedup.MinHashIndex.build(
      Tables(s, dir).documents.filter(pmod(col("doc_id"), lit(5)) < 4),
      "doc_id", "text", n = 3), s, d)
    d
  }

  /** The seen-corpus index BUILD priced as its own face (r13 verdict
    * item 2): builds the mod-5 seen split's MinHash snapshot index
    * from the parquet input and publishes it as epoch 0 into a FRESH
    * staging dir on EVERY invocation — no memo, the full
    * tokenize → shingle → sign → band derivation plus both table
    * writes are inside the timed region — then reads the SAVED epoch-0
    * band table back and reports one row per band. The audit faces
    * (q_takedown_audit, q_admission_audit) amortize exactly this build
    * via [[seenIndexClone]] and price the maintained-index loop; this
    * face is the other half of that bill.
    *
    * Output: (band_id, n_rows, n_docs, sum_doc_ids) — 16 rows; the
    * id sum makes the hash sensitive to WHICH docs were indexed. The
    * oracle replays the split arithmetic: every seen doc with ≥1 word
    * trigram lands exactly once in each of the 16 bands.
    */
  def qSeenIndexBuild(s: SparkSession, dir: String): DataFrame = {
    val d = seenIndexBuild(s, dir, "seen_index_build")
    graft.dedup.SnapshotIndex.load(s, d).index.bands
      .groupBy(col("band_id").cast("long").as("band_id"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_ids"))
      .orderBy(col("band_id"))
  }

  val qSeenIndexBuildSql: String =
    s"""WITH seen AS (
       |  SELECT doc_id FROM ($shingleSql) WHERE doc_id % 5 < 4)
       |SELECT t.range::BIGINT AS band_id,
       |  (SELECT count(*) FROM seen)::BIGINT AS n_rows,
       |  (SELECT count(*) FROM seen)::BIGINT AS n_docs,
       |  (SELECT coalesce(sum(doc_id), 0) FROM seen)::BIGINT AS sum_doc_ids
       |FROM range(16) t
       |ORDER BY band_id""".stripMargin

  /** The streaming ADMISSION loop under the full hash oracle — the
    * registered face of
    * [[graft.streaming.Streams.dedupIndexStreamSnapshot]], the one
    * dedup-index stream (its batch body is
    * [[graft.streaming.Streams.dedupIndexBatch]]): the seen corpus (mod-5
    * split) seeds a snapshot index; the fresh 20% arrives as two crawl
    * batches (doc parity); per batch the stream drops intra-batch
    * near-dups (id_b of any τ ≥ 0.7 pair — "keep the smaller id"),
    * rejects docs that duplicate the INDEX SO FAR (seen ∪ earlier
    * admissions — batch 1 must honor batch 0's appends), appends the
    * admissions, and lands them batchId-keyed. The face reports per
    * batch (n_arrived, n_admitted, sum_admitted_ids); the id sum makes
    * the hash sensitive to WHICH docs were admitted, not just how
    * many. The oracle replays the whole admission cascade as exact
    * Jaccard CTEs (the dedup_minhash_lsh S-curve argument), so a
    * missed rejection, a phantom admission, or batch 1 ignoring batch
    * 0's appends all flip the hash.
    *
    * The feed is a [[graft.streaming.Replay]] FIXTURE, one collected
    * batch at a time — the operator under test reads a stream;
    * production feeds it from a file/queue source. The feed is
    * BUDGET-BOUNDED at any corpus size (the dedup_recall move): a
    * deterministic stride on doc_id div 5 caps
    * the collected crawl at ~[[AdmissionFeedBudget]] docs, so the
    * fixture's driver memory is constant while the operator's own
    * per-batch cost stays the stream's documented price (one
    * banded self-join of the batch + one band equi-join against the
    * index). At every shipped SF the stride resolves to 1 (the whole
    * fresh split flows).
    */
  def qAdmissionAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = graft.util.Staging.dir(s, "admission_audit")
    val outDir = s"$base/out"
    val docs = Tables(s, dir).documents
    val freshAll = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
    val stride = math.max(1L,
      (freshAll.count() + AdmissionFeedBudget - 1) / AdmissionFeedBudget)
    val fresh = freshAll
      .filter(pmod(expr("doc_id div 5"), lit(stride)) === 0)
    // seen-corpus index: built once per corpus dir, cloned per run —
    // the admission loop appends into its clone (pristine pricing,
    // see qTakedownAudit's doc)
    val idxDir = seenIndexClone(s, dir, "admission_audit_idx")
    val crawl = fresh.select(col("doc_id"), col("text")).as[(Long, String)]
    val fed = graft.streaming.Replay.feed(s,
        Seq(0L, 1L).map(p => crawl.filter(col("doc_id") % 2 === p))) { ds =>
      graft.streaming.Streams.dedupIndexStreamSnapshot(
        ds.toDF("doc_id", "text"), idxDir, "doc_id", "text",
        n = 3, tau = 0.7, outDir)
    }
    require(fed.forall(_ > 0),
      "admission_audit: both crawl batches must be non-empty")
    val arrived = fed.zipWithIndex.map { case (n, b) => (b.toLong, n.toLong) }
      .toDF("batch", "n_arrived")
    val admitted = s.read.parquet(outDir)
      .groupBy(col("batch").cast("long").as("batch"))
      .agg(count(lit(1)).as("n_admitted"),
        sum(col("doc_id")).as("sum_admitted_ids"))
    arrived.join(admitted, Seq("batch"), "left")
      .select(col("batch"), col("n_arrived"),
        coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
        coalesce(col("sum_admitted_ids"), lit(0L)).as("sum_admitted_ids"))
      .orderBy(col("batch"))
  }

  /** Replays the two-batch admission cascade with exact Jaccard:
    * intra-batch "∃ smaller τ-match in the batch" drops, then the
    * index-so-far rejection (seen for batch 0; seen ∪ batch-0
    * admissions for batch 1). The τ-filtered pair set materializes
    * ONCE (`AS MATERIALIZED` — the quadratic Jaccard pass is the
    * oracle's unavoidable ground-truth cost; without the hint DuckDB
    * re-inlines it into each of the four anti-join subqueries, ~4×
    * the sweep wall-clock at sf0.1).
    */
  val qAdmissionAuditSql: String =
    s"""WITH sh AS MATERIALIZED ($shingleSql),
       |fr AS (SELECT doc_id FROM documents
       |       WHERE doc_id % 5 = 4
       |         AND (doc_id // 5) % (
       |           SELECT greatest(1, (count(*) + ${AdmissionFeedBudget - 1})
       |                              // $AdmissionFeedBudget)
       |           FROM documents WHERE doc_id % 5 = 4) = 0),
       |sn AS (SELECT doc_id FROM documents WHERE doc_id % 5 < 4),
       |b0 AS (SELECT doc_id FROM fr WHERE doc_id % 2 = 0),
       |b1 AS (SELECT doc_id FROM fr WHERE doc_id % 2 = 1),
       |hits AS MATERIALIZED (
       |  SELECT a.doc_id AS ida, b.doc_id AS idb
       |  FROM sh a JOIN sh b ON b.doc_id % 5 = 4
       |  WHERE a.doc_id <> b.doc_id
       |    AND round(len(list_intersect(a.sh, b.sh))::DOUBLE /
       |          len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.7),
       |adm0 AS (
       |  SELECT x.doc_id FROM b0 x
       |  WHERE NOT EXISTS (SELECT 1 FROM hits j JOIN b0 y ON j.ida = y.doc_id
       |          WHERE j.idb = x.doc_id AND j.ida < x.doc_id)
       |    AND NOT EXISTS (SELECT 1 FROM hits j JOIN sn s ON j.ida = s.doc_id
       |          WHERE j.idb = x.doc_id)),
       |adm1 AS (
       |  SELECT x.doc_id FROM b1 x
       |  WHERE NOT EXISTS (SELECT 1 FROM hits j JOIN b1 y ON j.ida = y.doc_id
       |          WHERE j.idb = x.doc_id AND j.ida < x.doc_id)
       |    AND NOT EXISTS (SELECT 1 FROM hits j
       |          WHERE j.idb = x.doc_id
       |            AND (j.ida IN (SELECT doc_id FROM sn)
       |              OR j.ida IN (SELECT doc_id FROM adm0))))
       |SELECT 0::BIGINT AS batch,
       |  (SELECT count(*) FROM b0)::BIGINT AS n_arrived,
       |  (SELECT count(*) FROM adm0)::BIGINT AS n_admitted,
       |  coalesce((SELECT sum(doc_id) FROM adm0), 0)::BIGINT
       |    AS sum_admitted_ids
       |UNION ALL
       |SELECT 1::BIGINT, (SELECT count(*) FROM b1)::BIGINT,
       |  (SELECT count(*) FROM adm1)::BIGINT,
       |  coalesce((SELECT sum(doc_id) FROM adm1), 0)::BIGINT
       |ORDER BY batch""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_admission_audit" -> (qAdmissionAudit _),
    "q_takedown_audit" -> (qTakedownAudit _),
    "q_seen_index_build" -> (qSeenIndexBuild _),
    "dedup_inline" -> (dedupInline _),
    "dedup_recall" -> (dedupRecall _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_url" -> (dedupUrl _),
    "dedup_substring" -> (dedupSubstring _),
    "dedup_source_matrix" -> (dedupSourceMatrix _),
    "dedup_paragraph" -> (dedupParagraph _),
    "dedup_lines" -> (dedupLines _),
    "q_takedown_propagate" -> (qTakedownPropagate _),
    "dedup_winnow" -> (dedupWinnow _),
    "dedup_keep_best" -> (dedupKeepBest _),
    "dedup_bloom" -> (dedupBloom _),
    "dedup_exact" -> (dedupExact _),
    "dedup_exact_count" -> (dedupExactCount _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_code_pairs" -> (dedupCodePairs _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_clusters_star" -> (dedupClusters _),
    "dedup_embedding" -> (dedupEmbedding _),
    "dedup_embedding_cell" -> (dedupEmbeddingCell _),
    "dedup_semantic" -> (dedupSemantic _),
    "dedup_incremental" -> (dedupIncremental _))

  val oracleSql: Map[String, String] = Map(
    "q_admission_audit" -> qAdmissionAuditSql,
    "q_takedown_audit" -> qTakedownAuditSql,
    "q_seen_index_build" -> qSeenIndexBuildSql,
    "q_takedown_propagate" -> qTakedownPropagateSql,
    "dedup_inline" -> dedupInlineSql,
    "dedup_containment" -> dedupContainmentSql,
    "dedup_url" -> dedupUrlSql,
    "dedup_substring" -> dedupSubstringSql,
    "dedup_source_matrix" -> dedupSourceMatrixSql,
    "dedup_paragraph" -> dedupParagraphSql,
    "dedup_lines" -> dedupLinesSql,
    "dedup_winnow" -> dedupWinnowSql,
    "dedup_keep_best" -> dedupKeepBestSql,
    "dedup_bloom" -> dedupBloomSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_exact_count" -> dedupExactCountSql,
    "dedup_minhash_lsh" -> dedupMinhashLshSql,
    "dedup_code_pairs" -> dedupCodePairsSql,
    "dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "dedup_clusters" -> dedupClustersSql,
    // the star-alternation twin shares the oracle — byte-identical by contract
    "dedup_clusters_star" -> dedupClustersSql,
    "dedup_embedding" -> dedupEmbeddingSql,
    "dedup_embedding_cell" -> dedupEmbeddingSql,
    "dedup_semantic" -> dedupSemanticSql,
    "dedup_incremental" -> dedupIncrementalSql)
}
