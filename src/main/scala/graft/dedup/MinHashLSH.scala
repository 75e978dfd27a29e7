package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import graft.text.TextOps

/** MinHash + banded LSH near-duplicate detection.
  *
  * Pipeline (each step one distributed pass, no driver-side data):
  *  1. shingle: word n-grams per doc (distinct).
  *  2. signature: 64 minhash lanes — lane i = min over shingles of
  *     `xxhash64(i, shingle)` (64 independent partial-aggregatable `min`s
  *     in ONE groupBy, i.e. one shuffle keyed by doc id).
  *  3. band: NumBands bands of LanesPerBand lanes; band hash =
  *     xxhash64 of the band's lanes.
  *  4. candidates: self-join on (band_id, band_hash) — the shuffle key is
  *     uniform hash output, so at 100 TB this join is skew-free unless
  *     a band bucket is genuinely a giant duplicate cluster (then AQE
  *     skew-join splits it).
  *  5. verify: exact Jaccard on candidate pairs only, via each doc's
  *     shingle set (one array_intersect — codegen'd, [[verifyJaccard]]).
  *
  * Band geometry tunes the S-curve. 16 bands × 4 lanes: P(candidate)
  * at true Jaccard s is 1-(1-s⁴)¹⁶ — ≈ 1-4·10⁻⁸ at s = 0.9, ≈ 0.988
  * at s = 0.7, ≈ 2.5% at s = 0.2. That buys near-perfect recall in the
  * near-duplicate regime (so the exact-pair SQL oracle stays valid at
  * any corpus size) at the cost of some sub-threshold candidates, all
  * discarded by exact verification. 8×8 is the cheaper-verify /
  * lower-recall alternative; both keep 64 hash lanes.
  */
object MinHashLSH {
  val NumLanes = 64
  val NumBands = 16
  val LanesPerBand: Int = NumLanes / NumBands

  /** (id, shingles) with empty-shingle docs dropped. The drop tests
    * the token count (`tokens` holds no null element, so a doc has a
    * shingle iff it has ≥ n tokens), not `size(shingles)`: the
    * optimizer pushes a filter below the projection by inlining the
    * alias, so a filter on the shingles would build every doc's
    * n-grams twice, once for the filter and once for the output.
    *
    * NOTE on fan-out placement: the scan-parallelism floor
    * (graft.util.Fanout) is applied by the CORPUS-scale entry points
    * ([[nearDuplicates]], [[pairRecallOn]], [[MinHashIndex.build]]),
    * NOT here — shingled is also the per-batch gateway of the probe
    * and admission loops, where an unconditional fan-out of every
    * KB-scale batch measured ~+5 s per lifecycle face (each ensure
    * plans the frame and adds an exchange for no parallelism win).
    */
  def shingled(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("graft_toks"))
      .filter(size(col("graft_toks")) >= n)
      .select(col("doc_id"), TextOps.wordNgrams(col("graft_toks"), n).as("shingles"))

  /** `pairs` with exact `jaccard` (rounded to 4) of its shingle-array
    * columns `a` and `b`, kept where it reaches `tau` — the one verify
    * of every dedup path. |A∪B| = |A| + |B| − |A∩B| holds because
    * [[shingled]]'s n-grams are distinct per doc (`TextOps.wordNgrams`,
    * distinct = true), so one `array_intersect` is the whole verify
    * (DedupSpec pins agreement with the `array_union` form); its size
    * rides its own column so each pair intersects once.
    */
  private[graft] def verifyJaccard(pairs: DataFrame, a: String, b: String,
      tau: Double): DataFrame =
    pairs.withColumn("n_common", size(array_intersect(col(a), col(b))))
      .withColumn("jaccard", round(
        col("n_common").cast("double") /
          (size(col(a)) + size(col(b)) - col("n_common")).cast("double"),
        4))
      .filter(col("jaccard") >= tau)

  /** (doc_id, lanes array<long>) minhash signatures — MAP-ONLY: all 64
    * lanes fold in one native pass per row (graft.functions
    * .MinHashLanes), so nothing shuffles until the band join. The
    * explode + 64-min-agg formulation this replaces shuffled every
    * (doc, shingle) pair — the dominant data movement of the whole
    * dedup pipeline at corpus scale.
    */
  def signatures(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"),
      ColumnBridge.column(graft.functions.MinHashLanes(
        ColumnBridge.expression(col("shingles")))).as("lanes"))

  /** (doc_id, band_id, band_hash) — NumBands rows per doc, still
    * map-only (band hash = xxhash64 over the band's lanes).
    */
  def bands(sig: DataFrame): DataFrame = {
    val bandHashes = array((0 until NumBands).map { b =>
      val laneCols = (0 until LanesPerBand).map(k =>
        element_at(col("lanes"), b * LanesPerBand + k + 1))
      xxhash64(laneCols: _*)
    }: _*)
    sig.select(col("doc_id"), posexplode(bandHashes).as(Seq("band_id", "band_hash")))
  }

  /** Distinct candidate pairs (id_a < id_b) sharing ≥1 band bucket. */
  def candidates(bandDf: DataFrame): DataFrame = {
    val a = bandDf.as("a")
    val b = bandDf.as("b")
    a.join(b,
        col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Candidates with exact Jaccard ≥ tau, verified on true shingle sets.
    * Output: (id_a, id_b, jaccard rounded to 4).
    */
  def nearDuplicates(docs: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double): DataFrame = {
    // corpus-scale self-dedup: floor the scan parallelism before the
    // tokenize -> shingle -> minhash derivation (see shingled's note)
    val sh = shingled(graft.util.Fanout.ensure(docs), idCol, textCol, n)
    // share the BAND table, not the shingle table: the bands are 16
    // narrow (doc, band, hash) rows per doc, but each side of the
    // candidates self-join otherwise re-runs the whole tokenize →
    // shingle → minhash derivation. The shingle table itself stays
    // unshared — measured in r2: the wide distinct-ngram arrays cost
    // more to cache than to recompute for the two verify-side joins.
    // The share is a lazy localCheckpoint, not Dataset.persist: same
    // in-plan block reuse, but no CacheManager entry pinning the blocks
    // for the session lifetime (graft.util.Caches has the lifecycle).
    val bandDf = bands(signatures(sh)).localCheckpoint(false)
    val cand = candidates(bandDf)
    val shA = sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"))
    val shB = sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"))
    verifyJaccard(cand.join(shA, "id_a").join(shB, "id_b"),
        "sh_a", "sh_b", tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Pair RECALL of the banded-LSH path against exact all-pairs Jaccard
    * on a deterministic 1∕`sampleMod` sample — the dedup pipeline's
    * quality gate (knn_recall's analog). The sample bounds the exact
    * side: its pair count is (n∕sampleMod)², a fixed fraction of n² the
    * operator of a 10⁹-doc corpus sets via `sampleMod`, while recall
    * measured on it estimates the corpus miss rate (a pair lands in the
    * sample iff both endpoints do — uniform over pairs). [[nearDuplicates]]
    * verifies candidates with exact Jaccard, so LSH pairs ⊆ exact pairs
    * and precision is 1 BY CONSTRUCTION; recall — the S-curve miss
    * rate — is the number to watch. One row:
    * (n_sample, n_exact, n_lsh, recall), recall NULL when the sample
    * holds no true pair.
    */
  def pairRecall(docs: DataFrame, idCol: String, textCol: String, n: Int,
      tau: Double, sampleMod: Long, seed: Long): DataFrame =
    pairRecallOn(docs.filter(
      pmod(graft.ops.ShuffleShard.hashKey(col(idCol), seed),
        lit(sampleMod)) === 0), idCol, textCol, n, tau)

  /** [[pairRecall]] with the modulus DERIVED IN-PLAN from the corpus
    * count against a constant pair budget (the emb_cos_hist
    * parameterization): sampleMod = max(1, ⌈n∕√(2·pairBudget)⌉) rides
    * a one-row broadcast aggregate, so the sampled side is
    * ~√(2·pairBudget) rows and the exact side is ≤ pairBudget pairs at
    * ANY corpus size — no operator duty to grow a knob with n. The
    * sample stays a pure function of (id, seed) given the corpus
    * count, so reruns reproduce it.
    */
  def pairRecallBudget(docs: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double, pairBudget: Long, seed: Long): DataFrame = {
    val smod = docs.agg(
      greatest(lit(1L),
        ceil(count(lit(1)).cast("double") /
          sqrt(lit(2.0 * pairBudget)))).as("graft_smod"))
    val sample = docs.crossJoin(broadcast(smod))
      .filter(pmod(graft.ops.ShuffleShard.hashKey(col(idCol), seed),
        col("graft_smod")) === 0)
      .drop("graft_smod")
    pairRecallOn(sample, idCol, textCol, n, tau)
  }

  private def pairRecallOn(sample: DataFrame, idCol: String,
      textCol: String, n: Int, tau: Double): DataFrame = {
    // exact side as a SPARSE POSTING EQUI-JOIN, not an all-pairs
    // cartesian: |A∩B| = the (id_a, id_b) pair count of the
    // shingle-hash self-join — pairs sharing NO shingle have J = 0 < τ
    // and drop out by construction, everything else is exact. Cost is
    // Σ_g df(g)² over sample shingles instead of n²·(array ops): a
    // first probe of the cartesian spelling measured 32 s at sf0.1
    // (the Jaccard predicate lands inside the nested-loop join
    // condition); this shape is sub-second. Shingles are hashed to
    // longs map-side (the hashGrams lesson) so the posting join
    // shuffles 8-byte keys, not trigram strings.
    val sh = shingled(sample, idCol, textCol, n)
      .select(col("doc_id"),
        array_distinct(transform(col("shingles"), g => xxhash64(g)))
          .as("hs"))
      .withColumn("sz", size(col("hs")))
      .localCheckpoint(false)
    val posts = sh.select(col("doc_id"), col("sz"), explode(col("hs")).as("g"))
    val exact = posts
      .select(col("doc_id").as("id_a"), col("sz").as("sz_a"), col("g"))
      .join(posts.select(col("doc_id").as("id_b"), col("sz").as("sz_b"),
        col("g")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("ni"))
      .withColumn("j", round(col("ni").cast("double") /
        (col("sz_a") + col("sz_b") - col("ni")).cast("double"), 4))
      .filter(col("j") >= tau)
      .select("id_a", "id_b")
    val hits = nearDuplicates(sample, idCol, textCol, n, tau)
      .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
    exact.join(hits, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("hit")), lit(0L)).as("n_lsh"))
      .crossJoin(broadcast(sh.agg(count(lit(1)).as("n_sample"))))
      .select(col("n_sample"), col("n_exact"), col("n_lsh"),
        when(col("n_exact") > 0,
          round(col("n_lsh").cast("double") / col("n_exact"), 4))
          .as("recall"))
  }
}
