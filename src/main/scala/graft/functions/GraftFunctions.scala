package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one list of graft's SQL-callable native expressions: for each
  * SQL name its usage text and an arity-checked builder. [[register]]
  * binds the list in one session's function registry;
  * [[graft.GraftExtensions]] injects the same list into every session
  * a `spark.sql.extensions` configuration builds.
  *
  * Only SQL text needs either. graft's Scala helpers (`Vectors.dotD`,
  * `SimHash.simhash`, …) wrap the expression itself into the Column
  * ([[org.apache.spark.sql.graft.ColumnBridge]]), so they resolve in
  * any session, registered or not.
  */
object GraftFunctions {

  private[graft] type Entry =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, usage: String, n: Int)(
      build: Seq[Expression] => Expression): Entry =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft", null, name, s"$name$usage",
        "", "", "", "", "", "", "built-in"),
      es => {
        // a clear error beats the MatchError / IndexOutOfBounds a bare
        // pattern or index throws from inside resolution
        require(es.length == n,
          s"$name expects $n argument(s), got ${es.length}")
        build(es)
      })

  /** (identifier, usage, builder) per SQL name. */
  private[graft] val functions: Seq[Entry] = Seq(
    fn("graft_dot", "(a, b) - double-precision dot product of two float arrays", 2)(
      es => DotProductD(es(0), es(1))),
    fn("graft_l2norm", "(a) - Euclidean norm of a float array in double", 1)(
      es => L2NormD(es(0))),
    fn("graft_simhash64", "(tokens) - 64-bit SimHash of a string array", 1)(
      es => SimHash64(es(0))),
    fn("graft_minhash_lanes", "(shingles) - 64 MinHash lane minima", 1)(
      es => MinHashLanes(es(0))),
    fn("graft_fingerprint", "(s) - rolling polynomial hash of a string", 1)(
      es => PolyFingerprint(es(0))),
    fn("graft_heavy_hitters", "(col, capacity) - SpaceSaving top items", 2)(
      es => HeavyHitters(es(0), foldableInt("graft_heavy_hitters capacity", es(1)))
        .toAggregateExpression()),
    fn("graft_bloom_agg",
        "(keyHash, numBits, numHashes) - bloom filter of the key hashes", 3)(
      es => BloomFilterAgg(es(0), foldableInt("graft_bloom_agg numBits", es(1)),
        foldableInt("graft_bloom_agg numHashes", es(2))).toAggregateExpression()),
    fn("graft_bloom_contains",
        "(filter, keyHash) - bloom membership, no false negatives", 2)(
      es => BloomMightContain(es(0), es(1))),
    fn("graft_nfc", "(s) - Unicode NFC normalization", 1)(
      es => NfcNormalize(es(0))),
    fn("graft_entropy",
        "(s) - Shannon entropy (bits/char), milli-bit quantized", 1)(
      es => CharEntropy(es(0))),
    fn("graft_deflate_size", "(s) - DEFLATE-compressed byte count (level 6)", 1)(
      es => DeflateSize(es(0))),
    fn("graft_lang_best", "(tokens) - marker-count language prediction", 1)(
      es => LangMarkerBest(es(0), LangMarkerBest.DefaultMarkers)),
    fn("graft_cms_estimate", "(sketch, item) - Count-Min frequency estimate", 2)(
      es => CmsEstimate(es(0), es(1))),
    fn("graft_bitmap_and_count", "(a, b) - popcount of two bitmaps' AND", 2)(
      es => BitmapAndCount(es(0), es(1))),
    fn("graft_gramian",
        "(vec, dim) - Gramian (covariance numerator) aggregate", 2)(
      es => GramianAgg(es(0), foldableInt("graft_gramian dim", es(1)))
        .toAggregateExpression()),
    fn("graft_sign_pack", "(vec) - 1-bit sign code packed into longs", 1)(
      es => SignPack(es(0))),
    fn("graft_hamming", "(a, b) - Hamming distance of two packed sign codes", 2)(
      es => HammingDist(es(0), es(1))),
    fn("graft_lsh_buckets",
        "(vec, tables, bits, seed, dim) - sign-LSH bucket per table", 5)(
      es => LshBuckets(es(0), foldableInt("graft_lsh_buckets tables", es(1)),
        foldableInt("graft_lsh_buckets bits", es(2)),
        foldableLong("graft_lsh_buckets seed", es(3)),
        foldableInt("graft_lsh_buckets dim", es(4)))),
    fn("graft_jaro_winkler",
        "(a, b) - Jaro-Winkler similarity (DuckDB-parity semantics)", 2)(
      es => JaroWinklerSim(es(0), es(1))))

  /** Every SQL name of the list. */
  def names: Set[String] = functions.map(_._1.funcName).toSet

  /** Plan-time integral arg: must be a foldable integral expression —
    * a clear error beats the ClassCastException/NPE a bare
    * `eval().asInstanceOf[Int]` throws on BIGINT literals or columns.
    */
  private def foldable(what: String, k: Expression): java.lang.Number = {
    if (!k.foldable)
      throw new IllegalArgumentException(
        s"$what must be a literal, got a non-foldable expression: ${k.sql}")
    k.eval() match {
      case n: java.lang.Number => n
      case other => throw new IllegalArgumentException(
        s"$what must be integral, got $other")
    }
  }

  private def foldableInt(what: String, k: Expression): Int =
    foldable(what, k).intValue()

  private def foldableLong(what: String, k: Expression): Long =
    foldable(what, k).longValue()

  /** Binds every function of the list. A name already bound to the
    * same builder instance is skipped, so repeat calls replace nothing
    * and log nothing.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    functions.foreach { case (id, info, b) =>
      if (!registry.lookupFunctionBuilder(id).exists(_ eq b))
        registry.registerFunction(id, info, b)
    }
  }
}
