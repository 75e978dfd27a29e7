package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair graph — turns
  * pairwise matches into duplicate-cluster ids (cluster id = smallest
  * doc id in the component).
  *
  * One entry, one algorithm per graph size, chosen by the raw edge
  * count [[labels]] already takes to materialize its input:
  *  - at or below [[DriverUnionFindMaxEdges]] the edges are collected
  *    and labelled by a driver union-find in one pass;
  *  - above it the large-star/small-star alternation (Kiveris et al.,
  *    "Connected Components in MapReduce and Beyond", SoCC'14) runs on
  *    the cluster, O(log² n) rounds regardless of graph diameter, so a
  *    thousand-hop containment chain costs what a clique does.
  *
  * Each star round ends in a lazy `localCheckpoint`, truncating plan
  * AND lineage, so analysis cost does not grow with the round count;
  * superseded round buffers become unreferenced and the ContextCleaner
  * reclaims them, and `graft.util.Caches.release` frees the final one
  * deterministically. localCheckpoint trades fault tolerance for speed:
  * an executor loss fails the job instead of recomputing.
  */
object ConnectedComponents {

  /** Edge count at or below which [[labels]] takes the driver
    * union-find instead of the distributed star alternation. 2²² edges
    * arrive at the driver as two primitive longs each, 64 MB; the
    * union-find's sort buffer and node arrays add at most as much again
    * ([[unionFindLabels]]) — the same data-to-driver class as a
    * broadcast hash join's build side, for a structure (path-compressed
    * union-find) that labels the graph in one pass instead of log² n
    * ROUNDS of join + agg + checkpoint jobs. A near-dup pair graph at
    * 100 TB exceeds the threshold and runs the distributed loop; when
    * it does NOT — duplicate clusters are rare relative to corpus size
    * more often than not — collecting beats scheduling dozens of
    * cluster-wide shuffles over KB of edges.
    */
  val DriverUnionFindMaxEdges: Long = 1L << 22

  /** Driver union-find over the edge list (id_a, id_b) — the
    * small-graph early exit. Each partition packs its edges into one
    * primitive `long[]` on the executor, so the driver holds 16 B an
    * edge, never a boxed row. Nodes are indexed by the sorted distinct
    * endpoints (8 B a node, plus a 4 B parent); union-by-min over those
    * indices keeps each root at its component's minimum id, so `find`
    * IS the label, and path halving makes the pass O(E α(E)). Output
    * is [[labels]]' contract in ascending id order, as a local
    * relation, so a consumer's join planning still sizes it by its row
    * count.
    */
  private def unionFindLabels(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parts = edges.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .queryExecution.toRdd.mapPartitions { rows =>
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        rows.foreach { r =>
          require(!r.isNullAt(0) && !r.isNullAt(1), "null edge endpoint")
          b += r.getLong(0); b += r.getLong(1)
        }
        Iterator.single(b.result())
      }.collect()
    val ids = {
      val all = Array.concat(parts.toIndexedSeq: _*)
      java.util.Arrays.sort(all)
      var n = 0
      all.foreach { v => if (n == 0 || all(n - 1) != v) { all(n) = v; n += 1 } }
      java.util.Arrays.copyOf(all, n)
    }
    val parent = Array.tabulate(ids.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    parts.foreach { p =>
      var i = 0
      while (i < p.length) {
        val ra = find(java.util.Arrays.binarySearch(ids, p(i)))
        val rb = find(java.util.Arrays.binarySearch(ids, p(i + 1)))
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
        i += 2
      }
    }
    Seq.tabulate(ids.length)(i => (ids(i), ids(find(i)))).toDF("id", "label")
  }

  /** Round cap of the star alternation. Rounds grow with log² of the
    * node count, not with the diameter: a 60-hop path converges in
    * well under it (DedupSpec).
    */
  private val MaxRounds = 30

  /** (id, label) for every node of `edges` (columns id_a, id_b); label =
    * min node id reachable. Every endpoint appears, a node whose only
    * edge is a self-loop included (labelled with itself).
    */
  def labels(edges: DataFrame): DataFrame =
    labels(edges, DriverUnionFindMaxEdges)

  /** [[labels]] with the two test seams: `smallCollectMax = 0` pins the
    * distributed loop, a small `maxRounds` forces non-convergence.
    */
  private[graft] def labels(edges: DataFrame, smallCollectMax: Long,
      maxRounds: Int = MaxRounds): DataFrame = {
    // persist the raw edge list: the count below and the loop's first
    // canonicalization both read it, and an unpersisted edges plan
    // (e.g. a whole MinHash pipeline) would execute once per read
    val e = edges.persist()
    try {
      // broadcast-class graph → one collect + union-find instead of
      // log² n rounds of distributed jobs (DriverUnionFindMaxEdges doc);
      // the count doubles as the persist's materialization
      if (e.count() <= smallCollectMax) unionFindLabels(e)
      else starLabels(e, maxRounds)
    } finally e.unpersist()
  }

  /** The large-star/small-star alternation. Per round, each operation
    * is one aggregation + one equi-join over the canonical (u > v) edge
    * set, all hash-partitioned:
    *  - **large-star**: every node connects its LARGER neighbors to its
    *    neighborhood minimum;
    *  - **small-star**: every node connects its smaller neighbors and
    *    itself to their minimum.
    * The fixed point is a star forest — every node holds a direct edge
    * to its component's minimum — read off as the label table.
    * Convergence is an EXACT edge-set equality check (count + except —
    * graph-scale, not corpus-scale); silent non-convergence would
    * return wrong labels, so it throws.
    */
  private def starLabels(edges: DataFrame, maxRounds: Int): DataFrame = {
    // canonical distinct edges, self-loops kept: they carry the nodes
    // whose only edge is a self-loop, which the rounds would drop
    val canon = edges
      .select(greatest(col("id_a"), col("id_b")).cast("long").as("u"),
        least(col("id_a"), col("id_b")).cast("long").as("v"))
      .distinct().localCheckpoint(false)
    var e = canon.filter(col("u") =!= col("v"))
    var eCount = e.count()
    var converged = eCount == 0
    var it = 0
    while (it < maxRounds && !converged) {
      // large-star: per node n over the SYMMETRIZED neighborhood,
      // m = min(Γ(n) ∪ {n}); emit (x, m) for x ∈ Γ(n), x > n. The
      // result is canonical by construction (x > n ≥ m).
      val sym = e.select(col("u").as("n"), col("v").as("x"))
        .unionByName(e.select(col("v").as("n"), col("u").as("x")))
      val mins = sym.groupBy(col("n")).agg(min(col("x")).as("mn"))
        .select(col("n"), least(col("n"), col("mn")).as("m"))
      val large = sym.join(mins, Seq("n"))
        .filter(col("x") > col("n"))
        .select(col("x").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: canonical edges already give each node exactly its
      // SMALLER neighbors; m = min(Γ⁻(u)); emit (x, m) for
      // x ∈ Γ⁻(u) ∪ {u}, x ≠ m — still canonical (x > m after filter)
      val smins = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = large.join(smins, Seq("u"))
        .select(col("v").as("x"), col("m"))
        .unionByName(smins.select(col("u").as("x"), col("m")))
        .filter(col("x") =!= col("m"))
        .select(col("x").as("u"), col("m").as("v"))
        .distinct()
        .localCheckpoint(false)
      val newCount = small.count()
      // both sides are distinct sets: equal counts + empty difference
      // ⟺ identical edge sets ⟺ star-forest fixed point
      converged = newCount == eCount && small.except(e).isEmpty
      e = small
      eCount = newCount
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"star alternation did not converge in $maxRounds rounds " +
          s"($eCount edges)")
    // a star-forest edge labels its leaf, a root labels itself, and a
    // self-loop node labels itself unless an edge already labels it
    // lower — the min per id picks the component minimum every time
    e.select(col("u").as("id"), col("v").as("label"))
      .unionByName(e.select(col("v").as("id"), col("v").as("label")))
      .unionByName(canon.filter(col("u") === col("v"))
        .select(col("u").as("id"), col("u").as("label")))
      .groupBy(col("id")).agg(min(col("label")).as("label"))
  }

  /** Cluster summary: (cluster_id = min doc id, n_docs), one row per
    * component of the pair graph.
    */
  def clusters(edges: DataFrame): DataFrame =
    labels(edges)
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"))
}
