package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair graph by iterative
  * min-label propagation — turns pairwise matches into duplicate-cluster
  * ids (cluster id = smallest doc id in the component).
  *
  * Each iteration is one distributed join + partial-aggregatable min:
  * every node adopts the smallest label among itself and its neighbors.
  * Iterations needed = graph diameter, and duplicate clusters are
  * near-cliques (diameter ≤ 2-3 in practice), so the loop converges in
  * a handful of rounds; `maxIters` bounds the worst case. The driver
  * holds only the convergence counter — labels never leave the cluster.
  *
  * Two costs this version engineers away (measured: they dominated the
  * sf0.1 bench):
  *  - **Round 0 is free.** The initial label table is already one
  *    neighbor-min pass (`label = least(id, min(neighbor))`), computed by
  *    the same groupBy that collects the node set — a clique converges in
  *    one propagation round + one confirm round.
  *  - **Plans must not grow.** `persist` short-circuits execution but the
  *    logical plan still accretes one join+union+agg per round, so
  *    analysis/optimization cost grows quadratically with iterations.
  *    Each round ends in a lazy `localCheckpoint`, truncating plan AND
  *    lineage; the round's single action materializes it. Superseded
  *    round buffers become unreferenced and the ContextCleaner reclaims
  *    them (no cache-manager pinning as with `persist`) — including the
  *    final buffer once the caller drops it, which closes the
  *    cached-block leak `persist` had. localCheckpoint trades fault
  *    tolerance for speed: an executor loss fails the job instead of
  *    recomputing. On a real cluster with flaky nodes, prefer
  *    `spark.sparkContext.setCheckpointDir` + reliable `checkpoint`
  *    every few rounds; the loop structure is identical.
  */
object ConnectedComponents {

  /** Below this node count the label table joins with an explicit
    * broadcast hint — on a small graph the per-iteration cost is all
    * scheduling overhead, while a large graph wants the shuffle path.
    * (Deliberately NOT toggling session-global confs like AQE here:
    * labels() can run concurrently with other queries — e.g. inside a
    * MultiPipeline branch — and a save/set/restore of session conf
    * races and can leave the session misconfigured.)
    */
  val SmallGraphNodes = 1000000L

  /** Edge count at or below which [[labels]]/[[labelsStar]] take the
    * driver union-find early exit instead of the iterative distributed
    * loop. 2²² edges arrive at the driver as two primitive longs each,
    * 64 MB; the union-find's sort buffer and node arrays add at most as
    * much again ([[unionFindLabels]]) — the same data-to-driver class
    * as a broadcast hash join's build side, for a structure
    * (path-compressed union-find) that labels the graph in one pass
    * instead of diameter (resp. log²) ROUNDS of join + agg + checkpoint
    * jobs. A near-dup pair graph at 100 TB exceeds the threshold and
    * runs the distributed loop unchanged; when it does NOT — duplicate
    * clusters are rare relative to corpus size more often than not —
    * collecting beats scheduling dozens of cluster-wide shuffles over KB
    * of edges. Callers that must pin the distributed path (specs of the
    * loop itself) pass `smallCollectMax = 0`.
    */
  val DriverUnionFindMaxEdges: Long = 1L << 22

  /** Driver union-find over the edge list (id_a, id_b) — the
    * small-graph early exit. Each partition packs its edges into one
    * primitive `long[]` on the executor, so the driver holds 16 B an
    * edge, never a boxed row. Nodes are indexed by the sorted distinct
    * endpoints (8 B a node, plus a 4 B parent); union-by-min over those
    * indices keeps each root at its component's minimum id, so `find`
    * IS the label, and path halving makes the pass O(E α(E)). Output
    * contract is exactly [[labels]]': (id, label = min reachable id),
    * one row per node with at least one edge, ascending id, as a local
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

  /** (id, label) for every node of `edges` (columns id_a, id_b); label =
    * min node id reachable. Only nodes with at least one edge appear.
    */
  def labels(edges: DataFrame, maxIters: Int = 20,
      smallCollectMax: Long = DriverUnionFindMaxEdges): DataFrame = {
    // persist the EDGE LIST, not just the symmetrized view: sym unions two
    // projections of `edges`, so an unpersisted edges plan (e.g. a whole
    // MinHash pipeline) would execute once per union branch per action
    val e = edges.persist()
    // broadcast-class graph → one collect + union-find instead of
    // diameter rounds of distributed jobs (DriverUnionFindMaxEdges doc);
    // the count doubles as the persist's materialization
    if (e.count() <= smallCollectMax)
      return try unionFindLabels(e) finally e.unpersist()
    val sym = e.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(e.select(col("id_b").as("u"), col("id_a").as("v")))
    // round 0 fused into initialization: one aggregation yields both the
    // node set and each node's first neighbor-min label
    var cur = sym.groupBy(col("u"))
      .agg(least(col("u"), min(col("v"))).as("label"))
      .select(col("u").as("id"), col("label"))
      .localCheckpoint(false)
    val nNodes = cur.count()
    val small = nNodes < SmallGraphNodes
    var converged = false
    try {
      var it = 0
      while (it < maxIters && !converged) {
        // change detection rides the SAME aggregation: each node's own row
        // carries its previous label in `old` (max ignores the nulls from
        // propagated rows), so converged ⟺ no node got a smaller label —
        // one shuffle and one action per iteration, no extra join.
        val labelSide = if (small) broadcast(cur) else cur
        val prop = sym.join(labelSide, sym("v") === cur("id"))
          .select(sym("u").as("id"), col("label"),
            lit(null).cast("long").as("old"))
        val own = cur.select(col("id"), col("label"), col("label").as("old"))
        val agg = own.unionByName(prop)
          .groupBy(col("id"))
          .agg(min(col("label")).as("label"), max(col("old")).as("old"))
          .localCheckpoint(false)
        val changed = agg.filter(col("label") < col("old")).count()
        cur = agg // previous round's buffer is now unreferenced → cleaned
        converged = changed == 0
        it += 1
      }
    } finally {
      e.unpersist()
    }
    // silent non-convergence would return WRONG labels (nodes farther
    // than maxIters hops from their component's min keep a stale label)
    // and diverge from the exact transitive-closure oracle — fail loudly
    if (!converged)
      throw new IllegalStateException(
        s"label propagation did not converge in $maxIters iterations " +
          s"($nNodes nodes); raise maxIters (graph diameter exceeds it)")
    cur.select(col("id"), col("label"))
  }

  /** Cluster summary: (cluster_id = min doc id, n_docs), one row per
    * component of the pair graph.
    */
  def clusters(edges: DataFrame, maxIters: Int = 10,
      smallCollectMax: Long = DriverUnionFindMaxEdges): DataFrame =
    labels(edges, maxIters, smallCollectMax)
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"))

  /** Eagerly drop the cached checkpoint blocks behind a frame returned
    * by [[labels]]/[[clusters]]. The final round's buffer is otherwise
    * reclaimed only when the caller's reference is garbage-collected
    * (ContextCleaner); long-lived sessions that hold many results can
    * release deterministically instead. Call ONLY after every action on
    * the frame (and anything derived from it) has run: a localCheckpoint
    * truncates lineage, so unpersisted blocks cannot be recomputed.
    */
  def release(df: DataFrame): Unit = graft.util.Caches.release(df)

  /** The large-star/small-star alternation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — the LOG-ROUND
    * scale path beside [[labels]]' min-propagation: propagation needs
    * one round per unit of graph DIAMETER, which is fine for the
    * near-clique components duplicate clusters form but melts on chain
    * graphs (a winnow/containment chain of re-quoted fragments can be
    * thousands of hops long); star alternation contracts the graph in
    * O(log² n) rounds regardless of diameter.
    *
    * Per round, each operation is one aggregation + one equi-join over
    * the edge set, all hash-partitioned:
    *  - **large-star**: every node connects its LARGER neighbors to its
    *    neighborhood minimum (edges stay canonical u > v);
    *  - **small-star**: every node connects its smaller neighbors and
    *    itself to their minimum.
    * The fixed point is a star forest — every node holds a direct edge
    * to its component's minimum — read off as the label table.
    * Convergence is an EXACT edge-set equality check (count + except —
    * graph-scale, not corpus-scale), and non-convergence throws, the
    * same fail-loudly contract as [[labels]].
    */
  def labelsStar(edges: DataFrame, maxIters: Int = 30,
      smallCollectMax: Long = DriverUnionFindMaxEdges): DataFrame = {
    var e = edges.select(col("id_a").as("a"), col("id_b").as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct().localCheckpoint(false)
    var eCount = e.count()
    if (eCount == 0) return e.select(col("u").as("id"), col("v").as("label"))
    // the same broadcast-class early exit as [[labels]] — star
    // alternation's log²-round advantage only matters where the edge
    // set is too big to collect (DriverUnionFindMaxEdges doc). NOTE
    // labelsStar includes every node incl. each component minimum,
    // exactly unionFindLabels' contract.
    if (eCount <= smallCollectMax)
      return unionFindLabels(
        e.select(col("u").as("id_a"), col("v").as("id_b")))
    var converged = false
    var it = 0
    while (it < maxIters && !converged) {
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
        s"star alternation did not converge in $maxIters rounds " +
          s"($eCount edges); raise maxIters")
    e.select(col("u").as("id"), col("v").as("label"))
      .unionByName(e.select(col("v").as("id"), col("v").as("label")))
      .distinct()
  }

  /** [[clusters]] over the star-alternation labels — same output
    * contract, log-round scale path.
    */
  def clustersStar(edges: DataFrame, maxIters: Int = 30,
      smallCollectMax: Long = DriverUnionFindMaxEdges): DataFrame =
    labelsStar(edges, maxIters, smallCollectMax)
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"))
}
