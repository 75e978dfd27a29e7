package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import graft.functions.{BloomFilterAgg, BloomMightContain, BloomUtil}

/** Membership at corpus scale: "which probe rows' keys already exist in
  * the seen corpus" — exact answers at bloom-prefilter cost.
  *
  * The naive form is a semi join probe ⋈ seen: both sides shuffle on
  * the key, and at 100 TB the seen side IS the corpus. Here the seen
  * side collapses map-side into an m-bit bloom filter
  * ([[graft.functions.BloomFilterAgg]] partial-aggregates: per-partition
  * filters OR-merge, so the shuffle carries m/8-byte blobs, not keys),
  * the probe side drops every row the broadcast filter rejects — a
  * codegen'd hash per row, no shuffle — and only the surviving ~fpp
  * fraction plus true matches pay the exact verification join. No false
  * negatives means the final output is EXACTLY the semi join's, which
  * is what the DuckDB oracle checks.
  */
object BloomMembership {

  /** The prefilter half: probe rows the bloom filter of `seenKey` over
    * `seen` (sized for expectedN keys at fpp) does not rule out — every
    * match plus ~fpp of the rest. The filter is one row, broadcast to
    * every probe task; the test is a codegen'd hash per row.
    */
  private[graft] def prefilter(probe: DataFrame, seen: DataFrame,
      probeKey: Column, seenKey: Column, expectedN: Long,
      fpp: Double): DataFrame = {
    val (m, k) = BloomUtil.geometry(expectedN, fpp)
    val filter = seen.agg(ColumnBridge.column(BloomFilterAgg(
      ColumnBridge.expression(xxhash64(seenKey)), m, k).toAggregateExpression())
      .as("graft_bloom"))
    probe.crossJoin(broadcast(filter))
      .filter(ColumnBridge.column(BloomMightContain(
        ColumnBridge.expression(col("graft_bloom")),
        ColumnBridge.expression(xxhash64(probeKey)))))
      .drop("graft_bloom")
  }

  /** Probe rows whose key exists in `seen` — bloom-prefiltered, then
    * exactly verified (distinct seen keys) so false positives never
    * reach the output.
    */
  def matches(probe: DataFrame, seen: DataFrame, probeKey: Column,
      seenKey: Column, expectedN: Long, fpp: Double = 0.01): DataFrame =
    // no distinct() on the seen side: left_semi already emits each
    // candidate at most once, and a pre-dedup would shuffle+aggregate
    // the corpus-scale seen side — the cost the bloom prefilter saves
    prefilter(probe, seen, probeKey, seenKey, expectedN, fpp).join(
      seen.select(seenKey.as("graft_seen_k")),
      probeKey === col("graft_seen_k"), "left_semi")
}
