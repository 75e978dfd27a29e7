package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project, Range, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Scan-parallelism floor for compute-heavy derivations — the guide's
  * unsplittable-input move (repartition right after the read), made
  * CONDITIONAL so it is a no-op at scale:
  *
  * A parquet file is splittable only at row-group boundaries, so a
  * small single-row-group table arrives as ONE scan task no matter
  * what `spark.sql.files.maxPartitionBytes`/`minPartitionNum` say —
  * and every map-heavy derivation above it (tokenize → shingle →
  * 64-lane minhash, per-pair cosine scoring, n-gram hashing) runs on
  * one core while the rest of the cluster idles. At corpus scale the
  * same tables arrive as thousands of splits and the condition below
  * is false: the plan is returned UNCHANGED — no exchange, no cost.
  *
  * The fan-out shuffle, when it does fire, moves the input once
  * (O(rows)) to parallelize work that is super-linear in it (pair
  * scoring) or constant-factor-heavy (shingling); the partition count
  * is the cluster's default parallelism, not a data-size constant, so
  * the same code is right at local[7], local[32], and on a cluster.
  */
object Fanout {

  /** The split-count probe (`queryExecution.toRdd.getNumPartitions`)
    * is only safe on a SCAN-SHAPED frame: under AQE, planning the RDD
    * of a plan containing any exchange materializes the upstream query
    * stages eagerly — the shuffles would run once for the probe and
    * again for the real action. Every ensure() call site passes a
    * (possibly filtered/projected) base-table read, where the probe
    * just plans the scan and reads its split count without launching
    * a job; this check enforces that precondition structurally instead
    * of by convention, so a future caller handing in a derived frame
    * gets the identity (its parallelism is already exchange-governed
    * and AQE-coalesced — a floor there is not this move).
    */
  private def scanShaped(plan: LogicalPlan): Boolean = plan match {
    case p: Project       => scanShaped(p.child)
    case f: Filter        => scanShaped(f.child)
    case s: SubqueryAlias => scanShaped(s.child)
    case _: LogicalRelation => true
    // a read resolved through DataSource V2 (e.g. a file format left
    // out of `spark.sql.sources.useV1SourceList`); the optimizer turns
    // every DataSourceV2Relation into this scan node
    case _: DataSourceV2ScanRelation => true
    case _: LocalRelation   => true
    case _: Range           => true
    // a pinned frame (localCheckpoint) or a micro-batch's LogicalRDD:
    // already materialized, so the probe reads its partition count
    // job-free
    case _: org.apache.spark.sql.execution.LogicalRDD => true
    case _ => false
  }

  def ensure(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (!scanShaped(df.queryExecution.optimizedPlan)) df
    // toRdd plans the (exchange-free, see scanShaped) frame without
    // running a job or opening a SQL execution (`.rdd` opens one); its
    // partition count is the scan's real split count
    else if (df.queryExecution.toRdd.getNumPartitions < p) df.repartition(p) else df
  }
}
