package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.util.Epochs

/** Epoch-published shard exports — training-job reproducibility for
  * the export tree itself: a training run that starts reading shards
  * MUST finish on the byte-identical corpus it started with, and a
  * rerun next month must be able to read the SAME epoch again, even
  * though the exporter keeps publishing fresh epochs as crawl batches
  * are admitted. The flat export (ShuffleShard.writeShards to a live
  * path) has the same mid-scan reader race every staged swap has;
  * here each publish lands a complete artifact — the shard tree PLUS
  * the manifest consumers validate deliveries against — under
  * `epoch=<N+1>/` and becomes current only when whole
  * ([[graft.util.Epochs]]).
  *
  * The manifest is written FROM the assigned frame with
  * [[Manifest.partial]] — the identical arithmetic export_manifest
  * oracles — so shards and manifest can never disagree about what was
  * published.
  *
  * At 100 TB: one publish = the export's own shuffle (unavoidable —
  * it IS the export) + an nShards-row manifest rollup on the same
  * scan's frame; readers pin one directory tree, a swap moves a
  * pointer file. Retention bounds disk at ~(retain+1)× one export.
  */
object ShardStore {

  /** Manifest format stamped into each published epoch
    * (`_MANIFEST_FORMAT` sidecar): format "2" means `n_bytes` is
    * octet_length of the payload text ([[Manifest.partial]]'s
    * derive-internally arithmetic). Format "1" — never stamped —
    * retroactively names the pre-change era whose n_bytes carried
    * whatever unit the caller passed (in practice a char count): the
    * two coincide on pure-ASCII corpora and silently diverge on any
    * multibyte text, so [[validate]] REFUSES an unstamped or
    * differently-stamped manifest with an explicit unit-mismatch error
    * instead of surfacing the era mix as an opaque per-shard checksum
    * failure.
    */
  val ManifestFormat = "2"
  private val FormatSidecar = "_MANIFEST_FORMAT"

  /** A pinned read handle: `shards` plans read only `epoch`'s files. */
  final case class Pinned(shards: DataFrame, manifest: DataFrame,
      epoch: Long, dir: String)

  private def stampFormat(spark: SparkSession, epochDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(epochDir, FormatSidecar)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(ManifestFormat.getBytes("UTF-8")) finally out.close()
  }

  /** The epoch's stamped manifest format, or None for a pre-stamp
    * (pre-format-2) publish.
    */
  def manifestFormat(spark: SparkSession, dir: String,
      epoch: Long): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(
      Epochs.epochPath(dir, epoch), FormatSidecar)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim)
      finally in.close()
    }
  }

  /** Publish `docs` as the next epoch's shard tree + manifest.
    * Returns the published epoch (0 for a fresh store).
    *
    * Fenced (r11): the next epoch number is claimed by LISTING, so two
    * concurrent publishers would resolve the same number and interleave
    * their shard trees under one epoch dir — the maintenance lease
    * makes the second fail loudly instead
    * ([[graft.util.Epochs.withMaintenanceLease]]; exporters serialize
    * publishes, exactly the snapshot indexes' maintainer contract).
    * Readers never take the lease — they pin published epochs.
    */
  def publish(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String, seed: Long,
      nShards: Int, retainEpochs: Int = 1): Long =
    Epochs.withMaintenanceLease(spark, dir) {
      val next = Epochs.published(spark, dir).lastOption.fold(0L)(_ + 1)
      val assigned = ShuffleShard.assign(docs, idCol, seed, nShards)
      ShuffleShard.writeShards(assigned, nShards,
        s"${Epochs.epochPath(dir, next)}/shards")
      Manifest.partial(docs, idCol, textCol, seed, nShards)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${Epochs.epochPath(dir, next)}/manifest")
      stampFormat(spark, Epochs.epochPath(dir, next))
      Epochs.publish(spark, dir, next, retainEpochs)
      next
    }

  /** One-shot migration for a PRE-format-[[ManifestFormat]] epoch the
    * operator has MANUALLY AUDITED as unit-consistent (in practice: a
    * provably ASCII-only corpus, where the legacy char count and
    * octet_length coincide byte-for-byte). Stamps the epoch so
    * [[validate]] accepts it without a re-publish. Never called by
    * anything in this codebase — the audit is the human's, exactly
    * like [[graft.util.Epochs.breakStaleLease]]'s liveness judgment;
    * the mechanical guards here are only (a) the epoch must be
    * published (a half-written tree can't be blessed) and (b) an
    * ALREADY-stamped epoch refuses loudly (re-blessing a format-2
    * epoch is a no-op someone meant differently; a future format-3
    * era must not be silently relabeled).
    */
  def stampAuditedLegacyEpoch(spark: SparkSession, dir: String,
      epoch: Long): Unit = {
    require(Epochs.published(spark, dir).contains(epoch),
      s"epoch $epoch is not published under $dir — only a complete, " +
        "published tree can be stamped")
    manifestFormat(spark, dir, epoch).foreach { fmt =>
      throw new IllegalStateException(
        s"ShardStore.stampAuditedLegacyEpoch: epoch $epoch under $dir " +
          s"already carries format $fmt — refusing to restamp (this " +
          "helper exists ONLY for pre-stamp epochs after a manual " +
          "ASCII/unit audit)")
    }
    stampFormat(spark, Epochs.epochPath(dir, epoch))
  }

  /** Pin the current epoch: the returned plans list only its files,
    * so later publishes (and their retirements, within retention)
    * cannot disturb a run that already started.
    */
  def readShards(spark: SparkSession, dir: String): Pinned =
    readShardsAt(spark, dir, Epochs.current(spark, dir))

  /** Read a SPECIFIC published epoch — the reproduce-last-month's-
    * training-run path. Fails loudly on an unpublished/retired epoch
    * rather than returning a partial tree.
    */
  def readShardsAt(spark: SparkSession, dir: String, epoch: Long): Pinned = {
    require(Epochs.published(spark, dir).contains(epoch),
      s"epoch $epoch is not published under $dir")
    val base = Epochs.epochPath(dir, epoch)
    Pinned(spark.read.parquet(s"$base/shards"),
      spark.read.parquet(s"$base/manifest"), epoch, dir)
  }

  /** Delivery validation — the consumer-side handshake: recompute the
    * manifest arithmetic over the shards actually read and compare to
    * the published manifest. Returns per-shard rows with an `ok` flag
    * (empty mismatch set = the delivery is bit-complete).
    */
  def validate(pinned: Pinned, idCol: String, textCol: String,
      seed: Long, nShards: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    // era gate BEFORE the arithmetic: a manifest whose n_bytes unit is
    // unknown (pre-stamp) or different must fail with a unit error, not
    // an opaque per-shard bytes/checksum mismatch
    val fmt = manifestFormat(pinned.shards.sparkSession, pinned.dir,
      pinned.epoch)
    if (!fmt.contains(ManifestFormat))
      throw new IllegalStateException(
        s"ShardStore.validate: epoch ${pinned.epoch} under ${pinned.dir} " +
          s"carries manifest format ${fmt.getOrElse("<unstamped — " +
            "pre-format-" + ManifestFormat + " publish, n_bytes unit " +
            "unknown>")} but this build validates format " +
          s"$ManifestFormat (n_bytes = octet_length) — re-publish the " +
          "epoch across the unit boundary instead of merging or " +
          "validating across it (or, for a manually-audited ASCII-only " +
          "legacy epoch, bless it via stampAuditedLegacyEpoch)")
    val recomputed = Manifest.partial(
        pinned.shards.drop("shard", "shuffle_key"),
        idCol, textCol, seed, nShards)
      .withColumnsRenamed(Map("n_rows" -> "got_rows",
        "n_bytes" -> "got_bytes", "checksum" -> "got_checksum"))
    pinned.manifest.join(recomputed, Seq("shard"), "full_outer")
      .select(col("shard"), col("n_rows"), col("n_bytes"), col("checksum"),
        (col("n_rows") <=> col("got_rows") &&
          col("n_bytes") <=> col("got_bytes") &&
          col("checksum") <=> col("got_checksum")).as("ok"))
  }
}
