package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.dedup.SegmentDedup
import graft.ops.{ShuffleShard, SourceMixture}

/** Segment dedup + training-export ops (shuffle-shard, source mixing). */
class ExportSpec extends SparkSpec {

  test("SegmentDedup keeps first occurrence, preserves order, empties full dups") {
    import spark.implicits._
    // doc 1: unique a + shared X; doc 2 repeats X then unique b;
    // doc 3 is segment-for-segment a copy of doc 1 → keeps nothing
    val df = Seq(
      (1L, "alpha beta X X"), (2L, "X X gamma delta"), (3L, "alpha beta X X"))
      .toDF("doc_id", "text")
    val out = SegmentDedup.dedupSegments(df, "doc_id",
        SegmentDedup.windowSegments(col("text"), 2))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val md5 = (s: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0) === ((1L, 2L, 2L, md5("alpha beta x x"))))
    assert(out(1) === ((2L, 2L, 1L, md5("gamma delta")))) // "x x" already seen
    assert(out(2) === ((3L, 2L, 0L, md5("")))) // full duplicate of doc 1
  }

  test("SegmentDedup hashed keys ≡ raw keys on the real corpus") {
    // the opt-in hashed mode windows on xxhash64(segment) (8-byte
    // exchange keys); absent a 64-bit collision the keep/drop decisions
    // — and so every output row — must match the byte-exact default
    // the DuckDB oracle checks
    val docs = util.Tables(spark, sf).documents
    val segs = SegmentDedup.windowSegments(col("text"), 15)
    val raw = SegmentDedup.dedupSegments(docs, "doc_id", segs)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val hashed = SegmentDedup.dedupSegments(docs, "doc_id", segs,
        hashKeys = true)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(hashed === raw)
  }

  test("SegmentDedup delimiter variant drops a repeated paragraph") {
    import spark.implicits._
    val df = Seq(
      (1L, "intro text\n\nshared footer"), (2L, "other text\n\nshared footer"))
      .toDF("doc_id", "text")
    val out = SegmentDedup.dedupSegments(df, "doc_id",
        SegmentDedup.delimiterSegments(col("text"), "\\n{2,}"))
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(2)).toSeq === Seq(2L, 1L)) // n_kept
  }

  test("temperatureWeights: identity at alpha=1, flattens rare sources below") {
    val docs = util.Tables(spark, sf).documents
    val counts = docs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val identity = SourceMixture.temperatureWeights(docs, "source", alpha = 1.0)
    assert(identity.keySet === counts.keySet)
    identity.values.foreach(w => assert(math.abs(w - 1.0) < 1e-9,
      s"alpha=1 must be the identity recipe, got $w"))
    val flat = SourceMixture.temperatureWeights(docs, "source", alpha = 0.5)
    // rarer source → larger replication weight (monotone in 1/n at α<1)
    val bySize = counts.toSeq.sortBy(_._2).map(_._1)
    val ws = bySize.map(flat)
    assert(ws.zip(ws.tail).forall { case (a, b) => a >= b - 1e-9 },
      s"weights must not increase with source size: ${bySize.zip(ws)}")
    // total output mass ≈ preserved: Σ n_i·w_i ≈ N
    val n = counts.values.sum.toDouble
    val out = counts.map { case (s, c) => c * flat(s) }.sum
    assert(math.abs(out - n) / n < 0.01, s"size drift: $out vs $n")
  }

  test("ShuffleShard.writeShards: files partition the corpus, sorted by key") {
    val docs = util.Tables(spark, sf).documents
    val assigned = ShuffleShard.assign(docs, "doc_id", seed = 42L, nShards = 4)
    val dir = Files.createTempDirectory("graft-shards").toString
    ShuffleShard.writeShards(assigned, 4, dir)
    val back = spark.read.parquet(dir)
    // partition of the input: same doc_ids exactly once (both except
    // directions — equal count + one-way subset would still pass if a
    // doc were duplicated while another was dropped)
    assert(back.count() === docs.count())
    assert(back.select("doc_id").except(docs.select("doc_id")).isEmpty)
    assert(docs.select("doc_id").except(back.select("doc_id")).isEmpty)
    // routing: every row's shard matches key mod N
    assert(back.where(pmod(col("shuffle_key"), lit(4L)) =!= col("shard"))
      .isEmpty)
    // in-file order: shuffle_key non-decreasing within each parquet file
    val disorder = back
      .withColumn("f", input_file_name())
      .withColumn("prev", lag(col("shuffle_key"), 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("f"))
          .orderBy(monotonically_increasing_id())))
      .where(col("prev") > col("shuffle_key"))
    assert(disorder.isEmpty, "rows out of shuffle_key order inside a shard file")
  }

  test("ShardStore: a pinned training run survives a new publish; a " +
      "past epoch reproduces exactly; manifests validate the delivery") {
    import graft.ops.ShardStore
    val docs = util.Tables(spark, sf).documents
      .select(col("doc_id"), col("text"), col("n_chars"))
    val v1 = docs.filter(col("doc_id") % 10 =!= 0)
    val v2 = docs // next crawl admitted the missing tenth
    val dir = Files.createTempDirectory("graft-shardstore").toString
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val v1Ids = ids(v1)

    assert(ShardStore.publish(spark, dir, v1, "doc_id", "text",
      seed = 42L, nShards = 8) === 0L)
    val run = ShardStore.readShards(spark, dir) // training starts here
    assert(run.epoch === 0L)
    assert(ids(run.shards) === v1Ids)

    // the exporter publishes the next crawl mid-training
    assert(ShardStore.publish(spark, dir, v2, "doc_id", "text",
      seed = 42L, nShards = 8) === 1L)
    assert(ids(run.shards) === v1Ids,
      "a pinned run must keep reading its epoch after a new publish")
    assert(run.manifest.count() === 8L)
    // fresh readers see the new corpus
    val now = ShardStore.readShards(spark, dir)
    assert(now.epoch === 1L && ids(now.shards) === ids(v2))

    // reproduce-last-month's-run: the old epoch reads back exactly
    assert(ids(ShardStore.readShardsAt(spark, dir, 0L).shards) === v1Ids)

    // delivery validation: recomputed manifest matches the published
    // one shard-for-shard on both epochs
    Seq(run, now).foreach { p =>
      val bad = ShardStore.validate(p, "doc_id", "text",
        seed = 42L, nShards = 8).filter(!col("ok"))
      assert(bad.isEmpty, s"epoch ${p.epoch}: delivery validation failed")
    }
    // a corrupted delivery is CAUGHT: drop one doc from the read frame
    val torn = run.copy(shards = run.shards.filter(col("doc_id") =!= v1Ids.head))
    assert(ShardStore.validate(torn, "doc_id", "text",
      seed = 42L, nShards = 8).filter(!col("ok")).count() >= 1L)

    // retention: one more publish retires epoch 0; reading it fails
    // loudly, never returns a partial tree
    assert(ShardStore.publish(spark, dir, v1, "doc_id", "text",
      seed = 42L, nShards = 8) === 2L)
    assert(graft.util.Epochs.published(spark, dir) === Seq(1L, 2L))
    intercept[IllegalArgumentException] {
      ShardStore.readShardsAt(spark, dir, 0L)
    }
    // crash-window fallback: losing _CURRENT resolves to max published
    new java.io.File(s"$dir/_CURRENT").delete()
    assert(graft.util.Epochs.current(spark, dir) === 2L)

    // publisher fence: the next epoch number is claimed by listing, so
    // a second concurrent publisher must fail LOUDLY on the lease
    // instead of interleaving its shard tree under the same epoch dir
    graft.util.Epochs.withMaintenanceLease(spark, dir) {
      val racer = intercept[IllegalStateException] {
        ShardStore.publish(spark, dir, v1, "doc_id", "text",
          seed = 42L, nShards = 8)
      }
      assert(racer.getMessage.contains("single-maintainer"))
    }
    // and proceeds normally once the lease is released
    assert(ShardStore.publish(spark, dir, v2, "doc_id", "text",
      seed = 42L, nShards = 8) === 3L)
    assert(ids(ShardStore.readShards(spark, dir).shards) === ids(v2))
  }

  test("ShardStore manifest format gate: validate refuses an unstamped " +
      "(pre-octet_length) or differently-stamped epoch with an explicit " +
      "unit error, never an opaque checksum mismatch") {
    import graft.ops.ShardStore
    val docs = util.Tables(spark, sf).documents
      .select(col("doc_id"), col("text")).limit(60)
    val dir = Files.createTempDirectory("graft-store-fmt").toString
    assert(ShardStore.publish(spark, dir, docs, "doc_id", "text",
      seed = 7L, nShards = 4) === 0L)
    val pinned = ShardStore.readShards(spark, dir)
    // a fresh publish is stamped and validates clean
    assert(ShardStore.manifestFormat(spark, dir, 0L) ===
      Some(ShardStore.ManifestFormat))
    assert(ShardStore.validate(pinned, "doc_id", "text", 7L, 4)
      .filter(!col("ok")).isEmpty)
    // pre-stamp era (an r10-or-earlier publish): no sidecar → the
    // n_bytes unit is unknown and validate must say SO, up front.
    // (Edits go through the Hadoop FS API — the local ChecksumFileSystem
    // keeps .crc sidecars that a raw NIO write would desynchronize.)
    val sidecar = new org.apache.hadoop.fs.Path(
      s"$dir/epoch=0/_MANIFEST_FORMAT")
    val fs = sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stamp(v: String): Unit = {
      val out = fs.create(sidecar, true)
      try out.write(v.getBytes("UTF-8")) finally out.close()
    }
    fs.delete(sidecar, false)
    val unstamped = intercept[IllegalStateException] {
      ShardStore.validate(ShardStore.readShards(spark, dir),
        "doc_id", "text", 7L, 4)
    }
    assert(unstamped.getMessage.contains("unit unknown"))
    // a future format bump refuses symmetrically
    stamp("3")
    val bumped = intercept[IllegalStateException] {
      ShardStore.validate(ShardStore.readShards(spark, dir),
        "doc_id", "text", 7L, 4)
    }
    assert(bumped.getMessage.contains("manifest format 3"))
    // restore: the gate clears and the arithmetic still validates
    stamp(ShardStore.ManifestFormat)
    assert(ShardStore.validate(ShardStore.readShards(spark, dir),
      "doc_id", "text", 7L, 4).filter(!col("ok")).isEmpty)

    // stampAuditedLegacyEpoch (r13): the one-shot post-audit blessing.
    // On an ALREADY-stamped epoch it refuses (re-labeling an era is
    // never a shortcut) ...
    val restamp = intercept[IllegalStateException] {
      ShardStore.stampAuditedLegacyEpoch(spark, dir, 0L)
    }
    assert(restamp.getMessage.contains("already carries format"))
    // ... on a pre-stamp epoch it stamps, and validate accepts without
    // a re-publish (this store IS ASCII-only: the audited case)
    fs.delete(sidecar, false)
    ShardStore.stampAuditedLegacyEpoch(spark, dir, 0L)
    assert(ShardStore.manifestFormat(spark, dir, 0L) ===
      Some(ShardStore.ManifestFormat))
    assert(ShardStore.validate(ShardStore.readShards(spark, dir),
      "doc_id", "text", 7L, 4).filter(!col("ok")).isEmpty)
    // ... and an unpublished epoch can never be blessed
    val unpublished = intercept[IllegalArgumentException] {
      ShardStore.stampAuditedLegacyEpoch(spark, dir, 9L)
    }
    assert(unpublished.getMessage.contains("not published"))
  }

  test("SourceMixture.mix materializes exactly mixStats' copy counts") {
    val docs = util.Tables(spark, sf).documents
    val weights = Map("src0" -> 2.5, "src1" -> 0.0, "src2" -> 0.25)
    val stats = SourceMixture.mixStats(docs, "source", "doc_id", "n_chars",
        weights, seed = 7L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val mixed = SourceMixture.mix(docs, "source", "doc_id", weights, seed = 7L)
    val bySource = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // dropped source appears in stats with n_out 0 and not at all in mix
    assert(stats("src1")._2 === 0L && !bySource.contains("src1"))
    stats.foreach { case (src, (_, nOut)) =>
      assert(bySource.getOrElse(src, 0L) === nOut, s"copies mismatch for $src")
    }
    // x2.5 source lands within [2x, 3x] of its input; copy index is dense
    val (n0In, n0Out) = stats("src0")
    assert(n0Out >= 2 * n0In && n0Out <= 3 * n0In)
    val maxCopy = mixed.where(col("source") === "src0")
      .agg(max("copy")).head().getInt(0)
    assert(maxCopy >= 1 && maxCopy <= 2) // floor(2.5)=2 copies, maybe a 3rd
  }
}
