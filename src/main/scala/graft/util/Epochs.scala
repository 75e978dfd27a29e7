package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Directory-granularity epoch store — the snapshot-isolation
  * mechanism behind every saved artifact whose maintenance rewrites
  * files: the dedup and ANN indexes through [[Epochs.Store]],
  * [[graft.dedup.NoveltyIndex]] through the same [[Epochs.appendLoop]]
  * and [[Epochs.maintain]], and [[graft.ops.ShardStore]] through the
  * publish primitives. Each rewrite lands in `epoch=<N+1>/` and is
  * published through here.
  *
  * Layout under a root dir:
  * {{{
  *   <dir>/epoch=<N>/...         (the artifact, any shape)
  *   <dir>/epoch=<N>/_PUBLISHED  (epoch is complete and readable)
  *   <dir>/_CURRENT              (content: current epoch number)
  * }}}
  *
  * Invariants (spec-pinned by DedupSpec's artifact-agnostic spec and
  * the index stores' specs):
  *  - an epoch without `_PUBLISHED` is invisible — a crashed
  *    half-written rewrite can never become current;
  *  - `_CURRENT` is rewritten delete+create; in the crash window
  *    readers fall back to the max published epoch, which is exactly
  *    the epoch the pointer was about to name;
  *  - publish(N) retires epochs < N − retain, so a reader that pinned
  *    an epoch survives at least `retain` subsequent publishes.
  */
object Epochs {

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def epochPath(dir: String, epoch: Long): String = s"$dir/epoch=$epoch"

  /** All epochs carrying a `_PUBLISHED` marker, ascending. */
  def published(spark: SparkSession, dir: String): Seq[Long] = {
    val fs = fsOf(spark, dir)
    val root = new Path(dir)
    if (!fs.exists(root)) return Seq.empty
    val EpochRe = "epoch=(\\d+)".r
    fs.listStatus(root).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case EpochRe(n)
            if fs.exists(new Path(st.getPath, "_PUBLISHED")) => Some(n.toLong)
          case _ => None
        }
    }.flatten.sorted
  }

  /** The current epoch: `_CURRENT`, falling back to max published. */
  def current(spark: SparkSession, dir: String): Long = {
    val fs = fsOf(spark, dir)
    val ptr = new Path(dir, "_CURRENT")
    // a concurrent publish swaps the pointer (write-temp → delete →
    // rename), so the open can race the delete even after exists() —
    // treat FNF exactly like a missing pointer (fall back to max
    // published, which is the epoch the new pointer is about to name).
    // Belt-and-braces: an empty or unparseable pointer (a torn write
    // from a pre-rename layout, or a foreign file) is ALSO treated as
    // missing rather than crashing the reader — the rename swap never
    // produces one, but the fallback is the safe answer either way.
    val fromPtr =
      if (!fs.exists(ptr)) None
      else {
        try {
          val in = fs.open(ptr)
          val content =
            try new String(in.readAllBytes(), "UTF-8").trim
            finally in.close()
          content.toLongOption
        } catch { case _: java.io.FileNotFoundException => None }
      }
    fromPtr.getOrElse {
      val pub = published(spark, dir)
      require(pub.nonEmpty, s"no published epoch under $dir")
      pub.max
    }
  }

  /** Mark `epoch` published, swing `_CURRENT`, retire epochs older
    * than `epoch - retain`.
    */
  def publish(spark: SparkSession, dir: String, epoch: Long,
      retain: Int = 1): Unit = {
    val fs = fsOf(spark, dir)
    fs.create(new Path(epochPath(dir, epoch), "_PUBLISHED"), true).close()
    // pointer swap: the content is fully written and closed in a temp
    // file BEFORE it becomes visible under the pointer name
    // (delete + rename), so a concurrent reader sees the old full
    // content, nothing (FNF → max-published fallback), or the new full
    // content — never a zero-byte or half-written pointer. The temp
    // name is unique per publish so two racing publishes can never
    // interleave through a shared temp file, and the rename result is
    // CHECKED: a false return (a racer recreated the pointer between
    // our delete and rename) retries once against the new state and
    // then fails loudly — a silent no-pointer window is the one
    // outcome current()'s max-published fallback cannot distinguish
    // from normal operation.
    val ptr = new Path(dir, "_CURRENT")
    val tmp = new Path(dir, s"_CURRENT.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(epoch.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(ptr, false)
    if (!fs.rename(tmp, ptr)) {
      // a failed rename here means a racer recreated the pointer
      // between this publish's delete and rename — an unleased
      // concurrent publisher. Fail IMMEDIATELY: deleting the racer's
      // freshly installed pointer to retry over it would "resolve"
      // the race last-writer-wins (and open a second no-pointer
      // window readers can't distinguish from normal operation),
      // which is exactly the silent outcome the lease doctrine bans.
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"Epochs.publish: could not swing $ptr to epoch $epoch — a " +
          "concurrent publisher recreated the pointer between this " +
          "publish's delete and rename; maintenance must run under " +
          "withMaintenanceLease")
    }
    published(spark, dir).filter(_ < epoch - retain)
      .foreach(e => fs.delete(new Path(epochPath(dir, e)), true))
  }

  /** Order-independent fingerprint of the file tree under `path`:
    * sorted (relative path, byte length) lines. An append adds files
    * and a takedown/compact replaces them, so ANY maintenance-relevant
    * change to an epoch's artifact changes the signature; modification
    * times are deliberately excluded (not rename-stable on object
    * stores). A file rewritten in place to the same byte length is
    * invisible — parquet writers never do that (every commit creates
    * new part files), which is the contract this fingerprint rides.
    */
  def contentSignature(spark: SparkSession, path: String): String = {
    val fs = fsOf(spark, path)
    val root = new Path(path)
    if (!fs.exists(root)) return "<absent>"
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(root, true)
    val rootPath = root.toUri.getPath
    while (it.hasNext) {
      val st = it.next()
      buf += s"${st.getPath.toUri.getPath.stripPrefix(rootPath)}:${st.getLen}"
    }
    buf.sorted.mkString("\n")
  }

  /** Rewrite the current epoch's artifact into the next epoch dir and
    * publish it; returns the new epoch. `rewrite(currentDir, nextDir)`
    * must fully materialize the artifact under nextDir.
    *
    * Fenced against concurrent appends: the source epoch's
    * [[contentSignature]] is recorded BEFORE the rewrite and re-checked
    * AFTER it, immediately before publish. If an append landed in the
    * source epoch mid-rewrite the signatures differ — the half-built
    * next epoch is discarded and the rewrite re-runs over the now-
    * larger source, so the concurrent append SURVIVES into the
    * published epoch instead of silently retiring with the old one.
    * After `maxAttempts` signature mismatches the operation fails
    * loudly (an append storm should win over maintenance, not lose to
    * it). The residual window — an append whose files land after the
    * final re-list — is closed from the append side ([[appendLoop]]'s
    * race analysis).
    *
    * Cost at 100 TB: two recursive LISTs of one epoch directory per
    * attempt — metadata-only, proportional to file count, zero data
    * read.
    */
  def rewriteToNextChecked(spark: SparkSession, dir: String,
      retain: Int = 1, maxAttempts: Int = 3)(
      rewrite: (String, String) => Unit): Long = {
    val cur = current(spark, dir)
    val next = cur + 1
    val fs = fsOf(spark, dir)
    var attempt = 0
    var stable = false
    while (!stable) {
      attempt += 1
      val before = contentSignature(spark, epochPath(dir, cur))
      rewrite(epochPath(dir, cur), epochPath(dir, next))
      if (contentSignature(spark, epochPath(dir, cur)) == before)
        stable = true
      else if (attempt >= maxAttempts) {
        // discard the half-built epoch=N+1 on the FINAL failure too
        // (the retry branch already does): it is invisible to readers
        // (no _PUBLISHED marker) but would waste space and shadow a
        // later rewrite's tree where file names happen to differ
        fs.delete(new Path(epochPath(dir, next)), true)
        throw new IllegalStateException(
          s"Epochs.rewriteToNextChecked: epoch $cur under $dir changed " +
            s"during every one of $maxAttempts rewrite attempts — " +
            "concurrent appends are outpacing maintenance; drain the " +
            "ingest before compacting")
      } else fs.delete(new Path(epochPath(dir, next)), true)
    }
    publish(spark, dir, next, retain)
    next
  }

  private def leasePath(dir: String) = new Path(dir, "_MAINTENANCE.lock")

  /** This process's lease-owner identity: host#pid. Stable for the
    * process lifetime, and exactly what an orchestrator needs to
    * decide "is that owner still alive" before breaking a lease.
    */
  private[util] lazy val ownerId: String =
    s"$localHost#${ProcessHandle.current().pid()}"

  private val AcquiredRe = "acquired_ms=(\\d+)".r

  private val OwnerRe = "owner=([^#\\s]+)#(\\d+)".r

  /** ONE hostname derivation for both the lock's recorded owner
    * ([[ownerId]]) and [[breakStaleLease]]'s same-host comparison —
    * if the two ever diverged, the liveness probe would silently stop
    * firing on exactly the host where liveness is observable.
    */
  private lazy val localHost: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: java.net.UnknownHostException => "unknown-host" }

  /** The current lease holder's recorded metadata
    * (`owner=<host>#<pid> acquired_ms=<epoch-millis>`), if a lock file
    * exists. An empty or foreign-format lock (a pre-metadata layout,
    * or a torn write) reads as a placeholder — still "held", just
    * undiagnosable, which is the manual-removal case.
    */
  def leaseOwner(spark: SparkSession, dir: String): Option[String] = {
    val fs = fsOf(spark, dir)
    val lease = leasePath(dir)
    if (!fs.exists(lease)) return None
    val content =
      try {
        val in = fs.open(lease)
        try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      } catch { case _: java.io.IOException => "" }
    Some(if (content.nonEmpty) content
    else "<no owner metadata — pre-metadata lock or torn write>")
  }

  /** Single-maintainer enforcement: run `body` holding the directory's
    * maintenance lease (`_MAINTENANCE.lock`, created atomically with
    * create-if-absent). Atomicity per scheme: on HDFS, `create(path,
    * overwrite = false)` is atomic at the NameNode. On `file://`,
    * Hadoop's RawLocalFileSystem implements non-overwrite create as
    * exists()-then-create — check-then-act, NOT atomic — so local
    * stores acquire through NIO `Files.createFile` (open with
    * O_CREAT|O_EXCL, atomic on POSIX) instead. An object store without
    * atomic conditional create, e.g. plain S3A, needs an external
    * coordination service behind the same acquire/release calls, which
    * is the standard lake-house answer and exactly where this seam
    * sits. A second concurrent maintainer gets a loud
    * IllegalStateException (naming the recorded holder) instead of a
    * silent epoch race — the mechanical form of the "run
    * compact/remove between ingest batches" cadence the snapshot
    * indexes document. The lease guards maintainers against each other
    * AND anchors the appenders' side of the fence
    * ([[awaitNoMaintenance]]); reads never take it (snapshot
    * isolation). Only already-exists maps to "held" — any other IO
    * failure propagates rather than misreporting a transient RPC error
    * as a lease conflict.
    *
    * The lock records `owner=<host>#<pid> acquired_ms=<millis>` so an
    * orchestrator can DISTINGUISH a live maintainer from a crashed one
    * (check the named pid, or the age). A maintainer that dies holding
    * the lease still blocks everything — deliberately: recovery is the
    * EXPLICIT [[breakStaleLease]] (or removing the file by hand),
    * never a timeout that silently re-admits the race the lease exists
    * to prevent. The metadata write lands after the atomic create —
    * a racer peeking between the two sees an empty lock, which reads
    * as held-with-unknown-owner, never as free.
    */
  def withMaintenanceLease[T](spark: SparkSession, dir: String)(
      body: => T): T = {
    val fs = fsOf(spark, dir)
    val lease = leasePath(dir)
    val meta = s"owner=$ownerId acquired_ms=${System.currentTimeMillis()}"
      .getBytes("UTF-8")
    val acquired =
      if (fs.getUri.getScheme == "file") {
        // local path: NIO CREATE_NEW is the atomic primitive;
        // RawLocalFileSystem's create(overwrite = false) is not
        fs.mkdirs(new Path(dir))
        val local = java.nio.file.Paths.get(lease.toUri.getPath)
        try {
          java.nio.file.Files.createFile(local)
          java.nio.file.Files.write(local, meta)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else {
        try {
          val out = fs.create(lease, false)
          try out.write(meta) finally out.close()
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          // some Hadoop FS impls signal an existing file with a plain
          // IOException whose message names the collision — match that
          // shape only; anything else is a real IO failure, propagate
          case e: java.io.IOException
              if Option(e.getMessage).exists(_.contains("already exists")) =>
            false
        }
      }
    if (!acquired)
      throw new IllegalStateException(
        s"Epochs.withMaintenanceLease: $lease is held by " +
          s"[${leaseOwner(spark, dir).getOrElse("<released just now>")}] — " +
          "epoch maintenance is single-maintainer; if that owner is " +
          "dead, recover via breakStaleLease (or remove the lock file) " +
          "and re-run")
    try body finally fs.delete(lease, false)
  }

  /** EXPLICIT crashed-maintainer recovery — never called automatically
    * by anything in this codebase: deletes the directory's maintenance
    * lock, but only when the lock's own recorded `acquired_ms` proves
    * it is at least `minAgeMs` old. A younger lock fails loudly naming
    * the recorded owner (it may well be alive); a lock with NO
    * parseable metadata also fails loudly — its age cannot be proven,
    * so the human who has verified the owner is dead removes the file
    * by hand. Returns the broken lock's recorded metadata.
    *
    * The caller owns the liveness judgment for a FOREIGN-host lock
    * (check the named host#pid there first); `minAgeMs` is the
    * backstop that stops a fat-fingered break of a lease taken
    * seconds ago. When the recorded host IS this host, the judgment
    * is mechanical and this method makes it: a recorded pid that is
    * still alive (`ProcessHandle.of`) refuses the break EVEN past
    * `minAgeMs`, naming the owner — age never overrides observed
    * liveness where liveness is actually observable. (A same-host pid
    * that has died and been recycled by an unrelated process reads as
    * alive — the conservative direction: the break is refused and the
    * human removes the file by hand, exactly the pre-probe behavior.)
    */
  def breakStaleLease(spark: SparkSession, dir: String,
      minAgeMs: Long): String = {
    val fs = fsOf(spark, dir)
    val lease = leasePath(dir)
    val owner = leaseOwner(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"Epochs.breakStaleLease: no maintenance lease under $dir"))
    val ageMs = AcquiredRe.findFirstMatchIn(owner)
      .map(m => System.currentTimeMillis() - m.group(1).toLong)
      .getOrElse(throw new IllegalStateException(
        s"Epochs.breakStaleLease: $lease carries no parseable " +
          s"acquired_ms [$owner] — its age cannot be proven; verify " +
          "the owner is dead and remove the lock file by hand"))
    if (ageMs < minAgeMs)
      throw new IllegalStateException(
        s"Epochs.breakStaleLease: $lease is only ${ageMs} ms old " +
          s"(< $minAgeMs required) and held by [$owner] — refusing to " +
          "break a lease that young")
    OwnerRe.findFirstMatchIn(owner).foreach { m =>
      if (m.group(1) == localHost &&
          ProcessHandle.of(m.group(2).toLong)
            .map[Boolean](_.isAlive).orElse(false))
        throw new IllegalStateException(
          s"Epochs.breakStaleLease: $lease is held by [$owner] and " +
            s"pid ${m.group(2)} is STILL ALIVE on this host — a live " +
            "maintainer's lease is never stale, whatever its age; " +
            "stop that process first if the break is really intended")
    }
    fs.delete(lease, false)
    owner
  }

  /** True while a maintainer holds the directory's lease. */
  def maintenanceHeld(spark: SparkSession, dir: String): Boolean =
    fsOf(spark, dir).exists(leasePath(dir))

  /** The APPENDERS' half of the maintenance fence ([[appendLoop]]'s
    * race analysis): block while a maintainer holds the directory's lease.
    * The appender protocol is write → awaitNoMaintenance → re-read
    * epoch → (advance? re-append what the new epoch lacks : done).
    * Polls at 100 ms; a stale crashed-maintainer lock surfaces here as
    * a LOUD timeout (the withMaintenanceLease doctrine), never as
    * silent loss.
    */
  def awaitNoMaintenance(spark: SparkSession, dir: String,
      timeoutMs: Long = 600000L): Unit = {
    val t0 = System.nanoTime()
    while (maintenanceHeld(spark, dir)) {
      if ((System.nanoTime() - t0) / 1000000L > timeoutMs)
        throw new IllegalStateException(
          s"Epochs.awaitNoMaintenance: ${leasePath(dir)} still held " +
            s"after ${timeoutMs} ms by " +
            s"[${leaseOwner(spark, dir).getOrElse("<released just now>")}]" +
            " — a maintainer is stuck or crashed holding the lock; if " +
            "that owner is dead, recover via breakStaleLease (or remove " +
            "the lock file)")
      Thread.sleep(100L)
    }
  }

  /** The ONE append loop every mutable artifact's appends run through
    * ([[Store]]'s indexes and [[graft.dedup.NoveltyIndex]]):
    * `write(pending, epochDir)` appends a batch into one epoch dir,
    * starting at `startEpoch`; `held(epochDir)` is the one column of
    * ids an epoch already holds, matched against the batch's `idCol`.
    *
    * The append/rewrite race: a rewrite lists the source epoch's files,
    * so an append landing after that listing would retire with the old
    * epoch. Both sides close it.
    *  - Maintainers ([[maintain]]) hold [[withMaintenanceLease]] from
    *    before their first listing until after publish (a second
    *    maintainer fails loudly) and rewrite through
    *    [[rewriteToNextChecked]], which re-runs the rewrite when an
    *    append changed the source epoch's content signature under it.
    *  - This loop writes, waits out any lease ([[awaitNoMaintenance]]),
    *    then re-reads the current epoch. The lease is the common
    *    linearization point: with no lease held, every future rewrite
    *    will list the append's files and every finished one is visible
    *    through the pointer. If the epoch advanced, it re-appends into
    *    the new epoch ONLY the batch ids that epoch does not already
    *    hold (a `left_anti` on `held` — the checked rewrite may have
    *    captured the batch), and loops.
    * So an admission survives, without a second copy from the
    * re-append, or something throws. The id anti-join runs only when an
    * append raced a publish.
    */
  def appendLoop(spark: SparkSession, dir: String, startEpoch: Long,
      batch: DataFrame, idCol: String)(held: String => DataFrame)(
      write: (DataFrame, String) => Unit): Unit = {
    var e = startEpoch
    var pending = batch
    var stable = false
    while (!stable) {
      write(pending, epochPath(dir, e))
      awaitNoMaintenance(spark, dir)
      val now = current(spark, dir)
      if (now == e) stable = true
      else {
        pending = pending.join(held(epochPath(dir, now)).toDF(idCol),
            Seq(idCol), "left_anti")
          .localCheckpoint(true)
        if (pending.isEmpty) stable = true else e = now
      }
    }
  }

  /** The ONE maintenance entry: `rewrite(cur, next)` of the current
    * epoch into epoch N+1 under the directory's lease and the checked
    * rewrite fence ([[appendLoop]]'s race analysis), then publish.
    * Returns the published epoch.
    */
  def maintain(spark: SparkSession, dir: String, retainEpochs: Int)(
      rewrite: (String, String) => Unit): Long =
    withMaintenanceLease(spark, dir) {
      rewriteToNextChecked(spark, dir, retainEpochs)(rewrite)
    }

  /** A pinned read handle: `index` plans read only `epoch`'s files. */
  final case class Snapshot[I](index: I, epoch: Long, dir: String)

  /** A saved index's on-disk format as [[Store]] sees it; `Index` is
    * the in-memory handle. Flat `save`/`load` also serve build-once
    * callers; every mutation goes through the store. Each rewrite body
    * reads the complete artifact under `cur` (epoch N) and writes a
    * complete one under `next` (epoch N+1).
    */
  trait Layout {
    type Index
    def save(index: Index, dir: String): Unit
    def load(spark: SparkSession, dir: String): Index

    /** The ids the artifact under `dir` holds, as one column. An
      * append that writes several tables commits them in no order, so
      * an id counts only when every such table holds it.
      */
    def ids(spark: SparkSession, dir: String): DataFrame

    /** Rewrite accreted per-append files into right-sized ones; reads
      * are byte-identical before and after.
      */
    def compactRewrite(spark: SparkSession)(cur: String, next: String): Unit

    /** Rewrite minus `ids` (takedown): later reads never match them.
      * Idempotent on absent ids.
      */
    def removeRewrite(spark: SparkSession, ids: Seq[Long])(
        cur: String, next: String): Unit
  }

  /** An index's epoch store: publish, pin and retire through
    * [[Epochs]], appends through [[appendLoop]] and rewrites through
    * [[maintain]], over a [[Layout]] that hides the index format. Each
    * index store is `object X extends Epochs.Store(<index layout>)`
    * with a typed `append` adapter over [[appendBatch]].
    *
    * Guarantees:
    *  - **Readers pin an epoch**: [[load]] resolves the current epoch
    *    ONCE and every file its plans touch lives under that epoch dir,
    *    so a compaction or takedown publishing N+1 mid-query cannot
    *    invalidate it; the NEXT load sees the rewrite.
    *  - **Bounded retention**: a pinned epoch survives `retainEpochs`
    *    subsequent publishes.
    *  - **Appends are additive**: they add files inside the current
    *    epoch. Only the rewriting ops ([[compact]], [[remove]]) need a
    *    new epoch, because only they delete files a reader may hold.
    *  - **Appends survive maintenance** exactly once ([[appendLoop]]'s
    *    race analysis).
    *
    * At 100 TB nothing here adds data-path cost: reads plan against one
    * epoch's directories exactly as against a flat index, and a publish
    * moves a pointer file.
    */
  abstract class Store[I](layout: Layout { type Index = I }) {

    type Snapshot = Epochs.Snapshot[I]

    /** Initialize: save the built index as epoch 0. */
    def init(index: I, spark: SparkSession, dir: String): Unit = {
      layout.save(index, epochPath(dir, 0L))
      publish(spark, dir, 0L)
    }

    def currentEpoch(spark: SparkSession, dir: String): Long =
      current(spark, dir)

    /** Pin the current epoch and load its index. */
    def load(spark: SparkSession, dir: String): Snapshot =
      loadAt(spark, dir, current(spark, dir))

    /** Load a SPECIFIC published epoch (audit / replay reads). */
    def loadEpoch(spark: SparkSession, dir: String, epoch: Long): Snapshot = {
      require(published(spark, dir).contains(epoch),
        s"epoch $epoch is not published under $dir")
      loadAt(spark, dir, epoch)
    }

    private def loadAt(spark: SparkSession, dir: String, epoch: Long) =
      Epochs.Snapshot(layout.load(spark, epochPath(dir, epoch)), epoch, dir)

    /** [[appendLoop]] over [[Layout.ids]]: `write(batch, epochDir)`
      * appends a batch into one epoch dir; `idCol` names the batch
      * column that [[Layout.ids]] holds.
      */
    protected def appendBatch(spark: SparkSession, dir: String,
        startEpoch: Long, batch: DataFrame, idCol: String)(
        write: (DataFrame, String) => Unit): Unit =
      appendLoop(spark, dir, startEpoch, batch, idCol)(
        layout.ids(spark, _))(write)

    /** Compact the current epoch into epoch N+1 and publish it; readers
      * pinned to N keep their files. Returns the published epoch.
      */
    def compact(spark: SparkSession, dir: String,
        retainEpochs: Int = 1): Long =
      maintain(spark, dir, retainEpochs)(layout.compactRewrite(spark))

    /** Takedown into epoch N+1: reads under the new epoch never match
      * `ids`; a reader pinned to N finishes on its snapshot. Returns the
      * published epoch.
      */
    def remove(spark: SparkSession, dir: String, ids: Seq[Long],
        retainEpochs: Int = 1): Long =
      maintain(spark, dir, retainEpochs)(layout.removeRewrite(spark, ids))

    /** The compact body, for specs that drive [[rewriteToNextChecked]]
      * with an injected concurrent append.
      */
    private[graft] def compactRewrite(spark: SparkSession)
        : (String, String) => Unit =
      layout.compactRewrite(spark)
  }
}
