package graft.operators

import java.nio.charset.StandardCharsets
import graft.GraftSession.fsOf
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Single-writer intent lease for index maintenance verbs.
  *
  * The TextIndex/IvfIndex maintenance protocols were always documented
  * single-writer ("maintenance writers serialize, per the Snapshots
  * conflict-on-commit contract") — this object makes the contract
  * ENFORCED and LOUD instead of assumed. A verb acquires the intent
  * before its first write and releases it after its commit — builds
  * and merges included, which clear their destination only while
  * holding it ([[rebuilding]]); a second
  * writer arriving mid-verb fails immediately with a clear message —
  * BEFORE it can corrupt shared state (two appends from the same base
  * state overwrite each other's sidecar generation; a compaction that
  * publishes a new list generation drops a racing append's rows).
  *
  * Mechanics (the reference's own rename/create-as-commit semantics,
  * `CubefsFileSystem.java:218-245`, applied to a lock file):
  *
  *   - ACQUIRE: publish `_maint_intent` atomically WITH its full body
  *     `<holder token (a UUID)>\n<acquisition epoch millis>` — on the
  *     local scheme the body is written to a holder-unique temp file
  *     and HARDLINKED to the marker name (link(2) is atomic
  *     fail-if-exists AND publishes complete content — a reader can
  *     never observe an empty or partial marker); on HDFS-like stores
  *     `create(overwrite=false)` is the atomic claim. Ownership and
  *     age are checkable from the BODY (mtime is only the fallback —
  *     object stores and coarse-mtime filesystems round it).
  *   - IMMUTABLE MARKER: once created, the marker file is NEVER
  *     rewritten — not even by its own holder. Liveness is stamped in
  *     a separate per-holder sidecar (below), so no code path can
  *     clobber a successor's marker: the check-then-act window of an
  *     "isHeld, then rewrite the marker" heartbeat is gone by
  *     construction, and `isHeld`/`readBody` can never see a
  *     mid-rewrite torn body.
  *   - LEASE + HEARTBEAT: a holder older than
  *     `graft.index.writerLeaseMs` (default 15 min) is presumed
  *     crashed and STOLEN. [[withLock]] re-stamps liveness every
  *     `graft.index.writerHeartbeatMs` (default lease/3) from a daemon
  *     thread into `_maint_hb.<token>` — a file only THAT holder ever
  *     writes, rewritten atomically (temp + ATOMIC_MOVE on local;
  *     temp + rename on HDFS-like), so a long verb never looks
  *     expired and a zombie's late stamp touches nothing shared. Age
  *     resolution: the marker token's heartbeat sidecar if present,
  *     else the marker's own acquisition timestamp, else mtime.
  *   - STEAL: read the expired marker's token FIRST, then delete only
  *     if a re-read still shows THAT token — a fresh marker a new
  *     holder created after the expired one released is never evicted
  *     (the naive age-check → delete → create is check-then-act). The
  *     evicted token's heartbeat sidecar is removed with it.
  *   - ZOMBIE SAFETY: a stolen writer that is somehow still alive (a
  *     JVM paused past the full lease despite heartbeats) cannot
  *     corrupt the index: its heartbeats stamp only its OWN sidecar
  *     (the stealer's marker is untouchable), EVERY TextIndex and
  *     IvfIndex mutation — appends, deletes (whose tombstone files
  *     mask nothing until the manifest lists them, [[Tombstones]]),
  *     compactions, rebalances, builds and merges — commits through a
  *     manifest CAS'd against the manifest number its state was read
  *     from ([[Commit.publish]] `expectedNext`), and the destructive
  *     non-CAS'd steps (compaction's generation and tombstone sweeps,
  *     a rebuild's clear of its root ([[rebuilding]]), rebalance's
  *     purge) re-assert ownership ([[assertHeld]]) immediately before
  *     running and abort if the token is no longer theirs.
  *   - RELEASE: delete the marker ONLY if the body still holds our
  *     token (a zombie's release must not evict the stealer); our own
  *     heartbeat sidecar is removed unconditionally. A failed marker
  *     delete fails the verb (or rides its own failure as suppressed):
  *     a verb that reported success with its marker left behind would
  *     lock the index for the whole lease.
  *
  * Cost: two driver FS metadata ops per maintenance verb plus one
  * sidecar rewrite per heartbeat interval — noise next to any index
  * write.
  */
private[graft] object MaintenanceLock {

  private val MarkerName = "_maint_intent"
  private val HbPrefix = "_maint_hb."

  private def leaseMs(spark: SparkSession): Long =
    spark.conf.getOption("graft.index.writerLeaseMs")
      .map(_.toLong).getOrElse(15L * 60 * 1000)

  private def heartbeatMs(spark: SparkSession): Long =
    spark.conf.getOption("graft.index.writerHeartbeatMs")
      .map(_.toLong).getOrElse(math.max(1000L, leaseMs(spark) / 3))

  private[graft] def markerPath(path: String) = new Path(path, MarkerName)

  private[graft] def hbPath(path: String, token: String) =
    new Path(path, HbPrefix + token)

  /** Is `name` (an entry of an index root) one of the intent's files? */
  private def isLockFile(name: String): Boolean =
    name == MarkerName || name.startsWith(HbPrefix)

  private def isLocal(p: Path): Boolean = {
    val scheme = p.toUri.getScheme
    scheme == null || scheme == "file"
  }

  /** (token, body acquisition timestamp) parsed from the marker body;
    * None when the marker is unreadable (vanished, or a pre-timestamp
    * body is treated as token-only).
    */
  private def readBody(fs: org.apache.hadoop.fs.FileSystem,
      marker: Path): Option[(String, Option[Long])] =
    try {
      val lines = Commit.readString(fs, marker).split("\n", 2)
      Some((lines(0),
        lines.drop(1).headOption.flatMap(s =>
          scala.util.Try(s.trim.toLong).toOption)))
    } catch { case _: java.io.IOException => None }

  /** Atomically publish the marker with its full body, failing if one
    * already exists. Local scheme: body → holder-unique temp file,
    * then link(2) to the marker name — atomic exclusivity AND complete
    * content at publish (createNewFile-then-write would expose an
    * empty marker mid-create). HDFS-like: create(overwrite=false).
    */
  private def createMarker(fs: org.apache.hadoop.fs.FileSystem, marker: Path,
      token: String): Boolean = {
    val body = s"$token\n${System.currentTimeMillis()}"
      .getBytes(StandardCharsets.UTF_8)
    if (isLocal(marker)) {
      val dir = new java.io.File(marker.toUri.getPath).getParentFile
      if (dir != null) dir.mkdirs()
      val tmp = new java.io.File(dir, s".${MarkerName}.$token.tmp").toPath
      try {
        java.nio.file.Files.write(tmp, body)
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(marker.toUri.getPath), tmp)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: UnsupportedOperationException =>
            // no-hardlink filesystem: fall back to O_CREAT|O_EXCL then
            // fill — readers tolerate the empty-body window (an
            // unparsable token matches no holder and never expires
            // against a just-now mtime)
            val f = new java.io.File(marker.toUri.getPath)
            if (!f.createNewFile()) false
            else { java.nio.file.Files.write(f.toPath, body); true }
        }
      } catch { case _: java.io.IOException => false }
      finally {
        try java.nio.file.Files.deleteIfExists(tmp)
        catch { case _: java.io.IOException => () }
      }
    } else
      try {
        val out = fs.create(marker, false) // atomic fail-if-exists on HDFS
        try out.write(body) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
  }

  /** Re-stamp the holder's liveness sidecar — a file only `token`'s
    * holder ever writes, replaced ATOMICALLY so a concurrent age check
    * never reads a torn timestamp.
    */
  private def stampHb(fs: org.apache.hadoop.fs.FileSystem, path: String,
      token: String): Unit = {
    val hb = hbPath(path, token)
    val body = System.currentTimeMillis().toString
      .getBytes(StandardCharsets.UTF_8)
    if (isLocal(hb)) {
      val dest = java.nio.file.Paths.get(hb.toUri.getPath)
      val tmp = dest.resolveSibling(s".${HbPrefix}$token.tmp")
      java.nio.file.Files.write(tmp, body)
      java.nio.file.Files.move(tmp, dest,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val tmp = new Path(hb.getParent, s".${HbPrefix}$token.tmp")
      val out = fs.create(tmp, true)
      try out.write(body) finally out.close()
      // FileContext rename with OVERWRITE is the HDFS-atomic replace
      // (plain FileSystem.rename refuses an existing dest). Fallback:
      // delete+rename, whose missing-hb window is benign — age falls
      // back to the marker's acquisition timestamp, and a spurious
      // steal dies at the stolen verb's assertHeld/CAS, never at data.
      try {
        org.apache.hadoop.fs.FileContext.getFileContext(hb.toUri, fs.getConf)
          .rename(tmp, hb, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } catch {
        case _: Exception =>
          try fs.delete(hb, false) catch { case _: java.io.IOException => () }
          fs.rename(tmp, hb)
      }
    }
  }

  /** The freshest liveness timestamp for the marker's holder: its
    * heartbeat sidecar if present, else the marker's acquisition
    * timestamp from the body, else the marker mtime (pre-timestamp
    * markers on coarse-mtime stores).
    */
  private def freshnessTs(fs: org.apache.hadoop.fs.FileSystem, path: String,
      held: Option[(String, Option[Long])]): Option[Long] = held match {
    case Some((token, bodyTs)) =>
      val hbTs =
        try scala.util.Try(
          Commit.readString(fs, hbPath(path, token)).trim.toLong).toOption
        catch { case _: java.io.IOException => None }
      hbTs.orElse(bodyTs).orElse(
        try Some(fs.getFileStatus(markerPath(path)).getModificationTime)
        catch { case _: java.io.IOException => None })
    case None => None
  }

  /** Acquire the writer intent for the index at `path`; returns the
    * holder token to pass to [[release]]. Throws IllegalStateException
    * if another writer holds a live (un-expired) intent.
    */
  def acquire(spark: SparkSession, path: String): String = {
    val fs = fsOf(spark, path)
    val root = new Path(path)
    if (!fs.exists(root)) fs.mkdirs(root)
    val marker = markerPath(path)
    val token = java.util.UUID.randomUUID.toString
    if (createMarker(fs, marker, token)) return token
    // held — steal only past the lease age (presumed-dead holder).
    // Age comes from the holder's heartbeat sidecar (re-stamped while
    // it lives), falling back to the marker's acquisition timestamp,
    // then mtime for pre-timestamp markers.
    val held = readBody(fs, marker)
    val now = System.currentTimeMillis()
    val age = freshnessTs(fs, path, held) match {
      case Some(ts) => now - ts
      case None => Long.MaxValue // vanished: retry the create below
    }
    if (age > leaseMs(spark)) {
      // conditional evict: delete ONLY if the marker still carries the
      // token we observed expired — a new holder's fresh marker
      // (created after the expired one released) must not be evicted
      // by this check-then-act window
      val stillExpiredToken = held match {
        case Some((t, _)) => readBody(fs, marker).forall(_._1 == t)
        case None => true // vanished both times: nothing to evict
      }
      if (stillExpiredToken) {
        try fs.delete(marker, false) catch { case _: java.io.IOException => () }
        // the dead holder's sidecar goes with its marker
        held.foreach { case (t, _) =>
          try fs.delete(hbPath(path, t), false)
          catch { case _: java.io.IOException => () }
        }
      }
      if (createMarker(fs, marker, token)) return token
    }
    throw new IllegalStateException(
      s"concurrent index maintenance on $path: writer intent " +
        s"$marker is held (age ${math.min(age, Long.MaxValue)} ms, lease " +
        s"${leaseMs(spark)} ms) — maintenance verbs are single-writer; " +
        "retry after the holder commits, or raise " +
        "graft.index.writerLeaseMs stealing if the holder crashed")
  }

  /** Does the marker body still carry `token`? False once a stealer
    * replaced it (or the marker vanished). The marker is immutable
    * after create, so this read can never observe a torn body.
    */
  def isHeld(spark: SparkSession, path: String, token: String): Boolean =
    readBody(fsOf(spark, path), markerPath(path)).exists(_._1 == token)

  /** Abort loudly if the intent is no longer ours — called by verbs
    * immediately before a destructive, non-CAS'd step (e.g. IVF
    * compaction's generation and tombstone deletes, buildIndex's
    * stale-artifact sweep, rebalance's unreferenced-list purge), so a
    * stolen-but-alive writer dies BEFORE it can drop a successor's
    * rows.
    */
  def assertHeld(spark: SparkSession, path: String, token: String): Unit =
    if (!isHeld(spark, path, token))
      throw new IllegalStateException(
        s"index maintenance on $path lost its writer intent (lease " +
          "stolen — this writer was presumed dead); aborting before " +
          "any destructive step. Re-run the verb.")

  /** Re-stamp our liveness sidecar if we still own the intent. Returns
    * false (and stamps nothing shared) once the lease was stolen —
    * and even a stamp racing the steal touches only OUR sidecar, never
    * the stealer's marker.
    */
  def heartbeat(spark: SparkSession, path: String, token: String): Boolean = {
    val fs = fsOf(spark, path)
    if (!isHeld(spark, path, token)) false
    else {
      try stampHb(fs, path, token) catch { case _: java.io.IOException => () }
      true
    }
  }

  /** Release the intent if we still own it (a stolen marker belongs to
    * the stealer and is left alone); our heartbeat sidecar is ours
    * alone and is removed unconditionally. A failed marker delete
    * throws: the index would stay locked for the whole lease.
    */
  def release(spark: SparkSession, path: String, token: String): Unit = {
    val fs = fsOf(spark, path)
    try {
      if (readBody(fs, markerPath(path)).exists(_._1 == token))
        fs.delete(markerPath(path), false)
    } finally
      try fs.delete(hbPath(path, token), false) catch {
        case _: java.io.IOException => ()
      }
  }

  /** Run the rebuild `f` (a build or a merge into `path`) holding the
    * intent, on a cleared root: the manifests go first, so no reader
    * resolves a half-cleared index, then every other entry but the
    * intent's own files. The clear is destructive and not CAS'd, so
    * ownership is re-asserted before it. `f` gets the root's store.
    */
  def rebuilding[T](spark: SparkSession, path: String)(
      f: org.apache.hadoop.fs.FileSystem => T): T =
    withLockToken(spark, path) { token =>
      val fs = fsOf(spark, path)
      assertHeld(spark, path, token)
      Commit.remove(fs, path, Commit.Manifest,
        Commit.numbered(fs, path, Commit.Manifest.prefix))
      Commit.names(fs, path).filterNot(isLockFile)
        .foreach(n => fs.delete(new Path(path, n), true))
      f(fs)
    }

  /** Run `f` holding the intent for `path`, heartbeating from a daemon
    * thread so a long verb never ages out of its own lease.
    */
  def withLock[T](spark: SparkSession, path: String)(f: => T): T =
    withLockToken(spark, path)(_ => f)

  /** [[withLock]] that hands the verb its token, for [[assertHeld]]
    * re-checks before destructive steps.
    */
  def withLockToken[T](spark: SparkSession, path: String)(f: String => T): T = {
    val token = acquire(spark, path)
    val hb = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, s"graft-maint-heartbeat-$token")
        t.setDaemon(true)
        t
      })
    val period = heartbeatMs(spark)
    hb.scheduleWithFixedDelay(
      () => try heartbeat(spark, path, token) catch { case _: Throwable => () },
      period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    var failure: Throwable = null
    try f(token)
    catch { case t: Throwable => failure = t; throw t }
    finally {
      // stop the stamper and WAIT for an in-flight stamp before
      // deleting the sidecar, so release leaves no orphan hb file
      hb.shutdownNow()
      try hb.awaitTermination(2, java.util.concurrent.TimeUnit.SECONDS)
      catch { case _: InterruptedException => Thread.currentThread().interrupt() }
      // a verb that succeeded reports a failed release; a verb that
      // threw keeps its own failure and carries the release's along
      try release(spark, path, token)
      catch {
        case e: Exception if failure != null && NonFatal(failure) =>
          failure.addSuppressed(e)
      }
    }
  }
}
