package graft.operators

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** TWO-INDEX TRANSACTIONAL SYNC — the cross-index atomicity layer a
  * multi-modal search stack needs (the Iceberg/Delta snapshot-manifest
  * pattern lifted ONE level, from files-within-a-table to
  * indexes-within-a-stack): a text index and a vector index synced
  * from the same change feed each commit their own generations
  * independently, so a reader between the two commits sees text at v3
  * and vectors at v1 — a torn hybrid ranking. The epoch manifest fixes
  * that with one CAS: manifest `<n>` at the epoch root pins BOTH
  * index states — each index's manifest CONTENT ([[TextIndex.exportManifest]],
  * [[IvfIndex.exportPin]]), which lists its committed [[Tombstones]]
  * files — published atomically (tmp write +
  * rename, fail-if-exists — [[Commit.publish]], the machinery
  * [[Snapshots]] commits through). Cross-index readers resolve the
  * max committed epoch and read each index AS OF its pinned generation
  * ([[TextIndex.searchAllAsOf]], [[IvfIndex.loadLiveAsOf]]); the flip
  * to the new pair is the one rename, so there is no schedule in
  * which a reader observes a mixed pair. A crash anywhere between the
  * two index commits and the epoch publish leaves the epoch at its
  * previous value — both indexes may be internally committed, but the
  * STACK stays at the old consistent pair until the coordinator's
  * publish lands (and a re-run of the sync is idempotent: both index
  * syncs are seq-scoped, and the publish CAS simply lands at the next
  * epoch).
  *
  * Pin lifetime — ENFORCED, not conventional: epoch pins survive
  * seq-scoped maintenance (append / delete — old rows stay readable
  * under their seq ceilings) AND layout maintenance, provided the
  * epoch root is REGISTERED (`graft.epoch.roots` session conf,
  * comma-separated roots — what a deployment sets once per stack).
  * [[TextIndex.compactIndex]]/[[TextIndex.vacuumIndex]] and
  * [[IvfIndex.compactLists]]/[[IvfIndex.rebalanceIndex]]/
  * [[IvfIndex.vacuumIndex]] consult every live epoch of every
  * registered root and retain whatever those pins still resolve:
  * pinned generation directories, pinned tombstone files (one
  * retention rule for both indexes, [[Tombstones.sweep]]), and (IVF,
  * whose compaction writes a single list generation) the rows any pin
  * still serves —
  * the [[Snapshots]] branch-ref shield (`q_table_branch`) lifted to
  * the index-stack level. Dropping an epoch ([[expire]]) releases its
  * pins; the next layout-maintenance pass reclaims. An UNREGISTERED
  * root keeps the old convention (pins die at layout maintenance) —
  * retention must be opt-in, or an abandoned epoch root would pin a
  * production index's garbage forever without anyone having asked.
  */
object IndexEpoch {

  /** Register `root` for the duration of `body` WITHOUT clobbering any
    * pre-registered deployment roots: the root is APPENDED to the
    * existing `graft.epoch.roots` value (an extra root only ever
    * OVER-retains — see [[livePins]]) and the prior value, including
    * its absence, is restored on exit — so a scoped registration
    * composes with a session whose deployment set the conf once at
    * startup instead of silently un-registering its stacks.
    */
  def withRegisteredRoot[T](spark: SparkSession, root: String)(body: => T): T = {
    val prev = spark.conf.getOption("graft.epoch.roots")
    spark.conf.set("graft.epoch.roots",
      prev.filter(_.nonEmpty).map(_ + "," + root).getOrElse(root))
    try body
    finally prev match {
      case Some(v) => spark.conf.set("graft.epoch.roots", v)
      case None    => spark.conf.unset("graft.epoch.roots")
    }
  }

  /** Registered epoch roots — `graft.epoch.roots`, comma-separated. */
  private def registeredRoots(spark: SparkSession): Seq[String] =
    spark.conf.getOption("graft.epoch.roots")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  /** Every pin of every LIVE epoch across the registered roots, split
    * by modality: (text pins, vector pins). One small FS read per live
    * epoch manifest, no Spark job — the retention input the layout-
    * maintenance verbs consult. Pins from a sibling stack sharing the
    * conf only ever OVER-retain (a generation number or tombstone file
    * name that does not exist here is a no-op) — never under.
    */
  def livePins(spark: SparkSession): (Seq[Seq[String]], Seq[Seq[String]]) = {
    val all = for {
      root <- registeredRoots(spark)
      fs = GraftSession.fsOf(spark, root)
      seq <- Commit.numbered(fs, root, Commit.Manifest.prefix)
    } yield Commit.read(fs, root, Commit.Manifest, seq)
    (all.map(_.filter(_.startsWith("t:")).map(_.stripPrefix("t:")))
       .filter(_.nonEmpty),
     all.map(_.filter(_.startsWith("v:")).map(_.stripPrefix("v:")))
       .filter(_.nonEmpty))
  }

  /** Drop every epoch manifest STRICTLY BELOW `keepFrom`, releasing
    * their pins — the retention-release half of the enforced-pin
    * contract (Snapshots.expire at the stack level). Returns the
    * dropped epoch numbers; the next layout-maintenance pass on each
    * index reclaims what only those pins were holding.
    */
  def expire(spark: SparkSession, root: String, keepFrom: Int): Seq[Int] = {
    val fs = GraftSession.fsOf(spark, root)
    val dropped = Commit.numbered(fs, root, Commit.Manifest.prefix).filter(_ < keepFrom)
    Commit.remove(fs, root, Commit.Manifest, dropped)
    dropped
  }

  /** Atomically publish an epoch pinning both index states verbatim
    * (a [[TextIndex.exportManifest]] export and an
    * [[IvfIndex.exportPin]] export — both the index's manifest
    * CONTENT, not pointers, so the pins survive each index's own
    * manifest sweep; each lists its tombstone files, the delete-file
    * tracking that makes the pin a true snapshot). CAS: the publish lands at exactly
    * `current max + 1`; a competing committer that read the same
    * state loses the rename and throws — re-read and retry. Returns
    * the published epoch number.
    */
  def publish(spark: SparkSession, root: String,
      textPin: Seq[String], vecPin: Seq[String]): Int =
    Commit.publish(GraftSession.fsOf(spark, root), root, Commit.Manifest,
      textPin.map("t:" + _) ++ vecPin.map("v:" + _))

  /** A NAMED committed epoch's pinned pair: (pinned text state,
    * pinned vector state) — the time-travel read of the epoch log
    * (the `graft_snapshot(root, version)` discipline at the stack
    * level). None if that epoch was never published or was expired.
    */
  def at(spark: SparkSession, root: String, epoch: Int)
      : Option[(Seq[String], Seq[String])] = {
    val fs = GraftSession.fsOf(spark, root)
    if (!Commit.numbered(fs, root, Commit.Manifest.prefix).contains(epoch)) None
    else {
      val lines = Commit.read(fs, root, Commit.Manifest, epoch)
      Some((lines.filter(_.startsWith("t:")).map(_.stripPrefix("t:")),
        lines.filter(_.startsWith("v:")).map(_.stripPrefix("v:"))))
    }
  }

  /** The current committed epoch: (epoch number, pinned text state,
    * pinned vector state) — one small FS read, no Spark job (the same
    * zero-job discipline as the skew advisory). None before the first
    * publish.
    */
  def current(spark: SparkSession, root: String)
      : Option[(Int, Seq[String], Seq[String])] =
    Commit.latest(GraftSession.fsOf(spark, root), root).map { case (n, lines) =>
      (n, lines.filter(_.startsWith("t:")).map(_.stripPrefix("t:")),
        lines.filter(_.startsWith("v:")).map(_.stripPrefix("v:")))
    }
}
