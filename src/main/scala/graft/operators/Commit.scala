package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8

/** graft's commit protocol, written once: the only module that knows
  * the commit file names and the I/O idioms that publish them. A
  * commit uses the three metadata calls the reference connector
  * serves (`CubefsFileSystem.java:218-245`): create, rename onto a
  * fresh name, and delete.
  *
  *   - Numbered files (`<prefix><n>`): manifests and branch refs.
  *     The live one is the highest `n`, so a reader resolves state
  *     with one listing and one small read, never by inspecting data
  *     directories.
  *   - [[publish]] writes a tmp file and renames it onto the next
  *     fresh number. The rename is the single commit point. Renaming
  *     onto an existing name returns false on Hadoop stores, so a lost
  *     race surfaces as a [[Conflict]] instead of a clobber. The
  *     previous manifest is never deleted before the new one is
  *     durable, so no instant leaves a table without a resolvable
  *     manifest (the flaw of a delete-then-rename swap).
  *   - Appends to an index: [[publishFiles]] renames a staged batch
  *     into the live data directories as `s<seq>-<name>` files, above
  *     the committed seq and so invisible, before the manifest that
  *     raises the seq commits; [[purgeOrphanFiles]] removes a crashed
  *     batch's files before its re-run publishes at the same seq.
  *
  * Every call takes a `FileSystem` its caller already resolved, so a
  * verb opens its store once.
  */
private[graft] object Commit {

  /** A chain of numbered manifests: committed as `<prefix><n>`, staged
    * as `<tmp><n>`. */
  final case class Chain(prefix: String, tmp: String)

  /** The main manifest chain of a snapshot table, a text index or an
    * epoch root. */
  val Manifest: Chain = Chain("_manifest.v_", ".tmp_manifest_")

  private val BranchPrefix = "_branch."
  private val BranchTmp = ".tmp_branch_"

  /** Snapshot branch `name`'s manifest chain. */
  def branch(name: String): Chain =
    Chain(s"$BranchPrefix$name.v_", s"$BranchTmp${name}_")

  /** A publish lost its race: the number it targeted is taken. */
  final class Conflict(msg: String) extends IOException(msg)

  /** `n` when `name` is `<prefix><n>`. */
  def seqOf(name: String, prefix: String): Option[Int] =
    if (!name.startsWith(prefix)) None
    else scala.util.Try(name.stripPrefix(prefix).toInt).toOption

  /** Entry names of `dir`; empty when `dir` is missing. */
  def names(fs: FileSystem, dir: String): Seq[String] = {
    val d = new Path(dir)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
  }

  /** The sorted `n` of every `<prefix><n>` entry of `dir`. */
  def numbered(fs: FileSystem, dir: String, prefix: String): Seq[Int] =
    names(fs, dir).flatMap(seqOf(_, prefix)).sorted

  /** Names of the branches that have a manifest in `dir`. */
  def branches(fs: FileSystem, dir: String): Seq[String] =
    names(fs, dir).filter(_.startsWith(BranchPrefix)).flatMap { n =>
      val body = n.stripPrefix(BranchPrefix)
      val i = body.lastIndexOf(".v_")
      if (i > 0) Some(body.substring(0, i)) else None
    }.distinct.sorted

  /** A stage file that a crashed [[publish]] left behind. */
  def isStaleTmp(name: String): Boolean =
    name.startsWith(Manifest.tmp) || name.startsWith(BranchTmp)

  private val StagePrefix = "_ingest_tmp_"

  /** A fresh directory under the index root `path` to stage a batch in
    * before [[publishFiles]] moves it into the live layout. */
  def stageDir(path: String): Path =
    new Path(path, s"$StagePrefix${java.util.UUID.randomUUID}")

  /** A stage directory ([[stageDir]]) that a crashed verb left behind. */
  def isStaged(name: String): Boolean = name.startsWith(StagePrefix)

  /** The lines of manifest `n` of `chain`. */
  def read(fs: FileSystem, dir: String, chain: Chain, n: Int): Seq[String] =
    readString(fs, new Path(dir, chain.prefix + n))
      .split("\n").filter(_.nonEmpty).toSeq

  /** The live manifest of `chain` and its number; None before the
    * first publish. */
  def latest(fs: FileSystem, dir: String,
      chain: Chain = Manifest): Option[(Int, Seq[String])] =
    numbered(fs, dir, chain.prefix).lastOption.map(n => n -> read(fs, dir, chain, n))

  /** Publish `lines` as the next manifest of `chain`; returns its number.
    *
    * `expectedNext` makes the publish a compare-and-swap: it lands at
    * exactly that number or fails. A caller that derived its state
    * from manifest n passes n+1, so a commit that landed since the
    * state was read surfaces as a [[Conflict]] instead of publishing
    * totals or generations derived from a stale base. A zombie writer
    * whose intent lease was stolen dies here too.
    *
    * `sweep` keeps only the new manifest and one recovery spare. A
    * chain that keeps its history in the manifest body wants that; a
    * chain whose every number is a version that time travel resolves
    * keeps every manifest. A crash during the sweep only leaves extra
    * manifests, since resolution is last-wins.
    */
  def publish(fs: FileSystem, dir: String, chain: Chain, lines: Seq[String],
      expectedNext: Option[Int] = None, sweep: Boolean = false): Int = {
    val seqs = numbered(fs, dir, chain.prefix)
    val next = expectedNext.getOrElse(seqs.lastOption.fold(1)(_ + 1))
    if (seqs.exists(_ >= next))
      throw new Conflict(
        s"commit conflict for $dir/${chain.prefix}$next: a concurrent " +
          s"commit already published ${chain.prefix}${seqs.max} — state " +
          "was derived from a stale manifest; re-read and retry")
    val tmp = new Path(dir, chain.tmp + next)
    writeString(fs, tmp, lines.mkString("\n"))
    if (!fs.rename(tmp, new Path(dir, chain.prefix + next))) {
      fs.delete(tmp, false)
      throw new Conflict(
        s"commit conflict for $dir/${chain.prefix}$next (concurrent commit?)")
    }
    if (sweep) remove(fs, dir, chain, seqs.filter(_ < next - 1))
    next
  }

  /** Published-append file names are `s<seq>-<part name>`: the name
    * carries the ingest seq of the batch, so a crashed batch is
    * purgeable without opening a footer. */
  private val AppendFileRe = "^s([0-9]+)-.*".r

  /** The ingest seq a published-append file name carries. */
  def appendSeqOf(name: String): Option[Long] = name match {
    case AppendFileRe(s) => Some(s.toLong)
    case _ => None
  }

  /** Rename every data file under `staged` into `dst` as
    * `s<seq>-<name>`, mirroring partition directories; returns the
    * published names relative to `dst`. The caller's manifest commit
    * is what makes them visible (a reader's seq ceiling, or the
    * manifest's file list). Throws when a rename answers false, so
    * that commit never counts a file that did not land. */
  def publishFiles(fs: FileSystem, staged: Path, dst: Path, seq: Long): Seq[String] = {
    val (dirs, files) = fs.listStatus(staged).toSeq.partition(_.isDirectory)
    val data = files.map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
    if (data.nonEmpty && !fs.exists(dst)) fs.mkdirs(dst)
    dirs.flatMap { d =>
      val sub = d.getPath.getName
      publishFiles(fs, d.getPath, new Path(dst, sub), seq).map(n => s"$sub/$n")
    } ++ data.map { p =>
      val name = s"s$seq-${p.getName}"
      if (!fs.rename(p, new Path(dst, name)))
        throw new IOException(s"publish of $p onto $dst/$name failed")
      name
    }
  }

  /** Delete files a crashed append published under `dir` (any nesting)
    * with a seq above `committedSeq` and older than `olderThanMs`.
    * Files without a seq prefix are never candidates: they publish
    * through a manifest swap. Returns the deleted names. */
  def purgeOrphanFiles(fs: FileSystem, dir: Path, committedSeq: Long,
      olderThanMs: Long = 0L): Seq[String] = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      if (st.isDirectory) purgeOrphanFiles(fs, st.getPath, committedSeq, olderThanMs)
      else appendSeqOf(st.getPath.getName) match {
        case Some(s) if s > committedSeq && st.getModificationTime <= cutoff =>
          fs.delete(st.getPath, false)
          Seq(st.getPath.getName)
        case _ => Seq.empty
      }
    }
  }

  /** Delete manifests `ns` of `chain`. */
  def remove(fs: FileSystem, dir: String, chain: Chain, ns: Seq[Int]): Unit =
    ns.foreach(n => fs.delete(new Path(dir, chain.prefix + n), false))

  /** The whole body of the small file `path`. */
  def readString(fs: FileSystem, path: Path): String = {
    val in = fs.open(path)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), UTF_8)
    finally in.close()
  }

  /** Write `body` as the whole of the small file `path`, replacing it. */
  def writeString(fs: FileSystem, path: Path, body: String): Unit = {
    val out = fs.create(path, true)
    try out.write(body.getBytes(UTF_8))
    finally out.close()
  }
}
