package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import java.net.URI

/** A custom Hadoop `FileSystem` scheme, registered and consumed the
  * same way the reference connector is — the one layer-A capability
  * that IS the reference's identity:
  *
  *   - registration via `fs.graft.impl` = this class, exactly the
  *     `fs.cfs.impl` pattern (reference `README.md:24-28`);
  *   - `initialize` parses the volume from the URI authority and
  *     resolves it through configuration (`fs.graft.mount.<volume>`),
  *     the config-driven mount of `CubefsFileSystem.initialize`
  *     (`CubefsFileSystem.java:62-117`);
  *   - every FS operation translates `graft://<volume>/<path>` to a
  *     path under the mount root and delegates to the local store, the
  *     way the reference translates to `libcfs` calls (`formatPath`,
  *     `CubefsFileSystem.java:154-156`). The backing store here is the
  *     local filesystem — the engine-facing surface (open/create/
  *     rename/listStatus/mkdirs/delete and the FileStatus contract) is
  *     the real deliverable, and is what Spark's scans, committers,
  *     and streaming checkpoints exercise end-to-end.
  *
  * Like the reference, returned `FileStatus` entries report a fixed
  * replication of 3 (`CubefsFileSystem.java:326,388`) and the
  * configured logical block size (`fs.graft.block.size`, default
  * 128 MiB = `cfs.block.size`, `CubefsFileSystem.java:97`) — the knob
  * that drives Spark's `FilePartition` split sizing on scans.
  *
  * Scale note: at 100 TB nothing here is a bottleneck by construction —
  * the connector is a per-task, per-file translation layer with no
  * shared state; Spark opens files through it from every executor
  * independently, exactly as it does with s3a/abfs/cfs.
  */
class GraftFileSystem extends FileSystem {
  private var fsUri: URI = _
  private var volume: String = _
  private var mountRoot: String = _ // absolute local path, no trailing slash
  private var inner: FileSystem = _
  private var workDir: Path = _
  private var homeDirPrefix: String = _
  private var userName: String = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    volume = Option(name.getAuthority).getOrElse("")
    if (volume.isEmpty)
      throw new java.io.IOException(
        "graft URI needs a volume authority: graft://<volume>/<path>")
    // config-driven mount resolution (the cfs.master.address +
    // volume-from-URI analog): unmounted volume fails loudly at
    // initialize, like the reference's start-client failure.
    val key = s"fs.graft.mount.$volume"
    val root = conf.get(key)
    if (root == null || root.isEmpty)
      throw new java.io.IOException(s"unmounted graft volume '$volume': set $key")
    mountRoot = new Path(root).toUri.getPath.stripSuffix("/")
    inner = new RawLocalFileSystem()
    inner.initialize(URI.create("file:///"), conf)
    fsUri = URI.create(s"graft://$volume")
    // the reference's configurable home prefix + home-as-initial-cwd
    // (CubefsFileSystem.java:108, 350-353): same standard Hadoop key
    homeDirPrefix = conf.get("dfs.user.home.dir.prefix", "/user")
    userName = org.apache.hadoop.security.UserGroupInformation
      .getCurrentUser.getShortUserName
    workDir = getHomeDirectory
  }

  override def getScheme: String = "graft"
  override def getUri: URI = fsUri

  /** `<prefix>/<short user name>` qualified into this scheme — prefix
    * from `dfs.user.home.dir.prefix` (default `/user`), the contract of
    * `CubefsFileSystem.getHomeDirectory` (CubefsFileSystem.java:350-353).
    */
  override def getHomeDirectory: Path =
    new Path(s"graft://$volume$homeDirPrefix/$userName")

  override def getDefaultBlockSize(f: Path): Long =
    getConf.getLong("fs.graft.block.size", 128L << 20)

  private def makeAbsolute(p: Path): Path =
    if (p.isAbsolute) p else new Path(workDir, p)

  /** graft://volume/a/b → <mountRoot>/a/b */
  private def toLocal(p: Path): Path = {
    val rel = makeAbsolute(p).toUri.getPath
    new Path(if (rel.isEmpty || rel == "/") mountRoot else mountRoot + rel)
  }

  /** <mountRoot>/a/b → graft://volume/a/b — results handed back to the
    * engine must live in THIS scheme's namespace, or Spark's file
    * index would chase paths into the backing store.
    */
  private def fromLocal(p: Path): Path = {
    val lp = p.toUri.getPath
    if (!lp.startsWith(mountRoot))
      throw new java.io.IOException(s"path $lp escapes mount $mountRoot")
    val rel = lp.substring(mountRoot.length)
    new Path(s"graft://$volume" + (if (rel.isEmpty) "/" else rel))
  }

  private def convert(st: FileStatus): FileStatus =
    new GraftFileStatus(st, getDefaultBlockSize(st.getPath), fromLocal(st.getPath))

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val lf = toLocal(f)
    if (!inner.exists(lf)) throw GraftErrno.error(GraftErrno.ENOENT, f.toString)
    inner.open(lf, bufferSize)
  }

  // The reference's create retries mkdirs-parent on ENOENT
  // (CubefsFileSystem.java:167-191); RawLocalFileSystem.create with
  // createParent semantics covers the same contract here. The flag
  // dance's error arms surface through the errno taxonomy
  // (CubefsMount.java:82-103): EEXIST on a no-overwrite create over an
  // existing file, ENOTDIR when a path component is a file.
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val lf = toLocal(f)
    if (!overwrite && inner.exists(lf))
      throw GraftErrno.error(GraftErrno.EEXIST, f.toString)
    val parent = lf.getParent
    if (parent != null && inner.exists(parent) &&
        !inner.getFileStatus(parent).isDirectory)
      throw GraftErrno.error(GraftErrno.ENOTDIR, f.toString)
    inner.create(lf, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    inner.append(toLocal(f), bufferSize, progress)

  // Move-into-directory semantics when dst is an existing dir
  // (reference retries as dst/src.getName, CubefsFileSystem.java:218-245);
  // rename onto an existing file — or into a dir already holding an
  // entry named like src — returns FALSE, never an exception and never
  // an overwrite (the reference maps EEXIST to false; RawLocal's
  // renameTo would clobber). Hadoop committers probe exactly this.
  override def rename(src: Path, dst: Path): Boolean = {
    val s = toLocal(src)
    val d0 = toLocal(dst)
    if (!inner.exists(s)) return false // ENOENT → false, reference :237
    val d =
      if (inner.exists(d0) && inner.getFileStatus(d0).isDirectory)
        new Path(d0, s.getName)
      else d0
    if (inner.exists(d)) false // EEXIST → false, reference :221,232
    else inner.rename(s, d)
  }

  // Non-recursive delete of a NON-EMPTY directory throws (reference
  // CubefsFileSystem.java:255-263); RawLocal's edge behavior differs,
  // so the check is explicit. Deleting a missing path is false, not an
  // error (ENOENT, reference :252-254).
  override def delete(f: Path, recursive: Boolean): Boolean = {
    val lf = toLocal(f)
    if (!inner.exists(lf)) return false
    val st = inner.getFileStatus(lf)
    if (st.isDirectory && !recursive && inner.listStatus(lf).nonEmpty)
      throw new PathIsNotEmptyDirectoryException(f.toString)
    inner.delete(lf, recursive)
  }

  override def listStatus(f: Path): Array[FileStatus] =
    inner.listStatus(toLocal(f)).map(convert)

  override def setWorkingDirectory(dir: Path): Unit =
    workDir = makeAbsolute(dir)

  override def getWorkingDirectory: Path = workDir

  // mkdirs over an existing FILE (or under one) is the reference's
  // ENOTDIR arm (CubefsFileSystem.java:355-372 via CubefsMount.error)
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    val lf = toLocal(f)
    // walk up to the nearest existing ancestor; a FILE there is ENOTDIR
    var probe = lf
    var settled = false
    while (probe != null && !settled) {
      if (inner.exists(probe)) {
        if (!inner.getFileStatus(probe).isDirectory)
          throw GraftErrno.error(GraftErrno.ENOTDIR, f.toString)
        settled = true
      } else probe = probe.getParent
    }
    inner.mkdirs(lf, permission)
  }

  override def getFileStatus(f: Path): FileStatus =
    convert(inner.getFileStatus(toLocal(f)))

  /** Fabricated blockSize-aligned logical blocks over [start,
    * start+len), the reference's contract (CubefsFileSystem.java:
    * 400-430): block boundaries at multiples of the configured
    * `fs.graft.block.size` from offset 0, one location per block that
    * intersects the requested range. This is what hands Spark's scan
    * planner >1 block — and so >1 locality-addressable split — for a
    * large file, instead of the single-block default a local store
    * reports. Every block names `localhost`, the host Hadoop's local
    * filesystem reports: a host no executor runs on would hold each
    * task for the full locality wait before Spark gives up on it.
    */
  override def getFileBlockLocations(file: FileStatus, start: Long,
      len: Long): Array[BlockLocation] = {
    if (file == null) return null
    if (start < 0 || len < 0)
      throw new IllegalArgumentException("Invalid start or len parameter")
    if (file.getLen <= start) return Array.empty
    val blockSize = math.max(1L, file.getBlockSize)
    val end = math.min(start + len, file.getLen)
    val firstBlock = start / blockSize
    val lastBlock = if (end == 0) 0L else (end - 1) / blockSize
    (firstBlock to lastBlock).map { b =>
      val bStart = b * blockSize
      val bLen = math.min(bStart + blockSize, file.getLen) - bStart
      new BlockLocation(Array("localhost:50010"), Array("localhost"), bStart, bLen)
    }.toArray
  }
}

/** A backing-store status re-addressed into the `graft://` namespace,
  * with the reference's fixed replication of 3 and the configured
  * block size. Permission, owner and group are read from the backing
  * status only when asked for: `RawLocalFileSystem` loads them lazily,
  * and without the native Hadoop library each load starts a shell
  * process — paying that on every stat and list entry made each one
  * cost milliseconds, where Spark's scans and committers never read
  * these fields.
  */
private final class GraftFileStatus(backing: FileStatus, blockSize: Long, path: Path)
    extends FileStatus(backing.getLen, backing.isDirectory, 3, blockSize,
      backing.getModificationTime, backing.getAccessTime, null, null, null, path) {
  override def getPermission: FsPermission = backing.getPermission
  override def getOwner: String = backing.getOwner
  override def getGroup: String = backing.getGroup
}

/** The errno → Hadoop exception taxonomy of the reference's native
  * client (`CubefsMount.error`, CubefsMount.java:82-103): one mapping
  * used by every surfacing operation, so engine-side code (committers,
  * retries) sees the SAME exception classes it would from cfs:// —
  * ParentNotDirectoryException, FileNotFoundException,
  * AccessControlException, FileAlreadyExistsException,
  * InvalidRequestException — rather than whatever the backing store
  * happens to throw.
  */
object GraftErrno {
  val EIO = 5
  val ENOENT = 2
  val EACCES = 13
  val EEXIST = 17
  val ENOTDIR = 20
  val EINVAL = 22
  val ENOSPC = 28
  val EROFS = 30

  def error(errno: Int, p: String): java.io.IOException = errno match {
    case ENOTDIR => new ParentNotDirectoryException(p)
    case ENOENT => new java.io.FileNotFoundException(s"No such file or directory: $p")
    case EACCES => new org.apache.hadoop.security.AccessControlException(
      s"Permission denied: $p")
    case EEXIST => new FileAlreadyExistsException(p)
    case EINVAL => new InvalidRequestException(s"Invalid parameter: $p")
    case ENOSPC => new java.io.IOException(s"No space: $p")
    case EROFS => new java.io.IOException(s"Read-only Filesystem: $p")
    case EIO => new java.io.IOException(s"I/O error: $p")
    case other => new java.io.IOException(s"errno: $other ;path=$p")
  }
}

object GraftFileSystem {
  /** Register the scheme on a Hadoop conf and mount `root` as
    * `graft://<volume>/` — the core-site.xml dance of the reference's
    * README, done programmatically. Caching is disabled so re-mounting
    * a volume at a different root (different scale factors in one JVM)
    * never serves a stale filesystem instance.
    */
  def mount(conf: Configuration, volume: String, root: String): Unit = {
    conf.set("fs.graft.impl", classOf[GraftFileSystem].getName)
    conf.set("fs.AbstractFileSystem.graft.impl",
      classOf[GraftAbstractFileSystem].getName)
    conf.set("fs.graft.impl.disable.cache", "true")
    conf.set(s"fs.graft.mount.$volume", root)
  }
}
