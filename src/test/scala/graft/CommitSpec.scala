package graft

import graft.operators.{Commit, Snapshots, TextIndex}
import graft.sources.GraftFileSystem
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import java.io.IOException
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** `GraftFileSystem` that throws `IOException` on the Nth `create`,
  * `rename` or `delete` made while armed, counted across every
  * instance (graft:// instances are not cached, so each resolve is a
  * new one). The failing call does nothing: it models a store that
  * dies before applying the operation. Installed as `fs.graft.impl`.
  */
class FaultyGraftFileSystem extends GraftFileSystem {
  import FaultyGraftFileSystem.tick

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    tick("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    tick("rename", src)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    tick("delete", f)
    super.delete(f, recursive)
  }
}

object FaultyGraftFileSystem {
  private val calls = new AtomicInteger
  @volatile private var failAt = 0 // 0: disarmed
  @volatile private var firedAt: Option[String] = None

  /** Fail the `n`th counted call from now on. */
  def arm(n: Int): Unit = { calls.set(0); firedAt = None; failAt = n }

  /** Stop failing; returns the injected fault, if one fired. */
  def disarm(): Option[String] = { failAt = 0; firedAt }

  private def tick(op: String, p: Path): Unit =
    if (failAt > 0 && calls.incrementAndGet() == failAt) {
      firedAt = Some(s"$op #$failAt on $p")
      throw new IOException(s"injected fault: $op #$failAt on $p")
    }
}

class CommitSpec extends SparkSuite {
  import spark.implicits._

  private val Vol = "faultvol"
  private lazy val mountRoot: String = {
    val root = Tables.scratch("commit_faults")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    GraftFileSystem.mount(spark.sparkContext.hadoopConfiguration, Vol, root)
    root
  }
  private def graftPath(name: String) = { mountRoot; s"graft://$Vol/$name" }

  private def withFaultyFs[T](body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graft.impl", classOf[FaultyGraftFileSystem].getName)
    try body
    finally {
      FaultyGraftFileSystem.disarm()
      conf.set("fs.graft.impl", classOf[GraftFileSystem].getName)
    }
  }

  /** A fresh copy of the fixture `base`, made on the backing store so
    * that it costs no counted call. */
  private def copyOf(base: String, name: String): String = {
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(mountRoot, base), new java.io.File(mountRoot, name))
    graftPath(name)
  }

  /** Stage files and ingest dirs left anywhere under `name`. */
  private def leftovers(name: String): Seq[String] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(mountRoot, name))
    try walk.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(".tmp_") || n.startsWith("_ingest_tmp_")).toSeq
    finally walk.close()
  }

  /** Run `verb` on a fresh copy of the fixture `base` with the Nth
    * create, rename or delete failing, for N = 1, 2, … until a run
    * fires no fault. After each fault a reader must see exactly the
    * old or exactly the new content; a re-run (when it still sees the
    * old) plus `vacuum` must then reach the no-fault result and leave
    * no stage file behind. Returns the number of calls the verb makes.
    */
  private def sweep[T](base: String)(verb: String => Unit)(read: String => T)(
      vacuum: String => Unit): Int = {
    val old = read(graftPath(base))
    val clean = copyOf(base, s"${base}_clean")
    verb(clean)
    vacuum(clean)
    val expected = read(clean)
    assert(expected != old, "the verb must change what the reader sees")
    var n = 0
    var fired = true
    while (fired) {
      n += 1
      val root = copyOf(base, s"${base}_$n")
      FaultyGraftFileSystem.arm(n)
      val failure =
        try { verb(root); None }
        catch { case e: Exception => Some(e) }
      val fault = FaultyGraftFileSystem.disarm()
      fired = fault.nonEmpty
      val seen = read(root)
      if (failure.isEmpty)
        assert(seen == expected, s"N=$n ($fault): the verb returned but its commit is not visible")
      else {
        assert(fired, s"N=$n: failed without an injected fault: ${failure.get}")
        assert(seen == old || seen == expected, s"N=$n ($fault): torn read $seen")
      }
      // recovery runs once a failed writer's lease has lapsed: a fault
      // on the intent release leaves the marker as a crashed holder does
      spark.conf.set("graft.index.writerLeaseMs", "0")
      try {
        if (seen == old) verb(root)
        vacuum(root)
      } finally spark.conf.unset("graft.index.writerLeaseMs")
      assert(read(root) == expected, s"N=$n ($fault): did not converge")
      assert(leftovers(s"${base}_$n").isEmpty, s"N=$n ($fault): stage files left")
    }
    n - 1
  }

  test("claim returns false on a lost race, whether the store answers false or throws") {
    val p = new Path(graftPath("claim/_cgen_1"))
    val fs = GraftSession.fsOf(spark, p.toString)
    assert(Commit.claim(fs, p))
    assert(!Commit.claim(fs, p)) // createNewFile sees the name: false
    // the name appears between createNewFile's existence check and its
    // create: the store throws FileAlreadyExistsException
    val racing = new GraftFileSystem { override def exists(f: Path): Boolean = false }
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    racing.initialize(new java.net.URI(s"graft://$Vol/"), conf)
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](racing.createNewFile(p))
    assert(!Commit.claim(racing, p))
  }

  test("fault sweep: Snapshots.commitMerge is all-or-nothing and converges after a re-run and vacuum") {
    val base = "snap"
    Snapshots.create(spark, graftPath(base),
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1), Seq("k"))
    val updates = Seq((2L, "B"), (4L, "d")).toDF("k", "v")
    val calls = withFaultyFs {
      sweep(base)(root => Snapshots.commitMerge(spark, root, updates, "k"): Unit)(
        root => Snapshots.read(spark, root).orderBy("k").as[(Long, String)].collect().toSeq)(
        root => Snapshots.vacuum(spark, root, olderThanMs = 0L): Unit)
    }
    assert(calls > 0)
    info(s"swept $calls create/rename/delete calls")
  }

  test("fault sweep: TextIndex.appendDocs is all-or-nothing and converges after a re-run and vacuumIndex") {
    val base = "text"
    TextIndex.buildIndex(
      Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text").coalesce(1),
      "doc_id", "text", graftPath(base), nBuckets = 2)
    val batch = Seq((3L, "gamma delta"), (4L, "alpha delta delta")).toDF("doc_id", "text")
    val vocab = Seq("alpha", "beta", "gamma", "delta")
    def read(root: String): Seq[String] = {
      val stats = TextIndex.indexStats(spark, root)
        .select("seq", "n_docs", "sum_dl", "n_tombs").collect().map(_.toString)
      val postings = TextIndex.prunedPostings(spark, root, vocab)
        .select("term", "doc_id", "tf", "positions").collect().map(_.toString).sorted
      val df = TextIndex.termStats(spark, root).collect().map(_.toString).sorted
      stats.toSeq ++ postings ++ df
    }
    val calls = withFaultyFs {
      sweep(base)(root => TextIndex.appendDocs(batch, "doc_id", "text", root))(read)(
        root => TextIndex.vacuumIndex(spark, root, olderThanMs = 0L): Unit)
    }
    assert(calls > 0)
    info(s"swept $calls create/rename/delete calls")
  }
}
