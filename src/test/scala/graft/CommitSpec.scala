package graft

import graft.operators.{Commit, IvfIndex, PartitionedSnapshots, Snapshots, TextIndex, Tombstones}
import graft.sources.GraftFileSystem
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
  * dies before applying the operation. In the `renameFalse` mode only
  * renames count, and the Nth answers false instead, as a store does
  * when the target exists. Installed as `fs.graft.impl`.
  */
class FaultyGraftFileSystem extends GraftFileSystem {
  import FaultyGraftFileSystem.tick

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    tick("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean =
    !tick("rename", src) && super.rename(src, dst)

  override def delete(f: Path, recursive: Boolean): Boolean = {
    tick("delete", f)
    super.delete(f, recursive)
  }
}

object FaultyGraftFileSystem {
  private val calls = new AtomicInteger
  @volatile private var failAt = 0 // 0: disarmed
  @volatile private var renameFalse = false
  @volatile private var firedAt: Option[String] = None

  /** Fail the `n`th counted call from now on. */
  def arm(n: Int, renameFalse: Boolean = false): Unit = {
    calls.set(0); firedAt = None; this.renameFalse = renameFalse; failAt = n
  }

  /** Stop failing; returns the injected fault, if one fired. */
  def disarm(): Option[String] = { failAt = 0; firedAt }

  /** Counts the call; true when it must answer false. */
  private def tick(op: String, p: Path): Boolean =
    if (failAt == 0 || (renameFalse && op != "rename") ||
        calls.incrementAndGet() != failAt) false
    else {
      firedAt = Some(s"$op #$failAt on $p")
      if (!renameFalse) throw new IOException(s"injected fault: $op #$failAt on $p")
      true
    }
}

class CommitSpec extends SparkSuite {
  import spark.implicits._
  import org.apache.spark.sql.functions.col

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

  /** Tombstone files under `name` that its live manifest does not
    * list, read on the backing store. */
  private def unlistedTombstones(name: String): Seq[String] = {
    val local = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val root = new java.io.File(mountRoot, name).getPath
    val listed = Commit.latest(local, root).fold(Seq.empty[String])(m => Tombstones.parse(m._2).files)
    Option(new java.io.File(root, Tombstones.Dir).list()).toSeq.flatten
      .filterNot(n => n.startsWith(".") || listed.contains(n))
  }

  private val sweeps = new AtomicInteger

  /** Run `verb` on a fresh copy of the fixture `base` with the Nth
    * create, rename or delete failing (with `renameFalse`, the Nth
    * rename answering false), for N = 1, 2, … until a run fires no
    * fault. After each fault a reader must see exactly the old or
    * exactly the new content, and a fault on the writer-intent
    * release must fail the verb; a re-run (when it still sees the
    * old) plus `vacuum` must then reach the no-fault result and leave
    * no stage file and no tombstone file outside the live manifest's
    * list behind. Returns the number of calls the verb makes.
    */
  private def sweep[T](base: String, renameFalse: Boolean = false)(
      verb: String => Unit)(read: String => T)(vacuum: String => Unit): Int = {
    val old = read(graftPath(base))
    val run = s"${base}_s${sweeps.incrementAndGet()}" // copy-name stem
    val clean = copyOf(base, s"${run}_clean")
    verb(clean)
    vacuum(clean)
    val expected = read(clean)
    assert(expected != old, "the verb must change what the reader sees")
    var n = 0
    var fired = true
    while (fired) {
      n += 1
      val root = copyOf(base, s"${run}_$n")
      FaultyGraftFileSystem.arm(n, renameFalse)
      val failure =
        try { verb(root); None }
        catch { case e: Exception => Some(e) }
      val fault = FaultyGraftFileSystem.disarm()
      fired = fault.nonEmpty
      val seen = read(root)
      if (fault.exists(f => f.startsWith("delete") && f.endsWith("/_maint_intent")))
        assert(failure.nonEmpty, s"N=$n ($fault): the verb hid its failed intent release")
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
      assert(leftovers(s"${run}_$n").isEmpty, s"N=$n ($fault): stage files left")
      assert(unlistedTombstones(s"${run}_$n").isEmpty,
        s"N=$n ($fault): tombstone files outside the manifest's list")
    }
    n - 1
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

  test("fault sweep: PartitionedSnapshots.commitMerge is all-or-nothing and converges after a re-run") {
    val base = "psnap"
    PartitionedSnapshots.create(spark, graftPath(base),
      Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x")).toDF("k", "v", "p").coalesce(1), "p")
    val updates = Seq((1L, "A", "x"), (4L, "d", "x")).toDF("k", "v", "p")
    val calls = withFaultyFs {
      sweep(base)(root => PartitionedSnapshots.commitMerge(spark, root, updates, "k", "p"): Unit)(
        root => PartitionedSnapshots.read(spark, root).orderBy("k")
          .as[(Long, String, String)].collect().toSeq)(_ => ())
    }
    assert(calls > 0)
    info(s"swept $calls create/rename/delete calls")
  }

  // ── text index: one-file 2-bucket fixture ──────────────────────────

  private lazy val textBase: String = {
    TextIndex.buildIndex(
      Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text").coalesce(1),
      "doc_id", "text", graftPath("text"), nBuckets = 2)
    "text"
  }

  /** The text fixture with one delete pending, for compaction. */
  private lazy val textDeleted: String = {
    TextIndex.deleteDocs(Seq(1L).toDF("doc_id"), "doc_id", copyOf(textBase, "text_del"))
    "text_del"
  }

  private def textRead(root: String): Seq[String] = {
    val stats = TextIndex.indexStats(spark, root)
      .select("seq", "n_docs", "sum_dl", "n_tombs").collect().map(_.toString)
    val postings = TextIndex.prunedPostings(spark, root, Seq("alpha", "beta", "gamma", "delta"))
      .select("term", "doc_id", "tf", "positions").collect().map(_.toString).sorted
    val df = TextIndex.termStats(spark, root).collect().map(_.toString).sorted
    stats.toSeq ++ postings ++ df
  }

  private def textSweep(base: String, renameFalse: Boolean = false)(verb: String => Unit): Unit = {
    val calls = withFaultyFs {
      sweep(base, renameFalse)(verb)(textRead)(
        root => TextIndex.vacuumIndex(spark, root, olderThanMs = 0L): Unit)
    }
    assert(calls > 0)
    info(s"swept $calls calls")
  }

  private lazy val textBatch =
    Seq((3L, "gamma delta"), (4L, "alpha delta delta")).toDF("doc_id", "text")

  test("fault sweep: TextIndex.appendDocs is all-or-nothing and converges after a re-run and vacuumIndex") {
    textSweep(textBase)(root => TextIndex.appendDocs(textBatch, "doc_id", "text", root))
  }

  test("fault sweep: TextIndex.appendDocs publishes nothing when a rename answers false") {
    textSweep(textBase, renameFalse = true)(root =>
      TextIndex.appendDocs(textBatch, "doc_id", "text", root))
  }

  test("fault sweep: TextIndex.deleteDocs is all-or-nothing and converges after a re-run and vacuumIndex") {
    textSweep(textBase)(root => TextIndex.deleteDocs(Seq(1L).toDF("doc_id"), "doc_id", root))
  }

  test("fault sweep: TextIndex.compactIndex is all-or-nothing and converges after a re-run and vacuumIndex") {
    textSweep(textDeleted)(root => TextIndex.compactIndex(spark, root))
  }

  // ── vector index: a 2-list fixture with one hot list ───────────────

  private def vectors(ids: Seq[Long], hot: Boolean) = {
    val rnd = new scala.util.Random(ids.head)
    ids.map(i => (i, Array.fill(4)(
      if (hot) 5f + rnd.nextFloat() * 0.2f else rnd.nextFloat() * 4f - 2f)))
      .toDF("vec_id", "embedding")
  }

  private lazy val ivfBase: String = {
    IvfIndex.buildIndex(
      vectors(0L until 10L, hot = true).union(vectors(10L until 12L, hot = false)).coalesce(1),
      "vec_id", "embedding", nCentroids = 2, path = graftPath("ivf"))
    "ivf"
  }

  /** The vector fixture with two deletes pending, for compaction. */
  private lazy val ivfDeleted: String = {
    IvfIndex.deleteFromIndex(Seq(0L, 11L).toDF("vec_id"), "vec_id", copyOf(ivfBase, "ivf_del"))
    "ivf_del"
  }

  /** What a search sees: the rows of the live lists, with the
    * manifest's seq and generation and both list-size readings. */
  private def ivfRead(root: String): Seq[String] = {
    val (rows, centroids) = IvfIndex.loadLive(spark, root, "vec_id")
    val live = centroids.select("centroid_id").as[Int].collect().toSeq
    Seq(s"seq=${IvfIndex.maxCommittedSeq(spark, root)}",
      s"cgen=${IvfIndex.liveCentroidGen(spark, root)}",
      s"sizes=${IvfIndex.listSizes(spark, root, "vec_id")}",
      s"bound=${IvfIndex.listSizesBound(spark, root)}") ++
      rows.filter(col("cluster").isin(live: _*))
        .select("vec_id", "cluster", "ingest_seq").collect().map(_.toString).sorted
  }

  private def ivfSweep(base: String, renameFalse: Boolean = false)(verb: String => Unit): Unit = {
    val calls = withFaultyFs {
      sweep(base, renameFalse)(verb)(ivfRead)(
        root => IvfIndex.vacuumIndex(spark, root, olderThanMs = 0L): Unit)
    }
    assert(calls > 0)
    info(s"swept $calls calls")
  }

  private lazy val ivfBatch = vectors(20L until 22L, hot = false)

  test("fault sweep: IvfIndex.appendToIndex is all-or-nothing and converges after a re-run and vacuumIndex") {
    ivfSweep(ivfBase)(root => IvfIndex.appendToIndex(ivfBatch, "vec_id", "embedding", root))
  }

  test("fault sweep: IvfIndex.appendToIndex publishes nothing when a rename answers false") {
    ivfSweep(ivfBase, renameFalse = true)(root =>
      IvfIndex.appendToIndex(ivfBatch, "vec_id", "embedding", root))
  }

  test("fault sweep: IvfIndex.deleteFromIndex is all-or-nothing and converges after a re-run and vacuumIndex") {
    ivfSweep(ivfBase)(root => IvfIndex.deleteFromIndex(Seq(0L, 11L).toDF("vec_id"), "vec_id", root))
  }

  test("fault sweep: IvfIndex.compactLists is all-or-nothing and converges after a re-run and vacuumIndex") {
    ivfSweep(ivfDeleted)(root => IvfIndex.compactLists(spark, root, "vec_id"))
  }

  test("fault sweep: IvfIndex.rebalanceIndex is all-or-nothing and converges after a re-run and vacuumIndex") {
    ivfSweep(ivfBase)(root =>
      assert(IvfIndex.rebalanceIndex(spark, root, "vec_id", "embedding", maxListFactor = 1.2).nonEmpty))
  }

  test("an IVF directory without a manifest is refused by name") {
    val root = graftPath("ivf_markers")
    val fs = GraftSession.fsOf(spark, root)
    // a marker-era layout: lists, centroids and a commit marker, no manifest
    spark.read.parquet(s"${graftPath(ivfBase)}/assigned")
      .write.partitionBy("cluster").parquet(s"$root/assigned")
    spark.read.parquet(s"${graftPath(ivfBase)}/centroids").write.parquet(s"$root/centroids")
    assert(fs.createNewFile(new Path(root, "_seq_1")))
    Seq[() => Any](() => IvfIndex.loadIndex(spark, root),
      () => IvfIndex.appendToIndex(ivfBatch, "vec_id", "embedding", root)).foreach { f =>
      val e = intercept[IllegalStateException](f())
      assert(e.getMessage.contains(root) && e.getMessage.contains("rebuild with buildIndex"),
        e.getMessage)
    }
  }
}
