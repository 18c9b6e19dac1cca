package graft

import graft.sources.GraftFileSystem
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import java.net.URI

/** The connector suite the reference runs against a live cluster
  * (`CubeFileSystemTest.java:30-244`), runnable hermetically here:
  * write/read-back round-trips, listStatus counts, rename semantics,
  * mkdirs, delete — all through the registered graft:// scheme, plus
  * the Spark-level parquet round-trip the reference only gets
  * indirectly via the engines that mount it.
  */
class GraftFileSystemSpec extends SparkSuite {
  import spark.implicits._

  private def mountedFs(name: String): (FileSystem, String) = {
    val root = Tables.scratch(s"graftfs_$name")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val conf = new Configuration()
    GraftFileSystem.mount(conf, name, root)
    (FileSystem.get(new URI(s"graft://$name/"), conf), root)
  }

  test("scheme registration resolves through fs.graft.impl") {
    val (fs, _) = mountedFs("reg")
    assert(fs.isInstanceOf[GraftFileSystem])
    assert(fs.getScheme === "graft")
    assert(fs.getUri === new URI("graft://reg"))
    // 128 MiB logical block size drives split sizing, like cfs.block.size
    assert(fs.getDefaultBlockSize(new Path("graft://reg/x")) === (128L << 20))
  }

  test("unmounted volume fails loudly at initialize") {
    val conf = new Configuration()
    conf.set("fs.graft.impl", classOf[GraftFileSystem].getName)
    conf.set("fs.graft.impl.disable.cache", "true")
    intercept[java.io.IOException] {
      FileSystem.get(new URI("graft://nowhere/"), conf)
    }
  }

  test("home directory honors dfs.user.home.dir.prefix (CubefsFileSystem.java:350-353, 108)") {
    val root = Tables.scratch("graftfs_home")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val user = org.apache.hadoop.security.UserGroupInformation
      .getCurrentUser.getShortUserName
    // default prefix /user, and home is the initial working directory
    val conf = new Configuration()
    GraftFileSystem.mount(conf, "homed", root)
    val fs = FileSystem.get(new URI("graft://homed/"), conf)
    assert(fs.getHomeDirectory === new Path(s"graft://homed/user/$user"))
    assert(fs.getWorkingDirectory === fs.getHomeDirectory)
    // configured prefix
    val conf2 = new Configuration()
    GraftFileSystem.mount(conf2, "homed2", root)
    conf2.set("dfs.user.home.dir.prefix", "/home/volumes")
    val fs2 = FileSystem.get(new URI("graft://homed2/"), conf2)
    assert(fs2.getHomeDirectory === new Path(s"graft://homed2/home/volumes/$user"))
  }

  test("errno taxonomy surfaces the reference's exception classes (CubefsMount.java:82-103)") {
    import graft.sources.GraftErrno
    // the static mapping, arm by arm
    assert(GraftErrno.error(GraftErrno.ENOTDIR, "/p")
      .isInstanceOf[org.apache.hadoop.fs.ParentNotDirectoryException])
    assert(GraftErrno.error(GraftErrno.ENOENT, "/p")
      .isInstanceOf[java.io.FileNotFoundException])
    assert(GraftErrno.error(GraftErrno.EACCES, "/p")
      .isInstanceOf[org.apache.hadoop.security.AccessControlException])
    assert(GraftErrno.error(GraftErrno.EEXIST, "/p")
      .isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException])
    assert(GraftErrno.error(GraftErrno.EINVAL, "/p")
      .isInstanceOf[org.apache.hadoop.fs.InvalidRequestException])
    assert(GraftErrno.error(99, "/p").getMessage.contains("errno: 99"))
    // and the live arms: open(missing) → ENOENT; create(no-overwrite,
    // exists) → EEXIST; mkdirs over a file → ENOTDIR
    val (fs, _) = mountedFs("errno")
    intercept[java.io.FileNotFoundException] {
      fs.open(new Path("graft://errno/nope"))
    }
    val p = new Path("graft://errno/f")
    val o = fs.create(p, true); o.write(1); o.close()
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      fs.create(p, false)
    }
    intercept[org.apache.hadoop.fs.ParentNotDirectoryException] {
      fs.mkdirs(new Path("graft://errno/f/sub"))
    }
  }

  test("byte-level write/read-back round-trip (testFileIO analog)") {
    val (fs, _) = mountedFs("io")
    val p = new Path("graft://io/dir/sub/file.bin")
    val payload = Array.tabulate[Byte](10000)(i => (i % 251).toByte)
    val out = fs.create(p, true)
    out.write(payload); out.close()
    val st = fs.getFileStatus(p)
    assert(st.getLen === payload.length)
    assert(!st.isDirectory)
    assert(st.getPath.toUri.getScheme === "graft")
    val in = fs.open(p)
    val back = new Array[Byte](payload.length)
    in.readFully(0, back); in.close()
    assert(back === payload)
  }

  test("writeUTF/readUTF round-trip with seek (testReadWriter analog)") {
    val (fs, _) = mountedFs("utf")
    val p = new Path("graft://utf/notes.txt")
    val out = fs.create(p, true)
    (0 until 1200).foreach(i => out.writeUTF(s"line_$i;"))
    out.close()
    val in = fs.open(p)
    (0 until 1200).foreach(i => assert(in.readUTF() === s"line_$i;"))
    // seek back to the start and re-read the first record
    in.seek(0)
    assert(in.readUTF() === "line_0;")
    in.close()
  }

  test("mkdirs + listStatus counts track creates and deletes (testFilesForRelativePath analog)") {
    val (fs, _) = mountedFs("ls")
    val dir = new Path("graft://ls/d")
    assert(fs.mkdirs(dir))
    assert(fs.getFileStatus(dir).isDirectory)
    (1 to 10).foreach { i =>
      val o = fs.create(new Path(dir, s"f$i"), true); o.write(i); o.close()
    }
    val statuses = fs.listStatus(dir)
    assert(statuses.length === 10)
    // statuses come back in the graft:// namespace, never the backing store's
    assert(statuses.forall(_.getPath.toUri.getScheme === "graft"))
    assert(statuses.forall(_.getReplication === 3)) // fixed, like the reference
    assert(fs.delete(new Path(dir, "f1"), false))
    assert(fs.delete(new Path(dir, "f2"), false))
    assert(fs.listStatus(dir).length === 8)
    // non-recursive delete of a non-empty dir must throw the precise
    // exception committers probe for (CubefsFileSystem.java:255-263)
    intercept[org.apache.hadoop.fs.PathIsNotEmptyDirectoryException] {
      fs.delete(dir, false)
    }
    assert(fs.delete(dir, true))
    assert(!fs.exists(dir))
    // deleting a missing path is false, not an error (ENOENT)
    assert(!fs.delete(new Path("graft://ls/never_existed"), true))
  }

  test("getContentSummary recursively totals files, dirs, and bytes (CubefsFileSystem.java:432-436)") {
    val (fs, _) = mountedFs("cs")
    val root = new Path("graft://cs/tree")
    fs.mkdirs(new Path(root, "sub"))
    def put(p: Path, n: Int): Unit = {
      val o = fs.create(p, true); o.write(Array.fill[Byte](n)(1)); o.close()
    }
    put(new Path(root, "a"), 10)
    put(new Path(root, "b"), 20)
    put(new Path(root, "sub/c"), 30)
    val cs = fs.getContentSummary(root)
    assert(cs.getFileCount === 3)
    assert(cs.getDirectoryCount === 2) // tree + sub
    assert(cs.getLength === 60)
  }

  test("rename: plain move and move-into-existing-dir (testRename analog)") {
    val (fs, _) = mountedFs("mv")
    val src = new Path("graft://mv/a.txt")
    val o = fs.create(src, true); o.write(7); o.close()
    // plain rename
    assert(fs.rename(src, new Path("graft://mv/b.txt")))
    assert(!fs.exists(src))
    assert(fs.exists(new Path("graft://mv/b.txt")))
    // rename into an existing directory lands as dir/srcName
    // (reference retry semantics, CubefsFileSystem.java:218-245)
    fs.mkdirs(new Path("graft://mv/sub"))
    assert(fs.rename(new Path("graft://mv/b.txt"), new Path("graft://mv/sub")))
    assert(fs.exists(new Path("graft://mv/sub/b.txt")))
  }

  test("rename edge contracts: existing dst and missing src return false, never clobber") {
    val (fs, _) = mountedFs("mvedge")
    def put(p: Path, b: Int): Unit = { val o = fs.create(p, true); o.write(b); o.close() }
    val a = new Path("graft://mvedge/a.txt")
    val b = new Path("graft://mvedge/b.txt")
    put(a, 1); put(b, 2)
    // rename onto an existing FILE: false, and dst keeps its content
    // (reference maps EEXIST to false, CubefsFileSystem.java:218-245)
    assert(!fs.rename(a, b))
    assert(fs.exists(a))
    val in = fs.open(b); assert(in.read() === 2); in.close()
    // rename into a dir already holding an entry named like src: false
    val sub = new Path("graft://mvedge/sub")
    fs.mkdirs(sub)
    put(new Path(sub, "a.txt"), 3)
    assert(!fs.rename(a, sub))
    assert(fs.exists(a))
    val in2 = fs.open(new Path(sub, "a.txt")); assert(in2.read() === 3); in2.close()
    // missing src: false, not an exception (ENOENT)
    assert(!fs.rename(new Path("graft://mvedge/ghost"), new Path("graft://mvedge/x")))
  }

  test("getFileBlockLocations slices into block-size-aligned logical blocks") {
    val root = Tables.scratch("graftfs_blocks")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val conf = new Configuration()
    GraftFileSystem.mount(conf, "blk", root)
    conf.setLong("fs.graft.block.size", 256L << 10) // 256 KiB
    val fs = FileSystem.get(new URI("graft://blk/"), conf)
    val p = new Path("graft://blk/big.bin")
    val out = fs.create(p, true)
    out.write(new Array[Byte](1 << 20)) // 1 MiB
    out.close()
    val st = fs.getFileStatus(p)
    assert(st.getBlockSize === (256L << 10))
    // full range: 4 aligned blocks (CubefsFileSystem.java:400-430)
    val all = fs.getFileBlockLocations(st, 0, st.getLen)
    assert(all.length === 4)
    assert(all.map(_.getOffset).toSeq === Seq(0L, 256L << 10, 512L << 10, 768L << 10))
    assert(all.forall(_.getLength === (256L << 10)))
    // every block names the one host a local store has: a phantom host
    // per offset would hold each task for the full locality wait
    assert(all.flatMap(_.getHosts).toSet === Set("localhost"))
    // a sub-range resolves only the overlapping block
    val mid = fs.getFileBlockLocations(st, 300000, 10)
    assert(mid.length === 1 && mid.head.getOffset === (256L << 10))
    // start beyond EOF: empty
    assert(fs.getFileBlockLocations(st, st.getLen, 1).isEmpty)
    intercept[IllegalArgumentException](fs.getFileBlockLocations(st, -1, 1))
  }

  test("a graft:// status reports the backing file's owner, group and permission") {
    val (fs, root) = mountedFs("perm")
    val p = new Path("graft://perm/dir/f.bin")
    val out = fs.create(p, true)
    out.write(Array[Byte](1, 2, 3))
    out.close()
    val local = FileSystem.getLocal(new Configuration()).getRawFileSystem
    for ((graftSt, localPath) <- Seq(
        fs.getFileStatus(p) -> new Path(s"file://$root/dir/f.bin"),
        fs.getFileStatus(p.getParent) -> new Path(s"file://$root/dir"),
        fs.listStatus(p.getParent).head -> new Path(s"file://$root/dir/f.bin"))) {
      val localSt = local.getFileStatus(localPath)
      assert(graftSt.getOwner === localSt.getOwner)
      assert(graftSt.getGroup === localSt.getGroup)
      assert(graftSt.getPermission === localSt.getPermission)
      assert(graftSt.getOwner.nonEmpty)
      // the connector's own contract rides along unchanged
      assert(graftSt.getReplication === 3)
      assert(graftSt.getBlockSize === (128L << 20))
      assert(graftSt.getPath.toString.startsWith("graft://perm/dir"))
    }
  }

  test("TextIndex build + appends on a graft:// volume finish under the default locality wait") {
    import org.apache.spark.sql.functions.col
    import scala.concurrent.{Await, Future, TimeoutException}
    import scala.concurrent.duration._
    assert(spark.conf.getOption("spark.locality.wait").isEmpty)
    val root = Tables.scratch("graftfs_locality")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    GraftFileSystem.mount(spark.sparkContext.hadoopConfiguration, "locvol", root)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val idx = "graft://locvol/idx"
    val group = s"graftfs-locality-${System.nanoTime()}"
    val work = Future {
      spark.sparkContext.setJobGroup(group, "graft:// locality", interruptOnCancel = true)
      try {
        operators.TextIndex.buildIndex(docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", idx)
        (1 to 3).foreach { i =>
          operators.TextIndex.appendDocs(docs.filter(col("doc_id") % 4 === i), "doc_id", "text", idx)
        }
        operators.TextIndex.indexStats(spark, idx).head.getAs[Long]("n_docs")
      } finally spark.sparkContext.clearJobGroup()
    }(scala.concurrent.ExecutionContext.global)
    // the deadline cancels the job group, so a stalled scheduler fails
    // this test instead of hanging the suite
    val nDocs = try Await.result(work, 120.seconds) catch {
      case e: TimeoutException =>
        spark.sparkContext.cancelJobGroup(group)
        fail("index build + appends on graft:// did not finish within 120 s", e)
    }
    assert(nDocs === docs.count())
  }

  test("a multi-block graft:// file plans as multiple scan partitions") {
    val root = Tables.scratch("graftfs_split")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    GraftFileSystem.mount(spark.sparkContext.hadoopConfiguration, "splitvol", root)
    val fs = FileSystem.get(new URI("graft://splitvol/"),
      spark.sparkContext.hadoopConfiguration)
    val p = new Path("graft://splitvol/lines.txt")
    val out = fs.create(p, true)
    (1 to 40000).foreach(i => out.write(s"row_${i}_padding_padding_padding\n".getBytes))
    out.close()
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (256L << 10).toString)
      val scanned = spark.read.textFile("graft://splitvol/lines.txt")
      // >1 FilePartition: the connector's block/split surface feeds the
      // planner instead of one monolithic split per file
      assert(scanned.rdd.getNumPartitions > 1)
      assert(scanned.count() === 40000)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
  }

  test("FileContext (AbstractFileSystem API) create/read through graft://") {
    import org.apache.hadoop.fs.{CreateFlag, FileContext}
    val root = Tables.scratch("graftfs_fc")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val conf = new Configuration()
    GraftFileSystem.mount(conf, "fcvol", root)
    val fc = FileContext.getFileContext(new URI("graft://fcvol/"), conf)
    val p = new Path("graft://fcvol/ctx.txt")
    val out = fc.create(p,
      java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    out.writeUTF("hello-filecontext"); out.close()
    assert(fc.util.exists(p))
    val in = fc.open(p)
    assert(in.readUTF() === "hello-filecontext"); in.close()
    assert(fc.getFileStatus(p).getLen > 0)
    fc.delete(p, false)
    assert(!fc.util.exists(p))
  }

  test("Spark parquet write + read-back through graft:// (the engine-level round-trip)") {
    val root = Tables.scratch("graftfs_spark")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    GraftFileSystem.mount(spark.sparkContext.hadoopConfiguration, "vol", root)
    val df = (1 to 500).map(i => (i.toLong, s"name_$i", i * 1.5)).toDF("id", "name", "score")
    // the write commits through FileOutputCommitter: task-attempt dirs,
    // mkdirs, renames — all through the connector
    df.write.mode("overwrite").parquet("graft://vol/t.parquet")
    val back = spark.read.parquet("graft://vol/t.parquet")
    assert(back.count() === 500)
    assert(back.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
      === (1 to 500).map(_.toLong).sum)
    // scans report graft:// identity to the engine
    val files = back.select(org.apache.spark.sql.functions.input_file_name()).distinct()
      .as[String].collect()
    assert(files.nonEmpty && files.forall(_.startsWith("graft://vol/")))
  }

  test("streaming source, sink AND checkpoint all through graft:// (durability surface)") {
    val root = Tables.scratch("graftfs_stream")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    GraftFileSystem.mount(spark.sparkContext.hadoopConfiguration, "svol", root)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "source", "n_chars")
    docs.write.mode("overwrite").parquet("graft://svol/in")
    val n = docs.count()
    // the checkpoint manager's offset/commit files go through the
    // connector's create+rename (the reference's hflush/hsync
    // durability surface); the sink commits through the streaming
    // ManifestFileCommitProtocol on the same scheme
    val q = spark.readStream.schema(docs.schema).parquet("graft://svol/in")
      .filter(org.apache.spark.sql.functions.col("n_chars") > 0)
      .writeStream.format("parquet")
      .option("path", "graft://svol/out")
      .option("checkpointLocation", "graft://svol/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet("graft://svol/out").count() === n)
    val fs = FileSystem.get(new URI("graft://svol/"),
      spark.sparkContext.hadoopConfiguration)
    // committed checkpoint state exists in the graft:// namespace
    assert(fs.exists(new Path("graft://svol/ckpt/offsets")))
    assert(fs.listStatus(new Path("graft://svol/ckpt/offsets")).nonEmpty)
    assert(fs.exists(new Path("graft://svol/ckpt/commits")))
    assert(fs.listStatus(new Path("graft://svol/ckpt/commits")).nonEmpty)
  }

  test("q_fs_connector query runs green end-to-end") {
    val rows = SparkEntry.queries("q_fs_connector")(spark, sf).collect()
    assert(rows.length === 25) // every nation has customers above the bal filter at sf0.001
    assert(rows.forall(_.getAs[Long]("n_cust") > 0))
  }
}
