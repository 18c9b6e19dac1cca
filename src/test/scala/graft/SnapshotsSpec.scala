package graft

import graft.operators.Snapshots
import org.apache.spark.sql.functions._

class SnapshotsSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(name: String): String = Tables.scratch(name)

  test("create + read latest round-trips") {
    val root = freshRoot("snap_basic")
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Snapshots.create(spark, root, df)
    assert(Snapshots.versions(spark, root) === Seq(1))
    assert(Snapshots.read(spark, root).orderBy("k").as[(Long, String)].collect()
      === Array((1L, "a"), (2L, "b")))
  }

  test("commitMerge publishes v2; v1 stays bit-identical") {
    val root = freshRoot("snap_immutable")
    Snapshots.create(spark, root, Seq((1L, 10), (2L, 20), (3L, 30)).toDF("k", "v"))
    val v1Before = Snapshots.read(spark, root, Some(1)).orderBy("k")
      .as[(Long, Int)].collect()
    val v = Snapshots.commitMerge(spark, root,
      Seq((2L, 99), (4L, 40)).toDF("k", "v"), "k")
    assert(v === 2)
    assert(Snapshots.versions(spark, root) === Seq(1, 2))
    // v2 = matched update + untouched survivors + insert
    assert(Snapshots.read(spark, root, Some(2)).orderBy("k")
      .as[(Long, Int)].collect() === Array((1L, 10), (2L, 99), (3L, 30), (4L, 40)))
    // unversioned read resolves to latest
    assert(Snapshots.read(spark, root).count() === 4)
    // the old snapshot is untouched by the commit
    assert(Snapshots.read(spark, root, Some(1)).orderBy("k")
      .as[(Long, Int)].collect() === v1Before)
  }

  test("transactional stats: every commit publishes per-file bounds atomically; pruned reads and metadata aggregates use them") {
    import graft.operators.DataSkipping
    val root = freshRoot("snap_stats")
    val base = (1 to 1000).map(i => (i.toLong, i * 2L)).toDF("k", "m")
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
    Snapshots.create(spark, root, base, statsCols = Seq("k"))
    assert(Snapshots.statsColumns(spark, root) === Seq("k"))

    // v1 stats cover every file; metadata-only count/min/max is exact
    val s1 = Snapshots.columnStats(spark, root, Some(1))
    assert(s1.agg(sum("n_rows")).head.getLong(0) === 1000L)
    assert(s1.agg(min("min_k"), max("max_k")).head.toSeq === Seq(1L, 1000L))

    // a MERGE commit re-clusters on the registered column and writes
    // v2 stats inside the commit — the pruned read skips files
    val v2 = Snapshots.commitMerge(spark, root,
      Seq((5000L, 1L), (5001L, 2L)).toDF("k", "m"), "k")
    val pruned = Snapshots.readPruned(spark, root, Some(v2))
      .filter(col("k") >= 100 && col("k") <= 200)
    val total = Snapshots.read(spark, root, Some(v2)).inputFiles.length
    assert(DataSkipping.scannedFiles(pruned.select("k")) < total)
    assert(pruned.count() === 101)
    assert(Snapshots.columnStats(spark, root, Some(v2))
      .agg(sum("n_rows")).head.getLong(0) === 1002L)

    // rollback rewrites stats against the NEW version's paths — the
    // pruned read over the rolled-back version still prunes
    val v3 = Snapshots.rollback(spark, root, 1)
    val rolled = Snapshots.readPruned(spark, root, Some(v3))
      .filter(col("k") === 500)
    assert(DataSkipping.scannedFiles(rolled.select("k")) === 1)
    assert(rolled.count() === 1)

    // compaction keeps the stats current and the layout clustered
    val (v4, _, _) = Snapshots.compact(spark, root, 1L << 20)
    assert(Snapshots.columnStats(spark, root, Some(v4))
      .agg(sum("n_rows")).head.getLong(0) === 1000L)
    val afterCompact = Snapshots.readPruned(spark, root, Some(v4))
      .filter(col("k") === 500)
    assert(afterCompact.count() === 1)

    // an unregistered table behaves exactly as before: no sidecar
    val plain = freshRoot("snap_stats_plain")
    Snapshots.create(spark, plain, Seq((1L, "a")).toDF("k", "v"))
    assert(Snapshots.statsColumns(spark, plain).isEmpty)
    intercept[Exception] { Snapshots.columnStats(spark, plain).collect() }
  }

  test("chained commits keep every historical version readable") {
    val root = freshRoot("snap_chain")
    Snapshots.create(spark, root, Seq((1L, 1)).toDF("k", "v"))
    Snapshots.commitMerge(spark, root, Seq((1L, 2)).toDF("k", "v"), "k")
    Snapshots.commitMerge(spark, root, Seq((1L, 3)).toDF("k", "v"), "k")
    assert(Snapshots.versions(spark, root) === Seq(1, 2, 3))
    assert((1 to 3).map(v =>
      Snapshots.read(spark, root, Some(v)).select("v").as[Int].head()) === Seq(1, 2, 3))
  }

  test("rollback commits the target as a new version; history stays append-only") {
    val root = freshRoot("snap_rollback")
    Snapshots.create(spark, root, Seq((1L, 10), (2L, 20)).toDF("k", "v"))
    Snapshots.commitMerge(spark, root, Seq((2L, 99), (3L, 30)).toDF("k", "v"), "k")
    val v3 = Snapshots.rollback(spark, root, 1)
    assert(v3 === 3)
    assert(Snapshots.versions(spark, root) === Seq(1, 2, 3))
    // latest == v1 content, byte-identical files (same names + sizes)
    assert(Snapshots.read(spark, root).orderBy("k").as[(Long, Int)].collect()
      === Array((1L, 10), (2L, 20)))
    assert(Snapshots.fileStats(spark, root, 3) === Snapshots.fileStats(spark, root, 1))
    // the rolled-past bad commit remains time-travelable
    assert(Snapshots.read(spark, root, Some(2)).orderBy("k").as[(Long, Int)].collect()
      === Array((1L, 10), (2L, 99), (3L, 30)))
    // a follow-up merge builds on the rolled-back state, not the bad one
    Snapshots.commitMerge(spark, root, Seq((4L, 40)).toDF("k", "v"), "k")
    assert(Snapshots.read(spark, root).orderBy("k").as[(Long, Int)].collect()
      === Array((1L, 10), (2L, 20), (4L, 40)))
    intercept[IllegalArgumentException] { Snapshots.rollback(spark, root, 99) }
  }

  test("schema-evolving merge: new column null-fills old rows; v1 keeps its schema") {
    val root = freshRoot("snap_evolve")
    Snapshots.create(spark, root, Seq((1L, 10), (2L, 20)).toDF("k", "v"))
    Snapshots.commitMerge(spark, root,
      Seq((2L, 99, "b"), (3L, 30, "c")).toDF("k", "v", "tag"), "k",
      evolveSchema = true)
    val v2 = Snapshots.read(spark, root)
    assert(v2.columns.toSeq === Seq("k", "v", "tag"))
    assert(v2.orderBy("k").as[(Long, Int, Option[String])].collect()
      === Array((1L, 10, None), (2L, 99, Some("b")), (3L, 30, Some("c"))))
    // time travel to v1 returns the ORIGINAL two-column schema
    assert(Snapshots.read(spark, root, Some(1)).columns.toSeq === Seq("k", "v"))
    // without the flag, mismatched schemas still fail loudly
    intercept[org.apache.spark.sql.AnalysisException] {
      Snapshots.commitMerge(spark, root, Seq((4L, 40)).toDF("k", "v"), "k")
    }
  }

  test("versions resolve through the manifest, not directory listing") {
    val root = freshRoot("snap_isolation")
    Snapshots.create(spark, root, Seq((1L, 1)).toDF("k", "v"))
    // simulate a half-finished commit: v_2 data exists, manifest doesn't know
    Seq((1L, 2)).toDF("k", "v").write.parquet(s"$root/v_2")
    assert(Snapshots.versions(spark, root) === Seq(1))
    assert(Snapshots.read(spark, root).select("v").as[Int].head() === 1)
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, root, Some(2))
    }
  }

  test("reading a missing table or version fails loudly") {
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, freshRoot("snap_missing"))
    }
    val root = freshRoot("snap_badver")
    Snapshots.create(spark, root, Seq((1L, 1)).toDF("k", "v"))
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, root, Some(7))
    }
  }

  test("compact bin-packs files without changing content; old version intact") {
    val root = freshRoot("snap_compact")
    val df = (1 to 300).map(i => (i.toLong, s"row_$i")).toDF("k", "v")
    Snapshots.create(spark, root, df.repartition(32))
    val (n1, bytes1) = Snapshots.fileStats(spark, root, 1)
    assert(n1 === 32 && bytes1 > 0)
    // one bin well above total size → a single output file
    val (v2, before, after) = Snapshots.compact(spark, root, 1L << 40)
    assert(v2 === 2 && before === 32 && after === 1)
    // content identical (row set, not layout)
    assert(Snapshots.read(spark, root, Some(2)).orderBy("k").as[(Long, String)].collect()
      === df.orderBy("k").as[(Long, String)].collect())
    // the fragmented version is still published and readable
    assert(Snapshots.versions(spark, root) === Seq(1, 2))
    assert(Snapshots.read(spark, root, Some(1)).count() === 300)
    // target sizing: ceil(bytes/target) bins when the target is small
    // (sized from the LATEST version's measured bytes — v2 is one
    // compacted file, far smaller than the 32-file original)
    val (_, bytes2) = Snapshots.fileStats(spark, root, 2)
    val (_, _, after3) = Snapshots.compact(spark, root, (bytes2 + 3) / 4)
    assert(after3 >= 2, s"expected multiple bins, got $after3")
  }

  test("expire removes old versions: manifest first, then directories") {
    val root = freshRoot("snap_expire")
    Snapshots.create(spark, root, Seq((1L, 1)).toDF("k", "v"))
    Snapshots.commitMerge(spark, root, Seq((1L, 2)).toDF("k", "v"), "k")
    Snapshots.commitMerge(spark, root, Seq((1L, 3)).toDF("k", "v"), "k")
    assert(Snapshots.expire(spark, root, retain = 2) === Seq(1))
    assert(Snapshots.versions(spark, root) === Seq(2, 3))
    // expired dir is physically gone; retained versions read fine
    val p = new org.apache.hadoop.fs.Path(s"$root/v_1")
    assert(!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
    assert(Snapshots.read(spark, root, Some(2)).select("v").as[Int].head() === 2)
    assert(Snapshots.read(spark, root).select("v").as[Int].head() === 3)
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, root, Some(1))
    }
    // expiring everything is refused; expiring nothing is a no-op
    intercept[IllegalArgumentException] {
      Snapshots.expire(spark, root, retain = 0)
    }
    assert(Snapshots.expire(spark, root, retain = 5) === Seq.empty)
    assert(Snapshots.versions(spark, root) === Seq(2, 3))
  }

  test("manifest commit is never delete-then-rename: a manifest is always resolvable") {
    val root = freshRoot("snap_atomic")
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def manifests() = f.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("_manifest.v_")).sorted.toSeq
    Snapshots.create(spark, root, Seq((1L, 1)).toDF("k", "v"))
    assert(manifests() === Seq("_manifest.v_1"))
    Snapshots.commitMerge(spark, root, Seq((1L, 2)).toDF("k", "v"), "k")
    // the previous manifest survives the commit as a recovery spare —
    // at no instant between create and commit was the table manifest-less
    assert(manifests() === Seq("_manifest.v_1", "_manifest.v_2"))
    // last-wins resolution: the live manifest is the highest sequence
    assert(Snapshots.versions(spark, root) === Seq(1, 2))
    Snapshots.commitMerge(spark, root, Seq((1L, 3)).toDF("k", "v"), "k")
    // superseded manifests beyond the spare are swept
    assert(manifests() === Seq("_manifest.v_2", "_manifest.v_3"))
    assert(Snapshots.versions(spark, root) === Seq(1, 2, 3))
    // a stale spare never shadows the live manifest: deleting the live
    // one falls back to the spare (previous committed state), not chaos
    f.delete(new org.apache.hadoop.fs.Path(root, "_manifest.v_3"), false)
    assert(Snapshots.versions(spark, root) === Seq(1, 2))
  }

  test("vacuum removes crash-leaked version dirs and tmp manifests; reads unaffected") {
    val root = freshRoot("snap_vacuum")
    Snapshots.create(spark, root, Seq((1L, 1), (2L, 2)).toDF("k", "v"))
    Snapshots.commitMerge(spark, root, Seq((3L, 3)).toDF("k", "v"), "k")
    // simulate a commit that crashed between data write and manifest
    // swap: the v_9 dir exists but no manifest ever published it
    Seq((9L, 9)).toDF("k", "v").write.parquet(s"$root/v_9")
    // ... and a manifest write that crashed before its rename
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(root, ".tmp_manifest_99")
    val out = f.create(tmp, true); out.write("1".getBytes); out.close()
    // ... and a branch-manifest write that crashed before its rename
    val btmp = new org.apache.hadoop.fs.Path(root, ".tmp_branch_audit_3")
    val bout = f.create(btmp, true); bout.write("1".getBytes); bout.close()
    val removed = Snapshots.vacuum(spark, root, olderThanMs = 0L)
    assert(removed.toSet === Set("v_9", ".tmp_manifest_99", ".tmp_branch_audit_3"))
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$root/v_9")))
    // published versions are untouched
    assert(Snapshots.versions(spark, root) === Seq(1, 2))
    assert(Snapshots.read(spark, root).count() === 3)
    // age guard: a young orphan is left alone (in-flight commit safety)
    Seq((8L, 8)).toDF("k", "v").write.parquet(s"$root/v_8")
    assert(Snapshots.vacuum(spark, root) === Seq.empty)
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$root/v_8")))
  }

  test("history is one scan, not one count job per version") {
    val root = freshRoot("snap_history")
    Snapshots.create(spark, root, (1 to 100).map(i => (i.toLong, i)).toDF("k", "v"))
    Snapshots.commitMerge(spark, root, Seq((200L, 200)).toDF("k", "v"), "k")
    Snapshots.commitMerge(spark, root, Seq((201L, 201)).toDF("k", "v"), "k")
    // constructing the DataFrame launches at most ONE job (parquet
    // schema-inference footer read — constant, version-count-
    // independent); the old implementation ran one count() job per
    // version right here, O(versions) scheduling round-trips
    var jobsDuringBuild = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobsDuringBuild += 1
    }
    spark.sparkContext.addSparkListener(listener)
    val h = try {
      val df = Snapshots.history(spark, root)
      Thread.sleep(1000) // listener delivery is async; 1 s is ample for any job-start event
      df
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobsDuringBuild <= 1,
      s"history() construction launched $jobsDuringBuild jobs; must not scale with versions")
    val rows = h.orderBy("version").collect()
    assert(rows.map(_.getAs[Int]("version")).toSeq === Seq(1, 2, 3))
    assert(rows.map(_.getAs[Long]("n_rows")).toSeq === Seq(100L, 101L, 102L))
    // files/bytes agree with the per-version stats probe
    rows.foreach { r =>
      val (nf, bytes) = Snapshots.fileStats(spark, root, r.getAs[Int]("version"))
      assert(r.getAs[Int]("n_files") === nf)
      assert(r.getAs[Long]("total_bytes") === bytes)
    }
  }

  test("changes labels inserts and updates exactly; unchanged rows absent") {
    val root = freshRoot("snap_cdf")
    val v1 = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "bal")
    Snapshots.create(spark, root, v1)
    // id=2 updated, id=9 inserted, ids 1 and 3 untouched
    Snapshots.commitMerge(spark, root,
      Seq((2L, 25.0), (9L, 90.0)).toDF("id", "bal"), "id")
    val got = Snapshots.changes(spark, root, 1, 2, "id")
      .select("id", "bal", "_change_type")
      .as[(Long, Double, String)].collect().toSet
    assert(got === Set(
      (2L, 20.0, "update_preimage"),
      (2L, 25.0, "update_postimage"),
      (9L, 90.0, "insert")))
  }

  test("commitDelete: NULL predicate keeps the row; CDF classifies the deletes; history audits") {
    val root = freshRoot("snap_delete_spec")
    // tag=null rows must SURVIVE a delete on tag === "x" (SQL DELETE
    // removes only TRUE matches; a null-pred row is not a match)
    Snapshots.create(spark, root,
      Seq((1L, "x"), (2L, "y"), (3L, null), (4L, "x"))
        .toDF("id", "tag"))
    val v2 = Snapshots.commitDelete(spark, root, col("tag") === "x")
    assert(v2 === 2)
    assert(Snapshots.read(spark, root).select("id").as[Long].collect().sorted
      === Array(2L, 3L))
    // prior version keeps the deleted rows (auditable until expire)
    assert(Snapshots.read(spark, root, Some(1)).count() === 4)
    // the change feed between the versions is exactly the two deletes
    val got = Snapshots.changes(spark, root, 1, 2, "id")
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(got === Set((1L, "delete"), (4L, "delete")))
  }

  test("commitUpdate: all assignments see the OLD row (swap test); non-matches untouched") {
    val root = freshRoot("snap_update_spec")
    Snapshots.create(spark, root,
      Seq((1L, 10.0, 20.0), (2L, 30.0, 40.0), (3L, 50.0, 60.0))
        .toDF("id", "a", "b"))
    // swap a and b where id <= 2 — only correct if both assignments
    // evaluate against pre-update values (sequential withColumn would
    // yield a == b)
    Snapshots.commitUpdate(spark, root, col("id") <= 2,
      Map("a" -> col("b"), "b" -> col("a")))
    val got = Snapshots.read(spark, root).orderBy("id")
      .as[(Long, Double, Double)].collect()
    assert(got === Array((1L, 20.0, 10.0), (2L, 40.0, 30.0), (3L, 50.0, 60.0)))
    // v1 unchanged; CDF = exactly the two updated rows
    assert(Snapshots.read(spark, root, Some(1)).orderBy("id")
      .as[(Long, Double, Double)].collect()
      === Array((1L, 10.0, 20.0), (2L, 30.0, 40.0), (3L, 50.0, 60.0)))
    val updates = Snapshots.changes(spark, root, 1, 2, "id")
      .filter(col("_change_type") === "update_postimage")
      .select("id").as[Long].collect().sorted
    assert(updates === Array(1L, 2L))
  }

  test("commitUpdate rejects an unknown SET column instead of a silent no-op") {
    val root = freshRoot("snap_update_badcol")
    Snapshots.create(spark, root, Seq((1L, 10.0)).toDF("id", "a"))
    val before = Snapshots.versions(spark, root)
    val e = intercept[IllegalArgumentException] {
      Snapshots.commitUpdate(spark, root, col("id") === 1L,
        Map("a_typo" -> lit(99.0)))
    }
    assert(e.getMessage.contains("a_typo"))
    // no version was committed for the failed UPDATE
    assert(Snapshots.versions(spark, root) === before)
    // default session is case-insensitive: a case-variant key RESOLVES
    Snapshots.commitUpdate(spark, root, col("id") === 1L, Map("A" -> lit(7.0)))
    assert(Snapshots.read(spark, root).select("a").as[Double].head() === 7.0)
  }

  test("changes across a compaction is empty (content-identical rewrite)") {
    val root = freshRoot("snap_cdf_compact")
    Snapshots.create(spark, root,
      spark.range(0, 100).toDF("id").withColumn("v", col("id") * 2).repartition(8))
    val (v2, _, _) = Snapshots.compact(spark, root, 1L << 40)
    assert(Snapshots.changes(spark, root, 1, v2, "id").isEmpty)
  }

  test("branches: staged commits invisible to main; fast-forward publishes; diverged main rejects") {
    val root = freshRoot("snap_branch_spec")
    Snapshots.create(spark, root, Seq((1L, 10), (2L, 20)).toDF("k", "v"))
    Snapshots.createBranch(spark, root, "audit")
    // duplicate branch names are a commit conflict, not a clobber
    intercept[IllegalArgumentException] {
      Snapshots.createBranch(spark, root, "audit")
    }
    val stagedV = Snapshots.commitToBranch(spark, root, "audit",
      Snapshots.readBranch(spark, root, "audit").withColumn("v", col("v") + 1))
    // isolation: main's manifest and head content are untouched
    assert(Snapshots.versions(spark, root) === Seq(1))
    assert(Snapshots.read(spark, root).orderBy("k").as[(Long, Int)].collect()
      === Array((1L, 10), (2L, 20)))
    assert(Snapshots.branchVersions(spark, root, "audit") === Seq(1, stagedV))
    assert(Snapshots.readBranch(spark, root, "audit").orderBy("k")
      .as[(Long, Int)].collect() === Array((1L, 11), (2L, 21)))
    // publish: one manifest swap, main's head IS the staged version
    val head = Snapshots.fastForward(spark, root, "audit")
    assert(head === stagedV)
    assert(Snapshots.versions(spark, root) === Seq(1, stagedV))
    assert(Snapshots.read(spark, root).orderBy("k").as[(Long, Int)].collect()
      === Array((1L, 11), (2L, 21)))
    // a second publish with no new staged work is a no-op fast-forward
    assert(Snapshots.fastForward(spark, root, "audit") === stagedV)
    // divergence: main advances past the branch → publish must refuse
    Snapshots.createBranch(spark, root, "stale")
    Snapshots.commitToBranch(spark, root, "stale",
      Snapshots.readBranch(spark, root, "stale").withColumn("v", col("v") * 2))
    Snapshots.commitMerge(spark, root, Seq((9L, 90)).toDF("k", "v"), "k")
    intercept[IllegalArgumentException] {
      Snapshots.fastForward(spark, root, "stale")
    }
    assert(Snapshots.branches(spark, root) === Seq("audit", "stale"))
  }

  test("branch refs shield staged/expired versions from vacuum and expire; dropBranch releases") {
    val root = freshRoot("snap_branch_gc")
    Snapshots.create(spark, root, Seq((1L, 10)).toDF("k", "v"))
    Snapshots.createBranch(spark, root, "wip")
    val stagedV = Snapshots.commitToBranch(spark, root, "wip",
      Seq((1L, 10), (2L, 20)).toDF("k", "v"))
    // vacuum must NOT reclaim a version resolvable through a live ref
    assert(Snapshots.vacuum(spark, root, olderThanMs = 0L).isEmpty)
    assert(Snapshots.readBranch(spark, root, "wip").count() === 2)
    // expire on main must not delete a branch-referenced fork version:
    // advance main, expire to 1 retained, the branch still reads v1
    Snapshots.commitMerge(spark, root, Seq((3L, 30)).toDF("k", "v"), "k")
    val dropped = Snapshots.expire(spark, root, retain = 1)
    assert(dropped === Seq(1))
    assert(Snapshots.readBranch(spark, root, "wip", Some(1)).count() === 1)
    // retire the ref: vacuum now reclaims the staged + shielded dirs
    Snapshots.dropBranch(spark, root, "wip")
    val reclaimed = Snapshots.vacuum(spark, root, olderThanMs = 0L)
    assert(reclaimed.contains(s"v_$stagedV"))
    assert(reclaimed.contains("v_1"))
    assert(Snapshots.branches(spark, root).isEmpty)
  }

  test("q_table_timetravel emits both versions with snapshot_ok true") {
    val rows = SparkEntry.queries("q_table_timetravel")(spark, sf)
      .collect()
    assert(rows.length === 2)
    assert(rows.map(_.getAs[Long]("version")).toSeq === Seq(1L, 2L))
    assert(rows.forall(_.getAs[Boolean]("snapshot_ok")))
    // v2 has the inserts on top of v1's row count
    assert(rows(1).getAs[Long]("n_rows") > rows(0).getAs[Long]("n_rows"))
  }

  test("graft_branch and graft_table_changes TVFs resolve ref-scoped state in SQL") {
    val root = freshRoot("snap_tvf_branch")
    Snapshots.create(spark, root, Seq((1L, 10), (2L, 20)).toDF("k", "v"))
    Snapshots.createBranch(spark, root, "audit")
    Snapshots.commitToBranch(spark, root, "audit",
      Seq((1L, 11), (2L, 20), (3L, 30)).toDF("k", "v"))
    // branch TVF sees staged state; snapshot TVF still serves main
    val staged = spark.sql(
      s"SELECT k, v FROM graft_branch('$root', 'audit') ORDER BY k")
      .as[(Long, Int)].collect()
    assert(staged === Array((1L, 11), (2L, 20), (3L, 30)))
    val main = spark.sql(
      s"SELECT k, v FROM graft_snapshot('$root') ORDER BY k")
      .as[(Long, Int)].collect()
    assert(main === Array((1L, 10), (2L, 20)))
    // changes TVF: publish, then diff main v1 -> v2 in SQL
    Snapshots.fastForward(spark, root, "audit")
    val ch = spark.sql(
      s"""SELECT _change_type, count(*) AS n
         |FROM graft_table_changes('$root', 1, 2, 'k')
         |GROUP BY _change_type ORDER BY _change_type""".stripMargin)
      .as[(String, Long)].collect()
    assert(ch === Array(("insert", 1L), ("update_postimage", 1L),
      ("update_preimage", 1L)))
  }

  test("stats-driven join planning: readPrunedWhere estimates from surviving files and picks BHJ cold") {
    import graft.operators.Snapshots
    val root = freshRoot("snap_bhj")
    // incompressible-ish pad so parquet bytes track row count; 16
    // range files on k, stats registered at create — no ANALYZE ever
    val base = spark.range(1, 40001).select(col("id").as("k"),
        expr("concat(md5(cast(id as string)), md5(cast(id*7 as string)), " +
          "md5(cast(id*13 as string)), md5(cast(id*29 as string)))").as("pad"))
      .repartitionByRange(16, col("k")).sortWithinPartitions("k")
    Snapshots.create(spark, root, base, statsCols = Seq("k"))
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "1MB",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "1MB")
    val prev = confs.map { case (c, _) => c -> spark.conf.getOption(c) }
    confs.foreach { case (c, v) => spark.conf.set(c, v) }
    try {
      val full = Snapshots.read(spark, root)
        .select(col("k"), col("pad").as("pad_r"))
      val pred = col("k") >= 100 && col("k") <= 1200 // ~1 of 16 files
      // construction-time predicate: the relation estimate is the
      // SURVIVING files' bytes (from the txn-log stats — no scan)
      val prunedWhere = Snapshots.readPrunedWhere(spark, root, pred)
      val est = prunedWhere.queryExecution.optimizedPlan.stats.sizeInBytes
      val fullEst = full.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(est < BigInt(1024 * 1024) && fullEst > BigInt(1024 * 1024),
        s"estimates not separated by the threshold: pruned $est, full $fullEst")
      val bhjPlan = prunedWhere.join(full, "k")
        .queryExecution.executedPlan.toString
      assert(bhjPlan.contains("BroadcastHashJoin"),
        s"stats-sized pruned read did not broadcast:\n${bhjPlan.take(2000)}")
      // the same predicate as a POST-HOC filter keeps the full-table
      // estimate (size-only stats pass Filter through) → no broadcast
      val filteredPlan = Snapshots.readPruned(spark, root).filter(pred)
        .join(full, "k").queryExecution.executedPlan.toString
      assert(!filteredPlan.contains("BroadcastHashJoin"),
        "control join unexpectedly broadcast — threshold too high for the fixture")
      // row-exactness: both formulations agree
      val a = prunedWhere.join(full, "k").agg(count(lit(1)), sum("k"))
        .head.toSeq
      val b = Snapshots.readPruned(spark, root).filter(pred).join(full, "k")
        .agg(count(lit(1)), sum("k")).head.toSeq
      assert(a === b)
    } finally prev.foreach { case (c, vOpt) =>
      vOpt.fold(spark.conf.unset(c))(spark.conf.set(c, _))
    }
  }

  test("two threads committing to one table: each round ends with both updates visible or one Commit.Conflict") {
    val root = freshRoot("snap_cas")
    Snapshots.create(spark, root, Seq((0L, 0)).toDF("k", "v"))
    (1 to 4).foreach { round =>
      val start = new java.util.concurrent.CountDownLatch(1)
      val results = Seq(1L, 2L).map { k =>
        val key = round * 10L + k
        InFlight.inFlight {
          start.await()
          try Right(Snapshots.commitMerge(spark, root, Seq((key, round)).toDF("k", "v"), "k"))
          catch { case e: Exception => Left(e) }
        } -> key
      }
      start.countDown()
      val outcomes = results.map { case (f, key) => (InFlight.await(f), key) }
      val landed = outcomes.collect { case (Right(v), key) => (v, key) }
      val failed = outcomes.collect { case (Left(e), _) => e }
      failed.foreach(e => assert(e.isInstanceOf[graft.operators.Commit.Conflict],
        s"round $round: a lost race must be a Commit.Conflict: $e"))
      assert(failed.size <= 1, s"round $round: both commits failed: $failed")
      // every commit that returned is in the head's history and visible
      val head = Snapshots.read(spark, root).select("k").as[Long].collect().toSet
      landed.foreach { case (v, key) =>
        assert(Snapshots.versions(spark, root).contains(v),
          s"round $round: v$v returned but dropped from history")
        assert(head.contains(key), s"round $round: key $key committed but not visible")
      }
    }
  }
}
