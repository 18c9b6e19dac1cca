package graft

import graft.operators.{IndexEpoch, IvfIndex, TextIndex}
import org.apache.spark.sql.functions._

/** Two-index transactional epoch: pinned reads don't move under
  * post-pin maintenance, the flip is CAS'd, and a crash between index
  * commits leaves the epoch (and therefore every epoch reader) at the
  * previous consistent pair.
  */
class IndexEpochSpec extends SparkSuite {
  import spark.implicits._

  test("pinned reads are frozen: appends and deletes after the pin are invisible, including same-seq deletes") {
    val docs = Seq((1L, "alpha vector"), (2L, "beta vector"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val emb = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)), (3L, Array(1f, 1f)))
      .toDF("doc_id", "embedding")
    val tidx = Tables.scratch("epoch_spec_tidx")
    val vidx = Tables.scratch("epoch_spec_vidx")
    TextIndex.buildIndex(docs, "doc_id", "text", tidx)
    IvfIndex.buildIndex(emb, "doc_id", "embedding", nCentroids = 2, path = vidx)
    val tPin = TextIndex.exportManifest(spark, tidx)
    val vPin = IvfIndex.exportPin(spark, vidx)
    // post-pin maintenance: doc 2 deleted (a SAME-SEQ tombstone — the
    // case file-list pinning exists for), doc 4 appended
    TextIndex.deleteDocs(Seq(2L).toDF("doc_id"), "doc_id", tidx)
    TextIndex.appendDocs(Seq((4L, "delta vector")).toDF("doc_id", "text"),
      "doc_id", "text", tidx)
    IvfIndex.deleteFromIndex(Seq(2L).toDF("doc_id"), "doc_id", vidx)
    IvfIndex.appendToIndex(Seq((4L, Array(0.5f, 0.5f))).toDF("doc_id", "embedding"),
      "doc_id", "embedding", vidx)
    // pinned text read: docs 1 AND 2 serve (the post-pin delete does
    // not reach back), doc 4 invisible
    val pinnedDocs = TextIndex.searchAllAsOf(spark, tidx, Seq("vector"), tPin)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(pinnedDocs === Seq(1L, 2L),
      s"pinned text read moved under post-pin maintenance: $pinnedDocs")
    // live read sees the mutation
    val liveDocs = TextIndex.searchAll(spark, tidx, Seq("vector"))
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(liveDocs === Seq(1L, 4L), s"$liveDocs")
    // pinned vector read: rows 1,2,3 — post-pin delete and append both
    // invisible
    val pinnedIds = IvfIndex.loadLiveAsOf(spark, vidx, "doc_id", vPin)._1
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(pinnedIds === Seq(1L, 2L, 3L),
      s"pinned vector read moved under post-pin maintenance: $pinnedIds")
    val liveIds = IvfIndex.loadLive(spark, vidx, "doc_id")._1
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(liveIds === Seq(1L, 3L, 4L), s"$liveIds")
  }

  test("ENFORCED retention: compaction/vacuum on BOTH indexes leaves a registered pin bit-for-bit; expiring the epoch reclaims") {
    val docs = Seq((1L, "alpha vector"), (2L, "beta vector"), (3L, "gamma"),
      (5L, "old vector")).toDF("doc_id", "text")
    val emb = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(1f, 1f)), (5L, Array(0.9f, 0.1f))).toDF("doc_id", "embedding")
    val tidx = Tables.scratch("epoch_ret_tidx")
    val vidx = Tables.scratch("epoch_ret_vidx")
    val root = Tables.scratch("epoch_ret_root")
    TextIndex.buildIndex(docs, "doc_id", "text", tidx)
    IvfIndex.buildIndex(emb, "doc_id", "embedding", nCentroids = 2, path = vidx)
    // PRE-pin delete of doc 5: the pin must list its tombstone FILES —
    // that list is exactly what compaction's tombstone clear must keep
    TextIndex.deleteDocs(Seq(5L).toDF("doc_id"), "doc_id", tidx)
    IvfIndex.deleteFromIndex(Seq(5L).toDF("doc_id"), "doc_id", vidx)
    val tPin = TextIndex.exportManifest(spark, tidx)
    val vPin = IvfIndex.exportPin(spark, vidx)
    assert(tPin.exists(_.startsWith("tombfile:")) &&
      vPin.exists(_.startsWith("tombfile:")))
    IndexEpoch.publish(spark, root, tPin, vPin)
    spark.conf.set("graft.epoch.roots", root)
    try {
      def pinnedText() = TextIndex.searchAllAsOf(spark, tidx, Seq("vector"), tPin)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("total_tf")))
        .sorted.toSeq
      def pinnedVec() = IvfIndex.loadLiveAsOf(spark, vidx, "doc_id", vPin)._1
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[scala.collection.Seq[Float]]("embedding").toSeq)).sortBy(_._1)
      val t0 = pinnedText()
      val v0 = pinnedVec()
      assert(t0.map(_._1) === Seq(1L, 2L) && v0.map(_._1) === Seq(1L, 2L, 3L))
      // POST-pin mutations, then LAYOUT maintenance on both indexes —
      // the operations that physically retire rows/generations
      TextIndex.deleteDocs(Seq(2L).toDF("doc_id"), "doc_id", tidx)
      TextIndex.appendDocs(Seq((4L, "delta vector")).toDF("doc_id", "text"),
        "doc_id", "text", tidx)
      IvfIndex.deleteFromIndex(Seq(2L).toDF("doc_id"), "doc_id", vidx)
      IvfIndex.appendToIndex(
        Seq((4L, Array(0.5f, 0.5f))).toDF("doc_id", "embedding"),
        "doc_id", "embedding", vidx)
      TextIndex.compactIndex(spark, tidx)
      TextIndex.compactIndex(spark, tidx) // 2nd: sweeps past the spare
      TextIndex.vacuumIndex(spark, tidx, olderThanMs = 0L)
      IvfIndex.compactLists(spark, vidx, "doc_id")
      IvfIndex.vacuumIndex(spark, vidx, olderThanMs = 0L)
      // the pinned pair serves BIT-FOR-BIT what it served before any
      // layout maintenance ran
      assert(pinnedText() === t0,
        "pinned text read moved under compaction (retention broke)")
      assert(pinnedVec() === v0,
        "pinned vector read moved under compaction (retention broke)")
      // live reads reflect the mutations and the fold
      assert(TextIndex.searchAll(spark, tidx, Seq("vector"))
        .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq === Seq(1L, 4L))
      assert(IvfIndex.loadLive(spark, vidx, "doc_id")._1
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
        Seq(1L, 3L, 4L))
      // ── release: drop the epoch, re-run maintenance → reclaimed ──
      val dropped = IndexEpoch.expire(spark, root,
        keepFrom = IndexEpoch.current(spark, root).get._1 + 1)
      assert(dropped.nonEmpty && IndexEpoch.current(spark, root).isEmpty)
      IvfIndex.compactLists(spark, vidx, "doc_id")
      // doc 2's rows are now PHYSICALLY gone from the vector store and
      // the tombstone sidecar cleared
      val rawIds = spark.read.parquet(IvfIndex.listsDir(spark, vidx))
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(rawIds === Seq(1L, 3L, 4L),
        s"expired pin's rows not reclaimed: $rawIds")
      val fs = new org.apache.hadoop.fs.Path(vidx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$vidx/_tombstones")))
      // text: compaction + vacuum now retire the pinned generation
      TextIndex.compactIndex(spark, tidx)
      TextIndex.vacuumIndex(spark, tidx, olderThanMs = 0L)
      val gens = fs.listStatus(new org.apache.hadoop.fs.Path(tidx))
        .map(_.getPath.getName).filter(_.startsWith("_postings_g"))
        .map(_.stripPrefix("_postings_g").toInt).sorted.toSeq
      assert(!gens.contains(0),
        s"expired pin's postings generation not reclaimed: $gens")
    } finally spark.conf.unset("graft.epoch.roots")
  }

  test("ENFORCED retention under REBALANCE: the pinned centroid generation scopes the read — no double-held rows, no lost lists") {
    // one clearly hot list: 10 points clustered near (1, 0), 2 near
    // (0, 1); maxListFactor 1.2 makes the big list split
    val emb = ((0 until 10).map(i => (i.toLong, Array(1f, i * 0.01f))) ++
      Seq((20L, Array(0f, 1f)), (21L, Array(0.01f, 1f))))
      .toDF("doc_id", "embedding")
    val vidx = Tables.scratch("epoch_ret_reb_vidx")
    val root = Tables.scratch("epoch_ret_reb_root")
    IvfIndex.buildIndex(emb, "doc_id", "embedding", nCentroids = 2, path = vidx)
    val vPin = IvfIndex.exportPin(spark, vidx)
    assert(vPin.exists(_.startsWith("cgen=")))
    IndexEpoch.publish(spark, root, Seq("fmt=5", "seq=0", "n_buckets=8",
      "n_docs=0", "sum_dl=0", "n_tombs=0", "postings=0", "term_stats=0",
      "doc_stats=0"), vPin)
    spark.conf.set("graft.epoch.roots", root)
    try {
      def pinnedIds() = IvfIndex.loadLiveAsOf(spark, vidx, "doc_id", vPin)._1
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val ids0 = pinnedIds()
      assert(ids0 === (0L until 10L) ++ Seq(20L, 21L))
      val split = IvfIndex.rebalanceIndex(spark, vidx, "doc_id", "embedding",
        maxListFactor = 1.2)
      assert(split.nonEmpty, "fixture should have produced a hot list")
      // the pinned read resolves the PINNED centroid generation: moved
      // rows (retired dir + new sub-lists) are read exactly once
      assert(pinnedIds() === ids0,
        "pinned read double-counted or lost rows across a rebalance")
      // vacuum must keep the pinned generation's (retired) lists
      IvfIndex.vacuumIndex(spark, vidx, olderThanMs = 0L)
      assert(pinnedIds() === ids0,
        "vacuum reclaimed lists a live pin still references")
      // drop the epoch → vacuum reclaims the retired lists
      IndexEpoch.expire(spark, root,
        keepFrom = IndexEpoch.current(spark, root).get._1 + 1)
      val reclaimed = IvfIndex.vacuumIndex(spark, vidx, olderThanMs = 0L)
      assert(reclaimed.nonEmpty,
        "expired pin's retired lists should have been reclaimed")
      // live reads are untouched throughout
      assert(IvfIndex.loadLive(spark, vidx, "doc_id")._1
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === ids0)
    } finally spark.conf.unset("graft.epoch.roots")
  }

  test("epoch flip is one CAS: a stale publisher loses; the crash window leaves the previous epoch served") {
    val root = Tables.scratch("epoch_spec_cas")
    assert(IndexEpoch.current(spark, root).isEmpty)
    val e1 = IndexEpoch.publish(spark, root, Seq("fmt=5", "seq=0"), Seq("seq=0"))
    assert(e1 === 1)
    // crash window: index commits may be durable, but until the next
    // publish lands every reader resolves epoch 1 — the previous
    // consistent pair
    assert(IndexEpoch.current(spark, root)
      .contains((1, Seq("fmt=5", "seq=0"), Seq("seq=0"))))
    val e2 = IndexEpoch.publish(spark, root, Seq("fmt=5", "seq=2"), Seq("seq=1"))
    assert(e2 === 2)
    // a publisher that derived its state from epoch 1 (stale) must
    // lose the CAS, not silently overwrite epoch 2
    val thrown = intercept[java.io.IOException] {
      graft.operators.Commit.publish(GraftSession.fsOf(spark, root), root,
        graft.operators.Commit.Manifest, Seq("t:stale"), expectedNext = Some(2))
    }
    assert(thrown.getMessage.contains("conflict"))
    // the winner's epoch is intact
    assert(IndexEpoch.current(spark, root)
      .contains((2, Seq("fmt=5", "seq=2"), Seq("seq=1"))))
  }

  test("a DANGLING pin (dead incarnation's tombstone files) is a no-op for IVF compaction, not an abort") {
    // the livePins over-retention contract: a registered epoch can
    // outlive its index INCARNATION — a rebuild clears the tombstone
    // sidecar while the old epoch still names its files. Layout
    // maintenance must treat the dangling names as absent (retain
    // nothing for them) instead of aborting on the missing read —
    // the round-19 bench caught exactly this: every warm-up pass left
    // a stale epoch and the timed q_hybrid_asof run's compactLists
    // died on PATH_NOT_FOUND.
    val emb = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(1f, 1f)), (4L, Array(0.2f, 0.8f)))
      .toDF("doc_id", "embedding")
    val vidx = Tables.scratch("epoch_dangling_vidx")
    val root = Tables.scratch("epoch_dangling_root")
    // incarnation 1: build, delete (tombstone file F), pin F, publish
    IvfIndex.buildIndex(emb, "doc_id", "embedding", nCentroids = 2, path = vidx)
    IvfIndex.deleteFromIndex(Seq(2L).toDF("doc_id"), "doc_id", vidx)
    IndexEpoch.publish(spark, root,
      Seq("fmt=5"), IvfIndex.exportPin(spark, vidx))
    // incarnation 2: REBUILD at the same path — clears the sidecar, so
    // the epoch's tombfile names now dangle — then a fresh delete
    IvfIndex.buildIndex(emb, "doc_id", "embedding", nCentroids = 2, path = vidx)
    IvfIndex.deleteFromIndex(Seq(3L).toDF("doc_id"), "doc_id", vidx)
    IndexEpoch.withRegisteredRoot(spark, root) {
      // must complete (not throw PATH_NOT_FOUND) and fold the LIVE
      // tombstone physically
      IvfIndex.compactLists(spark, vidx, "doc_id")
    }
    val liveIds = IvfIndex.loadLive(spark, vidx, "doc_id")._1
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(liveIds === Seq(1L, 2L, 4L), s"post-compaction live rows: $liveIds")
  }

  test("withRegisteredRoot appends to pre-registered deployment roots and restores on exit — including absence") {
    spark.conf.set("graft.epoch.roots", "/deploy/stackA")
    try {
      IndexEpoch.withRegisteredRoot(spark, "/scoped/r1") {
        // a scoped registration must not un-register the deployment's
        // stacks (clobbering would let concurrent maintenance reclaim
        // their pinned generations mid-query)
        assert(spark.conf.get("graft.epoch.roots") ===
          "/deploy/stackA,/scoped/r1")
      }
      assert(spark.conf.get("graft.epoch.roots") === "/deploy/stackA")
    } finally spark.conf.unset("graft.epoch.roots")
    IndexEpoch.withRegisteredRoot(spark, "/scoped/r2") {
      assert(spark.conf.get("graft.epoch.roots") === "/scoped/r2")
    }
    assert(spark.conf.getOption("graft.epoch.roots").isEmpty)
  }
}
