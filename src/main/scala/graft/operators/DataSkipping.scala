package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, PredicateHelper, XxHash64}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** File-level min/max data skipping over a parquet table — the
  * statistics half of the metadata pruning the reference's declared
  * ecosystem gets from Iceberg manifests / Delta transaction logs
  * (reference `README.md:75-88`): each data file carries per-column
  * min/max bounds in a tiny side index, and a range-predicate read
  * resolves ONLY the files whose interval overlaps the predicate —
  * the others cost zero I/O, zero listing, zero scan tasks.
  *
  * This is distinct from (and composes with) partition pruning:
  * partitioning prunes on the one coarse dir key; file skipping prunes
  * on any indexed column, and pays off exactly when the write layout
  * clusters that column (sorted/range-partitioned/Z-ordered writes —
  * see `Partitioning.zorderWrite`). At 100 TB a one-day predicate over
  * a date-sorted fact table touches O(day) files instead of O(table),
  * which is the difference between an interactive query and a full
  * scan; the index itself is O(files × cols) — metadata-sized, read on
  * the driver like Iceberg's manifest files.
  *
  * Building the index costs NO data scan for exact-footer column
  * types (int/long/date): bounds come straight off the files' parquet
  * footers ([[footerStats]] — what Iceberg's write path does), and
  * only binary/float columns or bloom requests fall back to the one
  * aggregate job grouped by `_metadata.file_path`. The skip decision
  * keeps correctness out of the index's hands either way: the
  * residual predicate is always re-applied to the surviving files, so
  * bounds only ever REDUCE I/O, exactly Parquet's own row-group-stats
  * contract one level up.
  */
object DataSkipping {
  private val IndexDir = "_skip_index"

  /** Probe count for the per-file equality blooms (7 probes ≈ optimal
    * for the default sizing of ~8 bits per element). Persisted with the
    * index (`bloom_k`) together with [[BloomFmt]], so a probe-side
    * binary never hashes against an index built under different
    * parameters: mismatched probing is a silent false negative — a
    * wrongly skipped file — and the version row turns it into a
    * harmless "ignore the bloom, keep the file".
    */
  private val BloomK = 7

  /** Bloom encoding version: 1 = xxhash64(seed 42) of the column value,
    * SplitMix64 double hashing ([[graft.functions.GraftHash.bloomSet]]),
    * one long-array per file. Bump on ANY change to hashing or layout;
    * [[loadBounds]] drops blooms whose recorded version it does not
    * recognize (bounds still apply — they carry no format risk).
    */
  private val BloomFmt = 1

  /** Build (or rebuild) the skip index for `cols` over the parquet
    * table at `tableDir`. One aggregation job: per-file min, max, and
    * row count for every indexed column — plus, for each column in
    * `bloomCols`, a per-file Bloom filter over `xxhash64(value)` for
    * EQUALITY skipping. Min/max bounds prune ranges only when the
    * write layout clusters the column; a uuid-shaped key (every file's
    * bounds span the whole domain) never prunes by bounds, but its
    * bloom rules out all-but-the-matching files for an `=` or `IN`
    * probe regardless of layout — Parquet's own optional bloom
    * filters / Delta's bloom index, one level up. The index stays
    * metadata-sized: `bloomWords`×8 bytes per file per bloom column
    * (default 8 KiB).
    */
  def buildIndex(spark: SparkSession, tableDir: String, cols: Seq[String],
      bloomCols: Seq[String] = Nil, bloomWords: Int = 1024): Unit =
    writeIndexSidecar(spark,
      fileStats(spark, tableDir, cols, bloomCols, bloomWords),
      s"$tableDir/$IndexDir")

  /** Persist the stats frame as the side index. TIMESTAMP bounds force
    * an INT64-micros parquet encoding: Spark's session default (INT96)
    * writes a physical type the zero-job driver probe
    * ([[readIndexDriver]]) cannot read as the internal micros form —
    * the write goes through a conf-isolated `newSession` (same
    * SparkContext, own SQLConf) so no concurrent writer's session
    * state is touched, and the index rows pass through the driver
    * (O(files) — the sidecar is metadata-sized by contract).
    */
  private def writeIndexSidecar(spark: SparkSession, stats: DataFrame,
      indexPath: String): Unit = {
    import org.apache.spark.sql.types.TimestampType
    if (!stats.schema.exists(_.dataType == TimestampType))
      stats.coalesce(1).write.mode("overwrite").parquet(indexPath)
    else {
      val rows = stats.collect()
      val w = spark.newSession()
      w.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      w.createDataFrame(java.util.Arrays.asList(rows: _*), stats.schema)
        .coalesce(1).write.mode("overwrite").parquet(indexPath)
    }
  }

  /** Per-file bounds read straight from parquet FOOTERS — the build
    * path that makes stats collection itself metadata-priced (the
    * `IvfIndex.listSizesBound` discipline applied to the skip index,
    * and what Iceberg's write path does: bounds come from the files'
    * own metadata, no data is re-read). Restricted to the types whose
    * footer statistics are EXACT and bit-identical to an aggregate
    * `min`/`max` job: int / long / date (binary bounds may be
    * truncated by the writer; float/double stats disagree with
    * Spark's NaN-is-largest ordering) — anything else, or any chunk
    * written without statistics, returns None and the caller falls
    * back to the aggregate job. Driver-side footer reads fan out over
    * a bounded thread pool (the Iceberg manifest-scan discipline:
    * footer reads are independent metadata I/O, and serializing them
    * on the driver turns a 10^5-file build into 10^5 sequential
    * round-trips); results keep listing order, so the built index is
    * byte-identical at any `parallelism`, including 1.
    */
  private[graft] def footerStats(spark: SparkSession, dataDir: String,
      cols: Seq[String], parallelism: Int = 16): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dir = new Path(dataDir)
    val conf = spark.sessionState.newHadoopConf()
    val fsys = dir.getFileSystem(conf)
    val files = fsys.listStatus(dir).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    if (files.isEmpty) return None
    // schema from the first footer via Spark's own converter — a
    // spark.read inference here would launch a footer-reading job,
    // making the "zero data scan" build pay cluster latency anyway
    val schema: StructType = {
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(files.head, conf))
      try new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(rd.getFooter.getFileMetaData.getSchema)
      finally rd.close()
    }
    val types = cols.map(c => schema.find(_.name == c).map(_.dataType))
    // exact-footer types: integer families, dates, and MICROS-unit
    // timestamps (footer int64 == internal micros; MILLIS/NANOS units
    // would need conversion and nanos tables read as LongType anyway)
    val exactTypes: Set[DataType] =
      Set(IntegerType, LongType, DateType, TimestampType, TimestampNTZType)
    if (!types.forall(_.exists(exactTypes.contains))) return None
    def microsUnitOk(pt: org.apache.parquet.schema.PrimitiveType): Boolean =
      pt.getLogicalTypeAnnotation match {
        case ts: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          ts.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS
        case _ => true
      }
    def cmpMin(a: Any, b: Any): Any =
      if (a == null) b
      else if (a.asInstanceOf[Comparable[Any]].compareTo(b) <= 0) a else b
    def cmpMax(a: Any, b: Any): Any =
      if (a == null) b
      else if (a.asInstanceOf[Comparable[Any]].compareTo(b) >= 0) a else b
    // footer values ARE the Catalyst-internal forms for these types
    // (days int, micros long, int, long) — externalize via Spark's own
    // converter so the frame is bit-identical to the aggregate job's
    def toExternal(v: Any, t: DataType): Any =
      org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala(v, t)
    // one file's footer → Some(index row), or None when any chunk
    // lacks exact stats (the whole build then falls back to the
    // aggregate job — per-file mixing would silently under-index)
    def oneFile(st: org.apache.hadoop.fs.FileStatus)
        : Option[org.apache.spark.sql.Row] = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        var nRows = 0L
        val mins = Array.fill[Any](cols.size)(null)
        val maxs = Array.fill[Any](cols.size)(null)
        for (b <- blocks) {
          nRows += b.getRowCount
          for ((c, i) <- cols.zipWithIndex) {
            val cc = b.getColumns.asScala.find(_.getPath.toDotString == c)
              .getOrElse(return None)
            // physical type must be the plain integer form the spark
            // type maps to — an INT96-written timestamp (Spark's
            // session default) has converter-ignored footer stats and
            // a non-micros layout, so it takes the aggregate job path
            val prim = cc.getPrimitiveType.getPrimitiveTypeName
            if (prim != org.apache.parquet.schema.PrimitiveType
                  .PrimitiveTypeName.INT32 &&
                prim != org.apache.parquet.schema.PrimitiveType
                  .PrimitiveTypeName.INT64) return None
            if (!microsUnitOk(cc.getPrimitiveType)) return None
            val stt = cc.getStatistics
            if (stt == null || stt.isEmpty) return None
            if (stt.hasNonNullValue) {
              mins(i) = cmpMin(mins(i), stt.genericGetMin)
              maxs(i) = cmpMax(maxs(i), stt.genericGetMax)
            }
          }
        }
        val vals: Seq[Any] = st.getPath.toString +:
          cols.zipWithIndex.flatMap { case (c, i) =>
            val t = types(i).get
            Seq(toExternal(mins(i), t), toExternal(maxs(i), t))
          } :+ nRows
        Some(org.apache.spark.sql.Row(vals: _*))
      } finally reader.close()
    }
    // bounded fan-out, order-preserving: submit all, await in listing
    // order. Footer reads are independent; any unsupported file fails
    // the whole build over to the aggregate job exactly as before.
    val nThreads = math.max(1, math.min(parallelism, files.length))
    val perFile: Seq[Option[org.apache.spark.sql.Row]] =
      if (nThreads <= 1) files.toSeq.map(oneFile)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
        try {
          val futs = files.toSeq.map { st =>
            pool.submit(new java.util.concurrent.Callable[Option[org.apache.spark.sql.Row]] {
              override def call(): Option[org.apache.spark.sql.Row] = oneFile(st)
            })
          }
          try futs.map(_.get())
          catch {
            // surface the worker's own exception (the serial path's
            // contract — callers match on IOException, not the pool
            // wrapper) and cancel the outstanding footer reads: a
            // plain shutdown() would let every queued task run to
            // completion after the build has already failed
            case e: java.util.concurrent.ExecutionException =>
              pool.shutdownNow()
              throw Option(e.getCause).getOrElse(e)
          }
        } finally pool.shutdown()
      }
    if (perFile.exists(_.isEmpty)) return None
    val rows = perFile.flatten
    val outSchema = StructType(
      StructField("file_path", StringType) +:
        cols.zipWithIndex.flatMap { case (c, i) =>
          Seq(StructField(s"min_$c", types(i).get),
            StructField(s"max_$c", types(i).get))
        } :+ StructField("n_rows", LongType))
    Some(spark.createDataFrame(rows.asJava, outSchema))
  }

  /** The per-file stats frame itself — (file_path, min_X/max_X per
    * col, [bloom_X per bloom col,] n_rows), one aggregation job over
    * `_metadata.file_path` — for callers that store it in their own
    * log (see [[scanWithIndex]]). Bloom columns must also be bounds
    * columns: the bounds row carries the column's type, which the
    * probe side needs to hash literals consistently.
    */
  def fileStats(spark: SparkSession, dataDir: String, cols: Seq[String],
      bloomCols: Seq[String] = Nil, bloomWords: Int = 1024): DataFrame = {
    require(cols.nonEmpty, "need at least one column to index")
    require(bloomCols.forall(cols.contains),
      s"bloom columns must be indexed columns too: ${bloomCols.diff(cols)}")
    // bounds-only builds over exact-footer types skip the data scan
    // entirely (footerStats — blooms need the values, so any bloom
    // column forces the aggregate job)
    if (bloomCols.isEmpty) footerStats(spark, dataDir, cols) match {
      case Some(df) => return df
      case None => ()
    }
    // the index row carries bloom_fmt/bloom_k metadata columns; a bloom
    // over a data column literally named "fmt" or "k" would emit the
    // same names (duplicate-column parquet write, misclassified bounds)
    require(!bloomCols.exists(c => c == "fmt" || c == "k"),
      "bloom columns named 'fmt' or 'k' collide with the index's " +
        "bloom_fmt/bloom_k metadata columns; rename the column or index it " +
        "bounds-only")
    val bloomUdaf = udaf(new graft.functions.Aggregators.BloomAgg(bloomWords, BloomK),
      org.apache.spark.sql.Encoders.scalaLong)
    val aggs = cols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))
    } ++ bloomCols.map { c =>
      bloomUdaf(xxhash64(col(c))).as(s"bloom_$c")
    } ++ (if (bloomCols.isEmpty) Nil
          else Seq(lit(BloomFmt).as("bloom_fmt"), lit(BloomK).as("bloom_k"))) :+
      count(lit(1)).as("n_rows")
    spark.read.parquet(dataDir)
      .groupBy(col("_metadata.file_path").as("file_path"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The index as a DataFrame (file_path, min_X/max_X per indexed
    * column, n_rows) — the `files` metadata-table analog. */
  def index(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.parquet(s"$tableDir/$IndexDir")

  /** Files the index can RULE OUT for `column` vs [lo, hi] — the skip
    * decision, evaluated ENTIRELY on the driver over the metadata-sized
    * sidecar ([[readIndexDriver]] — like Iceberg's manifest scan, zero
    * Spark jobs; see the driver-ceiling note on readRange). Files with
    * a NULL bound (all-null column chunk) are kept: bounds may only
    * prove absence, never presence.
    */
  private def skippableFiles(spark: SparkSession, tableDir: String,
      column: String, lo: Any, hi: Any): Set[String] = {
    val (sch, rows) = readIndexDriver(spark, s"$tableDir/$IndexDir")
    val dt = sch(sch.fieldIndex(s"min_$column")).dataType
    val ord = org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)
    // caller literals coerce to the column's type exactly as the old
    // Column-expression comparison did — WITH the session timezone,
    // which a string-vs-timestamp coercion needs (a zone-less Cast
    // throws at eval for timezone-aware conversions)
    def internal(v: Any): Any =
      org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal(v), dt,
        Some(spark.sessionState.conf.sessionLocalTimeZone))
        .eval(InternalRow.empty)
    val (loI, hiI) = (internal(lo), internal(hi))
    val (pathIdx, mnIdx, mxIdx) = (sch.fieldIndex("file_path"),
      sch.fieldIndex(s"min_$column"), sch.fieldIndex(s"max_$column"))
    rows.flatMap { r =>
      val (mn, mx) = (r(mnIdx), r(mxIdx))
      if (mn != null && mx != null && (ord.lt(mx, loI) || ord.gt(mn, hiI)))
        Some(normalize(r(pathIdx).toString))
      else None
    }.toSet
  }

  private def normalize(path: String): String = new Path(path).toString

  /** Top-level listing of a table dir: (data files, whether non-hidden
    * SUBDIRECTORIES exist). The zero-job flat fast paths are valid only
    * when files exist and no subdirectory does — a partitioned/nested
    * table lists empty (or mixed) at the top level, and treating that
    * listing as the live set would silently drop every nested data
    * file; such layouts fall back to the recursive `spark.read`
    * resolution instead.
    */
  private def topLevel(spark: SparkSession, tableDir: String)
      : (Seq[org.apache.hadoop.fs.FileStatus], Boolean) = {
    val tdir = new Path(tableDir)
    val tfs = graft.GraftSession.fsOf(spark, tableDir)
    val entries = tfs.listStatus(tdir).filter { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    (entries.filter(_.isFile).toSeq, entries.exists(_.isDirectory))
  }

  /** Read `tableDir` restricted to rows with `column` in [lo, hi],
    * scanning only the files the index cannot rule out. The index is
    * authoritative ONLY for skipping, never for membership: the live
    * table listing is the source of truth, and a data file the index
    * has never seen (appended or compacted after `buildIndex`) is
    * always scanned — stale bounds can only cost I/O, never rows. The
    * residual between-filter is re-applied, so the result is exact
    * whatever the file layout; the file-set reduction is observable via
    * `df.inputFiles`. Returns an empty (correctly-typed) frame when
    * every file is skipped.
    *
    * Driver ceiling: the surviving-path Seq and the index collect are
    * O(files) driver-side — the Iceberg-manifest trade-off, fine to
    * O(10^5) files. Beyond that the index should back a custom
    * `FileIndex` so pruning stays inside the scan planner; at that
    * scale the table should also be partitioned, which bounds the
    * per-read listing to the partitions the query touches.
    */
  def readRange(spark: SparkSession, tableDir: String, column: String,
      lo: Any, hi: Any): DataFrame = {
    val skippable = skippableFiles(spark, tableDir, column, lo, hi)
    // flat-layout fast path: membership from one FS listing and the
    // schema from one driver footer read — the whole probe then plans
    // with zero Spark jobs before the (pruned) scan itself. Nested
    // layouts — including MIXED ones (top-level files next to
    // partition subdirectories) — fall back to the stock resolution:
    // the fast path must never treat a partial listing as the table.
    val conf = spark.sessionState.newHadoopConf()
    val (listing, nestedDirs) = topLevel(spark, tableDir)
    if (listing.nonEmpty && !nestedDirs) {
      val schema = {
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(listing.head, conf))
        try new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(spark.sessionState.conf)
          .convert(rd.getFooter.getFileMetaData.getSchema)
        finally rd.close()
      }
      val files = listing.map(_.getPath.toString).toSeq
        .filterNot(f => skippable.contains(normalize(f)))
      val base =
        if (files.isEmpty) spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
        else spark.read.schema(schema).parquet(files: _*)
      base.filter(col(column) >= lit(lo) && col(column) <= lit(hi))
    } else {
      val live = spark.read.parquet(tableDir)
      val files = live.inputFiles.toSeq.filterNot(f => skippable.contains(normalize(f)))
      val base =
        if (files.isEmpty) live.limit(0)
        // basePath re-derives partition-directory columns from the
        // surviving file paths — a bare file-list read would null them
        else spark.read.option("basePath", tableDir)
          .schema(live.schema).parquet(files: _*)
      base.filter(col(column) >= lit(lo) && col(column) <= lit(hi))
    }
  }

  /** Metadata-only aggregation: `count(*)` / `min` / `max` over the
    * indexed columns answered from the SIDE INDEX, scanning zero data
    * files for any file the index covers — Iceberg's metadata-only
    * query (`SELECT count(*) FROM t` served from manifest stats), one
    * level down. Exactness holds because the index's bounds are exact
    * by construction (an aggregation job over the data, or footer
    * statistics restricted to the types whose footer bounds are
    * bit-identical to that job): per-file `n_rows` sum to the exact count, and the
    * global min/max of exact per-file bounds is the exact global
    * bound (`min`/`max` ignore the NULL bounds an all-null chunk
    * writes, matching their row-level null semantics).
    *
    * Membership stays with the LIVE listing, in both directions:
    * index rows for files no longer present (deleted / compacted
    * away) are dropped, and files the index has never seen (appended
    * after `buildIndex`) are scanned and folded in — so the answer
    * equals a full recompute whatever has happened since the index
    * was built, and data I/O is proportional to the UN-indexed
    * fraction only. At 100 TB that is the difference between a
    * sub-second manifest read and a full table scan for every
    * `count(*)`-shaped probe. The path reconciliation is driver-side
    * O(files) — the ceiling the listing itself already pays.
    *
    * Returns one row: `n_rows` (long) plus `min_X`/`max_X` for every
    * indexed column in `cols`.
    */
  def statsOnly(spark: SparkSession, tableDir: String, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    require(cols.nonEmpty, "need at least one indexed column")
    // live membership from a plain FS listing when the layout is flat
    // (spark.read inference would cost a footer-reading job, and the
    // schema is not needed unless un-indexed files exist); a nested/
    // partitioned layout pays the recursive resolution instead —
    // treating its (empty or partial) top-level listing as the live
    // set would report n_rows=0 / NULL bounds for a populated table
    val (topFiles, nestedDirs) = topLevel(spark, tableDir)
    val liveFiles: Seq[String] =
      if (!nestedDirs) topFiles.map(_.getPath.toString)
      else spark.read.parquet(tableDir).inputFiles.toSeq
    val liveNorm = liveFiles.map(normalize).toSet
    val (sch, idxRows) = readIndexDriver(spark, s"$tableDir/$IndexDir")
    val pathIdx = sch.fieldIndex("file_path")
    val idxNorm = idxRows.map(r => normalize(r(pathIdx).toString)).toSet
    // index rows whose file is still live (deletions must not count)
    val liveIdx = idxRows.filter(r => liveNorm.contains(normalize(r(pathIdx).toString)))
    // live files the index has never seen — the only data files scanned
    val fresh = liveFiles.filterNot(f => idxNorm.contains(normalize(f)))

    val types = cols.map(c => sch(sch.fieldIndex(s"min_$c")).dataType)
    val ords = types.map(org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering)
    // driver fold over the index side (internal values; min/max ignore
    // nulls, NaN ordering = Spark's own via the interpreted ordering) —
    // with every live file covered this is the WHOLE answer: one
    // listing + one driver sidecar read, ZERO Spark jobs (Iceberg's
    // metadata-only count, including the metadata read itself)
    var nRows = liveIdx.map(r => r(sch.fieldIndex("n_rows")).asInstanceOf[Long]).sum
    val mins = Array.fill[Any](cols.size)(null)
    val maxs = Array.fill[Any](cols.size)(null)
    def fold(i: Int, mn: Any, mx: Any): Unit = {
      if (mn != null && (mins(i) == null || ords(i).lt(mn, mins(i)))) mins(i) = mn
      if (mx != null && (maxs(i) == null || ords(i).gt(mx, maxs(i)))) maxs(i) = mx
    }
    liveIdx.foreach { r =>
      cols.zipWithIndex.foreach { case (c, i) =>
        fold(i, r(sch.fieldIndex(s"min_$c")), r(sch.fieldIndex(s"max_$c")))
      }
    }
    if (fresh.nonEmpty) {
      // the un-indexed fraction pays the only data scan; its 1-row agg
      // folds into the driver-side totals in internal space
      val aggs = count(lit(1)).as("n_rows") +:
        cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
      val row = spark.read.option("basePath", tableDir)
        .parquet(fresh.toSeq: _*)
        .agg(aggs.head, aggs.tail: _*).head()
      nRows += row.getAs[Long]("n_rows")
      cols.zipWithIndex.foreach { case (c, i) =>
        def internal(name: String): Any = {
          val v = row.getAs[Any](name)
          if (v == null) null
          else org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.catalyst.expressions.Literal(v), types(i),
            Some(spark.sessionState.conf.sessionLocalTimeZone))
            .eval(InternalRow.empty)
        }
        fold(i, internal(s"min_$c"), internal(s"max_$c"))
      }
    }
    val outSchema = StructType(StructField("n_rows", LongType) +:
      cols.zipWithIndex.flatMap { case (c, i) =>
        Seq(StructField(s"min_$c", types(i)), StructField(s"max_$c", types(i)))
      })
    val external = cols.indices.flatMap { i =>
      Seq(org.apache.spark.sql.catalyst.CatalystTypeConverters
            .convertToScala(mins(i), types(i)),
          org.apache.spark.sql.catalyst.CatalystTypeConverters
            .convertToScala(maxs(i), types(i)))
    }
    spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row.fromSeq(nRows +: external)),
      outSchema)
  }

  /** The index parquet read ON THE DRIVER (parquet example reader over
    * the metadata-sized sidecar, no Spark job) — the manifest-read
    * discipline: Iceberg reads manifests on the coordinator, and a
    * skip-index PROBE should cost a listing plus a footer-sized file
    * read, never cluster-job latency. Returns (spark schema, one
    * Array[Any] of CATALYST-INTERNAL values per index row — days for
    * dates, UTF8String for strings, long[] for blooms).
    */
  private def readIndexDriver(spark: SparkSession, indexPath: String)
      : (StructType, Seq[Array[Any]]) = {
    import org.apache.spark.sql.types._
    val dir = new Path(indexPath)
    val conf = spark.sessionState.newHadoopConf()
    val fsys = dir.getFileSystem(conf)
    val files = fsys.listStatus(dir).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    require(files.nonEmpty, s"no skip index at $indexPath")
    // schema from the first file's own footer, converted by Spark's
    // parquet schema converter — NO spark.read inference (which costs
    // a footer-reading Spark job, defeating the zero-job contract)
    val sch: StructType = {
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(files.head, conf))
      try new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(rd.getFooter.getFileMetaData.getSchema)
      finally rd.close()
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
    for (st <- files) {
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), st.getPath)
        .withConf(conf).build()
      try {
        var g = reader.read()
        while (g != null) {
          val row = sch.fields.map { f =>
            if (!g.getType.containsField(f.name)) null
            else {
              val i = g.getType.getFieldIndex(f.name)
              if (g.getFieldRepetitionCount(i) == 0) null
              else f.dataType match {
                case IntegerType | DateType => g.getInteger(i, 0)
                // NTZ/LTZ timestamps in a Spark-written index are
                // int64 micros — exactly the internal form
                case LongType | TimestampType | TimestampNTZType => g.getLong(i, 0)
                case DoubleType => g.getDouble(i, 0)
                case FloatType => g.getFloat(i, 0)
                case BooleanType => g.getBoolean(i, 0)
                case StringType =>
                  org.apache.spark.unsafe.types.UTF8String
                    .fromBytes(g.getBinary(i, 0).getBytes)
                case ArrayType(LongType, _) =>
                  // Spark's 3-level list encoding: group { repeated
                  // group list { element } }
                  val lst = g.getGroup(i, 0)
                  val n = lst.getFieldRepetitionCount(0)
                  Array.tabulate(n)(j => lst.getGroup(0, j).getLong(0, 0))
                case other => throw new IllegalStateException(
                  s"unsupported skip-index column type $other for ${f.name}")
              }
            }
          }
          out += row.asInstanceOf[Array[Any]]
          g = reader.read()
        }
      } finally reader.close()
    }
    (sch, out.toSeq)
  }

  /** Per-file (min, max) bounds as Catalyst-internal values, keyed by
    * normalized path then column name, plus each indexed column's type.
    * Driver-side and O(files × cols) — the same order of driver memory
    * Spark's own InMemoryFileIndex already spends on the listing, so
    * the index adds no NEW ceiling — and ZERO Spark jobs
    * ([[readIndexDriver]]): probing the index is pure planning work.
    */
  private def loadBounds(spark: SparkSession, indexPath: String)
      : (Map[String, Map[String, (Any, Any)]], Map[String, DataType],
         Map[String, (Int, Map[String, Array[Long]])]) = {
    val (sch, rows) = readIndexDriver(spark, indexPath)
    val cols = sch.fields.collect {
      case f if f.name.startsWith("min_") => (f.name.stripPrefix("min_"), f.dataType)
    }.toSeq
    // `bloom_fmt`/`bloom_k` are format metadata, not bloom payloads
    val meta = Set("bloom_fmt", "bloom_k")
    val bloomCols = sch.fieldNames.collect {
      case n if n.startsWith("bloom_") && !meta(n) => n.stripPrefix("bloom_")
    }.toSeq
    val hasFmt = sch.fieldNames.contains("bloom_fmt") && sch.fieldNames.contains("bloom_k")
    val pathIdx = sch.fieldIndex("file_path")
    def pathOf(r: Array[Any]): String = normalize(r(pathIdx).toString)
    val byPath = rows.map { r =>
      val bounds = cols.map { case (c, dt) =>
        c -> (r(sch.fieldIndex(s"min_$c")), r(sch.fieldIndex(s"max_$c")))
      }.toMap
      pathOf(r) -> bounds
    }.toMap
    val bloomsByPath = rows.flatMap { r =>
      // an index with no recorded (fmt, k) — or an unrecognized fmt —
      // predates/postdates this binary's encoding: probing it risks
      // false negatives, so its blooms are ignored entirely
      val fmtV = if (hasFmt) r(sch.fieldIndex("bloom_fmt")) else null
      val kV = if (hasFmt) r(sch.fieldIndex("bloom_k")) else null
      if (fmtV == null || kV == null || fmtV.asInstanceOf[Int] != BloomFmt) None
      else {
        val blooms = bloomCols.flatMap { c =>
          Option(r(sch.fieldIndex(s"bloom_$c")))
            .map(v => c -> v.asInstanceOf[Array[Long]])
        }.toMap
        if (blooms.isEmpty) None
        else Some(pathOf(r) -> (kV.asInstanceOf[Int], blooms))
      }
    }.toMap
    (byPath, cols.toMap, bloomsByPath)
  }

  /** A [[FileIndex]] that applies the min/max side index INSIDE scan
    * planning: `listFiles` drops a file only when a pushed-down data
    * filter provably excludes its whole [min, max] interval — the
    * Iceberg-manifest integration point, but driven by the query's own
    * predicates, so ANY range/equality filter on an indexed column
    * prunes without a special read API. The live listing stays
    * authoritative for membership: a file the index has never seen is
    * always scanned, and only the 6 monotone comparison shapes
    * (attr {<,<=,>,>=,=} literal, either side) are consulted — anything
    * else is conservatively kept, so bounds can only reduce I/O, never
    * change answers.
    */
  private final class SkipIndexFileIndex(
      underlying: FileIndex,
      boundsByPath: Map[String, Map[String, (Any, Any)]],
      colTypes: Map[String, DataType],
      bloomsByPath: Map[String, (Int, Map[String, Array[Long]])],
      staticFilters: Seq[Expression] = Nil)
      extends FileIndex with PredicateHelper {

    // one xxhash64 evaluation per distinct (value, type) literal per
    // query, NOT per (file × literal): an InSet of 1000 values over
    // 10k indexed files would otherwise build and eval 10M interpreted
    // expressions inside planning
    private val litHashes =
      new java.util.concurrent.ConcurrentHashMap[(Any, DataType), java.lang.Long]
    private def litHash(v: Any, dt: DataType): Long =
      litHashes.computeIfAbsent((v, dt), _ =>
        XxHash64(Seq(Literal(v, dt)), 42L).eval(InternalRow.empty).asInstanceOf[Long])

    override def rootPaths: Seq[Path] = underlying.rootPaths
    override def inputFiles: Array[String] = underlying.inputFiles
    override def refresh(): Unit = underlying.refresh()

    /** With CONSTRUCTION-TIME `staticFilters`, the relation's size
      * estimate is the byte sum of the files the side index keeps —
      * computed from the listing + sidecar bounds only, no data file
      * opened. This is what lets Catalyst pick a broadcast join for a
      * selectively-pruned snapshot read on a cold session (no ANALYZE,
      * no scan): the stats the transaction log published ARE the join
      * planner's input. Without static filters the estimate stays the
      * full listing's, as before.
      */
    override def sizeInBytes: Long =
      if (staticFilters.isEmpty) underlying.sizeInBytes
      else staticSurvivingBytes

    private lazy val staticSurvivingBytes: Long = {
      val conjuncts = staticFilters.flatMap(splitConjunctivePredicates)
      underlying.listFiles(Nil, Nil).flatMap(_.files).filter { f =>
        val p = normalize(f.getPath.toString)
        boundsByPath.get(p) match {
          case None => true
          case Some(b) =>
            val bl = bloomsByPath.getOrElse(p, (BloomK, Map.empty[String, Array[Long]]))
            !conjuncts.exists(c => canSkip(b, bl, c))
        }
      }.map(_.getLen).sum
    }

    override def partitionSchema: StructType = underlying.partitionSchema

    // true iff `l < r` / `l <= r` under the column type's ordering,
    // evaluated by Catalyst itself so date/timestamp/decimal/string
    // semantics match the engine exactly
    private def lt(l: Any, r: Any, dt: DataType): Boolean =
      java.lang.Boolean.TRUE == LessThan(Literal(l, dt), Literal(r, dt)).eval(InternalRow.empty)
    private def lte(l: Any, r: Any, dt: DataType): Boolean =
      java.lang.Boolean.TRUE == LessThanOrEqual(Literal(l, dt), Literal(r, dt)).eval(InternalRow.empty)

    /** Can `conjunct` be proven false for every row of a file with
      * these bounds/blooms? NULL bounds (all-null chunk) never skip.
      * Equality shapes consult the column's Bloom filter as well: a
      * negative probe proves the value was never written to the file
      * (no false negatives by construction), so a uuid-shaped key
      * prunes even when every file's [min, max] spans the domain.
      */
    private def canSkip(bounds: Map[String, (Any, Any)],
        blooms: (Int, Map[String, Array[Long]]), conjunct: Expression): Boolean = {
      def check(name: String, f: (Any, Any, DataType) => Boolean, litV: Any, litT: DataType): Boolean =
        colTypes.get(name).exists { dt =>
          dt == litT && litV != null && bounds.get(name).exists {
            case (mn, mx) => mn != null && mx != null && f(mn, mx, dt)
          }
        }
      // definitely-absent under the file's bloom (hash of the literal
      // by the same xxhash64(seed=42) the index build applied to the
      // column — type equality guards representation equality; probe
      // count k comes from the index row, never this binary)
      def bloomAbsent(name: String, litV: Any, litT: DataType): Boolean =
        colTypes.get(name).exists { dt =>
          dt == litT && litV != null && blooms._2.get(name).exists { words =>
            !graft.functions.GraftHash.bloomMightContain(words, litHash(litV, dt), blooms._1)
          }
        }
      conjunct match {
        // c >= L / L <= c: skip when max < L
        case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
          check(a.name, (_, mx, dt) => lt(mx, l.value, dt), l.value, l.dataType)
        case LessThanOrEqual(l: Literal, a: AttributeReference) =>
          check(a.name, (_, mx, dt) => lt(mx, l.value, dt), l.value, l.dataType)
        // c > L / L < c: skip when max <= L
        case GreaterThan(a: AttributeReference, l: Literal) =>
          check(a.name, (_, mx, dt) => lte(mx, l.value, dt), l.value, l.dataType)
        case LessThan(l: Literal, a: AttributeReference) =>
          check(a.name, (_, mx, dt) => lte(mx, l.value, dt), l.value, l.dataType)
        // c <= L / L >= c: skip when min > L
        case LessThanOrEqual(a: AttributeReference, l: Literal) =>
          check(a.name, (mn, _, dt) => lt(l.value, mn, dt), l.value, l.dataType)
        case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
          check(a.name, (mn, _, dt) => lt(l.value, mn, dt), l.value, l.dataType)
        // c < L / L > c: skip when min >= L
        case LessThan(a: AttributeReference, l: Literal) =>
          check(a.name, (mn, _, dt) => lte(l.value, mn, dt), l.value, l.dataType)
        case GreaterThan(l: Literal, a: AttributeReference) =>
          check(a.name, (mn, _, dt) => lte(l.value, mn, dt), l.value, l.dataType)
        // c = L: skip when L outside [min, max] OR bloom-absent
        case EqualTo(a: AttributeReference, l: Literal) =>
          check(a.name, (mn, mx, dt) => lt(l.value, mn, dt) || lt(mx, l.value, dt),
            l.value, l.dataType) || bloomAbsent(a.name, l.value, l.dataType)
        case EqualTo(l: Literal, a: AttributeReference) =>
          check(a.name, (mn, mx, dt) => lt(l.value, mn, dt) || lt(mx, l.value, dt),
            l.value, l.dataType) || bloomAbsent(a.name, l.value, l.dataType)
        // c IN (...): skip when EVERY value is out-of-bounds or
        // bloom-absent
        case In(a: AttributeReference, list) if list.nonEmpty &&
            list.forall(_.isInstanceOf[Literal]) =>
          val lits = list.map(_.asInstanceOf[Literal])
          lits.forall(l => check(a.name,
            (mn, mx, dt) => lt(l.value, mn, dt) || lt(mx, l.value, dt),
            l.value, l.dataType) || bloomAbsent(a.name, l.value, l.dataType))
        // optimizer form of a large IN: values already internal
        case InSet(a: AttributeReference, hset) if hset.nonEmpty =>
          colTypes.get(a.name).exists { dt =>
            val bnd = bounds.get(a.name)
            hset.forall { v =>
              v != null && (bnd.exists { case (mn, mx) =>
                mn != null && mx != null && (lt(v, mn, dt) || lt(mx, v, dt))
              } || bloomAbsent(a.name, v, dt))
            }
          }
        case _ => false
      }
    }

    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val conjuncts = (dataFilters ++ staticFilters).flatMap(splitConjunctivePredicates)
      val base = underlying.listFiles(partitionFilters, dataFilters)
      if (conjuncts.isEmpty || boundsByPath.isEmpty) base
      else base.map { pd =>
        pd.copy(files = pd.files.filter { f =>
          val p = normalize(f.getPath.toString)
          boundsByPath.get(p) match {
            case None => true // unindexed (post-index append): always scan
            case Some(b) =>
              val bl = bloomsByPath.getOrElse(p, (BloomK, Map.empty[String, Array[Long]]))
              !conjuncts.exists(c => canSkip(b, bl, c))
          }
        })
      }
    }
  }

  /** The table as a DataFrame whose scan consults the skip index
    * during planning: `scan(...).filter($"c" between(lo, hi))` reads
    * only the files whose bounds overlap — same pruning as
    * [[readRange]] but composable with arbitrary query shapes, no
    * special read API, and no two-phase path collection. The pruning
    * is observable in the scan's `numFiles` metric (not `inputFiles`,
    * which reports the unfiltered listing).
    */
  /** Files the (executed) query's parquet scan actually read — the
    * `numFiles` metric of its FileSourceScanExec. This is the
    * observable for [[scan]]-level pruning: `inputFiles` deliberately
    * reports the unfiltered listing, because pruning happens inside
    * `listFiles` at planning time. Triggers one execution of `df`.
    */
  def scannedFiles(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    df.collect()
    def find(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case other => other.collect { case f: FileSourceScanExec => f }
    }
    find(df.queryExecution.executedPlan).head.metrics("numFiles").value
  }

  def scan(spark: SparkSession, tableDir: String): DataFrame =
    scanWithIndex(spark, tableDir, s"$tableDir/$IndexDir")

  /** [[scan]] generalized to an index stored anywhere — the entry
    * point for layouts that keep per-file stats INSIDE their
    * transaction log (e.g. a snapshot version's `_stats` sidecar,
    * `Snapshots.create/commitMerge`): the caller points the scan of
    * `dataDir` at the stats that were published atomically with it.
    */
  def scanWithIndex(spark: SparkSession, dataDir: String, indexPath: String): DataFrame = {
    val live = spark.read.parquet(dataDir)
    val rel = live.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation]
    }.getOrElse(throw new IllegalStateException(
      s"$dataDir did not resolve to a v1 parquet relation"))
    val (bounds, types, blooms) = loadBounds(spark, indexPath)
    val pruning = new SkipIndexFileIndex(rel.location, bounds, types, blooms)
    spark.baseRelationToDataFrame(rel.copy(location = pruning)(spark))
  }

  /** [[scanWithIndex]] with the predicate bound at CONSTRUCTION time:
    * the returned frame still filters row-exactly, but the underlying
    * relation's `sizeInBytes` is the byte sum of only the files the
    * side index keeps for this predicate — derived from listing +
    * sidecar bounds, zero data files opened. The practical payoff is
    * JOIN PLANNING: a selective pruned read of a big table estimates
    * small, so Catalyst picks BroadcastHashJoin on a cold session
    * (no ANALYZE, no scan) — the manifest's stats drive the join
    * strategy, the Iceberg/Delta stats-into-CBO integration point.
    * Plain `scanWithIndex` + `.filter` keeps the FULL-table estimate
    * because size-only plan stats pass a Filter through unchanged.
    */
  def scanPrunedWhere(spark: SparkSession, dataDir: String,
      indexPath: String, predicate: Column): DataFrame = {
    val live = spark.read.parquet(dataDir)
    val rel = live.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation]
    }.getOrElse(throw new IllegalStateException(
      s"$dataDir did not resolve to a v1 parquet relation"))
    // resolve the caller's predicate against the live schema, through
    // the OPTIMIZER: analysis alone leaves type-promotion casts around
    // literals (`k >= CAST(100 AS BIGINT)`), which the sidecar matcher
    // deliberately ignores; constant folding turns them into the bare
    // typed literals the bounds check understands — the same shapes
    // the runtime `dataFilters` path sees. A predicate the optimizer
    // proves trivially true leaves no Filter → no static pruning,
    // which is the correct degenerate estimate.
    val resolved = live.filter(predicate).queryExecution.optimizedPlan.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.toSeq
    val (bounds, types, blooms) = loadBounds(spark, indexPath)
    val pruning = new SkipIndexFileIndex(rel.location, bounds, types, blooms,
      staticFilters = resolved)
    spark.baseRelationToDataFrame(rel.copy(location = pruning)(spark))
      .filter(predicate)
  }
}
