package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sources and sinks (SURVEY §2.B.1): SaveMode semantics (the
  * reference's create-flag dance, `CubefsFileSystem.java:167-191`),
  * partitioned sinks (mkdirs analog), CSV/JSON interchange, and the
  * file-metadata scan (listStatus analog,
  * `CubefsFileSystem.java:280-336`).
  */
object Sources {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  private def tmp(name: String): String = Tables.scratch(name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Parquet sink round-trip with Overwrite (truncate-on-exists flag
    // semantics), read back and aggregate.
    "q_sink_roundtrip" -> ((s, dir) => {
      val out = tmp("roundtrip")
      t(s, dir, "orders").filter(col("o_totalprice") > 100000)
        .write.mode(SaveMode.Overwrite).parquet(out)
      s.read.parquet(out)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("o_totalprice").as("total"))
        .orderBy("o_orderstatus")
    }),

    // All four SaveModes in sequence: overwrite, append (doubles the
    // rows), ignore (no-op), errorIfExists (throws — swallowed).
    "q_sink_savemodes" -> ((s, dir) => {
      val out = tmp("savemodes")
      val src = t(s, dir, "region")
      src.write.mode(SaveMode.Overwrite).parquet(out)
      src.write.mode(SaveMode.Append).parquet(out)
      src.write.mode(SaveMode.Ignore).parquet(out)
      val threw =
        try { src.write.mode(SaveMode.ErrorIfExists).parquet(out); false }
        catch { case _: Throwable => true }
      s.read.parquet(out)
        .groupBy("r_regionkey", "r_name")
        .agg(count(lit(1)).as("n_copies"))
        .withColumn("error_mode_threw", lit(threw))
        .orderBy("r_regionkey")
    }),

    // Partitioned sink: dir-per-key layout; read back and verify both
    // partition pruning columns and data columns survive.
    "q_sink_partitioned" -> ((s, dir) => {
      val out = tmp("partitioned")
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus")
        .write.mode(SaveMode.Overwrite).partitionBy("l_returnflag").parquet(out)
      s.read.parquet(out)
        .filter(col("l_returnflag") === "R") // prunes to one partition dir
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
        .orderBy("l_linestatus")
    }),

    // CSV interchange round-trip (header + explicit schema on read).
    "q_sink_csv" -> ((s, dir) => {
      val out = tmp("csv")
      val src = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      src.write.mode(SaveMode.Overwrite).option("header", "true").csv(out)
      s.read.schema(src.schema).option("header", "true").csv(out)
        .orderBy("c_custkey")
    }),

    // JSON interchange round-trip.
    "q_sink_json" -> ((s, dir) => {
      val out = tmp("json")
      val src = t(s, dir, "supplier")
      src.write.mode(SaveMode.Overwrite).json(out)
      s.read.schema(src.schema).json(out)
        .orderBy("s_suppkey")
    }),

    // Cluster-sorted sink: range-partitioned + sorted layout so parquet
    // min/max stats prune files on the clustered key; read back with a
    // selective filter.
    "q_sink_clustered" -> ((s, dir) => {
      val out = tmp("clustered")
      graft.operators.Partitioning.clusteredWrite(
        t(s, dir, "lineitem"), out, numFiles = 8, "l_shipdate")
      s.read.parquet(out)
        .filter(col("l_shipdate") >= lit("1997-06-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // Z-ORDER clustered sink: Morton-key layout bounds every file's
    // range in BOTH (l_orderkey, l_suppkey), so a box filter on either
    // or both keys prunes files — single-key clustering only serves one
    // axis. PlanSpec measures the per-file range bound and its
    // single-key contrast; here the oracle checks the box query's
    // exactness through the layout round-trip.
    "q_sink_zorder" -> ((s, dir) => {
      val out = tmp("zorder")
      graft.operators.Partitioning.zorderWrite(
        t(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity"),
        out, numFiles = 16, "l_orderkey", "l_suppkey")
      s.read.parquet(out)
        .filter(col("l_orderkey") <= 1000 && col("l_suppkey") <= 5)
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"),
          max("l_orderkey").as("max_key"))
    }),

    // Range source: the synthetic generator relation (no files at all).
    "q_source_range" -> ((s, dir) => {
      s.range(0L, 100000L).toDF("id")
        .filter(col("id") % 7 === 0)
        .agg(count(lit(1)).as("n"), sum("id").as("total"))
    }),

    // Managed-table lifecycle: saveAsTable (create/overwrite) +
    // insertInto (append) + catalog read-back — the warehouse-catalog
    // surface on top of the file sinks.
    "q_table_lifecycle" -> ((s, dir) => {
      s.sql("DROP TABLE IF EXISTS graft_nation_managed")
      t(s, dir, "nation").write.mode(SaveMode.Overwrite).saveAsTable("graft_nation_managed")
      t(s, dir, "nation").write.insertInto("graft_nation_managed")
      s.table("graft_nation_managed")
        .groupBy("n_regionkey").agg(count(lit(1)).as("n"))
        .orderBy("n_regionkey")
    }),

    // Pure-SQL DDL surface: CREATE TABLE AS SELECT + INSERT INTO …
    // SELECT, entirely through spark.sql — the catalog path a SQL-only
    // user drives (q_table_lifecycle is the DataFrame-API twin).
    "q_sql_ddl" -> ((s, dir) => {
      t(s, dir, "region").createOrReplaceTempView("region_v")
      s.sql("DROP TABLE IF EXISTS graft_region_ctas")
      s.sql("""CREATE TABLE graft_region_ctas USING parquet AS
               SELECT r_regionkey, r_name FROM region_v""")
      s.sql("""INSERT INTO graft_region_ctas
               SELECT r_regionkey + 100, upper(r_name) FROM region_v""")
      s.sql("""SELECT r_regionkey, r_name FROM graft_region_ctas
               ORDER BY r_regionkey""")
    }),

    // ORC interchange round-trip (the Hive/Presto-ecosystem default
    // format): write ORC, read back, verify through the base-table
    // oracle — byte-level format fidelity is what's being checked, so
    // the oracle never needs an ORC reader.
    "q_sink_orc" -> ((s, dir) => {
      val out = tmp("orc")
      val src = t(s, dir, "part")
        .select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")
      src.write.mode(SaveMode.Overwrite).orc(out)
      s.read.schema(src.schema).orc(out)
        .orderBy("p_partkey")
    }),

    // Malformed-input handling across all three CSV parser modes: a
    // deterministically dirtied file (every 10th row's numeric field is
    // garbage) read PERMISSIVE (keeps rows, nulls the bad field,
    // captures the raw line in _corrupt_record), DROPMALFORMED (drops
    // exactly the bad rows), FAILFAST (throws on first bad row). The
    // dirty-data contract a 100 TB ingest actually exercises; all
    // counts and the good-row sum are oracle-predicted.
    "q_source_csv_modes" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val out = tmp("csv_dirty")
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 10 === 0, lit("oops"))
            .otherwise(col("o_totalprice").cast("string")).as("price"))
        .write.mode(SaveMode.Overwrite).csv(out)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("price", DoubleType),
        StructField("_corrupt_record", StringType)))
      val permissive = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
        .select(col("price"), col("_corrupt_record")).localCheckpoint()
      val nAll = permissive.count()
      val nCorrupt = permissive.filter(col("_corrupt_record").isNotNull).count()
      val sumCents = permissive.filter(col("price").isNotNull)
        .agg(sum(round(col("price") * 100).cast("long"))).head().getLong(0)
      // CSV column pruning (a real production gotcha): a bare count()
      // parses NO columns, so conversion failures never surface and
      // DROPMALFORMED/FAILFAST silently see only well-formed rows.
      // Referencing the typed column in the aggregate forces the parse.
      val nDropped = s.read
        .schema(StructType(schema.dropRight(1)))
        .option("mode", "DROPMALFORMED").csv(out)
        .agg(count(lit(1)).as("n"), count(col("price")))
        .head().getLong(0)
      val failfastThrew =
        try {
          s.read.schema(StructType(schema.dropRight(1)))
            .option("mode", "FAILFAST").csv(out)
            .agg(count(col("price"))).head()
          false
        } catch { case _: Throwable => true }
      import s.implicits._
      Seq((nAll, nCorrupt, nDropped, sumCents, failfastThrew))
        .toDF("n_all", "n_corrupt", "n_dropmalformed", "sum_cents", "failfast_threw")
        .select(col("n_all"), col("n_corrupt"), col("n_dropmalformed"),
          (col("sum_cents").cast("double") / 100.0).as("good_total"),
          col("failfast_threw"))
    }),

    // Inline data-quality metrics (df.observe / CollectMetrics): the
    // production pattern for validating a pipeline WITHOUT a second
    // scan — the metrics aggregate rides along with the main action
    // and is collected driver-side on completion. The query's output
    // IS the observed metrics row; the oracle recomputes the same
    // aggregates with a plain scan, so a metric that under- or
    // over-counts fails the hash gate.
    "q_observe" -> ((s, dir) => {
      val obs = org.apache.spark.sql.Observation()
      t(s, dir, "orders").observe(obs,
          count(lit(1)).as("n_rows"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"),
          min(col("o_orderkey")).cast("long").as("min_key"),
          max(col("o_orderkey")).cast("long").as("max_key"))
        .write.format("noop").mode(SaveMode.Overwrite).save()
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long],
           m("sum_cents").asInstanceOf[Long],
           m("min_key").asInstanceOf[Long],
           m("max_key").asInstanceOf[Long]))
        .toDF("n_rows", "sum_cents", "min_key", "max_key")
        .select(col("n_rows"),
          (col("sum_cents").cast("double") / 100.0).as("total"),
          col("min_key"), col("max_key"))
    }),

    // Dynamic partition overwrite: a rewrite of ONE partition's data
    // must replace only that partition and leave every other partition
    // untouched (static overwrite mode would wipe the whole table, and
    // the oracle's expected merge would catch it). This is the
    // idempotent-backfill contract a partitioned 100 TB table needs.
    "q_sink_dynamic_overwrite" -> ((s, dir) => {
      val out = tmp("dynover")
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      orders.write.mode(SaveMode.Overwrite)
        .partitionBy("o_orderstatus").parquet(out)
      // dynamic mode scoped to THIS write via the per-writer option —
      // a session-global set/restore is a cross-thread hazard when
      // other writes run concurrently on the same session (they would
      // inherit dynamic mode mid-window, and a racing restore could
      // flip an in-flight dynamic overwrite back to a static
      // whole-table truncate)
      orders.filter(col("o_orderstatus") === "F")
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus").parquet(out)
      s.read.parquet(out)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100).cast("long")).cast("double") / 100.0)
            .as("total"))
        .orderBy("o_orderstatus")
    }),

    // Table statistics / ANALYZE surface (the reference's
    // getContentSummary analog, `CubefsFileSystem.java:432-436`):
    // saveAsTable three join sides, ANALYZE ... FOR ALL COLUMNS, then
    // run a 3-table join under CBO + stats-driven join reorder. The
    // output carries the catalog's post-ANALYZE rowCount for the fact
    // table, which the oracle recomputes as count(*) — a wrong or
    // missing statistic fails the hash gate. localCheckpoint forces
    // optimization NOW, while CBO is on, so the conf flip can be
    // restored without leaking session-wide.
    "q_table_stats" -> ((s, dir) => {
      for (tbl <- Seq("nation", "customer", "orders")) {
        s.sql(s"DROP TABLE IF EXISTS graft_stats_$tbl")
        t(s, dir, tbl).write.mode(SaveMode.Overwrite).saveAsTable(s"graft_stats_$tbl")
        s.sql(s"ANALYZE TABLE graft_stats_$tbl COMPUTE STATISTICS FOR ALL COLUMNS")
      }
      val statsRows = s.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("graft_stats_orders"))
        .stats.flatMap(_.rowCount).map(_.longValue).getOrElse(-1L)
      val prevCbo = s.conf.get("spark.sql.cbo.enabled")
      val prevReorder = s.conf.get("spark.sql.cbo.joinReorder.enabled")
      s.conf.set("spark.sql.cbo.enabled", "true")
      s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      try {
        // exact cents summed as BIGINT (double sums at ~1e9 diverge from
        // DuckDB in the 6th decimal under different summation orders),
        // then ONE double division at the end — a DECIMAL output column
        // would hit the driver's decimal canonicalization divergence
        // (the q_cast_decimal root cause); CAST(...AS DOUBLE)/100.0 is
        // representation-proof on both sides
        s.sql(
          """SELECT n_name, count(*) AS n_orders,
            |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total
            |FROM graft_stats_orders
            |JOIN graft_stats_customer ON o_custkey = c_custkey
            |JOIN graft_stats_nation ON c_nationkey = n_nationkey
            |WHERE o_orderstatus = 'F'
            |GROUP BY n_name""".stripMargin)
          .withColumn("stats_orders_rows", lit(statsRows))
          .localCheckpoint()
          .orderBy("n_name")
      } finally {
        s.conf.set("spark.sql.cbo.enabled", prevCbo)
        s.conf.set("spark.sql.cbo.joinReorder.enabled", prevReorder)
      }
    }),

    // MERGE INTO (CDC upsert) semantics: 5% of orders re-priced
    // (matched → update) and a synthetic 6% inserted under fresh keys
    // (not matched → insert); the merged snapshot is aggregated with
    // exact-cents sums so the totals are summation-order-proof.
    // DELETE ... WHERE as a snapshot commit (Delta/Iceberg DELETE; the
    // GDPR-erasure path with a key anti-set predicate): urgent orders
    // vanish from the new version, the prior version still serves them
    // under time travel (audit_ok measures both directions), and the
    // deliverable aggregate is exactly "orders minus the deleted set".
    "q_table_delete" -> ((s, dir) => {
      import graft.operators.Snapshots
      val root = tmp("snap_delete")
      Snapshots.create(s, root, t(s, dir, "orders"))
      Snapshots.commitDelete(s, root, col("o_orderpriority") === "1-URGENT")
      val deletedAtV1 = Snapshots.read(s, root, Some(1))
        .filter(col("o_orderpriority") === "1-URGENT").count()
      val deletedAtV2 = Snapshots.read(s, root)
        .filter(col("o_orderpriority") === "1-URGENT").count()
      val auditOk = deletedAtV1 > 0 && deletedAtV2 == 0
      Snapshots.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100).cast("long")).cast("double")
            / 100.0).as("total"))
        .withColumn("audit_ok", lit(auditOk))
        .orderBy("o_orderstatus")
    }),

    // UPDATE ... SET ... WHERE as a snapshot commit: urgent orders get
    // a 5% surcharge and a priority downgrade IN ONE COMMIT — both
    // assignments read the OLD row (SQL update semantics; the
    // downgrade can't hide rows from the surcharge). CDF between the
    // versions classifies exactly the touched rows as updates
    // (update_ok measured).
    "q_table_update" -> ((s, dir) => {
      import graft.operators.Snapshots
      val root = tmp("snap_update")
      Snapshots.create(s, root, t(s, dir, "orders"))
      Snapshots.commitUpdate(s, root,
        col("o_orderpriority") === "1-URGENT",
        Map("o_totalprice" -> col("o_totalprice") * 1.05,
          "o_orderpriority" -> lit("2-HIGH")))
      val nUrgentV1 = Snapshots.read(s, root, Some(1))
        .filter(col("o_orderpriority") === "1-URGENT").count()
      val changed = Snapshots.changes(s, root, 1, 2, "o_orderkey")
        .filter(col("_change_type") === "update_postimage").count()
      val updateOk = nUrgentV1 > 0 && changed == nUrgentV1
      Snapshots.read(s, root)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100).cast("long")).cast("double")
            / 100.0).as("total"))
        .withColumn("update_ok", lit(updateOk))
        .orderBy("o_orderpriority")
    }),

    // Branches + write-audit-publish (Iceberg's WAP pattern, the
    // staging workflow ETL pipelines run on every load): fork an
    // `audit` branch, stage a re-pricing commit ON THE BRANCH (a
    // globally-allocated v_N recorded only in the branch ref — main
    // readers cannot resolve it), audit the STAGED snapshot (row-count
    // conservation + no non-positive prices), then publish by
    // fast-forwarding main's manifest to the branch in one atomic
    // swap. wap_ok asserts the protocol's three claims: isolation
    // (main's history was untouched while staged), audit (the checks
    // passed pre-publish), and publication (main's head now IS the
    // staged version).
    "q_table_branch" -> ((s, dir) => {
      import graft.operators.Snapshots
      val root = tmp("snap_branch")
      Snapshots.create(s, root, t(s, dir, "orders"))
      Snapshots.createBranch(s, root, "audit")
      val staged = Snapshots.readBranch(s, root, "audit")
        .withColumn("o_totalprice",
          when(col("o_orderpriority") === "1-URGENT", col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")))
      val stagedV = Snapshots.commitToBranch(s, root, "audit", staged)
      // isolation: the staged version is resolvable ONLY via the branch
      val mainBefore = Snapshots.versions(s, root)
      val isolated = mainBefore == Seq(1) &&
        Snapshots.branchVersions(s, root, "audit") == Seq(1, stagedV)
      // audit the staged snapshot before anything publishes
      val b = Snapshots.readBranch(s, root, "audit")
      val auditPassed = b.count() == Snapshots.read(s, root).count() &&
        b.filter(col("o_totalprice") <= 0).count() == 0
      val published = Snapshots.fastForward(s, root, "audit")
      val wapOk = isolated && auditPassed &&
        Snapshots.versions(s, root).max == published && published == stagedV
      Snapshots.read(s, root)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100).cast("long")).cast("double")
            / 100.0).as("total"))
        .withColumn("wap_ok", lit(wapOk))
        .orderBy("o_orderpriority")
    }),

    // The change feed as a SQL relation (Delta's table_changes): an
    // UPDATE and a DELETE commit land on a snapshot table, and the
    // CDC consumer is ONE SQL statement over graft_table_changes —
    // per-change-type row counts and exact-cents totals (pre-images
    // price at the OLD value, post-images at the new; rows both
    // updated and deleted classify as deletes of the v1 image, the
    // v1→v3 diff contract).
    "q_sql_changes" -> ((s, dir) => {
      import graft.operators.Snapshots
      val root = tmp("snap_sql_changes")
      Snapshots.create(s, root, t(s, dir, "orders"))
      Snapshots.commitUpdate(s, root, col("o_orderpriority") === "1-URGENT",
        Map("o_totalprice" -> col("o_totalprice") * 1.05))
      Snapshots.commitDelete(s, root, col("o_orderkey") % 13 === 0)
      s.sql(
        s"""SELECT _change_type, count(*) AS n,
           |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
           |    / 100.0 AS total
           |FROM graft_table_changes('$root', 1, 3, 'o_orderkey')
           |GROUP BY _change_type
           |ORDER BY _change_type""".stripMargin)
    }),

    // Write-audit-publish driven from SQL: the staged branch and live
    // main are both SQL relations (graft_branch / graft_snapshot), so
    // the AUDIT step — compare staged vs published totals per
    // priority, assert row conservation — is one join statement a
    // reviewer can run before fast-forwarding. The per-priority delta
    // is the audit deliverable: the surcharge shows ONLY on the
    // urgent bucket and ONLY on the branch side.
    "q_sql_branch" -> ((s, dir) => {
      import graft.operators.Snapshots
      val root = tmp("snap_sql_branch")
      Snapshots.create(s, root, t(s, dir, "orders"))
      Snapshots.createBranch(s, root, "audit")
      Snapshots.commitToBranch(s, root, "audit",
        Snapshots.readBranch(s, root, "audit")
          .withColumn("o_totalprice",
            when(col("o_orderpriority") === "1-URGENT", col("o_totalprice") * 1.2)
              .otherwise(col("o_totalprice"))))
      s.sql(
        s"""SELECT b.o_orderpriority, count(*) AS n,
           |  CAST(sum(CAST(round(b.o_totalprice * 100) AS BIGINT)) AS DOUBLE)
           |    / 100.0 AS staged_total,
           |  CAST(sum(CAST(round(m.o_totalprice * 100) AS BIGINT)) AS DOUBLE)
           |    / 100.0 AS main_total
           |FROM graft_branch('$root', 'audit') b
           |JOIN graft_snapshot('$root') m ON b.o_orderkey = m.o_orderkey
           |GROUP BY b.o_orderpriority
           |ORDER BY b.o_orderpriority""".stripMargin)
    }),

    "q_table_merge" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      // insert keys offset by max(o_orderkey): collision-free at every
      // scale factor (a fixed literal offset silently turns inserts
      // into updates once the table outgrows it)
      val maxKey = orders.agg(coalesce(max("o_orderkey"), lit(-1L))).head.getLong(0) + 1
      val updates = orders.filter(col("o_orderkey") % 20 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
        .unionByName(orders.filter(col("o_orderkey") % 17 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + maxKey))
      graft.operators.Upsert.merge(orders, updates, "o_orderkey")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("total"))
        .orderBy("o_orderstatus")
    }),

    // Schema evolution ACROSS snapshot commits (Delta autoMerge /
    // Iceberg add-column): v1 has three columns; the v2 MERGE carries
    // a NEW c_tier column — surviving v1 rows surface NULL for it,
    // updated/inserted rows carry computed values, and old-version
    // reads keep the old schema (v1_cols/v2_cols measured). The tier
    // is a pure function of customer, so non-null counts and the gold
    // count are exact oracle predictions.
    "q_table_schema_merge" -> ((s, dir) => {
      import graft.operators.Snapshots
      val root = graft.Tables.scratch("schema_merge_tbl")
      val cust = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
      Snapshots.create(s, root, cust)
      val maxCust = cust.agg(coalesce(max("c_custkey"), lit(-1L))).head.getLong(0) + 1
      val updates = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000)
        .unionByName(cust.filter(col("c_custkey") % 97 === 0)
          .withColumn("c_custkey", col("c_custkey") + maxCust))
        .withColumn("c_tier",
          when(col("c_acctbal") > 5000, "gold").otherwise("std"))
      Snapshots.commitMerge(s, root, updates, "c_custkey", evolveSchema = true)
      val v1Cols = Snapshots.read(s, root, Some(1)).columns.length.toLong
      val v2 = Snapshots.read(s, root)
      v2.agg(count(lit(1)).as("n_rows"),
          count(col("c_tier")).as("n_with_tier"),
          sum(when(col("c_tier") === "gold", 1L).otherwise(0L)).as("n_gold"))
        .select(col("n_rows"), col("n_with_tier"), col("n_gold"),
          lit(v1Cols).as("v1_cols"),
          lit(v2.columns.length.toLong).as("v2_cols"))
    }),

    // Incremental aggregate maintenance (materialized-view upkeep over
    // the table format): a per-status (count, cents) aggregate is kept
    // current across a snapshot commit by applying the CHANGE DATA
    // FEED delta — postimages/inserts add, preimages subtract — so the
    // refresh costs O(|changes|), never a rescan of the table. That is
    // the only viable refresh at 100 TB: the full table is petabytes,
    // a commit touches megabytes. incremental_ok MEASURES that the
    // delta-maintained aggregate equals a full v2 recompute, per
    // status; the oracle predicts v2's aggregate (same merge as
    // q_table_merge) and TRUE.
    "q_table_incremental_agg" -> ((s, dir) => {
      import graft.operators.Snapshots
      val root = graft.Tables.scratch("inc_agg_tbl")
      val orders = t(s, dir, "orders")
      val cents = sum(round(col("o_totalprice") * 100).cast("long"))
      Snapshots.create(s, root, orders)
      // the maintained state, materialized once at v1 (in production a
      // tiny side table; localCheckpoint pins it against recompute)
      val agg0 = Snapshots.read(s, root, Some(1)).groupBy("o_orderstatus")
        .agg(cents.as("cents0"), count(lit(1)).as("n0"))
        .localCheckpoint()
      val maxKey = orders.agg(coalesce(max("o_orderkey"), lit(-1L))).head.getLong(0) + 1
      val updates = orders.filter(col("o_orderkey") % 20 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
        .unionByName(orders.filter(col("o_orderkey") % 17 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + maxKey))
      Snapshots.commitMerge(s, root, updates, "o_orderkey")
      val delta = Snapshots.changes(s, root, 1, 2, "o_orderkey")
        .withColumn("sign",
          when(col("_change_type").isin("insert", "update_postimage"), 1L)
            .otherwise(-1L))
        .groupBy("o_orderstatus")
        .agg(sum(col("sign") * round(col("o_totalprice") * 100).cast("long"))
            .as("d_cents"),
          sum(col("sign")).as("d_n"))
      val maintained = agg0.join(delta, Seq("o_orderstatus"), "full_outer")
        .select(col("o_orderstatus"),
          (coalesce(col("cents0"), lit(0L)) + coalesce(col("d_cents"), lit(0L)))
            .as("cents_m"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
            .as("n_m"))
      val full = Snapshots.read(s, root).groupBy("o_orderstatus")
        .agg(cents.as("cents_f"), count(lit(1)).as("n_f"))
      maintained.join(full, Seq("o_orderstatus"), "full_outer")
        .select(col("o_orderstatus"), col("n_f").as("n"),
          (col("cents_f").cast("double") / 100.0).as("total"),
          (col("n_m") === col("n_f") && col("cents_m") === col("cents_f"))
            .as("incremental_ok"))
        .orderBy("o_orderstatus")
    }),

    // Versioned snapshots + time travel (Snapshots): create v1 from
    // customer, commit a MERGE as v2 (10% re-balanced, ~1% inserted
    // under fresh keys), then read BOTH versions back via @version.
    // v1's aggregate is pulled eagerly BEFORE the v2 commit (one-row
    // collect, O(1) driver traffic) and compared against a fresh
    // post-commit read of v1 — snapshot_ok proves old versions are
    // immutable, not just re-derivable. The oracle predicts both
    // versions' aggregates from customer alone (the merge is a pure
    // function of it) and snapshot_ok TRUE.
    "q_table_timetravel" -> ((s, dir) => {
      import graft.operators.Snapshots
      val root = graft.Tables.scratch("timetravel_tbl")
      val cust = t(s, dir, "customer")
      // coalesce: sum() is NULL over an empty table (the B.9 empty-net rule)
      val cents = coalesce(sum(round(col("c_acctbal") * 100).cast("long")), lit(0L))
      Snapshots.create(s, root, cust)
      val pre = Snapshots.read(s, root, Some(1))
        .agg(count(lit(1)), cents).collect()(0)
      val (preN, preCents) = (pre.getLong(0), pre.getLong(1))
      // insert keys offset by max(c_custkey) — collision-free at every
      // scale factor (the oracle predicts v2's count as customer +
      // inserts, which a key collision would silently desync)
      val maxCust = cust.agg(coalesce(max("c_custkey"), lit(-1L))).head.getLong(0) + 1
      val updates = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000)
        .unionByName(cust.filter(col("c_custkey") % 97 === 0)
          .withColumn("c_custkey", col("c_custkey") + maxCust)
          .withColumn("c_acctbal", lit(500.50)))
      Snapshots.commitMerge(s, root, updates, "c_custkey")
      def snapAgg(v: Int) = Snapshots.read(s, root, Some(v))
        .agg(count(lit(1)).as("n_rows"),
          (cents.cast("double") / 100.0).as("sum_acctbal"),
          cents.as("sum_cents"))
      val v1 = snapAgg(1).select(lit(1L).as("version"), col("n_rows"),
        col("sum_acctbal"),
        (col("n_rows") === preN && col("sum_cents") === preCents)
          .as("snapshot_ok"))
      // latest-resolution check: an unversioned read must equal v2
      val latestN = Snapshots.read(s, root).count()
      val v2 = snapAgg(2).select(lit(2L).as("version"), col("n_rows"),
        col("sum_acctbal"), (col("n_rows") === latestN).as("snapshot_ok"))
      v1.unionByName(v2).orderBy("version")
    }),

    // Schema evolution on read: an old batch written without a column
    // and a new batch written with it coexist in one dataset;
    // mergeSchema=true unions the file schemas, old rows surface NULL
    // for the added column, and aggregates stay exact. This is how a
    // long-lived ingest directory evolves without rewriting history.
    "q_source_schema_evolution" -> ((s, dir) => {
      val root = graft.Tables.scratch("schema_evolution")
      val orders = t(s, dir, "orders")
      orders.select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$root/batch=1")
      orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$root/batch=2")
      s.read.option("mergeSchema", "true").parquet(root)
        .agg(count(lit(1)).as("n_rows"),
          count(col("o_orderpriority")).as("n_with_priority"),
          (sum(round(col("o_totalprice") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_price"),
          countDistinct(col("batch")).as("n_batches"))
    }),

    // Snapshot maintenance: fragment documents into 64 files (the
    // state a micro-batch CDC ingest leaves behind), compact to one
    // target-size bin (v2), then expire v1. Every emitted value is
    // predicted by the oracle from the documents table alone:
    // compaction must not change content (n_docs/total_chars are
    // computed from a read AFTER expire, proving the retained rewrite
    // is the same data), file counts are exact (500 rows round-robin
    // over 64 partitions → 64 files; one bin → 1 file), and v1 must be
    // both gone from the manifest and physically deleted.
    "q_table_compact" -> ((s, dir) => {
      import graft.operators.Snapshots
      val root = graft.Tables.scratch("compact_tbl")
      Snapshots.create(s, root, t(s, dir, "documents").repartition(64))
      val (v2, nBefore, nAfter) = Snapshots.compact(s, root, 1L << 40)
      val expired = Snapshots.expire(s, root, retain = 1)
      val manifestOk = Snapshots.versions(s, root) == Seq(v2)
      val v1Gone = !graft.GraftSession.fsOf(s, root)
        .exists(new org.apache.hadoop.fs.Path(s"$root/v_1"))
      Snapshots.read(s, root)
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("total_chars"))
        .select(col("n_docs"), col("total_chars"),
          lit(nBefore).as("files_before"), lit(nAfter).as("files_after"),
          lit(expired == Seq(1)).as("expired_v1"),
          lit(manifestOk && v1Gone).as("expire_clean"))
    }),

    // Change data feed (Delta table_changes / Iceberg changelog): the
    // keyed row-level diff between two committed versions, labeled
    // insert/delete/update_pre/update_post, from ONE full-outer join.
    // The v1→v2 merge is a pure function of customer (same shape as
    // q_table_timetravel), so every change row — type, key, value — is
    // exactly oracle-predictable.
    "q_table_changes" -> ((s, dir) => {
      import graft.operators.Snapshots
      val root = graft.Tables.scratch("changes_tbl")
      val cust = t(s, dir, "customer")
      Snapshots.create(s, root, cust)
      val maxCust = cust.agg(coalesce(max("c_custkey"), lit(-1L))).head.getLong(0) + 1
      val updates = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000)
        .unionByName(cust.filter(col("c_custkey") % 97 === 0)
          .withColumn("c_custkey", col("c_custkey") + maxCust)
          .withColumn("c_acctbal", lit(500.50)))
      Snapshots.commitMerge(s, root, updates, "c_custkey")
      Snapshots.changes(s, root, 1, 2, "c_custkey")
        .select("c_custkey", "c_acctbal", "_change_type")
        .orderBy("c_custkey", "_change_type")
    }),

    // Change data feed ACROSS a schema-evolution boundary: v2 adds a
    // c_tier column via an evolving MERGE, and the diff v1→v2 must (a)
    // carry the new column on insert/update_postimage rows (Delta's
    // CDF uses the post-image schema) and (b) classify a row whose
    // ONLY change is in the evolved column as an update — the %13
    // rows change nothing but c_tier. changes() aligns both versions
    // on the union of their columns with typed nulls, so neither side
    // is silently dropped.
    "q_table_cdf_evolve" -> ((s, dir) => {
      import graft.operators.Snapshots
      val root = graft.Tables.scratch("cdf_evolve_tbl")
      val cust = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
      Snapshots.create(s, root, cust)
      val maxCust = cust.agg(coalesce(max("c_custkey"), lit(-1L))).head.getLong(0) + 1
      val tierOf = (bal: org.apache.spark.sql.Column) =>
        when(bal > 5000, "gold").otherwise("std")
      val updates = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000)
        .unionByName(cust.filter(col("c_custkey") % 13 === 0 &&
          col("c_custkey") % 10 =!= 0)) // only-evolved-column change
        .unionByName(cust.filter(col("c_custkey") % 97 === 0)
          .withColumn("c_custkey", col("c_custkey") + maxCust))
        .withColumn("c_tier", tierOf(col("c_acctbal")))
      Snapshots.commitMerge(s, root, updates, "c_custkey", evolveSchema = true)
      Snapshots.changes(s, root, 1, 2, "c_custkey")
        .select("c_custkey", "c_acctbal", "c_tier", "_change_type")
        .orderBy("c_custkey", "_change_type")
    }),

    // Rollback after a bad commit (Iceberg's rollback-as-new-snapshot):
    // v1 = customer, v2 = a "bad deploy" merge (negates every %5
    // balance and inserts zero-balance junk rows under offset keys),
    // v3 = rollback to v1. The latest read must equal v1 exactly and
    // v2 must REMAIN time-travelable (history is append-only — the
    // bad commit stays auditable). matches_v1 is MEASURED in-plan
    // against v1's eagerly captured aggregate; the oracle predicts
    // every version's aggregate from customer alone, matches_v1
    // TRUE/FALSE/TRUE.
    "q_table_rollback" -> ((s, dir) => {
      import graft.operators.Snapshots
      val root = graft.Tables.scratch("rollback_tbl")
      val cust = t(s, dir, "customer")
      // coalesce: sum() is NULL over an empty table (the B.9 empty-net rule)
      val cents = coalesce(sum(round(col("c_acctbal") * 100).cast("long")), lit(0L))
      Snapshots.create(s, root, cust)
      val pre = Snapshots.read(s, root, Some(1))
        .agg(count(lit(1)), cents).collect()(0)
      val (preN, preCents) = (pre.getLong(0), pre.getLong(1))
      // max-derived offset: collision-free inserts at every scale factor
      val maxCust = cust.agg(coalesce(max("c_custkey"), lit(-1L))).head.getLong(0) + 1
      val bad = cust.filter(col("c_custkey") % 5 === 0)
        .withColumn("c_acctbal", -col("c_acctbal"))
        .unionByName(cust.filter(col("c_custkey") % 7 === 0)
          .withColumn("c_custkey", col("c_custkey") + maxCust)
          .withColumn("c_acctbal", lit(0.0)))
      Snapshots.commitMerge(s, root, bad, "c_custkey")
      val v3 = Snapshots.rollback(s, root, 1)
      // unversioned (latest) resolution must land on the rollback
      require(v3 == 3 && Snapshots.versions(s, root).max == v3)
      def snapAgg(v: Int) = Snapshots.read(s, root, Some(v))
        .agg(count(lit(1)).as("n_rows"),
          (cents.cast("double") / 100.0).as("sum_acctbal"),
          cents.as("__cents"))
        .select(lit(v.toLong).as("version"), col("n_rows"), col("sum_acctbal"),
          (col("n_rows") === preN && col("__cents") === preCents)
            .as("matches_v1"))
      snapAgg(1).unionByName(snapAgg(2)).unionByName(snapAgg(v3))
        .orderBy("version")
    }),

    // SQL surface of time travel: graft_snapshot(root, v) resolved by
    // GraftExtensions.injectTableFunction through the snapshot
    // manifest — both versions queried in ONE SQL statement.
    "q_sql_timetravel" -> ((s, dir) => {
      import graft.operators.Snapshots
      val root = graft.Tables.scratch("sql_tt_tbl")
      val cust = t(s, dir, "customer")
      Snapshots.create(s, root, cust)
      val maxCust = cust.agg(coalesce(max("c_custkey"), lit(-1L))).head.getLong(0) + 1
      Snapshots.commitMerge(s, root,
        cust.filter(col("c_custkey") % 97 === 0)
          .withColumn("c_custkey", col("c_custkey") + maxCust)
          .withColumn("c_acctbal", lit(500.50)), "c_custkey")
      s.sql(
        s"""SELECT 1L AS version, count(*) AS n_rows,
           |  cast(sum(cast(round(c_acctbal * 100) as bigint)) as double) / 100.0
           |    AS sum_acctbal
           |FROM graft_snapshot('$root', 1)
           |UNION ALL
           |SELECT 2L, count(*),
           |  cast(sum(cast(round(c_acctbal * 100) as bigint)) as double) / 100.0
           |FROM graft_snapshot('$root', 2)
           |ORDER BY version""".stripMargin)
    }),

    // Version-history metadata table (Iceberg `snapshots` / Delta
    // DESCRIBE HISTORY analog): create → merge-insert → compact, then
    // read the history. Row counts per version are exact oracle
    // predictions; file/byte stats are engine-layout-dependent, so
    // they surface as predicted-TRUE booleans.
    "q_table_history" -> ((s, dir) => {
      import graft.operators.Snapshots
      val root = graft.Tables.scratch("history_tbl")
      val cust = t(s, dir, "customer")
      Snapshots.create(s, root, cust.repartition(8))
      // max-derived offset: collision-free inserts at every scale factor
      val maxCust = cust.agg(coalesce(max("c_custkey"), lit(-1L))).head.getLong(0) + 1
      val inserts = cust.filter(col("c_custkey") % 50 === 0)
        .withColumn("c_custkey", col("c_custkey") + maxCust)
      Snapshots.commitMerge(s, root, inserts, "c_custkey")
      Snapshots.compact(s, root, 1L << 40)
      Snapshots.history(s, root)
        .select(col("version").cast("long").as("version"), col("n_rows"),
          (col("n_files") > 0).as("has_files"),
          (col("total_bytes") > 0).as("has_bytes"))
        .orderBy("version")
    }),

    // Partition-sharded snapshot MERGE (the fact-table-scale commit):
    // only the partition containing touched keys is rewritten; every
    // other partition's files carry into the new version untouched.
    // files_unchanged is MEASURED per partition (paths + lengths +
    // mtimes compared across versions) and the oracle predicts it
    // exactly: false for the touched 'F' partition, true elsewhere.
    // Insert keys are offset by max(o_orderkey) — collision-free at
    // every scale factor.
    "q_table_partitioned_merge" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.PartitionedSnapshots
      val root = graft.Tables.scratch("part_merge_tbl")
      val orders = t(s, dir, "orders")
      PartitionedSnapshots.create(s, root, orders, "o_orderstatus")
      val preN = PartitionedSnapshots.read(s, root, Some(1)).count()
      // max+1: o_orderkey starts at 0, so a bare max offset would map
      // key 0 onto the existing max key — insert silently became update
      val maxKey = orders.agg(coalesce(max("o_orderkey"), lit(-1L))).head.getLong(0) + 1
      val updates = orders
        .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 13 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.2)
        .unionByName(orders
          .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 31 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + maxKey))
      val v2 = PartitionedSnapshots.commitMerge(s, root, updates,
        "o_orderkey", "o_orderstatus")
      val unchangedByStatus = PartitionedSnapshots.mapping(s, root, Some(1)).keys
        .map { d =>
          d.stripPrefix("__p=") ->
            (PartitionedSnapshots.fileIdentity(s, root, Some(1), Some(d)) ==
             PartitionedSnapshots.fileIdentity(s, root, Some(v2), Some(d)))
        }.toSeq.toDF("o_orderstatus", "files_unchanged")
      val v1Intact = PartitionedSnapshots.read(s, root, Some(1)).count() == preN
      PartitionedSnapshots.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100).cast("long")).cast("double") / 100.0)
            .as("total"))
        .join(unchangedByStatus, Seq("o_orderstatus"))
        .withColumn("v1_intact", lit(v1Intact))
        .orderBy("o_orderstatus")
    }),

    // Manifest-level partition pruning: a read filtered to one
    // partition resolves ONLY that partition's data dirs from the
    // manifest — zero I/O, zero listing, zero scan tasks for the other
    // partitions (the Iceberg/Hive metadata-pruning contract; at
    // 10 000 partitions a WHERE on the partition column must not
    // enumerate the rest). pruned_ok MEASURES it: every file the plan
    // reads lives under __p=F, and that is strictly fewer files than
    // the table total.
    "q_table_pruned_read" -> ((s, dir) => {
      import graft.operators.PartitionedSnapshots
      val root = graft.Tables.scratch("pruned_read_tbl")
      val orders = t(s, dir, "orders")
      PartitionedSnapshots.create(s, root, orders, "o_orderstatus")
      val pruned = PartitionedSnapshots.readPartitions(s, root, _ == "F")
      val prunedFiles = pruned.inputFiles
      val totalFiles = PartitionedSnapshots.read(s, root).inputFiles
      val ok = prunedFiles.nonEmpty &&
        prunedFiles.forall(_.contains("__p=F")) &&
        prunedFiles.length < totalFiles.length
      pruned.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100).cast("long")).cast("double") / 100.0)
            .as("total"))
        .withColumn("pruned_ok", lit(ok))
        .orderBy("o_orderstatus")
    }),

    // File-level min/max data skipping (the Iceberg-manifest /
    // Delta-log statistics contract): a date-clustered write gives
    // each file a tight o_orderdate interval; the skip index (one
    // aggregation job over _metadata.file_path) lets a quarter-long
    // range read resolve only the overlapping files. skip_ok MEASURES
    // the pruning — strictly fewer files scanned than the table has —
    // and the re-applied residual filter keeps the result exact
    // whatever the layout, so bounds can only reduce I/O, never
    // change answers.
    "q_table_skipping" -> ((s, dir) => {
      import graft.operators.DataSkipping
      val out = tmp("skip_tbl")
      t(s, dir, "orders")
        .repartitionByRange(8, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.mode(SaveMode.Overwrite).parquet(out)
      DataSkipping.buildIndex(s, out, Seq("o_orderdate"))
      val pruned = DataSkipping.readRange(s, out, "o_orderdate",
        java.sql.Date.valueOf("1996-01-01"), java.sql.Date.valueOf("1996-03-31"))
      val ok = pruned.inputFiles.nonEmpty &&
        pruned.inputFiles.length < s.read.parquet(out).inputFiles.length
      pruned.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100).cast("long")).cast("double") / 100.0)
            .as("total"))
        .withColumn("skip_ok", lit(ok))
        .orderBy("o_orderpriority")
    }),

    // The PLANNER-INTEGRATED half of file skipping: DataSkipping.scan
    // wraps the table's FileIndex so the query's OWN pushed-down
    // predicate drives the pruning inside listFiles — no special read
    // API, composable with any shape (the Iceberg-manifest integration
    // point). scan_ok MEASURES it from the executed scan's numFiles
    // metric: the filtered read touches strictly fewer files than the
    // table holds, and at least one. Same date-clustered layout and
    // exact residual semantics as q_table_skipping, so the oracle is
    // the plain filtered aggregate.
    // Z-order layout x planner-integrated skipping — the composition
    // that justifies the Morton sink: after zorderWrite, EVERY file
    // covers a narrow range in BOTH dimensions, so the skip index
    // prunes on either key. zorder_ok MEASURES the layout advantage
    // three ways against a linear single-key clustering of the same
    // rows with the same file count and the same index: (a) the 2-dim
    // box probe prunes files on the z layout, (b) so does a probe on
    // the SECOND key alone — the dimension the linear layout cannot
    // cluster, where (c) the linear table must scan every single file.
    "q_table_zorder_skip" -> ((s, dir) => {
      import graft.operators.{DataSkipping, Partitioning}
      val zout = tmp("zorder_skip_z")
      val lout = tmp("zorder_skip_lin")
      val src = t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_quantity", "l_extendedprice")
      Partitioning.zorderWrite(src, zout, numFiles = 16, "l_orderkey", "l_suppkey")
      Partitioning.clusteredWrite(src, lout, numFiles = 16, "l_orderkey")
      DataSkipping.buildIndex(s, zout, Seq("l_orderkey", "l_suppkey"))
      DataSkipping.buildIndex(s, lout, Seq("l_orderkey", "l_suppkey"))
      val zTotal = s.read.parquet(zout).inputFiles.length.toLong
      val lTotal = s.read.parquet(lout).inputFiles.length.toLong
      def box(tbl: String) = DataSkipping.scan(s, tbl)
        .filter(col("l_orderkey") <= 1000 && col("l_suppkey") <= 5)
      val zBox = DataSkipping.scannedFiles(box(zout).select("l_orderkey"))
      val zSupp = DataSkipping.scannedFiles(DataSkipping.scan(s, zout)
        .filter(col("l_suppkey") <= 2).select("l_suppkey"))
      val lSupp = DataSkipping.scannedFiles(DataSkipping.scan(s, lout)
        .filter(col("l_suppkey") <= 2).select("l_suppkey"))
      val ok = zBox > 0 && zBox < zTotal && zSupp < zTotal && lSupp == lTotal
      box(zout)
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"),
          (sum(round(col("l_extendedprice") * 100).cast("long")).cast("double")
            / 100.0).as("sum_price"))
        .withColumn("zorder_ok", lit(ok))
    }),

    "q_table_skip_scan" -> ((s, dir) => {
      import graft.operators.DataSkipping
      val out = tmp("skip_scan_tbl")
      t(s, dir, "orders")
        .repartitionByRange(8, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.mode(SaveMode.Overwrite).parquet(out)
      DataSkipping.buildIndex(s, out, Seq("o_orderdate"))
      def pruned = DataSkipping.scan(s, out)
        .filter(col("o_orderdate") >= lit(java.sql.Date.valueOf("1996-07-01")) &&
          col("o_orderdate") <= lit(java.sql.Date.valueOf("1996-09-30")))
      val nScanned = DataSkipping.scannedFiles(pruned.select("o_orderdate"))
      val nTotal = s.read.parquet(out).inputFiles.length.toLong
      val ok = nScanned > 0 && nScanned < nTotal
      pruned.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100).cast("long")).cast("double") / 100.0)
            .as("total"))
        .withColumn("scan_ok", lit(ok))
        .orderBy("o_orderpriority")
    }),

    // Metadata-only aggregation (the third face of the skip index,
    // after range-read and planner pruning): count/min/max answered
    // from the index's per-file stats — Iceberg's manifest-served
    // `SELECT count(*)` — with data I/O only for files the index has
    // never seen. The query appends rows AFTER buildIndex, so both
    // paths run: the pre-index files are answered purely from
    // metadata, the appended files are scanned and folded in.
    // meta_ok MEASURES it: every data file in the stats plan is a
    // post-index append — not one pre-index data file is read — yet
    // the count/min/max equal a full recompute over the final table.
    "q_table_stats_only" -> ((s, dir) => {
      import graft.operators.DataSkipping
      import org.apache.hadoop.fs.Path
      val out = tmp("stats_only_tbl")
      val orders = t(s, dir, "orders")
      orders.repartitionByRange(8, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.mode(SaveMode.Overwrite).parquet(out)
      DataSkipping.buildIndex(s, out, Seq("o_orderdate"))
      val indexed = s.read.parquet(out).inputFiles
        .map(f => new Path(f).toString).toSet
      orders.filter(col("o_orderkey") % 97 === 0)
        .write.mode(SaveMode.Append).parquet(out)
      val stats = DataSkipping.statsOnly(s, out, Seq("o_orderdate"))
      // statsOnly is metadata-priced end to end since round 17: the
      // sidecar reads on the DRIVER and only the un-indexed appended
      // file pays a scan (eagerly, inside the call — spec-asserted
      // zero jobs when fully indexed), so the returned result is a
      // LocalRelation. meta_ok = the result plan touches NO files at
      // all; `indexed` documents the pre-append file set the fold
      // never re-reads.
      val ok = indexed.nonEmpty && stats.inputFiles.isEmpty
      stats.select(col("n_rows"),
          col("min_o_orderdate").as("min_date"),
          col("max_o_orderdate").as("max_date"))
        .withColumn("meta_ok", lit(ok))
    }),

    // Stats IN the transaction log (the Iceberg/Delta property the
    // standalone side index approximates by reconciliation): a
    // snapshot table created with registered stats columns publishes
    // per-file min/max/n_rows atomically with every version — written
    // after the version's data, before the manifest swap — and every
    // engine-owned rewrite re-clusters on those columns. One MERGE
    // commit later: (a) count/min/max of the LATEST version comes
    // purely from the stats sidecar — meta_ok measures that the plan
    // touches zero data files, with NO reconciliation caveat since a
    // version's file set is immutable; (b) a quarter-range read over
    // the merged version prunes files at planning time from the
    // commit's own stats — skip_ok measures strictly-fewer files
    // scanned. Oracle recomputes everything from the merged table.
    "q_table_stats_txn" -> ((s, dir) => {
      import graft.operators.{DataSkipping, Snapshots}
      val root = graft.Tables.scratch("stats_txn_tbl")
      val orders = t(s, dir, "orders")
      Snapshots.create(s, root,
        orders.repartitionByRange(8, col("o_orderdate"))
          .sortWithinPartitions("o_orderdate"),
        statsCols = Seq("o_orderdate"))
      val maxKey = orders.agg(coalesce(max("o_orderkey"), lit(-1L))).head.getLong(0) + 1
      val updates = orders.filter(col("o_orderkey") % 20 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
        .unionByName(orders.filter(col("o_orderkey") % 17 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + maxKey))
      Snapshots.commitMerge(s, root, updates, "o_orderkey")
      val meta = Snapshots.columnStats(s, root)
        .agg(sum("n_rows").cast("long").as("n_rows"),
          min("min_o_orderdate").as("min_date"),
          max("max_o_orderdate").as("max_date"))
      val metaOk = meta.inputFiles.nonEmpty &&
        meta.inputFiles.forall(_.contains("_stats"))
      val quarter = Snapshots.readPruned(s, root)
        .filter(col("o_orderdate") >= lit(java.sql.Date.valueOf("1996-07-01")) &&
          col("o_orderdate") <= lit(java.sql.Date.valueOf("1996-09-30")))
      val nScanned = DataSkipping.scannedFiles(quarter.select("o_orderdate"))
      val nTotal = Snapshots.read(s, root).inputFiles.length.toLong
      val skipOk = nScanned > 0 && nScanned < nTotal
      meta.crossJoin(quarter.agg(count(lit(1)).as("q_n"),
          (sum(round(col("o_totalprice") * 100).cast("long")).cast("double") / 100.0)
            .as("q_total")))
        .withColumn("meta_ok", lit(metaOk))
        .withColumn("skip_ok", lit(skipOk))
    }),

    // Stats-into-CBO: the transaction log's per-file stats drive JOIN
    // PLANNING, not just I/O pruning (the Iceberg/Delta
    // stats-to-optimizer integration point). readPrunedWhere binds the
    // predicate at CONSTRUCTION, so the relation's size estimate is
    // the byte sum of only the files the log's bounds keep — computed
    // from the manifest sidecar, zero data files opened, no ANALYZE.
    // A selective read of a big snapshot therefore broadcasts on a
    // COLD session. bhj_ok/ctl_ok measure the contract against a
    // threshold placed BETWEEN the two estimates: the stats-sized read
    // plans a BroadcastHashJoin; the identical predicate as a post-hoc
    // .filter keeps the full-table estimate (size-only plan stats pass
    // a Filter through unchanged) and shuffles. Row results are
    // oracle-checked as the plain filtered self-join.
    "q_table_stats_bhj" -> ((s, dir) => {
      import graft.operators.Snapshots
      val root = graft.Tables.scratch("stats_bhj_tbl")
      val orders = t(s, dir, "orders")
      Snapshots.create(s, root,
        orders.repartitionByRange(16, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"),
        statsCols = Seq("o_orderkey"))
      val pred = col("o_orderkey") <= 4000
      val prunedWhere = Snapshots.readPrunedWhere(s, root, pred)
        .select("o_orderkey", "o_totalprice")
      val full = Snapshots.read(s, root)
        .select(col("o_orderkey"), col("o_totalprice").as("tp_r"))
      val est = prunedWhere.queryExecution.optimizedPlan.stats.sizeInBytes
      val fullEst = full.queryExecution.optimizedPlan.stats.sizeInBytes
      val mid = ((est + fullEst) / 2).toString
      val confs = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold")
      val prev = confs.map(c => c -> s.conf.getOption(c))
      confs.foreach(s.conf.set(_, mid))
      val (bhjOk, ctlOk) =
        try {
          // initial physical plans (pre-AQE-reopt): the decision made
          // from ESTIMATES, which is what stats-into-CBO is about
          val statsPlan = prunedWhere.join(full, "o_orderkey")
            .queryExecution.executedPlan.toString
          val ctlPlan = Snapshots.readPruned(s, root).filter(pred)
            .select("o_orderkey", "o_totalprice").join(full, "o_orderkey")
            .queryExecution.executedPlan.toString
          (est < fullEst && statsPlan.contains("BroadcastHashJoin"),
            !ctlPlan.contains("BroadcastHashJoin"))
        } finally prev.foreach { case (c, v) =>
          v.fold(s.conf.unset(c))(s.conf.set(c, _)) }
      prunedWhere.join(full, "o_orderkey")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("tp_r") * 100).cast("long")).cast("double") / 100.0)
            .as("total"))
        .withColumn("bhj_ok", lit(bhjOk))
        .withColumn("ctl_ok", lit(ctlOk))
    }),

    // The reference's whole identity as a CONNECTOR, end-to-end: a
    // custom Hadoop FileSystem scheme registered via fs.graft.impl
    // (the fs.cfs.impl pattern, reference README.md:24-28) with
    // config-driven volume mounts (CubefsFileSystem.initialize,
    // :62-117). The query scans parquet THROUGH graft:// paths,
    // writes a sink through the scheme (exercising the full
    // create/mkdirs/rename FileOutputCommitter protocol on the
    // connector), reads it back through the scheme, and joins against
    // a second graft:// table. Result is a pure function of customer
    // ⋈ nation — the oracle recomputes it from the plain paths.
    "q_fs_connector" -> ((s, dir) => {
      import graft.sources.GraftFileSystem
      val hc = s.sparkContext.hadoopConfiguration
      GraftFileSystem.mount(hc, "data", dir)
      GraftFileSystem.mount(hc, "scratch", tmp("fs_connector"))
      s.read.parquet("graft://data/customer.parquet")
        .filter(col("c_acctbal") > 1000)
        .write.mode(SaveMode.Overwrite).parquet("graft://scratch/cust")
      s.read.parquet("graft://scratch/cust")
        .join(s.read.parquet("graft://data/nation.parquet"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_cust"),
          (sum(round(col("c_acctbal") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_acctbal"))
        .orderBy("n_name")
    }),

    // File-metadata scan: listStatus/stat surface via _metadata and
    // input_file_name() (both file-identity APIs exercised).
    "q_file_metadata" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("_metadata.file_size").as("fsize"),
          col("_metadata.file_path").as("fpath"),
          input_file_name().as("ifn"))
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("fpath")).as("n_files"),
          (min(col("fsize")) > 0).as("has_size"),
          countDistinct(col("ifn")).as("n_files_ifn"),
          min(col("ifn").endsWith(".parquet")).as("ifn_parquet"))
    })
  )

  val oracle: Map[String, String] = Map(
    // v1 is customer verbatim; v2 is the merge, a pure function of
    // customer (CASE mirrors the matched-update, UNION ALL the
    // inserts); both immutability booleans predicted TRUE.
    "q_table_timetravel" ->
      """SELECT 1 AS version, count(*) AS n_rows,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS sum_acctbal,
        |  TRUE AS snapshot_ok
        |FROM customer
        |UNION ALL
        |SELECT 2, count(*),
        |  CAST(sum(cents) AS DOUBLE) / 100.0, TRUE
        |FROM (
        |  SELECT CASE WHEN c_custkey % 10 = 0
        |    THEN CAST(round((c_acctbal + 1000) * 100) AS BIGINT)
        |    ELSE CAST(round(c_acctbal * 100) AS BIGINT) END AS cents
        |  FROM customer
        |  UNION ALL
        |  SELECT CAST(round(500.50 * 100) AS BIGINT)
        |  FROM customer WHERE c_custkey % 97 = 0)
        |ORDER BY version""".stripMargin,

    // the merge is a pure function of customer: %10 rows update
    // (pre + post rows), %97 rows insert under max-offset keys,
    // nothing deletes
    "q_table_changes" ->
      """WITH m AS (SELECT max(c_custkey) + 1 AS off FROM customer)
        |SELECT c_custkey, c_acctbal + 1000 AS c_acctbal,
        |       'update_postimage' AS _change_type
        |FROM customer WHERE c_custkey % 10 = 0
        |UNION ALL
        |SELECT c_custkey, c_acctbal, 'update_preimage'
        |FROM customer WHERE c_custkey % 10 = 0
        |UNION ALL
        |SELECT c_custkey + m.off, 500.50, 'insert'
        |FROM customer, m WHERE c_custkey % 97 = 0
        |ORDER BY c_custkey, _change_type""".stripMargin,

    // the evolving merge is a pure function of customer: %10 rows
    // re-balance (+1000) and gain a tier, %13-not-%10 rows gain ONLY
    // the tier, %97 rows insert under offset keys with a tier;
    // preimages predate the evolution so their c_tier is NULL
    "q_table_cdf_evolve" ->
      """WITH m AS (SELECT max(c_custkey) + 1 AS off FROM customer)
        |SELECT c_custkey, c_acctbal + 1000 AS c_acctbal,
        |       CASE WHEN c_acctbal + 1000 > 5000 THEN 'gold' ELSE 'std' END
        |         AS c_tier,
        |       'update_postimage' AS _change_type
        |FROM customer WHERE c_custkey % 10 = 0
        |UNION ALL
        |SELECT c_custkey, c_acctbal, CAST(NULL AS VARCHAR), 'update_preimage'
        |FROM customer WHERE c_custkey % 10 = 0
        |UNION ALL
        |SELECT c_custkey, c_acctbal,
        |       CASE WHEN c_acctbal > 5000 THEN 'gold' ELSE 'std' END,
        |       'update_postimage'
        |FROM customer WHERE c_custkey % 13 = 0 AND c_custkey % 10 <> 0
        |UNION ALL
        |SELECT c_custkey, c_acctbal, CAST(NULL AS VARCHAR), 'update_preimage'
        |FROM customer WHERE c_custkey % 13 = 0 AND c_custkey % 10 <> 0
        |UNION ALL
        |SELECT c_custkey + m.off, c_acctbal,
        |       CASE WHEN c_acctbal > 5000 THEN 'gold' ELSE 'std' END,
        |       'insert'
        |FROM customer, m WHERE c_custkey % 97 = 0
        |ORDER BY c_custkey, _change_type""".stripMargin,

    // all three versions are pure functions of customer: v2 negates
    // the %5 cents (round is half-away-from-zero in both engines, so
    // negation commutes with rounding) and adds zero-balance inserts;
    // v3 is the rollback, identical to v1
    "q_table_rollback" ->
      """WITH c AS (
        |  SELECT count(*) AS n,
        |         sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS cents
        |  FROM customer),
        |neg AS (
        |  SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS cents
        |  FROM customer WHERE c_custkey % 5 = 0),
        |ins AS (SELECT count(*) AS n FROM customer WHERE c_custkey % 7 = 0)
        |SELECT CAST(1 AS BIGINT) AS version, c.n AS n_rows,
        |  CAST(c.cents AS DOUBLE) / 100.0 AS sum_acctbal,
        |  TRUE AS matches_v1 FROM c
        |UNION ALL
        |SELECT 2, c.n + ins.n,
        |  CAST(c.cents - 2 * neg.cents AS DOUBLE) / 100.0, FALSE
        |FROM c, neg, ins
        |UNION ALL
        |SELECT 3, c.n, CAST(c.cents AS DOUBLE) / 100.0, TRUE FROM c
        |ORDER BY version""".stripMargin,

    "q_sql_timetravel" ->
      """SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS sum_acctbal
        |FROM customer
        |UNION ALL
        |SELECT 2, count(*) + (SELECT count(*) FROM customer WHERE c_custkey % 97 = 0),
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
        |       + (SELECT count(*) FROM customer WHERE c_custkey % 97 = 0) * 50050
        |       AS DOUBLE) / 100.0
        |FROM customer
        |ORDER BY version""".stripMargin,

    // both batches carry every order once; only the second has the
    // evolved column
    "q_source_schema_evolution" ->
      """SELECT 2 * count(*) AS n_rows,
        |  count(*) AS n_with_priority,
        |  CAST(2 * sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS sum_price,
        |  CAST(2 AS BIGINT) AS n_batches
        |FROM orders""".stripMargin,

    // v1 = customer; v2 adds the %50 inserts; v3 is the compaction
    // rewrite of v2 (content-identical)
    "q_table_history" ->
      """WITH c AS (SELECT count(*) AS n FROM customer),
        |     i AS (SELECT count(*) AS n FROM customer WHERE c_custkey % 50 = 0)
        |SELECT CAST(1 AS BIGINT) AS version, c.n AS n_rows,
        |  TRUE AS has_files, TRUE AS has_bytes FROM c
        |UNION ALL SELECT 2, c.n + i.n, TRUE, TRUE FROM c, i
        |UNION ALL SELECT 3, c.n + i.n, TRUE, TRUE FROM c, i
        |ORDER BY version""".stripMargin,

    // content invariants from documents; file counts and expiry
    // booleans are deterministic (see the query comment)
    "q_table_compact" ->
      """SELECT count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  64 AS files_before, 1 AS files_after,
        |  TRUE AS expired_v1, TRUE AS expire_clean
        |FROM documents""".stripMargin,

    "q_sink_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total
        |FROM orders WHERE o_totalprice > 100000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_sink_savemodes" ->
      """SELECT r_regionkey, r_name, 2 AS n_copies, true AS error_mode_threw
        |FROM region ORDER BY r_regionkey""".stripMargin,

    "q_sink_partitioned" ->
      """SELECT l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem WHERE l_returnflag = 'R'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q_sink_csv" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_sink_json" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,

    "q_sink_clustered" ->
      """SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_source_range" ->
      """SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS total
        |FROM (SELECT unnest(range(0, 100000)) AS x) WHERE x % 7 = 0""".stripMargin,

    "q_table_lifecycle" ->
      """SELECT n_regionkey, CAST(count(*) * 2 AS BIGINT) AS n
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "q_sql_ddl" ->
      """SELECT r_regionkey, r_name FROM region
        |UNION ALL
        |SELECT r_regionkey + 100, upper(r_name) FROM region
        |ORDER BY r_regionkey""".stripMargin,

    "q_sink_orc" ->
      """SELECT p_partkey, p_name, p_brand, p_size, p_retailprice
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_sink_zorder" ->
      """SELECT count(*) AS n, sum(l_quantity) AS sum_qty,
        |  max(l_orderkey) AS max_key
        |FROM lineitem
        |WHERE l_orderkey <= 1000 AND l_suppkey <= 5""".stripMargin,

    "q_source_csv_modes" ->
      """SELECT count(*) AS n_all,
        |  count(*) FILTER (WHERE o_orderkey % 10 = 0) AS n_corrupt,
        |  count(*) FILTER (WHERE o_orderkey % 10 <> 0) AS n_dropmalformed,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |       FILTER (WHERE o_orderkey % 10 <> 0) AS DOUBLE) / 100.0 AS good_total,
        |  TRUE AS failfast_threw
        |FROM orders""".stripMargin,

    "q_observe" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders""".stripMargin,

    "q_sink_dynamic_overwrite" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(round(
        |    CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
        |         ELSE o_totalprice END * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_table_stats" ->
      """SELECT n_name, count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total,
        |       (SELECT count(*) FROM orders) AS stats_orders_rows
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_table_delete" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS total,
        |  TRUE AS audit_ok
        |FROM orders
        |WHERE o_orderpriority <> '1-URGENT'
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "q_table_update" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(round(p * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total,
        |  TRUE AS update_ok
        |FROM (
        |  SELECT
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN '2-HIGH'
        |         ELSE o_orderpriority END AS o_orderpriority,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 1.05
        |         ELSE o_totalprice END AS p
        |  FROM orders)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // v1→v3 diff semantics: deletes carry the vFROM image (original
    // price, even for rows the v2 update touched); update pairs are
    // urgent rows that survived the delete
    "q_sql_changes" ->
      """SELECT * FROM (
        |  SELECT 'delete' AS _change_type, count(*) AS n,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |      / 100.0 AS total
        |  FROM orders WHERE o_orderkey % 13 = 0
        |  UNION ALL
        |  SELECT 'update_preimage', count(*),
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |  FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT 'update_postimage', count(*),
        |    CAST(sum(CAST(round(o_totalprice * 1.05 * 100) AS BIGINT)) AS DOUBLE)
        |      / 100.0
        |  FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 13 <> 0)
        |ORDER BY _change_type""".stripMargin,

    "q_sql_branch" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(round(
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 1.2
        |         ELSE o_totalprice END * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS staged_total,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS main_total
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_table_branch" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(round(p * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total,
        |  TRUE AS wap_ok
        |FROM (
        |  SELECT o_orderpriority,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 1.1
        |         ELSE o_totalprice END AS p
        |  FROM orders)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_table_merge" ->
      """WITH updates AS (
        |  SELECT * REPLACE (o_totalprice * 1.1 AS o_totalprice)
        |  FROM orders WHERE o_orderkey % 20 = 0
        |  UNION ALL
        |  SELECT * REPLACE (o_orderkey + (SELECT max(o_orderkey) + 1 FROM orders)
        |                    AS o_orderkey)
        |  FROM orders WHERE o_orderkey % 17 = 0),
        |merged AS (
        |  SELECT * FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        |  UNION ALL SELECT * FROM updates)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // n_rows = customer + inserts; tier carriers = the %10 updates
    // (tier from bal+1000) plus the %97 inserts (tier from bal)
    "q_table_schema_merge" ->
      """SELECT
        |  (SELECT count(*) FROM customer)
        |    + (SELECT count(*) FROM customer WHERE c_custkey % 97 = 0)
        |    AS n_rows,
        |  (SELECT count(*) FROM customer WHERE c_custkey % 10 = 0)
        |    + (SELECT count(*) FROM customer WHERE c_custkey % 97 = 0)
        |    AS n_with_tier,
        |  (SELECT count(*) FROM customer
        |     WHERE c_custkey % 10 = 0 AND c_acctbal + 1000 > 5000)
        |    + (SELECT count(*) FROM customer
        |       WHERE c_custkey % 97 = 0 AND c_acctbal > 5000)
        |    AS n_gold,
        |  CAST(3 AS BIGINT) AS v1_cols, CAST(4 AS BIGINT) AS v2_cols""".stripMargin,

    // v2 aggregate is the same pure merge as q_table_merge; the
    // delta-vs-full equality is predicted TRUE
    "q_table_incremental_agg" ->
      """WITH updates AS (
        |  SELECT * REPLACE (o_totalprice * 1.1 AS o_totalprice)
        |  FROM orders WHERE o_orderkey % 20 = 0
        |  UNION ALL
        |  SELECT * REPLACE (o_orderkey + (SELECT max(o_orderkey) + 1 FROM orders)
        |                    AS o_orderkey)
        |  FROM orders WHERE o_orderkey % 17 = 0),
        |merged AS (
        |  SELECT * FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        |  UNION ALL SELECT * FROM updates)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS total,
        |  TRUE AS incremental_ok
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_file_metadata" ->
      """SELECT count(*) AS n_rows, 1 AS n_files, true AS has_size,
        |       1 AS n_files_ifn, true AS ifn_parquet
        |FROM lineitem""".stripMargin,

    "q_table_partitioned_merge" ->
      """WITH updates AS (
        |  SELECT * REPLACE (o_totalprice * 1.2 AS o_totalprice)
        |  FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 13 = 0
        |  UNION ALL
        |  SELECT * REPLACE (o_orderkey + (SELECT max(o_orderkey) + 1 FROM orders)
        |                    AS o_orderkey)
        |  FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 31 = 0),
        |merged AS (
        |  SELECT * FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        |  UNION ALL SELECT * FROM updates)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS total,
        |  (o_orderstatus <> 'F') AS files_unchanged,
        |  TRUE AS v1_intact
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_table_pruned_read" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS total,
        |  TRUE AS pruned_ok
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_table_skipping" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS total,
        |  TRUE AS skip_ok
        |FROM orders
        |WHERE o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_table_zorder_skip" ->
      """SELECT count(*) AS n, sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS sum_price,
        |  TRUE AS zorder_ok
        |FROM lineitem
        |WHERE l_orderkey <= 1000 AND l_suppkey <= 5""".stripMargin,

    "q_table_skip_scan" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS total,
        |  TRUE AS scan_ok
        |FROM orders
        |WHERE o_orderdate BETWEEN DATE '1996-07-01' AND DATE '1996-09-30'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_table_stats_only" ->
      """SELECT count(*) AS n_rows, min(o_orderdate) AS min_date,
        |  max(o_orderdate) AS max_date, TRUE AS meta_ok
        |FROM (SELECT o_orderdate, o_orderkey FROM orders
        |      UNION ALL
        |      SELECT o_orderdate, o_orderkey FROM orders
        |      WHERE o_orderkey % 97 = 0)""".stripMargin,

    "q_table_stats_bhj" ->
      """WITH f AS (SELECT o_orderkey, o_totalprice FROM orders
        |           WHERE o_orderkey <= 4000)
        |SELECT count(*) AS n,
        |  CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS total,
        |  TRUE AS bhj_ok, TRUE AS ctl_ok
        |FROM f JOIN orders o ON f.o_orderkey = o.o_orderkey""".stripMargin,

    "q_table_stats_txn" ->
      """WITH updates AS (
        |  SELECT * REPLACE (o_totalprice * 1.1 AS o_totalprice)
        |  FROM orders WHERE o_orderkey % 20 = 0
        |  UNION ALL
        |  SELECT * REPLACE (o_orderkey + (SELECT max(o_orderkey) + 1 FROM orders)
        |                    AS o_orderkey)
        |  FROM orders WHERE o_orderkey % 17 = 0),
        |merged AS (
        |  SELECT * FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        |  UNION ALL SELECT * FROM updates)
        |SELECT
        |  (SELECT count(*) FROM merged) AS n_rows,
        |  (SELECT min(o_orderdate) FROM merged) AS min_date,
        |  (SELECT max(o_orderdate) FROM merged) AS max_date,
        |  count(*) AS q_n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS q_total,
        |  TRUE AS meta_ok, TRUE AS skip_ok
        |FROM merged
        |WHERE o_orderdate BETWEEN DATE '1996-07-01' AND DATE '1996-09-30'""".stripMargin,

    "q_fs_connector" ->
      """SELECT n_name, count(*) AS n_cust,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 1000
        |GROUP BY n_name ORDER BY n_name""".stripMargin
  )
}
