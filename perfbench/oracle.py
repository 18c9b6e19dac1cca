"""DuckDB oracle for the benchmark's outputs.

Queries: each captured output is compared with the query's
`SparkEntry.oracleSql` run in DuckDB over the same base tables,
canonicalized by the FIXTURES.md rules (doubles to 6 decimals,
microsecond timestamps, columns sorted by name).

lake_ingest: the seeded batches are replayed in DuckDB in the order the
driver committed them; every read-back digest must equal DuckDB's.
"""
import datetime
import decimal
import math
import os
import re

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_val(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{round(v, 6):.6f}"
    if isinstance(v, decimal.Decimal):
        # kept apart from int: a DuckDB HUGEINT must not pass as BIGINT
        return "dec:" + f"{v:f}"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.") + f"{v.microsecond:06d}"
    if isinstance(v, (list, tuple)):
        return tuple(canon_val(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon_val(x)) for k, x in v.items()))
    return v


def rows_of(rel):
    """Rows through arrow, so HUGEINT/DECIMAL keep their type."""
    tbl = rel.arrow()
    if hasattr(tbl, "read_all"):
        tbl = tbl.read_all()
    cols = [c.lower() for c in tbl.column_names]
    if tbl.num_columns == 0 or tbl.num_rows == 0:
        return cols, []
    pyl = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return cols, [tuple(canon_val(r[i]) for i in order) for r in zip(*pyl)]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def check_queries(data_dir, outputs_dir, oracle_sql):
    """Returns ({name: failure reason}, [names without an oracle])."""
    con = connect(data_dir)
    failures, unchecked = {}, []
    for name in sorted(os.listdir(outputs_dir)) if os.path.isdir(outputs_dir) else []:
        sql = oracle_sql.get(name)
        if sql is None:
            unchecked.append(name)
            continue
        got_cols, got = rows_of(con.sql(f"SELECT * FROM read_parquet('{outputs_dir}/{name}/*.parquet')"))
        try:
            exp_cols, exp = rows_of(con.sql(sql))
        except Exception as e:  # an oracle that cannot run is a failed check
            failures[name] = f"oracle error: {str(e).splitlines()[0][:200]}"
            continue
        if sorted(got_cols) != sorted(exp_cols):
            failures[name] = f"oracle: columns {sorted(got_cols)} != {sorted(exp_cols)}"
        elif got != exp:
            diff = next((i for i, (g, e) in enumerate(zip(got, exp)) if g != e), min(len(got), len(exp)))
            g = got[diff] if diff < len(got) else None
            e = exp[diff] if diff < len(exp) else None
            failures[name] = (f"oracle: rows differ (got {len(got)}, expected {len(exp)}); "
                              f"row {diff}: got {str(g)[:160]} expected {str(e)[:160]}")
    con.close()
    return failures, unchecked


WORD = re.compile(r"[A-Za-z0-9_]+")


def _tokens(text):
    """The engine's tokenizer (`Dedup.tokens`): lowercase, split on non-word."""
    return WORD.findall(text.lower())


def check_ingest(data_dir, bdir, ops, meta, final_dir):
    """Replays the committed batches in DuckDB.

    Returns ({op seq: reason}, [reasons]): the first maps every read-back
    whose digest differs from DuckDB's, or that follows a failed commit
    (its state is unknown); the second lists final contents (orders
    snapshot, partitioned table, live vectors) that differ from the
    replayed tables, compared as sorted canonical rows."""
    con = connect(data_dir)
    con.execute("CREATE TABLE snap AS SELECT * FROM orders")
    con.execute("CREATE TABLE psnap AS SELECT * FROM orders")
    con.execute("CREATE TABLE docs AS SELECT doc_id, text FROM documents")
    con.execute("CREATE TABLE vecs AS SELECT vec_id, embedding FROM embeddings")
    mods = {m[0]: m for m in meta}

    def digest_orders(t):
        return list(con.sql(f"SELECT count(*), coalesce(sum(o_orderkey), 0), "
                            f"coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0) FROM {t}").fetchone())

    def digest_text(term):
        rows = con.sql("SELECT doc_id, text FROM docs").fetchall()
        hits, tf_sum, n, dl = 0, 0, 0, 0
        for doc_id, text in rows:
            toks = _tokens(text)
            n += 1
            dl += len(toks)
            tf = toks.count(term)
            if tf:
                hits += 1
                tf_sum += doc_id * tf
        return [hits, tf_sum, n, dl]

    def digest_vecs():
        return list(con.sql("SELECT count(*), coalesce(sum(vec_id), 0), "
                            "coalesce(sum(len(embedding)), 0) FROM vecs").fetchone())

    failures = {}
    broken = None
    for r in ops:
        b, name = r["batch"], r["name"]
        if r["kind"] == "commit":
            if not r["ok"]:
                broken = f"state unknown after failed {name} in pass {r['pass']}"
                continue
            up = f"read_parquet('{bdir}/upsert_{b}.parquet')"
            if name in ("merge", "merge_part"):
                t = "snap" if name == "merge" else "psnap"
                con.execute(f"DELETE FROM {t} WHERE o_orderkey IN (SELECT o_orderkey FROM {up})")
                con.execute(f"INSERT INTO {t} SELECT * FROM {up}")
            elif name == "delete":
                _, mod, res, _ = mods[b]
                con.execute(f"DELETE FROM snap WHERE o_orderkey % {mod} = {res}")
            elif name == "append_docs":
                con.execute(f"INSERT INTO docs SELECT doc_id, text FROM read_parquet('{bdir}/docs_{b}.parquet')")
            elif name == "delete_docs":
                con.execute(f"DELETE FROM docs WHERE doc_id IN "
                            f"(SELECT doc_id FROM read_parquet('{bdir}/docdel_{b}.parquet'))")
            elif name == "append_vecs":
                con.execute(f"INSERT INTO vecs SELECT vec_id, embedding FROM read_parquet('{bdir}/vecs_{b}.parquet')")
            elif name == "delete_vecs":
                con.execute(f"DELETE FROM vecs WHERE vec_id IN "
                            f"(SELECT vec_id FROM read_parquet('{bdir}/vecdel_{b}.parquet'))")
            continue
        if r["kind"] != "readback" or not r["ok"]:
            continue
        key = r["seq"]
        if broken:
            failures[key] = broken
            continue
        if name == "read_snap":
            exp = digest_orders("snap")
        elif name == "read_part":
            exp = digest_orders("psnap")
        elif name == "read_text":
            exp = digest_text(mods[b][3])
        elif name == "read_ivf":
            exp = digest_vecs()
        else:
            continue
        got = [int(x) for x in r["digest"] or []]
        if got != [int(x) for x in exp]:
            failures[key] = f"oracle: digest {got} != {exp}"
    finals = []
    if not broken:
        for name, table in (("orders_snap", "snap"), ("orders_part", "psnap"), ("vectors", "vecs")):
            path = os.path.join(final_dir, name)
            if not os.path.isdir(path):
                finals.append(f"final {name}: not captured")
                continue
            got_cols, got = rows_of(con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')"))
            exp_cols, exp = rows_of(con.sql(f"SELECT * FROM {table}"))
            if sorted(got_cols) != sorted(exp_cols) or sorted(got, key=repr) != sorted(exp, key=repr):
                finals.append(f"final {name}: contents differ (got {len(got)} rows, expected {len(exp)})")
    con.close()
    return failures, finals
