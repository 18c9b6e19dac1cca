#!/usr/bin/env python3
"""graft lake benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 10 --trace 0 [--out DIR]

Builds the engine and the driver from source (once per checkout),
generates the seeded lake_ingest batches (the base tables are fixed, in
perfbench/data), runs one driver process at local[N], checks
every output against the DuckDB oracle and prints each metric by name
and unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1) named in
BENCHMARK.json. Results and traces go to --out (default: a fresh
directory under perfbench/out/).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("lake_sql", "lake_ingest", "llm_stream")
SCALE = "sf0.01"  # the base tables: the engine's sf0.01 fixtures, 60,000 lineitem rows
DATA = os.path.join(HERE, "data", SCALE)
INGEST_BATCHES = 40
CORES = min(4, os.cpu_count() or 1)
RUN_CAP_S = 175  # the whole command, build excluded
ORACLE_RESERVE_S = 25
# Per-layer metrics of layers a workload does not run read 0 there; any
# other per-layer metric of BENCHMARK.json that a traced run does not
# produce fails the run.
NOT_EXERCISED = {
    "lake_sql": ("operators.", "ingest.", "stream."),
    "lake_ingest": ("stream.",),
    "llm_stream": ("sources.", "ingest.", "operators.IvfIndex.", "operators.Snapshots.",
                   "operators.PartitionedSnapshots."),
}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def run_driver(a, out, batches, budget_s):
    work_tmp = os.path.join(out, "work", "tmp")
    os.makedirs(work_tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work_tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        # loopback only: the driver never depends on how the host name resolves
        "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
        "-cp", f"{build.CLASSES}:{build.spark_jars()}/*", "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", DATA, "--batches", batches, "--out", out,
        "--cores", str(CORES),
        "--op-cap-s", str(min(60, budget_s / 2)), "--deadline-s", str(max(10, budget_s - 15))]
    if a.fail_probe:
        cmd.append("--fail-probe")
    with open(os.path.join(out, "driver.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=out, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"driver exceeded its {budget_s:.0f} s budget; see {out}/driver.log")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        fail(f"driver exited with code {code}; see {out}/driver.log")
    with open(os.path.join(out, "results.json")) as f:
        return json.load(f)


def fmt(v):
    return "nan" if v != v else f"{v:.6g}"


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description="graft lake benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="directory for results and traces (default: perfbench/out/<run>)")
    ap.add_argument("--fail-probe", action="store_true", help="append an op that always throws")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        fail(f"base tables not found under {DATA}")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_path) as f:
        spec = json.load(f)

    try:
        build.build(log)
    except build.BuildError as e:
        fail(f"build failed: {e}")
    t_built = time.monotonic()
    out = os.path.abspath(a.out or os.path.join(
        HERE, "out", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"))
    if os.path.abspath(os.getcwd()) == out:
        fail("--out must not be the working directory")
    os.makedirs(out, exist_ok=True)
    batches = os.path.join(out, "batches")
    meta = datagen.generate(batches, a.seed, DATA, INGEST_BATCHES) if a.workload == "lake_ingest" else []
    t_data = time.monotonic()
    budget = RUN_CAP_S - (t_data - t_built) - ORACLE_RESERVE_S
    res = run_driver(a, out, batches, budget)
    t_driver = time.monotonic()

    # ── oracle, outside the timed region ────────────────────────────
    for i, r in enumerate(res["ops"]):
        r["seq"] = i
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    q_fail, unchecked = oracle.check_queries(DATA, os.path.join(out, "outputs"), oracle_sql)
    oracle_failures = dict(q_fail)
    final_failures = []
    if a.workload == "lake_ingest":
        digests, final_failures = oracle.check_ingest(DATA, batches, res["ops"], meta,
                                                      os.path.join(out, "final"))
        oracle_failures.update(digests)
    warm = [r for r in res["ops"] if r["pass"] == 0]
    _, warm_failed = stats.account(warm, oracle_failures)

    t_oracle = time.monotonic()
    log(f"build {t_built - t_start:.1f} s, inputs {t_data - t_built:.1f} s, "
        f"driver {t_driver - t_data:.1f} s, oracle {t_oracle - t_driver:.1f} s")
    m, extra, attempted, failed = stats.end_to_end(res, oracle_failures)
    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "scale": SCALE,
               "cores": CORES, "config": res["config"], "end_to_end": m, "details": extra,
               "failures": failed, "warmup_failures": warm_failed, "final_failures": final_failures,
               "unchecked": unchecked,
               "build_s": t_built - t_start}
    if a.trace:
        spans = []
        sp = os.path.join(out, "spans.jsonl")
        if os.path.isfile(sp):
            with open(sp) as f:
                spans = [json.loads(l) for l in f if l.strip()]
        layer = stats.per_layer(res, spans)
        for k_out, k_in in (("ingest.write_amp", "write_amp"), ("ingest.read_p50_s", "read_p50_s"),
                            ("stream.batch_p50_s", "batch_p50_s"), ("stream.rows_per_s", "stream_rows_per_s")):
            if k_in in extra:
                layer[k_out] = extra[k_in]
        summary["per_layer"] = layer
        names = spec["per_layer"]
        values = {x["name"]: layer.get(x["name"], 0.0) for x in names}
    else:
        names = spec["end_to_end"]
        values = {x["name"]: m[x["name"]] for x in names}
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    if a.trace:
        idle = NOT_EXERCISED[a.workload]
        missing = [x["name"] for x in names if x["name"] not in layer and not x["name"].startswith(idle)]
        if missing:
            fail(f"the traced run produced no value for {', '.join(missing)}; see {out}")

    for d in ("batches", "work", "outputs", "final"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)

    # ── report ───────────────────────────────────────────────────────
    print(f"workload {a.workload} seed {a.seed} trace {a.trace} cores {CORES} scale {SCALE}")
    for x in names:
        print(f"  {x['name']:<34} {fmt(values[x['name']]):>14} {x['unit']}")
    if not a.trace:
        print(f"  {'op_tail_s':<34} {fmt(m['op_tail_s']):>14} s  (p{extra['op_tail_pct']} "
              f"of {extra['op_samples']} ops; not gated)")
        for k in ("failed_frac", "write_amp", "read_p50_s", "batch_p50_s", "stream_rows_per_s",
                  "warmup_s", "session_start_s"):
            if k in extra:
                print(f"  {k:<34} {fmt(extra[k]):>14}")
    for f_ in warm_failed + failed:
        print(f"  FAILED {f_['name']} (pass {f_['pass']}): {f_['reason']}")
    for reason in final_failures:
        print(f"  FAILED {reason}")
    if unchecked:
        print(f"  no oracle (checked only run-to-run): {', '.join(unchecked)}")
    print(f"  results: {out}")
    correct = not failed and not warm_failed and not final_failures
    if a.trace:
        clean = {k: (0.0 if v != v else v) for k, v in values.items()}
    elif any(v != v for v in values.values()):
        fail("a metric could not be computed; see " + out)
    else:
        clean = values
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(failed),
                      "metrics": {x["name"]: {"value": clean[x["name"]], "unit": x["unit"]} for x in names}}))


if __name__ == "__main__":
    main()
