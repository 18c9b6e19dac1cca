"""Pure functions that turn the driver's raw records into metrics.

Kept free of I/O so the tests can exercise every rule directly.
"""
import math
import statistics

# Metrics that combine across traced passes by max instead of mean.
MAX_KEYS = {"exec.skew_max", "jvm.heap_peak_mb"}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs, beyond=10):
    """Latency at the highest whole percentile that still has at least
    `beyond` samples above it (nearest-rank percentiles).

    Returns (value, percentile, n). With `beyond` or fewer samples no
    percentile qualifies; the maximum is returned with percentile 100.
    """
    v = sorted(xs)
    n = len(v)
    if n == 0:
        return float("nan"), 0, 0
    if n <= beyond:
        return v[-1], 100, n
    p = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    return v[rank - 1], p, n


def self_times(spans):
    """Seconds each layer spends outside its child spans.

    `spans` are dicts with id, parent, layer, start_us and end_us. A
    span's self time is its duration minus the union of its children's
    intervals, each clipped to the parent.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        ivs = sorted((max(lo, c["start_us"]), min(hi, c["end_us"]))
                     for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["layer"]] = out.get(s["layer"], 0.0) + (hi - lo - covered) / 1e6
    return out


def account(ops, oracle_failures):
    """Applies failure accounting to the timed ops.

    An op fails when it threw, hit its time cap, or produced output that
    differs from the oracle (`oracle_failures` maps an op name, or the
    op's sequence number in the run, to the reason). Returns (ok_ops, failures) where
    failures lists {"name", "pass", "reason"}; failed ops never reach a
    latency figure.
    """
    ok, failed = [], []
    for r in ops:
        reason = r.get("reason") if not r["ok"] else None
        reason = reason or oracle_failures.get(r["seq"]) or oracle_failures.get(r["name"])
        if reason:
            failed.append({"name": r["name"], "pass": r["pass"], "reason": reason})
        else:
            ok.append(r)
    return ok, failed


def end_to_end(res, oracle_failures):
    """End-to-end metrics of an untraced run, plus the accounting."""
    timed = [r for r in res["ops"] if r["pass"] > 0]
    ok, failed = account(timed, oracle_failures)
    lat = [r["seconds"] for r in ok]
    tail_v, tail_p, n = tail(lat)
    passes = [p["wall_s"] for p in res["passes"] if p["pass"] > 0 and not p["traced"]]
    m = {
        "setup_s": (res["session_start_s"] + median(res["setup_cycles_s"]) + res["prepare_s"]
                    + res["warmup_s"]),
        "pass_s": median(passes),
        "op_p50_s": median(lat),
        "op_tail_s": tail_v,
        "retained_heap_mb": res["retained_heap_mb"],
    }
    extra = {"op_tail_pct": tail_p, "op_samples": n,
             "failed_frac": len(failed) / len(timed) if timed else 1.0,
             "warmup_s": res["warmup_s"], "first_op_s": res["first_op_s"],
             "session_start_s": res["session_start_s"], "passes": len(passes)}
    commits = [r for r in ok if r["kind"] == "commit"]
    reads = [r["seconds"] for r in ok if r["kind"] == "readback"]
    if commits:
        inb = sum(r["input_bytes"] for r in commits)
        extra["write_amp"] = sum(r["new_bytes"] for r in commits) / inb if inb else float("nan")
    if reads:
        extra["read_p50_s"] = median(reads)
    sb = res.get("stream_batches") or []
    if sb:
        trig = [b["trigger_ms"] / 1e3 for b in sb]
        extra["batch_p50_s"] = median(trig)
        extra["stream_rows_per_s"] = sum(b["input_rows"] for b in sb) / max(1e-9, sum(trig))
    return m, extra, len(timed), failed


def per_layer(res, spans):
    """Per-layer metrics of a traced run: means over traced passes
    (maxima for MAX_KEYS), span self times per pass, and the tracing
    overhead against the untraced passes of the same run."""
    layers = res["layers"]
    keys = {k for l in layers for k in l if k != "pass"}
    out = {}
    for k in keys:
        vals = [l.get(k, 0.0) for l in layers]
        out[k] = max(vals) if k in MAX_KEYS else sum(vals) / len(vals)
    traced_ids = {s["id"] for s in spans if s["layer"] == "pass"}
    # the workload span also covers the untraced passes: no self time
    spans = [s for s in spans if s["layer"] != "workload"]
    if traced_ids:
        for layer, secs in self_times(spans).items():
            out[f"trace.self_s.{layer}"] = secs / len(traced_ids)
    traced = [p["wall_s"] for p in res["passes"] if p["pass"] > 0 and p["traced"]]
    plain = [p["wall_s"] for p in res["passes"] if p["pass"] > 0 and not p["traced"]]
    out["trace.overhead_frac"] = median(traced) / median(plain) - 1 if traced and plain else float("nan")
    return out
