"""Turns the harness's per-operation records into the benchmark's metrics.

Every figure here is computed from `ops.tsv` and `run.json`, which the
JVM harness writes; nothing in this module touches Spark.
"""
import csv
import statistics

HEADLINE_FACES = ["transit_q1_weekday", "transit_q2_weekday",
                  "transit_q3_weekday", "transit_q4_weekday"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, n). With n samples sorted ascending, the
    value at 1-based rank n - beyond has exactly `beyond` samples beyond it,
    and its percentile is 100 * (n - beyond) / n. With `beyond` samples or
    fewer no percentile qualifies, and the minimum (percentile 0) stands in.
    """
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    s = sorted(xs)
    if n <= beyond:
        return s[0], 0.0, n
    return s[n - beyond - 1], 100.0 * (n - beyond) / n, n


def read_ops(path):
    with open(path, newline="") as f:
        rows = list(csv.DictReader(f, delimiter="\t", quoting=csv.QUOTE_NONE))
    for r in rows:
        r["dur_ms"] = float(r["dur_ms"])
        r["start_ms"] = float(r["start_ms"])
        r["ok"] = r["ok"] == "1"
        r["rows"] = int(r["rows"])
        r["fp"] = int(r["fp"])
        r["status"] = int(r["status"])
    return rows


def judge_faces(ops, verdicts):
    """Mark face records wrong where the answer is wrong.

    `verdicts` maps a face to an error string (empty when its untimed
    output matched the oracle). A timed run is wrong when its face failed
    the oracle, or when its fingerprint (rows, hash) differs from the
    untimed run that the oracle checked.
    """
    reference = {r["name"]: (r["rows"], r["fp"])
                 for r in ops if r["kind"] == "face" and r["phase"] == "untimed" and r["ok"]}
    for r in ops:
        if r["kind"] != "face" or not r["ok"]:
            continue
        verdict = verdicts.get(r["name"], "no oracle verdict")
        if verdict:
            r["ok"], r["err"] = False, "oracle: " + verdict
        elif r["phase"] == "timed" and (r["rows"], r["fp"]) != reference.get(r["name"]):
            r["ok"], r["err"] = False, "output differs from the oracle-checked run"
    return ops


def judge_request_path_jobs(ops, run):
    """The cached request path runs no Spark job. Each job a traced
    serve_cached_refresh window saw outside the refresher
    (`request_path_jobs` in run.json) is added as a failed record."""
    for job in run.get("request_path_jobs", []):
        ops.append({"phase": "check", "kind": "job", "name": "cached_request_path",
                    "start_ms": 0.0, "dur_ms": 0.0, "ok": False, "rows": -1, "fp": 0,
                    "status": 0, "bytes": 0, "err": f"Spark {job} ran on the request path"})
    return ops


def end_to_end(workload, ops, run):
    """The end-to-end metrics of one run, plus the facts printed beside
    them (tail percentile and sample count, error itemisation)."""
    timed = [r for r in ops if r["phase"] == "timed"]
    ok = [r for r in timed if r["ok"]]
    lat = [r["dur_ms"] for r in ok]
    t, pct, n = tail(lat)
    metrics = {
        "setup_s": run["setup_ms"] / 1e3,
        "throughput_ops_s": len(ok) / (run["window_ms"] / 1e3) if run["window_ms"] > 0 else 0.0,
        "latency_p50_ms": median(lat),
        "resident_heap_mb": run["resident_heap_mb"],
    }
    failures = {}
    for r in ops:
        if not r["ok"]:
            key = (r["kind"], r["name"])
            count, first = failures.get(key, (0, r["err"]))
            failures[key] = (count + 1, first)
    facts = {
        "latency_tail_ms": t,
        "tail_percentile": pct,
        "tail_samples": n,
        "error_rate": (len(timed) - len(ok)) / len(timed) if timed else 1.0,
        "attempted": len(ops),
        "failed": sum(1 for r in ops if not r["ok"]),
        "failures": failures,
    }
    if workload == "batch_faces":
        facts["headline_q_s"] = sum(median([r["dur_ms"] for r in ok if r["name"] == f])
                                    for f in HEADLINE_FACES) / 1e3
    if workload == "serve_cached_refresh":
        facts["refresh_s"] = median(run["refresh_ms"]) / 1e3
    return metrics, facts


def per_layer(names, run, e2e, facts):
    """Every per-layer metric named in BENCHMARK.json; a layer a workload
    does not exercise reads 0. `trace.latency_*` are the traced run's own
    latencies, to set against the untraced run's."""
    layers = dict(run.get("layers", {}))
    layers["trace.latency_p50_ms"] = e2e["latency_p50_ms"]
    layers["trace.latency_tail_ms"] = facts["latency_tail_ms"]
    return {n: float(layers.get(n, 0.0)) for n in names}
