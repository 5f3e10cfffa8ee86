#!/usr/bin/env python3
"""The repo benchmark: batch faces, cached serving under refresh and live
serving on the sf0.01 tables in perfbench/data, one JVM per workload.

Run from the repo root:

  python3 perfbench/run.py --workload batch_faces --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --workload all --seed 1 --seconds 10

One workload prints its metrics by name and unit, then as its last line
one JSON object {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer ones with --trace 1.
`--workload all` runs every workload untraced and traced and prints both
sets plus the tracing overhead. `--write-manifest` regenerates
BENCHMARK.json from pb/manifest.py.

The engine and the harness are built from source with sbt on first use;
build products, oracle answers and run files go to .bench_build/.
"""
import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from pb import build, gen, manifest, oracle, stats  # noqa: E402

OUT = os.path.join(ROOT, ".bench_build")
COSTS = os.path.join(BENCH, "face_costs.tsv")
DATA = os.path.join(BENCH, "data", "sf0.01")
WORKLOADS = [w for w, _ in manifest.WORKLOADS + manifest.EXTRA_WORKLOADS]
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def check_checkout():
    """The program's sources and the data must be there; otherwise there is
    nothing to measure."""
    needed = ([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")]
              + [os.path.join(DATA, "lineitem.parquet")])
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        log("not a checkout of the engine; missing " + ", ".join(
            os.path.relpath(m, ROOT) for m in missing))
        sys.exit(2)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def registry(cp, stamp):
    """Face names and oracle SQL, dumped once per build."""
    path = os.path.join(OUT, "registry", stamp + ".json")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = os.path.join(OUT, "tmp")
        os.makedirs(tmp, exist_ok=True)
        rc = build.run_java(build.java_cmd(cp, tmp, ["--mode", "registry", "--out", path + ".tmp"]),
                            cwd=OUT, timeout=120)
        if rc != 0:
            raise RuntimeError(f"registry dump failed (exit {rc})")
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def face_costs():
    costs = {}
    with open(COSTS) as f:
        for line in f:
            if line.strip() and not line.startswith("#"):
                name, secs = line.split()
                costs[name] = float(secs)
    return costs


def serve_domain():
    """Stop ids and (stop, route short name, headsign) combinations of the
    feed the engine derives from the tables (TransitTables.fromTpch)."""
    import duckdb
    con = duckdb.connect()
    li, od = os.path.join(DATA, "lineitem.parquet"), os.path.join(DATA, "orders.parquet")
    stops = [r[0] for r in con.execute(
        f"SELECT DISTINCT l_partkey % 500 AS s FROM '{li}' ORDER BY s").fetchall()]
    triples = [tuple(r) for r in con.execute(
        f"SELECT DISTINCT l_partkey % 500, CAST(o_custkey % 100 AS VARCHAR), o_orderpriority "
        f"FROM '{li}' JOIN '{od}' ON l_orderkey = o_orderkey "
        f"WHERE (o_custkey % 100) % 17 <> 0 ORDER BY 1, 2, 3").fetchall()]
    con.close()
    return stops, triples


def run_workload(workload, seed, seconds, trace, cp, stamp):
    """One JVM run of one workload. Returns (e2e metrics, facts, layers)."""
    run_dir = os.path.join(OUT, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    inputs = os.path.join(run_dir, "inputs.txt")
    reg = registry(cp, stamp)
    faces = []
    if workload == "batch_faces":
        faces = gen.face_sample(seed, reg["faces"], face_costs())
        gen.write_inputs(inputs, faces=faces)
        orc = oracle.Oracle(DATA, os.path.join(OUT, "oracle"))
        expected = {f: orc.expected(reg["oracle"][f]) for f in faces if f in reg["oracle"]}
        orc.close()
        log(f"seed {seed}: faces " + " ".join(faces))
    else:
        stops, triples = serve_domain()
        pool = gen.request_pool(seed, stops, triples)
        gen.write_inputs(inputs, pool=pool,
                         sequence=gen.request_sequence(seed, len(pool)))
    args = ["--mode", "run", "--workload", workload, "--seconds", str(seconds),
            "--trace", str(trace), "--data", DATA, "--inputs", inputs, "--out", run_dir,
            "--cpus", str(cpus()), "--clients", str(cpus())]
    log(f"{workload}: harness start")
    rc = build.run_java(build.java_cmd(cp, os.path.join(run_dir, "tmp"), args),
                        cwd=run_dir, timeout=RUN_TIMEOUT_S)
    log(f"{workload}: harness exit {rc}")
    if rc != 0:
        raise RuntimeError(f"harness exited {rc} on {workload}")
    ops = stats.read_ops(os.path.join(run_dir, "ops.tsv"))
    with open(os.path.join(run_dir, "run.json")) as f:
        run = json.load(f)
    if workload == "batch_faces":
        verdicts = {}
        for face in faces:
            if face not in expected:
                verdicts[face] = "no oracle SQL"
            else:
                verdicts[face] = oracle.verdict(os.path.join(run_dir, "faces", face),
                                                expected[face])
        stats.judge_faces(ops, verdicts)
        log(f"{workload}: oracle verdicts done")
    if workload == "serve_cached_refresh":
        stats.judge_request_path_jobs(ops, run)
    e2e, facts = stats.end_to_end(workload, ops, run)
    facts["java"], facts["spark"] = run["java"], run["spark"]
    layers = stats.per_layer([n for n, _, _ in manifest.PER_LAYER], run, e2e, facts)
    shutil.rmtree(run_dir, ignore_errors=True)
    return e2e, facts, layers


def print_metrics(workload, metrics, units, note=""):
    for name, value in metrics.items():
        print(f"{workload:22s} {name:32s} {value:14.4f} {units[name]}{note}")


def print_facts(workload, facts):
    if facts["tail_percentile"] > 0:
        print(f"{workload:22s} {'latency_tail_ms':32s} {facts['latency_tail_ms']:14.4f} ms"
              f"  (p{facts['tail_percentile']:.2f} of {facts['tail_samples']} samples)")
    else:
        print(f"{workload:22s} {'latency_tail_ms':32s} {'n/a':>14s}"
              f"     (no percentile has 10 of the {facts['tail_samples']} samples beyond it)")
    print(f"{workload:22s} {'error_rate':32s} {facts['error_rate']:14.4f} fraction"
          f"  ({facts['failed']} of {facts['attempted']} operations failed)")
    for name in ("headline_q_s", "refresh_s"):
        if name in facts:
            print(f"{workload:22s} {name:32s} {facts[name]:14.4f} s")
    for (kind, name), (count, err) in sorted(facts["failures"].items()):
        print(f"{workload:22s}   FAILED {kind} {name} x{count}: {err}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=manifest.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-manifest", action="store_true")
    a = ap.parse_args()
    if a.write_manifest:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            f.write(manifest.render())
        return 0
    if not a.workload:
        ap.error("--workload is required")
    check_checkout()

    cp = build.classpath(ROOT, BENCH, os.path.join(OUT, "build"))
    stamp = build.stamp(ROOT, BENCH)
    print(f"seed {a.seed}  nproc {cpus()}  MemTotal {mem_total_kb()} kB  heap {build.heap_mb()} MiB"
          f"  python {platform.python_version()}  git {git_sha()}")

    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    traces = [0, 1] if a.workload == "all" else [a.trace]
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in workloads:
        results = {}
        for t in traces:
            e2e, facts, layers = run_workload(w, a.seed, a.seconds, t, cp, stamp)
            results[t] = e2e
            if t == traces[0]:
                print(f"{w:22s} java {facts['java']}  spark {facts['spark']}")
            print(f"--- {w} (trace {t})")
            if t == 0:
                gated = manifest.gated(e2e)
                print_metrics(w, gated, manifest.END_TO_END_UNITS)
                print_metrics(w, {n: v for n, v in e2e.items() if n not in gated},
                              manifest.PRINTED_UNITS, "  (not gated)")
            else:
                print_metrics(w, layers, manifest.PER_LAYER_UNITS)
            print_facts(w, facts)
            summary["attempted"] += facts["attempted"]
            summary["failed"] += facts["failed"]
            chosen = manifest.gated(e2e) if t == 0 else layers
            units = manifest.END_TO_END_UNITS if t == 0 else manifest.PER_LAYER_UNITS
            key = (lambda n: n) if len(workloads) == 1 else (lambda n: f"{w}.{n}")
            summary["metrics"].update({key(n): {"value": v, "unit": units[n]}
                                       for n, v in chosen.items()})
        if 0 in results and 1 in results:
            for n in ("latency_p50_ms", "throughput_ops_s"):
                d = results[1][n] - results[0][n]
                base = results[0][n] or 1.0
                print(f"{w:22s} tracing overhead {n}: {d:+.4f} ({100 * d / base:+.1f}%)")
    summary["correct"] = summary["failed"] == 0
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (build.BuildError, RuntimeError, subprocess.TimeoutExpired, OSError) as e:
        log(f"error: {e}")
        sys.exit(1)
