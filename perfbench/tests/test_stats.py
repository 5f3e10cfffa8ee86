"""Specs for the benchmark's own accounting: the tail rule, failure
counting, and metric names. Run: python3 -m unittest discover -s perfbench/tests -t perfbench"""
import json
import os
import re
import unittest

from pb import manifest, stats

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def op(phase, kind, name, dur, ok=True, rows=3, fp=7, status=200, err=""):
    return {"phase": phase, "kind": kind, "name": name, "start_ms": 0.0, "dur_ms": dur,
            "ok": ok, "rows": rows, "fp": fp, "status": status, "bytes": 10, "err": err}


def run_json(traced=False):
    r = {"setup_ms": 3000.0, "resident_heap_mb": 300.0,
         "window_ms": 10000.0, "refresh_ms": [800.0, 900.0], "java": "17", "spark": "4"}
    if traced:
        r["layers"] = {"exec.jobs": 2.0}
    return r


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_highest_such_percentile(self):
        xs = [float(x) for x in range(37)]
        value, pct, _ = stats.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        # one rank higher would leave only 9 beyond
        self.assertEqual(sum(1 for x in xs if x > sorted(xs)[xs.index(value) + 1]), 9)
        self.assertAlmostEqual(pct, 100.0 * 27 / 37)

    def test_too_few_samples(self):
        self.assertEqual(stats.tail([5.0, 1.0, 3.0]), (1.0, 0.0, 3))
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))


class FailureAccounting(unittest.TestCase):
    def test_throwing_face_counts_and_is_not_timed(self):
        ops = [op("untimed", "face", "rel_a", 50.0), op("untimed", "face", "boom", 5.0, ok=False,
                                                       err="IllegalStateException: injected")]
        ops += [op("timed", "face", "rel_a", 10.0), op("timed", "face", "boom", 1.0, ok=False,
                                                       err="IllegalStateException: injected")]
        stats.judge_faces(ops, {"rel_a": "", "boom": ""})
        m, facts = stats.end_to_end("batch_faces", ops, run_json())
        self.assertEqual(facts["error_rate"], 0.5)
        self.assertEqual(facts["failed"], 2)
        self.assertIn(("face", "boom"), facts["failures"])
        # the failed run's 1 ms is not a success
        self.assertEqual(m["latency_p50_ms"], 10.0)
        self.assertEqual(m["throughput_ops_s"], 0.1)

    def test_wrong_answer_face_counts(self):
        ops = [op("untimed", "face", "rel_a", 50.0, fp=7),
               op("timed", "face", "rel_a", 10.0, fp=7),
               op("timed", "face", "rel_a", 10.0, fp=8)]
        stats.judge_faces(ops, {"rel_a": ""})
        _, facts = stats.end_to_end("batch_faces", ops, run_json())
        self.assertEqual(facts["error_rate"], 0.5)

    def test_oracle_mismatch_fails_every_run_of_the_face(self):
        ops = [op("untimed", "face", "rel_a", 50.0), op("timed", "face", "rel_a", 10.0),
               op("timed", "face", "rel_b", 10.0), op("untimed", "face", "rel_b", 10.0)]
        stats.judge_faces(ops, {"rel_a": "value hash differs", "rel_b": ""})
        _, facts = stats.end_to_end("batch_faces", ops, run_json())
        self.assertEqual(facts["error_rate"], 0.5)
        self.assertEqual(facts["failures"][("face", "rel_a")][0], 2)

    def test_wrong_body_and_5xx_responses_count(self):
        ops = [op("timed", "request", "get_stops", 2.0),
               op("timed", "request", "get_stops", 2.0, ok=False, err="body mismatch"),
               op("timed", "request", "api_q1", 2.0, ok=False, status=500, err="status 500"),
               op("timed", "request", "api_q1", 2.0)]
        m, facts = stats.end_to_end("serve_live", ops, run_json())
        self.assertEqual(facts["error_rate"], 0.5)
        self.assertEqual(set(facts["failures"]), {("request", "get_stops"), ("request", "api_q1")})

    def test_spark_job_on_the_cached_request_path_fails_the_run(self):
        ops = [op("timed", "request", "get_stops", 2.0), op("timed", "request", "api_q1", 2.0)]
        run = dict(run_json(traced=True), request_path_jobs=["job 41 at collect at X.scala:9"])
        stats.judge_request_path_jobs(ops, run)
        m, facts = stats.end_to_end("serve_cached_refresh", ops, run)
        self.assertEqual(facts["failed"], 1)
        self.assertIn(("job", "cached_request_path"), facts["failures"])
        self.assertIn("job 41", facts["failures"][("job", "cached_request_path")][1])
        # the requests themselves stay successes
        self.assertEqual(facts["error_rate"], 0.0)
        self.assertEqual(m["throughput_ops_s"], 0.2)

    def test_no_request_path_jobs_no_failure(self):
        ops = [op("timed", "request", "get_stops", 2.0)]
        stats.judge_request_path_jobs(ops, dict(run_json(traced=True), request_path_jobs=[]))
        _, facts = stats.end_to_end("serve_cached_refresh", ops, run_json())
        self.assertEqual(facts["failed"], 0)

    def test_a_failed_refresh_counts_but_is_not_a_request(self):
        ops = [op("timed", "request", "get_stops", 2.0),
               op("refresh", "refresh", "refresh", 900.0, ok=False, err="IOException: x")]
        m, facts = stats.end_to_end("serve_cached_refresh", ops, run_json())
        self.assertEqual(facts["failed"], 1)
        self.assertEqual(facts["error_rate"], 0.0)
        self.assertEqual(m["latency_p50_ms"], 2.0)


class Names(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_every_emitted_name_is_well_formed(self):
        names = ([n for n, _ in manifest.WORKLOADS] + [n for n, *_ in manifest.END_TO_END]
                 + [n for n, _ in manifest.PRINTED] + [n for n, *_ in manifest.PER_LAYER])
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, self.NAME)
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
        for _, u, *_ in manifest.END_TO_END + manifest.PRINTED + manifest.PER_LAYER:
            self.assertRegex(u, self.UNIT)
        for _, why in manifest.WORKLOADS:
            self.assertLessEqual(len(why), 200)
            self.assertNotIn("\n", why)

    def test_traced_and_untraced_runs_emit_the_same_end_to_end_names(self):
        ops = [op("untimed", "face", "transit_q1_weekday", 5.0),
               op("timed", "face", "transit_q1_weekday", 5.0)]
        stats.judge_faces(ops, {"transit_q1_weekday": ""})
        expected = {n for n, *_ in manifest.END_TO_END}
        for w, _ in manifest.WORKLOADS:
            plain, _ = stats.end_to_end(w, ops, run_json(traced=False))
            traced, _ = stats.end_to_end(w, ops, run_json(traced=True))
            self.assertEqual(set(manifest.gated(plain)), expected)
            self.assertEqual(set(manifest.gated(traced)), expected)
            # every figure a run prints has a unit
            for n in plain:
                self.assertIn(n, {**manifest.END_TO_END_UNITS, **manifest.PRINTED_UNITS})

    def test_headline_is_printed_on_batch_only(self):
        ops = [op("untimed", "face", f, 5.0) for f in stats.HEADLINE_FACES]
        ops += [op("timed", "face", f, 250.0) for f in stats.HEADLINE_FACES]
        stats.judge_faces(ops, {f: "" for f in stats.HEADLINE_FACES})
        _, facts = stats.end_to_end("batch_faces", ops, run_json())
        self.assertEqual(facts["headline_q_s"], 1.0)
        _, facts = stats.end_to_end("serve_cached_refresh", ops, run_json())
        self.assertNotIn("headline_q_s", facts)

    def test_per_layer_output_covers_the_manifest(self):
        names = [n for n, *_ in manifest.PER_LAYER]
        out = stats.per_layer(names, run_json(traced=True), {"latency_p50_ms": 4.0},
                              {"latency_tail_ms": 9.0})
        self.assertEqual(list(out), names)
        self.assertEqual(out["exec.jobs"], 2.0)
        self.assertEqual(out["trace.latency_p50_ms"], 4.0)
        self.assertEqual(out["trace.latency_tail_ms"], 9.0)

    def test_benchmark_json_is_the_manifest(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.assertEqual(json.load(f), manifest.document())

    def test_every_layer_metric_is_mapped_to_what_it_moves(self):
        with open(os.path.join(ROOT, "perfbench", "layers.json")) as f:
            layers = json.load(f)["layers"]
        e2e = {n for n, *_ in manifest.END_TO_END} | {n for n, _ in manifest.PRINTED}
        workloads = {n for n, _ in manifest.WORKLOADS + manifest.EXTRA_WORKLOADS}
        for entry in layers:
            self.assertTrue(set(entry["moves"]) <= e2e, entry["prefix"])
            self.assertTrue(set(entry["on"]) <= workloads, entry["prefix"])
        for n, *_ in manifest.PER_LAYER:
            self.assertTrue(any(n.startswith(e["prefix"]) for e in layers), n)

    def test_bounds(self):
        bounds = {n: b for n, _, _, b in manifest.END_TO_END}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


if __name__ == "__main__":
    unittest.main()
