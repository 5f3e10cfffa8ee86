"""Specs for the seeded workload generator."""
import unittest
from urllib.parse import parse_qs, urlsplit

from pb import gen

REGISTRY = (gen.HEADLINE + [f"{fam}_{i}" for fam in gen.FAMILIES for i in range(6)])
COSTS = {f: 0.45 + 0.05 * (i % 7) for i, f in enumerate(REGISTRY)}
STOPS = list(range(500))
TRIPLES = [(s, str(r), h) for s in range(0, 500, 7) for r in (1, 2) for h in ("1-URGENT", "5-LOW")]


class FaceSample(unittest.TestCase):
    def test_same_seed_same_sample(self):
        self.assertEqual(gen.face_sample(3, REGISTRY, COSTS), gen.face_sample(3, REGISTRY, COSTS))

    def test_seeds_differ(self):
        samples = {tuple(sorted(gen.face_sample(s, REGISTRY, COSTS))) for s in range(10)}
        self.assertGreater(len(samples), 1)

    def test_every_family_and_the_headline(self):
        for seed in range(5):
            faces = gen.face_sample(seed, REGISTRY, COSTS)
            self.assertTrue(set(gen.HEADLINE) <= set(faces))
            self.assertEqual({gen.family(f) for f in faces}, set(gen.FAMILIES))
            self.assertEqual(len(faces), len(set(faces)))


class RequestPool(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        self.assertEqual(gen.request_pool(5, STOPS, TRIPLES), gen.request_pool(5, STOPS, TRIPLES))
        self.assertEqual(gen.request_sequence(5, 60), gen.request_sequence(5, 60))

    def test_mix_covers_routes_and_edge_cases(self):
        pool = []
        for seed in range(3):
            pool += gen.request_pool(seed, STOPS, TRIPLES)
        routes = {urlsplit(p).path for p in pool}
        self.assertEqual(routes, {"/api/q1", "/api/q2", "/api/q3", "/api/q4", "/get_stops",
                                  "/get_timetable", "/get_routes_for_stop", "/get_arrivals"})
        params = [parse_qs(urlsplit(p).query, keep_blank_values=True) for p in pool]
        stop_ids = {q["stop_id"][0] for q in params if "stop_id" in q}
        services = {q["service_id"][0] for q in params if "service_id" in q}
        limits = {q["limit"][0] for q in params if "limit" in q}
        self.assertTrue(any(s.lstrip("-").isdigit() and int(s) not in STOPS for s in stop_ids))
        self.assertTrue(any(not s.strip().lstrip("-").isdigit() for s in stop_ids))
        self.assertIn("4", services)
        self.assertTrue(services - {"1", "2", "3", "4", ""})
        self.assertIn("all", limits)

    def test_sequence_indexes_the_pool(self):
        seq = gen.request_sequence(9, 61)
        self.assertTrue(all(0 <= i < 61 for i in seq))


if __name__ == "__main__":
    unittest.main()
