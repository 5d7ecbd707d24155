"""Tests of the cdc_ingest generator and its oracle.

Run with: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import cdcgen  # noqa: E402


def run_gen(seed, keys=500, ticks=40, rows=60, **kw):
    g = cdcgen.Generator(seed, keys, **kw)
    g.backlog(1_000_000)
    for t in range(ticks):
        g.tick(2_000_000 + 100 * t, rows)
    return g


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_lines(self):
        a, b = run_gen(7), run_gen(7)
        self.assertEqual(a.lines, b.lines)
        self.assertNotEqual(a.lines, run_gen(8).lines)

    def test_oracle_matches_generator_state(self):
        g = run_gen(3)
        state, counts = cdcgen.oracle([t for t, _ in g.lines])
        self.assertEqual(state, {str(k): v for k, v in g.state.items()})
        self.assertEqual(counts["poison_rows"], g.counts["poison_rows"])
        self.assertEqual(counts["redelivered"], g.counts["redelivery_lines"])
        self.assertEqual(counts["invalid"],
                         g.counts["ddl_lines"] + g.counts["malformed_lines"])

    def test_backlog_inserts_whole_key_space(self):
        g = cdcgen.Generator(1, 300)
        g.backlog(0)
        self.assertEqual(set(g.state), {cdcgen.order_key(i) for i in range(300)})
        state, _ = cdcgen.oracle([t for t, _ in g.lines])
        self.assertEqual(len(state), 300)

    def test_state_size_stays_flat(self):
        g = cdcgen.Generator(5, 2000)
        g.backlog(0)
        sizes = []
        for t in range(200):
            g.tick(10_000 + 100 * t, 100)
            sizes.append(len(g.state))
        self.assertLess(max(sizes) - min(sizes), 60)
        self.assertGreater(min(sizes), 1900)

    def test_key_changes_once_per_es(self):
        g = run_gen(11)
        seen = set()
        for text, kind in g.lines:
            if kind not in ("event", "poison"):
                continue
            env = json.loads(text)
            for row in env["data"]:
                coord = (row["id"], env["es"])
                self.assertNotIn(coord, seen)
                seen.add(coord)

    def test_envelopes_and_faults(self):
        g = run_gen(13, keys=2000, ticks=100, rows=200)
        total = len(g.lines)
        for text, kind in g.lines:
            if kind == "malformed":
                with self.assertRaises(ValueError):
                    json.loads(text)
                continue
            env = json.loads(text)
            if kind == "ddl":
                self.assertIsNone(env["data"])
                self.assertTrue(env["isDdl"])
            else:
                self.assertTrue(1 <= len(env["data"]) <= 8)
                if env["type"] == "UPDATE":
                    self.assertEqual(len(env["old"]), len(env["data"]))
        share = g.counts["redelivery_lines"] / total
        self.assertTrue(0.01 < share < 0.03, share)
        self.assertGreater(g.counts["poison_rows"], 0)
        self.assertGreater(g.counts["ddl_lines"], 0)
        self.assertGreater(g.counts["malformed_lines"], 0)
        self.assertTrue(all(cdcgen.is_poison(json.loads(t)["data"][0])
                            for t, k in g.lines if k == "poison"))

    def test_redelivery_is_byte_identical_to_an_earlier_line(self):
        g = run_gen(17)
        earlier = set()
        for text, kind in g.lines:
            if kind == "redelivery":
                self.assertIn(text, earlier)
            earlier.add(text)

    def test_oracle_applies_latest_image_and_deletes(self):
        ins = cdcgen.envelope("INSERT", [{"id": "1", "status": "a"},
                                         {"id": "2", "status": "a"}], None, 10)
        upd = cdcgen.envelope("UPDATE", [{"id": "1", "status": "b"}],
                              [{"status": "a"}], 20)
        dele = cdcgen.envelope("DELETE", [{"id": "2", "status": "a"}], None, 30)
        poison = cdcgen.envelope("UPDATE", [{"id": "1", "status": "c",
                                             "price": "n/a"}], None, 40)
        state, counts = cdcgen.oracle([ins, upd, ins, dele, poison, "{bad"])
        self.assertEqual(state, {"1": {"id": "1", "status": "b"}})
        self.assertEqual(counts["redelivered"], 1)
        self.assertEqual(counts["poison_rows"], 1)
        self.assertEqual(counts["invalid"], 1)


if __name__ == "__main__":
    unittest.main()
