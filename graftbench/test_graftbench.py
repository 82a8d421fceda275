"""Self-tests of the benchmark's own logic (no Spark, no build).

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""

import json
import os
import random
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import compare  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


class TailRule(unittest.TestCase):

    def test_too_few_samples_have_no_tail(self):
        for n in (1, 10, 39):
            self.assertIsNone(metrics.tail([float(i) for i in range(n)]), n)

    def test_highest_percentile_with_ten_beyond(self):
        for n, p in ((40, 75.0), (99, 75.0), (100, 90.0), (200, 95.0),
                     (1000, 99.0), (10000, 99.9)):
            xs = [float(i) for i in range(n)]
            random.Random(n).shuffle(xs)
            got, value = metrics.tail(xs)
            self.assertEqual(got, p, n)
            beyond = sum(1 for x in xs if x > value)
            self.assertGreaterEqual(beyond, 10, n)

    def test_nearest_rank(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)
        self.assertEqual(metrics.percentile(list(range(1, 101)), 90), 90)


class Names(unittest.TestCase):

    def all_metrics(self):
        return SPEC["end_to_end"] + SPEC["per_layer"]

    def test_names_and_units_use_the_charset(self):
        for m in self.all_metrics():
            self.assertRegex(m["name"], metrics.NAME_RE)
            self.assertRegex(m["unit"], metrics.UNIT_RE)
        for w in SPEC["workloads"]:
            self.assertRegex(w["name"], metrics.NAME_RE)

    def test_names_are_unique(self):
        names = [m["name"] for m in self.all_metrics()] + \
            [w["name"] for w in SPEC["workloads"]]
        self.assertEqual(len(names), len(set(names)))

    def test_charset_rejects_others(self):
        for bad in ("", "_x", "a b", "p50/s", "x" * 65, "ü"):
            self.assertIsNone(metrics.NAME_RE.match(bad), bad)

    def test_spec_contract(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds",
                                     "workloads", "end_to_end", "per_layer"})
        bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
        self.assertIn("setup_s", bounds)
        self.assertEqual(max(bounds.values()), bounds["setup_s"])
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
        for m in SPEC["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        self.assertLessEqual(len(SPEC["per_layer"]), 128)


class Shadow(unittest.TestCase):

    def test_semantics(self):
        sh = gen.Shadow(rows=5)
        self.assertEqual(sh.point(3), 30)
        self.assertIsNone(sh.point(9))
        sh.apply("update", 9, 1)          # no such key: no row
        self.assertIsNone(sh.point(9))
        sh.apply("update", 2, 7)
        sh.apply("merge", 6, 8)           # merge inserts a missing key
        sh.apply("merge", 1, 5)           # and updates a present one
        sh.apply("insert", 7, 9)
        with self.assertRaises(ValueError):
            sh.apply("insert", 7, 9)
        self.assertEqual(sh.range(1, 6), [6, 5 + 7 + 30 + 40 + 50 + 8])
        self.assertEqual(sh.range(100, 200), [0, None])
        self.assertEqual(sh.checksum()[0], 7)

    def test_stream_is_seeded(self):
        a, b = gen.sql_stream(3, blocks=8), gen.sql_stream(3, blocks=8)
        self.assertEqual(a, b)
        self.assertNotEqual(a, gen.sql_stream(4, blocks=8))

    def test_every_block_has_the_same_mix(self):
        s = gen.sql_stream(5, blocks=20)
        want = sorted(k for k, _ in gen.SQL_BLOCK)
        for b in range(20):
            kinds = sorted(st["kind"] for st in s if st["block"] == b)
            self.assertEqual(kinds, want)
        self.assertEqual([st["block"] for st in s],
                         sorted(st["block"] for st in s))

    def test_probes_hit_present_keys_and_merge_alternates(self):
        s = gen.sql_stream(6, blocks=20, rows=1000)
        for st in s:
            if st["kind"] == "point":
                self.assertIsNotNone(st["expect"])
            if st["kind"] == "merge":
                new_key = st["kv"][0] > 1000
                self.assertEqual(new_key, st["block"] % 2 == 1)

    def test_expectations_replay(self):
        """Every read's expectation equals a replay of the writes before it,
        and the checksum after a prefix equals the replayed table's."""
        rows = 1000
        s = gen.sql_stream(7, blocks=10, rows=rows)
        sh = gen.Shadow(rows)
        for st in s:
            if st["kind"] == "point":
                k = int(st["sql"].rsplit("= ", 1)[1])
                self.assertEqual(st["expect"], sh.point(k))
            elif st["kind"] == "range":
                lo, hi = (int(x) for x in
                          st["sql"].split("BETWEEN ")[1].split(" AND "))
                self.assertEqual(st["expect"], sh.range(lo, hi))
            else:
                sh.apply(st["kind"], *st["kv"])
        self.assertEqual(gen.sql_checksum_after(7, len(s), rows=rows),
                         sh.checksum())

    def test_check_sql_flags_wrong_answers(self):
        s = gen.sql_stream(2, blocks=4, rows=1000)
        results = [st["expect"] for st in s]
        ok = [{"ok": True} for _ in s]
        checksum = gen.sql_checksum_after(2, len(s), rows=1000)
        rec = {"ops": ok, "check": {"results": results,
                                    "checksum": checksum}}
        self.assertEqual(metrics.check_sql(rec, s, checksum), [])
        i = next(i for i, st in enumerate(s) if st["kind"] == "range")
        results[i] = [0, None]
        rec["check"]["checksum"] = [0, 0, 0, 0]
        self.assertEqual(len(metrics.check_sql(rec, s, checksum)), 2)


class BatchCheck(unittest.TestCase):

    def test_last_pass_must_match_the_check_pass(self):
        outputs = {"q": {"rows": 3, "hash": "9", "invariant": True},
                   "k": {"rows": 5, "hash": "7", "invariant": True}}
        rec = {"check": {"outputs": outputs, "last_pass": {
            "q": {"rows": 3, "hash": "9"}, "k": {"rows": 5, "hash": "7"}}}}
        self.assertEqual(metrics.check_batch(rec, None), {})
        rec["check"]["last_pass"]["q"] = {"rows": 3, "hash": "8"}
        rec["check"]["last_pass"]["k"] = {"error": "block lost"}
        self.assertEqual(set(metrics.check_batch(rec, None)), {"q", "k"})


class Inputs(unittest.TestCase):

    def test_amplify_offsets_keys(self):
        t = gen.base_corpus(1)["orders"]
        amp = gen.amplify(t, gen.OFFSET_KEYS["orders"], 10)
        self.assertEqual(amp.num_rows, 10 * t.num_rows)
        keys = amp.column("o_orderkey").to_pylist()
        self.assertEqual(len(set(keys)), len(keys))
        self.assertEqual(amp.column("o_orderstatus").to_pylist()[:5],
                         t.column("o_orderstatus").to_pylist()[:5])

    def test_ingest_deltas_recrawl_earlier_docs(self):
        initial, deltas = gen.ingest_inputs(4)
        seen = {t for _, t in initial}
        for rows in deltas:
            fresh = [t for i, t in rows if i < gen.RECRAWL_ID0]
            copies = [t for i, t in rows if i >= gen.RECRAWL_ID0]
            self.assertEqual(len(fresh), gen.FRESH_PER_DELTA)
            self.assertTrue(copies)
            exact = [t for t in copies if t in seen]
            self.assertTrue(exact)
            seen |= set(fresh)


class Schema(unittest.TestCase):

    def record(self):
        ops = [{"kind": k, "cls": c, "t": t, "s": s, "rows": 10, "ok": True,
                "err": "", "round": 0}
               for t, (k, c, s) in enumerate(
                   [("q", "read", 1.0), ("q", "read", 1.2), ("w", "write", 2.0),
                    ("q", "read", 1.1), ("q", "read", 1.3)])]
        return {"ops": ops, "setup_s": [3.0, 1.0, 2.0], "window_s": 6.6,
                "check": {}}

    def test_summary(self):
        m, attempted, failed = metrics.summarize(self.record(), 0)
        self.assertEqual((attempted, failed), (5, 0))
        self.assertEqual(m["setup_s"][0], 2.0)
        self.assertAlmostEqual(m["ops_per_s"][0], 5 / 6.6)
        self.assertAlmostEqual(m["read_p50_s"][0], 1.15)
        self.assertAlmostEqual(m["drift_ratio"][0], 1.3 / 1.0)
        self.assertNotIn("read_tail_s", m)
        for name, (value, unit, n, _) in m.items():
            self.assertRegex(name, metrics.NAME_RE)
            self.assertRegex(unit, metrics.UNIT_RE)

    def test_drift_compares_quarters_of_each_kind(self):
        ops = [{"kind": k, "t": t, "s": s} for t, (k, s) in enumerate(
            [("a", 1.0), ("b", 5.0), ("a", 2.0), ("a", 3.0), ("b", 6.0),
             ("a", 4.0), ("c", 9.0)])]
        ratio, kinds = metrics.drift(ops)
        self.assertEqual(kinds, 2)   # c has one sample
        self.assertAlmostEqual(ratio, statistics.median([4.0, 6.0 / 5.0]))

    def test_wrong_answers_count_as_failed(self):
        _, attempted, failed = metrics.summarize(self.record(), 2)
        self.assertEqual((attempted, failed), (5, 2))

    def test_result_line_has_exactly_the_contract_keys(self):
        m, attempted, failed = metrics.summarize(self.record(), 0)
        wanted = [(x["name"], x["unit"]) for x in SPEC["end_to_end"]]
        line = metrics.result_line(True, attempted, failed,
                                   {k: v[0] for k, v in m.items()}, wanted)
        parsed = json.loads(json.dumps(line))
        self.assertEqual(set(parsed), {"correct", "attempted", "failed",
                                       "metrics"})
        self.assertEqual(set(parsed["metrics"]), {n for n, _ in wanted})
        for v in parsed["metrics"].values():
            self.assertEqual(set(v), {"value", "unit"})
            self.assertGreater(v["value"], 0)

    def test_result_line_refuses_a_missing_metric(self):
        with self.assertRaises(KeyError):
            metrics.result_line(True, 1, 0, {}, [("setup_s", "s")])
        with self.assertRaises(ValueError):
            metrics.result_line(True, 1, 0, {"p 50": 1.0}, [("p 50", "s")])


class Ingest(unittest.TestCase):

    def test_check_ingest(self):
        truth = ([{1, 2}], [{1000000}])
        rec = {"check": {"ingest": {"kept": [[1, 2, 1000001]],
                                    "initial_rows": 5, "state_rows": 8,
                                    "sink_rows": 3}}}
        self.assertEqual(metrics.check_ingest(rec, truth, None), {})
        sig = [[3, metrics.ids_hash([1, 2, 1000001])]]
        self.assertEqual(metrics.check_ingest(rec, truth, sig), {})
        rec["check"]["ingest"]["kept"] = [[1, 1000000]]
        rec["check"]["ingest"]["state_rows"] = 7
        rec["check"]["ingest"]["sink_rows"] = 2
        bad = metrics.check_ingest(rec, truth, None)
        self.assertIn("fresh docs dropped", bad[0])
        self.assertIn("exact copies kept", bad[0])


class Compare(unittest.TestCase):

    def test_verdicts(self):
        parent = [1.0, 1.01, 0.99, 1.02, 0.98, 1.0, 1.01, 0.99, 1.0, 1.0]
        faster = [x * 0.8 for x in parent]
        pairs = list(zip(parent, faster))
        self.assertEqual(compare.verdict(parent, faster, pairs, "lower",
                                         0.15)[0], "better")
        slower = [x * 1.3 for x in parent]
        self.assertEqual(compare.verdict(parent, slower,
                                         list(zip(parent, slower)), "lower",
                                         0.15)[0], "worse")
        self.assertEqual(compare.verdict(parent, parent,
                                         list(zip(parent, parent)), "lower",
                                         0.15)[0], "same")
        noisy = [1.0, 2.0, 0.5, 1.5, 0.7, 1.2, 0.6, 1.9, 1.0, 0.8]
        self.assertEqual(compare.verdict(noisy, noisy,
                                         list(zip(noisy, noisy)), "lower",
                                         0.15)[0], "unresolved")


if __name__ == "__main__":
    unittest.main()
