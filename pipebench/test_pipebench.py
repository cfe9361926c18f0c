"""Tests of the benchmark's own code: generator determinism, the oracle's
counts on a hand-written batch, the artifact comparison, and the span and
ratio arithmetic of the traced run.

    python3 -m unittest discover -s pipebench -p 'test_*.py'
"""

import hashlib
import json
import os
import shutil
import tempfile
import unittest
from datetime import date

import check
import gen
import trace

TINY = {"format": "csv", "files_per_report": 1, "rows_per_file": 40, "days": 4,
        "dup_share": 0.1, "reject_share": 0.1, "junk_rows": 2}
TINY_XLSX = {"format": "xlsx", "books": 2, "sheets": [1, 2], "rows_per_file": 20,
             "days": 4, "dup_share": 0.1, "reject_share": 0.1, "junk_rows": 1}


def digest(root):
    h = hashlib.sha1()
    for dirpath, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def gen(self, name, seed, spec):
        d = os.path.join(self.tmp, name)
        gen.generate("csv-bulk", seed, d, spec)
        return digest(d)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for spec in (TINY, TINY_XLSX, dict(TINY, prior=True)):
            a = self.gen("a", 3, spec)
            self.assertEqual(a, self.gen("b", 3, spec))
            self.assertNotEqual(a, self.gen("c", 4, spec))
            for d in "abc":
                shutil.rmtree(os.path.join(self.tmp, d))

    def test_reload_prior_batch_is_seed_independent(self):
        spec = dict(TINY, prior=True)
        gen.generate("csv-bulk", 3, os.path.join(self.tmp, "a"), spec)
        gen.generate("csv-bulk", 4, os.path.join(self.tmp, "b"), spec)
        self.assertEqual(digest(os.path.join(self.tmp, "a", "prior")),
                         digest(os.path.join(self.tmp, "b", "prior")))

    def test_shape_counts_planted_rows(self):
        m = gen.generate("csv-bulk", 1, self.tmp, TINY)
        s = gen.shape(m)
        self.assertEqual((s["files"], s["sheets"], s["data_rows"]), (3, 3, 120))
        self.assertEqual(s["bytes"], sum(os.path.getsize(os.path.join(self.tmp, "input", f))
                                         for f in os.listdir(os.path.join(self.tmp, "input"))))

    def test_xlsx_column_letters(self):
        self.assertEqual([gen._col_letter(i) for i in (0, 25, 26, 56)], ["A", "Z", "AA", "BE"])


D1, D2, D3 = date(2024, 5, 1), date(2024, 5, 2), date(2024, 5, 3)


def row(kind, day, key):
    return ({}, kind, day, key)


def hand_manifest():
    """Two files of each report type, written out by hand.

    Train List: t1 (D1) and t2 (D1), t3 (D2); t1 re-issued in file 2; one
    reject. Occupancy: k1 (D1), k2 (D2); k2 re-issued twice. Booking: three
    rows on D1/D2/D2 plus a repeated row (no dedup) and a reject.
    """
    k1, k2 = ("2024-05-01", "MAD-BCN", "T1", "C"), ("2024-05-02", "MAD-BCN", "T1", "C")
    inputs = [
        {"file": "tl_0.csv", "sheet": None, "report": gen.TL, "rows": [
            row("row", D1, "t1"), row("row", D1, "t2"), row("reject", D1, "t9")]},
        {"file": "tl_1.csv", "sheet": None, "report": gen.TL, "rows": [
            row("row", D2, "t3"), row("dup", D1, "t1")]},
        {"file": "occ_0.csv", "sheet": None, "report": gen.OCC, "rows": [
            row("row", D1, k1), row("row", D2, k2)]},
        {"file": "occ_1.csv", "sheet": None, "report": gen.OCC, "rows": [
            row("dup", D2, k2), row("dup", D2, k2)]},
        {"file": "bpd_0.csv", "sheet": None, "report": gen.BPD, "rows": [
            row("row", D1, None), row("row", D2, None), row("reject", D2, None)]},
        {"file": "bpd_1.csv", "sheet": None, "report": gen.BPD, "rows": [
            row("row", D2, None), row("dup", D2, None)]},
    ]
    return {"batches": [{"batch": 1, "inputs": inputs, "files": 6, "bytes": 1}]}


class OracleTest(unittest.TestCase):

    def test_counts_equal_hand_counts(self):
        e = gen.expected(hand_manifest())
        tl, occ, bpd = (e["reports"][r] for r in (gen.TL, gen.OCC, gen.BPD))
        self.assertEqual((tl["read"], tl["kept"], tl["duplicates"], tl["rejects"]), (5, 3, 1, 1))
        self.assertEqual(tl["kept_per_day"], {"2024-05-01": 2, "2024-05-02": 1})
        self.assertEqual((occ["read"], occ["kept"], occ["duplicates"], occ["rejects"]),
                         (4, 2, 2, 0))
        self.assertEqual((bpd["read"], bpd["kept"], bpd["duplicates"], bpd["rejects"]),
                         (5, 4, 0, 1))
        self.assertEqual(bpd["kept_per_day"], {"2024-05-01": 1, "2024-05-02": 3})
        # loaded days: TL 2, OCC 2, BPD 2 -> one audit row each
        self.assertEqual(e["audit_rows"], 6)
        self.assertEqual(e["audit_total"], 6)
        self.assertEqual(e["archived_files"], 6)
        self.assertEqual(e["target"][gen.BPD], {"2024-05-01": [1, "b1"], "2024-05-02": [3, "b1"]})

    def test_reload_keeps_untouched_days_and_replaces_overlapping_ones(self):
        prior = {"batch": 0, "files": 1, "bytes": 1, "inputs": [
            {"file": "occ.csv", "sheet": None, "report": gen.OCC, "rows": [
                row("row", D1, ("a",)), row("row", D2, ("b",)), row("row", D2, ("c",))]}]}
        timed = {"batch": 1, "files": 1, "bytes": 1, "inputs": [
            {"file": "occ.csv", "sheet": None, "report": gen.OCC, "rows": [
                row("row", D2, ("d",)), row("row", D3, ("e",))]}]}
        e = gen.expected({"batches": [prior, timed]})
        self.assertEqual(e["target"][gen.OCC], {
            "2024-05-01": [1, "b0"], "2024-05-02": [1, "b1"], "2024-05-03": [1, "b1"]})
        self.assertEqual(e["audit_rows"], 2)
        self.assertEqual(e["audit_total"], 4)
        self.assertEqual(e["audit_per_day"]["Occupancy|2024-05-02"], 2)
        self.assertEqual(e["archived_files"], 1)

    def measured_from(self, e):
        """What a correct batch would write, shaped like `check.measure`."""
        return {
            "reports": {r: {k: c[k] for k in check.CHANNELS} for r, c in e["reports"].items()},
            "target": {r: dict(d) for r, d in e["target"].items()},
            "audit_per_day": dict(e["audit_per_day"]),
            "archived_files": e["archived_files"], "inputs_left": 0}

    def test_compare_accepts_matching_artifacts_and_names_each_mismatch(self):
        e = gen.expected(hand_manifest())
        got = self.measured_from(e)
        self.assertEqual(check.compare(e, got), [])
        got["reports"][gen.TL]["kept"] -= 1                     # a lost row
        got["target"][gen.OCC]["2024-05-09"] = [1, "b1"]         # a stray day
        got["target"][gen.BPD]["2024-05-02"] = [3, "b0,b1"]      # a stale row mix
        got["inputs_left"] = 1
        bad = check.compare(e, got)
        self.assertTrue(any("Train List kept" in b for b in bad))
        self.assertTrue(any("read 5 != kept + duplicates + rejects 4" in b for b in bad))
        self.assertTrue(any("unexpected partition" in b for b in bad))
        self.assertTrue(any("Booking Payment Detailed 2024-05-02" in b for b in bad))
        self.assertTrue(any("files left" in b for b in bad))


def synthetic_trace():
    """A traced batch small enough to check by hand."""
    acc = {"jobs": 0, "stages": 0, "tasks": 0, "task_ms": 0, "input_bytes": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "plan_ms": 0.0}
    groups = {
        "bench:w:readers": dict(acc, jobs=6, tasks=8, input_bytes=3_000_000, plan_ms=40.0),
        "bench:w:sinks.load": dict(acc, jobs=4, tasks=10, input_bytes=5_000_000,
                                   task_ms=2500),
        "": dict(acc, plan_ms=5.0),
    }
    return {"engine": [0, 10000], "batch_s": 10.0, "groups": groups,
            "spans": [["readers", 1000, 4000], ["sinks.load", 5000, 9000]],
            "jobs": [["bench:w:readers", 1500, 3500], ["bench:w:sinks.load", 5000, 8000]],
            "classify_units": 3, "read_inputs": 3, "load_days": 12, "gc_ms": 250,
            "cached_bytes_peak": 2_000_000, "heap_peak_mb": 300.0}


class TraceArithmeticTest(unittest.TestCase):

    def test_self_times_sum_to_the_window(self):
        spans = [("classify", 1000, 2000),
                 ("readers", 2000, 3000), ("readers", 2500, 3500),   # pool overlap: once
                 ("sinks.side", 4000, 5000)]
        t = trace.self_times(spans, (0, 6000))
        self.assertAlmostEqual(t["classify"], 1.0)
        self.assertAlmostEqual(t["readers"], 1.5)
        self.assertAlmostEqual(t["sinks.side"], 1.0)
        self.assertAlmostEqual(t[None], 2.5)
        self.assertAlmostEqual(sum(t.values()), 6.0)

    def test_distinct_layers_overlapping_split_evenly_and_spans_clip(self):
        t = trace.self_times([("a", 0, 2000), ("b", 1000, 3000), ("c", -500, 500)], (0, 4000))
        self.assertAlmostEqual(t["a"], 1.5 - 0.25)
        self.assertAlmostEqual(t["b"], 1.5)
        self.assertAlmostEqual(t["c"], 0.25)
        self.assertAlmostEqual(t[None], 1.0)
        self.assertAlmostEqual(sum(t.values()), 4.0)

    def test_covered_and_ratio(self):
        self.assertAlmostEqual(trace.covered([(0, 1000), (500, 1500), (3000, 9000)], (0, 4000)),
                               2.5)
        self.assertEqual(trace.covered([], (0, 1000)), 0.0)
        self.assertEqual(trace.ratio(6, 3), 2)
        self.assertEqual(trace.ratio(6, 0), 0.0)

    def test_per_layer_totals_and_ratios(self):
        t = synthetic_trace()
        m = {k: v for k, (v, _) in trace.per_layer(t, 2_000_000, 9.0, 36).items()}
        self.assertEqual(m["readers.jobs"], 6)
        self.assertEqual(m["readers.jobs_per_input"], 2)
        self.assertEqual(m["engine.jobs"], 10)
        self.assertEqual(m["engine.plan_ms"], 45.0)
        self.assertAlmostEqual(m["sinks.load.task_s"], 2.5)
        self.assertAlmostEqual(m["engine.read_amp"], 4.0)
        self.assertAlmostEqual(m["engine.no_job_s"], 5.0)
        self.assertAlmostEqual(m["readers.s"] + m["sinks.load.s"] + m["trace.unattributed_s"],
                               m["engine.s"])
        self.assertAlmostEqual(m["trace.unattributed_s"], 3.0)
        self.assertAlmostEqual(m["trace.overhead_s"], 1.0)
        self.assertEqual(m["sinks.load.files_out"], 36)
        self.assertEqual(m["sinks.load.days"], 12)
        self.assertAlmostEqual(m["engine.cached_mb_peak"], 2.0)
        self.assertAlmostEqual(m["engine.gc_s"], 0.25)
        self.assertEqual(m["engine.heap_peak_mb"], 300.0)
        self.assertEqual(trace.layer_of("bench:w:nope"), "engine")


class SpecTest(unittest.TestCase):
    """spec.json stays true to the generator and to BENCHMARK.json."""

    here = os.path.dirname(os.path.abspath(__file__))

    def load(self, *path):
        with open(os.path.join(self.here, *path)) as f:
            return json.load(f)

    def test_recorded_shapes_are_the_generated_ones(self):
        spec = self.load("spec.json")
        self.assertEqual(sorted(spec["workloads"]), sorted(gen.WORKLOADS))
        for name, w in spec["workloads"].items():
            tmp = tempfile.mkdtemp()
            try:
                shape = gen.shape(gen.generate(name, w["default_seed"], tmp))
            finally:
                shutil.rmtree(tmp)
            self.assertEqual(shape, w["shape_at_default_seed"], name)

    def test_metrics_and_workloads_match_benchmark_json(self):
        spec, bench = self.load("spec.json"), self.load("..", "BENCHMARK.json")
        self.assertEqual({w["name"]: w["why"] for w in bench["workloads"]},
                         {n: w["why"] for n, w in spec["workloads"].items()})
        e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        self.assertEqual(e2e, {n: m["unit"] for n, m in spec["end_to_end"].items()})
        layer = {m["name"] for m in bench["per_layer"]}
        for p in spec["predictions"]:
            self.assertTrue(set(p["layer_metrics"]) <= layer, p)
            self.assertTrue(set(p["should_move"]) <= set(e2e), p)
        self.assertEqual(set(trace.LAYERS), set(spec["layers"]))
        emitted = trace.per_layer(synthetic_trace(), 1, 1.0, 1)
        self.assertEqual({n: u for n, (_, u) in emitted.items()},
                         {m["name"]: m["unit"] for m in bench["per_layer"]})
        for counts in spec["baseline"].get("workloads", {}).values():
            self.assertTrue(set(counts) <= layer)


if __name__ == "__main__":
    unittest.main()
