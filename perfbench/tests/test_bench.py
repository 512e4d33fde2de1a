"""Tests of the benchmark itself (generator, checks, metrics, output).

    python3 -m unittest discover -s perfbench/tests

They need python3 with numpy, and no JVM.
"""
import copy
import csv
import hashlib
import json
import os
import sys
import tempfile
import unittest
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))
ROWS = 12_000


def digest(path):
    with open(path, "rb") as f:
        return hashlib.md5(f.read()).hexdigest()


def perfect_obs(name, truth):
    """The observation a correct program makes for op `name`."""
    cols = truth["columns"]
    if name in ("scan.default", "scan.strict"):
        key = name.split(".")[1]
        rows = truth["rows"] - (truth["ragged"] if key == "strict" else 0)
        return {"rows": rows, "cols": [
            {"name": h, "type": "string", "nonnull": c["nonnull"], "sum": c["crc"]}
            for h, c in zip(cols, truth[key])]}
    if name == "scan.typed":
        kinds = {"d": "double", "b": "boolean", "s": "string"}
        return {"rows": truth["rows"], "cols": [
            {"name": h, "type": kinds[truth["typed_kinds"][h]], **truth["typed"][h]}
            for h in cols]}
    if name == "scan.errors":
        few = truth["ragged_few"]
        return {"rows": truth["ragged"],
                "codes": {"TooFewFields": few, "TooManyFields": truth["ragged"] - few}}
    if name == "scan.count":
        return {"rows": truth["rows"]}
    if name == "sort":
        return {"exit": 0, "stdout": "", "output": {
            "files": 4, "bytes": 1, "lines": truth["rows"] + 4, "headers": 4}}
    if name == "convert_jsonl":
        return {"exit": 0, "stdout": "", "output": {
            "files": 4, "bytes": 1, "lines": truth["rows"], "headers": 0}}
    if name == "validate":
        lines = ["FieldMismatch/TooFewFields: expected 12 fields, got 8"] * min(10, truth["ragged"])
        return {"exit": 1, "stdout": "\n".join(lines) + "\n", "output": None}
    return {"rows": 3, "hash": "abc"}   # a catalog query


def fake_report(truth, ops, passes=5, traced=(2, 3)):
    """A driver report in which every op observed `perfect_obs`."""
    stats = {"jobs": 2, "tasks": 8, "run_s": 0.5, "cpu_s": 0.4, "gc_s": 0.01,
             "bytes_read": 1000, "shuffle_write": 5,
             "shuffle_read": 5, "spill": 0, "peak_exec": 1 << 20, "idle_s": 0.05,
             "task_skew": 1.2, "analysis_s": 0.01, "optimization_s": 0.02,
             "planning_s": 0.01, "write_s": 0.1}
    records = []
    for p in ["s0"] + [str(i) for i in range(passes)]:
        on = p.isdigit() and int(p) in traced
        for i, name in enumerate(ops):
            spans = ([{"name": "open", "s": 0.1}, {"name": "materialize", "s": 0.2}]
                     if on and name.startswith("scan.") else
                     [{"name": name, "s": 0.3}] if on else [])
            records.append({"pass": p, "name": name, "s": 0.5 + 0.1 * i,
                            "error": None, "obs": perfect_obs(name, truth),
                            "spans": spans, "stats": dict(stats) if on else None})
    return {"workload": "x", "cores": 4, "setup_s": 20.0, "timed_s": 9.0,
            "builds": [{"key": "tradegraph_rel", "s": 0.5}], "builds_in_timed": [],
            "passes": [{"pass": i, "traced": i in traced, "seconds": 4.0 + i}
                       for i in range(passes)],
            "ops": records,
            "jvm": {"gc_s": 0.1, "heap_peak_mb": 900.0, "rss_peak_mb": 1500.0},
            "cache_peak_mb": 5.0, "info": {"shuffle_partitions": "32"}}


CSV_OPS = ["scan.default", "scan.typed", "scan.strict", "scan.errors",
           "scan.count"] + check.CLI_COMMANDS


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, name, seed):
        path = os.path.join(self.dir, name)
        return path, gen.write_csv(path, seed, ROWS)

    def test_same_seed_same_bytes_and_truth(self):
        a, ta = self.write("a.csv", 7)
        b, tb = self.write("b.csv", 7)
        self.assertEqual(digest(a), digest(b))
        self.assertEqual(ta, tb)

    def test_other_seed_other_bytes(self):
        a, ta = self.write("a.csv", 7)
        b, tb = self.write("b.csv", 8)
        self.assertNotEqual(digest(a), digest(b))
        self.assertNotEqual(ta, tb)

    def test_truth_matches_an_independent_parse(self):
        """Python's csv module, read as the default shape reads (PERMISSIVE:
        short rows padded with null, long rows cut), gives the truth."""
        path, truth = self.write("a.csv", 3)
        n = len(gen.HEADER)
        nonnull, crc, ragged = [0] * n, [0] * n, 0
        with open(path, newline="", encoding="utf-8") as f:
            lines = f.read().split("\n")[1:-1]
        self.assertEqual(len(lines), truth["rows"])
        for line in lines:
            # an unquoted empty field is null; a quoted one ("") is ""
            raw = next(csv.reader([line]))
            quoted_empty = {i for i, tok in enumerate(_split(line)) if tok == '""'}
            ragged += len(raw) != n
            for j in range(n):
                v = raw[j] if j < len(raw) else None
                if v == "" and j not in quoted_empty:
                    v = None
                if v is not None:
                    nonnull[j] += 1
                    crc[j] += zlib.crc32(v.encode("utf-8"))
        self.assertEqual(ragged, truth["ragged"])
        self.assertEqual([c["nonnull"] for c in truth["default"]], nonnull)
        self.assertEqual([c["crc"] for c in truth["default"]], crc)
        self.assertGreater(truth["ragged"], 0)
        self.assertTrue(any('""' in l for l in lines))          # doubled quotes
        self.assertTrue(any(ord(ch) > 127 for ch in lines[0] + lines[1] + lines[2]))


def _split(line):
    """Raw tokens of one CSV line, quotes kept."""
    out, cur, q = [], "", False
    for ch in line:
        if ch == '"':
            q = not q
        if ch == "," and not q:
            out.append(cur)
            cur = ""
        else:
            cur += ch
    out.append(cur)
    return out


class CheckTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with tempfile.TemporaryDirectory() as d:
            cls.truth = gen.write_csv(os.path.join(d, "a.csv"), 11, ROWS)

    def test_perfect_run_passes(self):
        rep = fake_report(self.truth, CSV_OPS)
        attempted, failed, reasons = check.check_ops(rep, self.truth)
        self.assertEqual((attempted, failed), (len(rep["ops"]), 0), reasons)

    def test_corrupted_observations_fail(self):
        def corrupt(name, f):
            rep = fake_report(self.truth, CSV_OPS)
            op = next(o for o in rep["ops"] if o["name"] == name and o["pass"] == "1")
            f(op)
            return check.check_ops(rep, self.truth)[1]

        self.assertEqual(corrupt("scan.default", lambda o: o["obs"]["cols"][2].update(sum=1)), 1)
        self.assertEqual(corrupt("scan.typed", lambda o: o["obs"]["cols"][3].update(type="string")), 1)
        self.assertEqual(corrupt("scan.strict", lambda o: o["obs"].update(rows=ROWS)), 1)
        self.assertEqual(corrupt("scan.errors", lambda o: o["obs"].update(codes={})), 1)
        self.assertEqual(corrupt("validate", lambda o: o["obs"].update(exit=0)), 1)
        self.assertEqual(corrupt("sort", lambda o: o["obs"]["output"].update(lines=5)), 1)
        self.assertEqual(corrupt("convert_jsonl", lambda o: o.update(error="boom")), 1)

    def test_catalog_result_must_match_warm_pass_and_oracle(self):
        rep = fake_report(self.truth, check.QUERIES)
        self.assertEqual(check.check_ops(rep, self.truth)[1], 0)
        next(o for o in rep["ops"] if o["pass"] == "2")["obs"]["hash"] = "other"
        self.assertEqual(check.check_ops(rep, self.truth)[1], 1)
        rep = fake_report(self.truth, check.QUERIES)
        failed = check.check_ops(rep, self.truth, {check.QUERIES[0]: "rows 1 vs 2"})[1]
        self.assertEqual(failed, 6)   # every pass of that query, the set-up too

    def test_builds_in_timed_passes_fail(self):
        rep = fake_report(self.truth, CSV_OPS)
        rep["builds_in_timed"] = ["tradegraph_rel"]
        self.assertEqual(check.check_ops(rep, self.truth)[1], 1)


class OutputTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)
        with tempfile.TemporaryDirectory() as d:
            cls.truth = gen.write_csv(os.path.join(d, "a.csv"), 11, ROWS)

    def result(self, trace, ops):
        rep = fake_report(self.truth, ops)
        host = {"foreign_cpu_frac": 0.01, "loadavg": 1.0}
        metrics = (check.per_layer(rep, 1e6, host) if trace else check.end_to_end(rep))
        declared = self.bench["per_layer" if trace else "end_to_end"]
        return {"correct": True, "attempted": 10, "failed": 0,
                "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                            for m in declared}}

    def test_declared_metrics_match_the_code(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["end_to_end"]], check.E2E)
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]],
                         check.PER_LAYER)
        self.assertEqual([w["name"] for w in self.bench["workloads"]],
                         ["csv_scan", "catalog_mix"])

    def test_every_metric_is_emitted_with_its_unit(self):
        for trace in (0, 1):
            for ops in (CSV_OPS, check.QUERIES):
                r = self.result(trace, ops)
                self.assertEqual(check.validate_result(r, self.bench, trace), [])
                if not trace:
                    self.assertTrue(all(v["value"] > 0 for v in r["metrics"].values()))

    def test_trace_overhead_skips_warm_up_pass(self):
        rep = fake_report(self.truth, CSV_OPS)
        for p, s in zip(rep["passes"], [9.0, 4.0, 4.4, 4.4, 4.0]):
            p["seconds"] = s
        m = check.per_layer(rep, 1e6, {"foreign_cpu_frac": 0.0, "loadavg": 0.0})
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.1)

    def test_checker_rejects_corrupted_results(self):
        good = self.result(0, CSV_OPS)
        bad = []
        r = copy.deepcopy(good); del r["metrics"]["pass_s"]; bad.append(r)
        r = copy.deepcopy(good); r["metrics"]["pass_s"]["unit"] = "ms"; bad.append(r)
        r = copy.deepcopy(good); r["metrics"]["pass_s"]["value"] = float("nan"); bad.append(r)
        r = copy.deepcopy(good); r["metrics"]["extra"] = {"value": 1, "unit": "s"}; bad.append(r)
        r = copy.deepcopy(good); r["attempted"] = 0; bad.append(r)
        r = copy.deepcopy(good); r["failed"] = 1.5; bad.append(r)
        r = copy.deepcopy(good); r["note"] = "x"; bad.append(r)
        for r in bad:
            self.assertNotEqual(check.validate_result(r, self.bench, 0), [], r)


if __name__ == "__main__":
    unittest.main()
