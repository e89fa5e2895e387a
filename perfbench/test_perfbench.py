"""Tests of the benchmark harness itself (no JVM, no Spark).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402


class TailPercentile(unittest.TestCase):

    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(M.tail_percentile(list(range(19))))
        self.assertEqual(M.tail_percentile(list(range(1, 21))), (50.0, 10))
        self.assertEqual(M.tail_percentile(list(range(1, 40))), (50.0, 20))
        self.assertEqual(M.tail_percentile(list(range(1, 41))), (75.0, 30))
        self.assertEqual(M.tail_percentile(list(range(1, 101))), (90.0, 90))
        self.assertEqual(M.tail_percentile(list(range(1, 1001)))[0], 99.0)
        self.assertEqual(M.tail_percentile(list(range(1, 10001))), (99.9, 9990))

    def test_order_independent(self):
        xs = [5, 3, 9, 1, 7] * 8
        self.assertEqual(M.tail_percentile(xs), M.tail_percentile(sorted(xs)))


class SelfTime(unittest.TestCase):

    def span(self, i, parent, a, b, name="s"):
        return {"id": i, "parent": parent, "start_s": a, "end_s": b, "name": name}

    def test_children_union_is_subtracted(self):
        spans = [self.span(0, -1, 0.0, 10.0, "root"),
                 self.span(1, 0, 1.0, 3.0, "a"),
                 self.span(2, 0, 2.0, 5.0, "b"),      # overlaps a
                 self.span(3, 0, 9.0, 12.0, "c"),     # clipped to the parent
                 self.span(4, 2, 2.5, 3.5, "d")]      # grandchild: not the root's
        st = M.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - 4.0 - 1.0)
        self.assertAlmostEqual(st[1], 2.0)
        self.assertAlmostEqual(st[2], 3.0 - 1.0)
        self.assertAlmostEqual(st[4], 1.0)

    def test_self_times_sum_to_root_duration(self):
        spans = [self.span(0, -1, 0.0, 8.0), self.span(1, 0, 0.5, 2.0),
                 self.span(2, 1, 1.0, 1.5), self.span(3, 0, 3.0, 7.0)]
        self.assertAlmostEqual(sum(M.self_times(spans).values()), 8.0)

    def test_accounted_is_layer_spans_under_roots(self):
        spans = [self.span(0, -1, 0.0, 8.0), self.span(1, 0, 0.5, 2.0),
                 self.span(2, 1, 1.0, 1.5), self.span(3, 0, 3.0, 7.0),
                 self.span(4, -1, 9.0, 10.0)]
        self.assertAlmostEqual(M.accounted_s({"spans": spans}), 1.5 + 4.0 + 1.0)


class Headline(unittest.TestCase):

    def test_every_metric_fits(self):
        for names in (run.END_TO_END, run.PER_LAYER):
            line = M.headline(True, 123456, 0,
                              {n: (1234567.123456789012, u) for n, u in names})
            self.assertLess(len(line), M.HEADLINE_LIMIT)
            doc = json.loads(line)
            self.assertEqual(sorted(doc), ["attempted", "correct", "failed", "metrics"])
            self.assertEqual(sorted(doc["metrics"]), sorted(n for n, _ in names))

    def test_benchmark_json_names_match(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]), sorted(run.WORKLOADS))

    def test_too_long_is_refused(self):
        many = {"m%04d" % i: (1.0, "s") for i in range(200)}
        with self.assertRaises(ValueError):
            M.headline(True, 1, 0, many)


class CliOutput(unittest.TestCase):

    def test_issue_counts_include_the_capped_remainder(self):
        text = "\n".join([
            "Wrote 3 phenopacket files to /x",
            "Errors found in mapping:", "- e1", "- e2", "- … and 5 more errors (cap x=2)",
            "Warnings found in mapping:", "- w1",
            "Created 3 Genotype objects", "Created 7 Phenotype objects"])
        got = run.parse_cli_stdout(text)
        self.assertEqual(got, {"patients": 3, "genotypes": 3, "phenotypes": 7,
                               "issues": {"error": 7, "warning": 1}})


class Generator(unittest.TestCase):

    def digest(self, d):
        h = hashlib.sha256()
        for root, _, files in sorted(os.walk(d)):
            for f in sorted(files):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
        return h.hexdigest()

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a = gen.make_clinical(7, "clinical_validation_heavy", os.path.join(t, "a"))
            b = gen.make_clinical(7, "clinical_validation_heavy", os.path.join(t, "b"))
            c = gen.make_clinical(8, "clinical_validation_heavy", os.path.join(t, "c"))
            self.assertEqual(a, b)
            self.assertEqual(self.digest(os.path.join(t, "a")), self.digest(os.path.join(t, "b")))
            self.assertNotEqual(self.digest(os.path.join(t, "a")), self.digest(os.path.join(t, "c")))
            gen.make_registry(7, os.path.join(t, "ra"))
            gen.make_registry(7, os.path.join(t, "rb"))
            self.assertEqual(self.digest(os.path.join(t, "ra")), self.digest(os.path.join(t, "rb")))

    def test_counts_by_construction(self):
        with tempfile.TemporaryDirectory() as t:
            m = gen.make_clinical(3, "clinical_validation_heavy", t)
            shape = gen.SHAPES["clinical_validation_heavy"]
            n = shape["files"] * shape["patients_per_file"]
            self.assertEqual(m["counts"]["patients"], n)
            self.assertEqual(m["counts"]["measurements"] + m["planted"]["bad_measurement"], n)
            self.assertEqual(sum(m["issues"].values()), sum(m["issues_by_step"].values()))
            for k in gen.PLANT_KINDS:
                self.assertGreater(m["planted"][k], 0, k)
            self.assertEqual(len(os.listdir(os.path.join(t, "corpus"))), shape["files"])

    def test_ontology_shape(self):
        o = gen.make_ontology(1, 18000)
        self.assertEqual(len(o.terms), 18000)
        self.assertEqual(len(o.obsolete), 180)
        self.assertTrue(all(o.under_abnormality(r) for r in o.obsolete.values()))
        depth = max(len(o.ancestors(t)) for t in o.terms[:2000])
        self.assertGreater(depth, 5)


if __name__ == "__main__":
    unittest.main()
