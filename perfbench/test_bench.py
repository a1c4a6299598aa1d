"""Self-tests of the benchmark's own parts (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def tree_bytes(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def ndjson(rows):
    return "".join(json.dumps(r) + "\n" for r in rows).encode()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            gen.generate(5, a, 30, 2, 3)
            gen.generate(5, b, 30, 2, 3)
            gen.generate(6, c, 30, 2, 3)
            self.assertEqual(tree_bytes(a), tree_bytes(b))
            self.assertNotEqual(tree_bytes(a)[os.path.join("data", "input.ndjson")],
                                tree_bytes(c)[os.path.join("data", "input.ndjson")])

    def test_expected_answers_follow_appends(self):
        with tempfile.TemporaryDirectory() as a:
            gen.generate(5, a, 30, 2, 3)
            with open(os.path.join(a, "expected.json")) as f:
                exp = json.load(f)
            export = [v for k, v in exp.items() if k.startswith("export")][0]
            self.assertEqual([e["digest"][0] for e in export], [30, 33, 36])


class CheckerTest(unittest.TestCase):
    rows = [{"country": "USA", "count": 3}, {"country": "Japan", "count": 5}]
    expected = {"ordered": False, "rows": rows}

    def test_accepts_the_answer_in_any_order(self):
        self.assertIsNone(check.check(self.expected, ndjson(self.rows[::-1]), "ndjson"))

    def test_rejects_one_altered_value(self):
        bad = [dict(self.rows[0]), self.rows[1]]
        bad[0]["count"] = 4
        self.assertIsNotNone(check.check(self.expected, ndjson(bad), "ndjson"))

    def test_rejects_a_missing_row_and_a_stream_error(self):
        self.assertIsNotNone(check.check(self.expected, ndjson(self.rows[:1]), "ndjson"))
        body = ndjson(self.rows) + b'{"__streamError":"boom"}\n'
        self.assertIsNotNone(check.check(self.expected, body, "ndjson"))

    def test_arrow_export_digest(self):
        import datetime
        import pyarrow as pa
        rows = [{"primaryKey": "k1", "date": "2021-03-04", "age": 30, "qc_value": 0.5},
                {"primaryKey": "k2", "date": "2021-05-06", "age": 41, "qc_value": 0.25}]
        expected = {"digest": gen.table_digest(rows)}

        def arrow(rs):
            t = pa.table({
                "primaryKey": [r["primaryKey"] for r in rs],
                "date": pa.array([datetime.date.fromisoformat(r["date"]) for r in rs],
                                 pa.date32()),
                "age": pa.array([r["age"] for r in rs], pa.int32()),
                "qc_value": [r["qc_value"] for r in rs]})
            sink = io.BytesIO()
            with pa.ipc.new_stream(sink, t.schema) as w:
                w.write_table(t)
            return sink.getvalue()

        self.assertIsNone(check.check(expected, arrow(rows), "arrow"))
        altered = [dict(rows[0], qc_value=0.51), rows[1]]
        self.assertIsNotNone(check.check(expected, arrow(altered), "arrow"))

    def test_proportion_tolerance_is_one_last_place_unit(self):
        exp = {"ordered": False, "rows": [{"position": 7, "proportion": 0.1235}]}
        ok = ndjson([{"position": 7, "proportion": 0.1234}])
        off = ndjson([{"position": 7, "proportion": 0.1233}])
        self.assertIsNone(check.check(exp, ok, "ndjson"))
        self.assertIsNotNone(check.check(exp, off, "ndjson"))


class PercentileTest(unittest.TestCase):
    def test_refuses_without_ten_samples_beyond(self):
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)
        with self.assertRaises(ValueError):
            stats.percentile(list(range(1, 100)), 90)
        with self.assertRaises(ValueError):
            stats.percentile([1.0] * 10, 50)

    def test_summary_reports_the_highest_supported_percentile(self):
        s = stats.summary([float(i) for i in range(40)])
        self.assertEqual(s["n"], 40)
        self.assertIn("p75", s)
        self.assertNotIn("p90", s)


class FigureTest(unittest.TestCase):
    def test_export_figures_are_format_balanced(self):
        # a plain median over both groups would read 7, between them
        reads = [{"accept": "ndjson", "v": v} for v in (10, 11, 12, 13)] + \
            [{"accept": "arrow", "v": v} for v in (1, 2, 3, 4)]
        self.assertEqual(run.by_format(reads, lambda r: r["v"]), (11.5 + 2.5) / 2)


if __name__ == "__main__":
    unittest.main()
