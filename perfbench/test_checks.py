"""Self-tests for the benchmark's correctness checks: each check passes on
a right output and fails on each deliberately wrong one.

    python3 -m unittest perfbench/test_checks.py
"""
import copy
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402


def _event(i):
    return {"specversion": "1.0", "id": f"c0-e{i}", "source": "/bench/c0",
            "type": "bench.api", "data": {"n": i, "pad": "x" * i}}


def _api_log(n=6):
    """A right client log: POST i, then GET of revision i, page of 0..i."""
    lines = []
    for i in range(n):
        lines.append({"kind": "posted", "index": i, "event": _event(i)})
        lines.append({"kind": "append", "index": i, "status": 201,
                      "path": "/streams/st-0/events", "body": ""})
        lines.append({"kind": "get", "index": i, "status": 200,
                      "path": f"/streams/st-0/events/{i}", "body": json.dumps(_event(i))})
        lines.append({"kind": "page", "index": i, "status": 200,
                      "path": f"/streams/st-0/events?page%5Boffset%5D=0&page%5Blimit%5D={i + 1}",
                      "body": json.dumps([_event(j) for j in range(i + 1)])})
    return lines


def _ingest():
    expected = {"streams": {"s00": {"count": 3, "amount": 60}, "s01": {"count": 2, "amount": 5}},
                "dead_letters": 2, "redelivered_sent": 1}
    committed = [("s00", 0, "/gen/s00", "e0"), ("s00", 1, "/gen/s00", "e1"),
                 ("s00", 2, "/gen/s00", "e3"), ("s01", 0, "/gen/s01", "e2"),
                 ("s01", 1, "/gen/s01", "e4")]
    replay = {"s00": (3, 60), "s01": (2, 5)}
    return expected, committed, 2, replay


class ApiCheck(unittest.TestCase):
    def test_right_output_passes(self):
        self.assertEqual(checks.check_api(_api_log(), 6), [])

    def test_changed_value_fails(self):
        log = _api_log()
        get = next(l for l in log if l["kind"] == "get" and l["index"] == 3)
        body = json.loads(get["body"])
        body["data"]["n"] = 99
        get["body"] = json.dumps(body)
        self.assertTrue(checks.check_api(log, 6))

    def test_dropped_row_in_page_fails(self):
        log = _api_log()
        page = [l for l in log if l["kind"] == "page"][-1]
        page["body"] = json.dumps(json.loads(page["body"])[:-1])
        self.assertTrue(checks.check_api(log, 6))

    def test_skipped_revision_in_page_fails(self):
        log = _api_log()
        page = [l for l in log if l["kind"] == "page"][-1]
        rows = json.loads(page["body"])
        page["body"] = json.dumps(rows[:2] + rows[3:] + [_event(6)])
        self.assertTrue(checks.check_api(log, 6))

    def test_repeated_revision_in_page_fails(self):
        log = _api_log()
        page = [l for l in log if l["kind"] == "page"][-1]
        rows = json.loads(page["body"])
        page["body"] = json.dumps(rows[:3] + [rows[2]] + rows[4:])
        self.assertTrue(checks.check_api(log, 6))

    def test_wrong_final_revision_fails(self):
        self.assertTrue(checks.check_api(_api_log(), 5))

    def test_failed_request_fails(self):
        log = _api_log()
        log[1]["status"] = 500
        self.assertTrue(checks.check_api(log, 6))


class IngestCheck(unittest.TestCase):
    def test_right_output_passes(self):
        self.assertEqual(checks.check_ingest(*_ingest()), [])

    def test_dropped_row_fails(self):
        e, c, d, r = _ingest()
        self.assertTrue(checks.check_ingest(e, c[:-1], d, r))

    def test_redelivered_event_committed_twice_fails(self):
        e, c, d, r = _ingest()
        self.assertTrue(checks.check_ingest(e, c + [("s00", 3, "/gen/s00", "e1")], d, r))

    def test_skipped_revision_fails(self):
        e, c, d, r = _ingest()
        c[2] = ("s00", 3, "/gen/s00", "e3")
        self.assertTrue(checks.check_ingest(e, c, d, r))

    def test_repeated_revision_fails(self):
        e, c, d, r = _ingest()
        c[2] = ("s00", 1, "/gen/s00", "e3")
        self.assertTrue(checks.check_ingest(e, c, d, r))

    def test_wrong_dead_letter_count_fails(self):
        e, c, d, r = _ingest()
        self.assertTrue(checks.check_ingest(e, c, d + 1, r))

    def test_changed_replay_value_fails(self):
        e, c, d, r = _ingest()
        r = copy.deepcopy(r)
        r["s01"] = (2, 6)
        self.assertTrue(checks.check_ingest(e, c, d, r))


class QueryCheck(unittest.TestCase):
    def frames(self):
        import pandas as pd
        exp = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]})
        # same rows, other row and column order: still equal
        got = exp.iloc[[2, 0, 1]][["s", "v", "k"]].reset_index(drop=True)
        return got, exp

    def test_right_output_passes(self):
        got, exp = self.frames()
        self.assertEqual(checks.check_query(got, exp), [])

    def test_dropped_row_fails(self):
        got, exp = self.frames()
        self.assertTrue(checks.check_query(got.iloc[:2], exp))

    def test_changed_value_fails(self):
        got, exp = self.frames()
        got.loc[0, "v"] = 2.0000000001
        self.assertTrue(checks.check_query(got, exp))

    def test_repeated_row_fails(self):
        import pandas as pd
        got, exp = self.frames()
        got = pd.concat([got.iloc[:2], got.iloc[:1]], ignore_index=True)
        self.assertTrue(checks.check_query(got, exp))

    def test_oracle_end_to_end(self):
        """The DuckDB path: a result file checked against oracle SQL."""
        import tempfile
        import duckdb
        with tempfile.TemporaryDirectory(dir=os.path.dirname(os.path.abspath(__file__))) as d:
            tables = os.path.join(d, "tables")
            os.makedirs(tables)
            for t in checks.TABLES:
                duckdb.sql(f"COPY (SELECT 1 AS x) TO '{tables}/{t}.parquet' (FORMAT parquet)")
            duckdb.sql(f"COPY (SELECT range AS r FROM range(4)) TO '{tables}/orders.parquet' (FORMAT parquet)")
            os.makedirs(os.path.join(d, "res", "q"))
            duckdb.sql(f"COPY (SELECT range AS r FROM range(4)) TO '{d}/res/q/part-0.parquet' (FORMAT parquet)")
            self.assertEqual(checks.check_queries(tables, f"{d}/res", {"q": "SELECT r FROM orders"}), [])
            self.assertTrue(checks.check_queries(tables, f"{d}/res", {"q": "SELECT r + 1 AS r FROM orders"}))


if __name__ == "__main__":
    unittest.main()
