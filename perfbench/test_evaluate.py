"""Self-tests for the benchmark's own arithmetic and checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import evaluate as ev  # noqa: E402


def norm(tbl):
    """tools/check.py's normalisation, restated so the test needs no
    checkout around it: sorted column names, sorted rows of strings."""
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    return cols, sorted(tuple(str(col[i]) for col in data) for i in range(tbl.num_rows))


class Percentile(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(ev.percentile(xs, 50), 50)
        self.assertEqual(ev.percentile(xs, 95), 95)
        self.assertEqual(ev.percentile(xs, 100), 100)
        self.assertEqual(ev.percentile([3.0], 99), 3.0)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(ev.tail_percentile(19))
        self.assertEqual(ev.tail_percentile(20), 50.0)
        self.assertEqual(ev.tail_percentile(45), 75.0)
        self.assertEqual(ev.tail_percentile(199), 90.0)
        self.assertEqual(ev.tail_percentile(200), 95.0)
        self.assertEqual(ev.tail_percentile(1000), 99.0)

    def test_summary_reports_rank_and_count(self):
        s = ev.latency_summary([float(i) for i in range(200)])
        self.assertEqual((s["tail_pct"], s["samples"], s["tail"]), (95.0, 200, 189.0))

    def test_too_few_samples_give_a_median_but_no_tail(self):
        s = ev.latency_summary([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual((s["p50"], s["tail"], s["tail_pct"]), (3.0, None, None))
        with self.assertRaises(ValueError):
            ev.latency_summary([])


class Latency(unittest.TestCase):
    BATCHES = [
        # query a commits offsets 0-1 at 1.0 s and 2-4 at 2.0 s;
        # query b commits 0-3 at 1.5 s and 4 at 3.0 s
        {"query": "a", "batch": 1, "end_offset": 4, "done_s": 2.0},
        {"query": "a", "batch": 0, "end_offset": 1, "done_s": 1.0},
        {"query": "b", "batch": 0, "end_offset": 3, "done_s": 1.5},
        {"query": "b", "batch": 1, "end_offset": 4, "done_s": 3.0},
    ]

    def test_first_covering_batch(self):
        commits = ev.commit_times(self.BATCHES, ["a", "b"])
        self.assertEqual(ev.covering_commit(commits["a"], 0), 1.0)
        self.assertEqual(ev.covering_commit(commits["a"], 2), 2.0)
        self.assertIsNone(ev.covering_commit(commits["a"], 5))

    def test_latest_query_sets_latency_from_due_time(self):
        chunks = [{"offset": 0, "due_s": 0.5}, {"offset": 2, "due_s": 0.5},
                  {"offset": 4, "due_s": 1.0}, {"offset": 5, "due_s": 1.0}]
        lats, missing = ev.chunk_latencies(chunks, self.BATCHES, ["a", "b"])
        self.assertEqual(lats, [1.0, 1.5, 2.0])
        self.assertEqual(missing, 1)


    def test_window_medians_leave_out_queries_without_a_batch(self):
        def b(q, done, ms, rows=10):
            return {"query": q, "rows": rows, "done_s": done,
                    "durations_ms": {"triggerExecution": ms}}
        batches = [b("a", -1.0, 9000), b("a", 1.0, 1000), b("a", 2.0, 3000),
                   b("a", 3.0, 2000), b("a", 4.0, 5000, rows=0), b("a", 6.0, 7000),
                   b("b", -0.5, 4000), b("c", 1.5, 500)]
        # b committed nothing in the window; the cold batch, the empty
        # batch and the batch after the window of a are not counted
        self.assertEqual(ev.window_medians(batches, ("a", "b", "c"), (0.0, 5.0)),
                         {"a": 2.0, "c": 0.5})
        self.assertEqual(ev.window_medians(batches, ("a", "b"), (10.0, 20.0)), {})


class BatchCounts(unittest.TestCase):
    def test_a_failed_first_execution_counts_once(self):
        q = {"warmup": [1.5], "warm": [1.0, 1.1], "errors": [{"pass": 0, "msg": "boom"}]}
        self.assertEqual(ev.batch_counts(q), (4, 1))

    def test_failed_warm_executions_add_to_both(self):
        q = {"warmup": [], "warm": [1.0],
             "errors": [{"pass": 1, "msg": "x"}, {"pass": 3, "msg": "y"}]}
        self.assertEqual(ev.batch_counts(q), (4, 2))
        q = {"warmup": [1.5], "warm": [1.0, 1.2], "errors": []}
        self.assertEqual(ev.batch_counts(q), (4, 0))


class DriverTime(unittest.TestCase):
    def test_union_of_overlapping_tasks(self):
        self.assertEqual(ev.union_length([(0, 4), (2, 6), (8, 9)], 0, 10), 7)
        self.assertEqual(ev.union_length([(5, 20)], 0, 10), 5)
        self.assertEqual(ev.union_length([], 0, 10), 0)

    def test_wall_minus_time_with_a_task_running(self):
        # a 10 ms query with tasks on [1,3), [2,5) and [7,8): 5 ms busy
        self.assertEqual(ev.driver_time(100, 110, [(101, 103), (102, 105), (107, 108)]), 5)
        # tasks outside the query's interval do not count
        self.assertEqual(ev.driver_time(0, 10, [(20, 30)]), 10)


class Correctness(unittest.TestCase):
    def test_corrupted_batch_result_is_a_mismatch(self):
        good = pa.table({"k": [1, 2, 3], "v": ["x", "y", "z"]})
        shuffled = pa.table({"v": ["z", "x", "y"], "k": [3, 1, 2]})
        bad = pa.table({"k": [1, 2, 3], "v": ["x", "y", "Z"]})
        self.assertEqual(ev.table_digest(good, norm), ev.table_digest(shuffled, norm))
        self.assertNotEqual(ev.table_digest(good, norm), ev.table_digest(bad, norm))
        self.assertNotEqual(ev.table_digest(good, norm),
                            ev.table_digest(good.slice(0, 2), norm))

    def _lines(self):
        t0 = 1767226200000  # 2026-01-01 00:10 UTC
        lines = [f"{t0 + i} Hebei Tangshan 7 1" for i in range(100)]
        lines += [f"{t0 + i} Hunan Changsha 1001 2" for i in range(3)]
        lines += [f"{t0 + 60000} Hubei Wuhan 1002 2"]
        return lines

    def _store(self, expected):
        return {t: [list(k) + [str(v)] for k, v in cells.items()]
                for t, cells in expected.items()}

    def test_recount(self):
        want = ev.recount(self._lines())
        self.assertEqual(set(want["ad_blacklist"]), {("7",)})
        self.assertEqual(want["ad_user_click_count"],
                         {("2026-01-01", "1001", "2"): 3, ("2026-01-01", "1002", "2"): 1})
        self.assertEqual(want["ad_click_trend"],
                         {("202601010010", "1"): 100, ("202601010010", "2"): 3,
                          ("202601010011", "2"): 1})
        self.assertNotIn("Hebei", {k[1] for k in want["ad_stat"]})

    def test_store_agreeing_with_recount_passes(self):
        want = ev.recount(self._lines())
        store = self._store(want)
        # cells that depend on batch timing are ignored
        store["ad_user_click_count"].append(["2026-01-01", "7", "1", "57"])
        store["ad_stat"].append(["2026-01-01", "Hebei", "Tangshan", "1", "12"])
        compared, bad = ev.compare_store(want, store)
        self.assertEqual(bad, 0)
        self.assertEqual(compared, sum(len(v) for v in want.values()))

    def test_preloaded_history_must_stay_as_it_was(self):
        want = ev.recount(self._lines(), history=3)
        history = {k: v for k, v in want["ad_user_click_count"].items()
                   if k[0] == ev.HISTORY_DAY}
        self.assertEqual(len(history), 3)
        store = self._store(want)
        self.assertEqual(ev.compare_store(want, store)[1], 0)
        rows = store["ad_user_click_count"]
        i = next(i for i, r in enumerate(rows) if r[0] == ev.HISTORY_DAY)
        rows[i] = rows[i][:-1] + ["7"]
        self.assertEqual(ev.compare_store(want, store)[1], 1)

    def test_corrupted_store_cells_count_as_failures(self):
        want = ev.recount(self._lines())
        store = self._store(want)
        store["ad_click_trend"][0][-1] = "999"
        store["ad_stat"].pop()
        store["ad_blacklist"].append(["1001", "0"])
        _, bad = ev.compare_store(want, store)
        self.assertEqual(bad, 3)


if __name__ == "__main__":
    unittest.main()
