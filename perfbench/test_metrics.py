"""Self-tests of the benchmark's metric rules: python3 -m unittest test_metrics
(run inside perfbench/)."""
import unittest

import metrics


def span(i, parent, start, end, name="x", layer="queries"):
    return dict(id=i, parent=parent, name=name, layer=layer, start=start, end=end)


def exe(q, p, t=1.0, h="h1", error=None):
    return dict(query=q, **{"pass": p}, build_s=t / 2, plan_s=0.0, exec_s=t / 2,
                rows=3, hash=h, error=error)


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # 20 samples: p50 is rank 10 with 10 beyond; p55 would leave 9
        v, p, n, beyond = metrics.tail(range(1, 21))
        self.assertEqual((v, p, n, beyond), (10, 50, 20, 10))
        v, p, n, beyond = metrics.tail(range(1, 101))
        self.assertEqual((v, p, beyond), (90, 90, 10))
        v, p, n, beyond = metrics.tail(range(1, 1001))
        self.assertEqual((v, p, beyond), (990, 99, 10))

    def test_too_few_samples_give_no_tail(self):
        self.assertIsNone(metrics.tail(range(19)))


class SelfTime(unittest.TestCase):
    def test_children_overlap_counted_once_and_clipped(self):
        spans = [span(0, -1, 0, 100),
                 span(1, 0, 10, 40), span(2, 0, 30, 50),  # union 10..50
                 span(3, 0, 90, 120),                     # clipped to 90..100
                 span(4, 1, 10, 20)]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 100 - 40 - 10)
        self.assertEqual(st[1], 30 - 10)
        self.assertEqual(st[4], 10)

    def test_jobs_attach_to_innermost_open_span(self):
        spans = [span(0, -1, 0, 100, "q1"), span(1, 0, 5, 50, "exec")]
        jobs = metrics.attach_jobs(spans, [dict(id=7, start=6, end=9),
                                           dict(id=8, start=60, end=70),
                                           dict(id=9, start=200, end=210)])
        self.assertEqual([j["parent"] for j in jobs], [1, 0, None])


class JobUnion(unittest.TestCase):
    def test_union_and_driver_gap(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(metrics.union_ms([]), 0)
        q = [span(0, -1, 0, 1000)]
        jobs = [dict(start=100, end=500), dict(start=300, end=700),
                dict(start=900, end=1100)]
        gap_s, overlap = metrics.driver_gap_and_overlap(q, jobs)
        # covered: 100..700 and 900..1000 -> 700 ms; gap 300 ms
        self.assertAlmostEqual(gap_s, 0.3)
        # job time inside the query: 400 + 400 + 100 over a 700 ms union
        self.assertAlmostEqual(overlap, 900 / 700)


class Outputs(unittest.TestCase):
    def raw(self, execs):
        passes = [dict(wall_s=10.0 + i, heap_mb=100.0 + i) for i in range(5)]
        return dict(execs=execs, passes=passes, heap_end_mb=50.0, setup_s=5.0,
                    io=dict(written=300, read=1200))

    def test_injected_throwing_query_lowers_ok_frac(self):
        execs = [exe(q, p, t=0.1 * (p + 1)) for p in range(5) for q in ("qa", "qb", "qc", "qd", "qe")]
        execs[7] = exe(execs[7]["query"], 1, error="java.lang.IllegalStateException: boom")
        m, notes = metrics.end_to_end(self.raw(execs), {q: True for q in ("qa", "qb", "qc", "qd", "qe")})
        self.assertAlmostEqual(m["ok_frac"][0], 24 / 25)
        self.assertEqual(notes["attempted"], 25)
        self.assertEqual(len(notes["failures"]), 1)
        self.assertIn("boom", notes["failures"][0])
        # the failed execution has no time but still counts as a warm
        # sample, one slower than any limit: the tail keeps its 20 samples
        self.assertEqual((notes["warm_samples"], notes["beyond"]), (20, 10))

    def test_changed_output_and_failed_oracle_are_not_ok(self):
        execs = [exe("qa", 0), exe("qa", 1, h="other"), exe("qb", 0), exe("qb", 1)]
        ok, bad = metrics.check_outputs(execs, {"qa": True, "qb": False})
        self.assertEqual(ok, 1)
        self.assertEqual(len(bad), 3)

    def test_end_to_end_values(self):
        execs = [exe(q, p, t=float(p)) for p in range(5) for q in ("qa", "qb", "qc", "qd", "qe")]
        m, notes = metrics.end_to_end(self.raw(execs), {q: True for q in ("qa", "qb", "qc", "qd", "qe")})
        self.assertEqual(m["first_pass_s"][0], 10.0)
        self.assertEqual(m["pass_s"][0], 12.5)
        self.assertEqual(m["ok_frac"][0], 1.0)
        self.assertEqual(m["peak_heap_mb"][0], 50.0)
        self.assertEqual(m["stored_per_input"][0], 0.25)
        self.assertEqual((notes["tail_percentile"], notes["warm_samples"]), (50, 20))


if __name__ == "__main__":
    unittest.main()
