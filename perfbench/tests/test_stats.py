"""Unit tests for the benchmark's metric rules.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def op(seq, name, seconds, ok=True, reason=None, pass_=1, kind="query"):
    return {"seq": seq, "name": name, "seconds": seconds, "ok": ok, "reason": reason,
            "pass": pass_, "kind": kind, "input_bytes": 0, "new_bytes": 0}


class PercentileRule(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        xs = list(range(1, 101))
        v, p, n = stats.tail(xs)
        self.assertEqual((p, n), (90, 100))
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_always_ten_samples_beyond(self):
        for n in range(11, 400, 7):
            xs = [float(i) for i in range(n)]
            v, p, _ = stats.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            # the next whole percentile would leave fewer than ten beyond
            self.assertLess(n - math.ceil((p + 1) * n / 100), 10, n)

    def test_unsorted_input(self):
        xs = [5, 1, 4, 2, 3] * 5
        v, p, n = stats.tail(xs)
        self.assertEqual((p, n), (60, 25))
        self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)

    def test_too_few_samples_fall_back_to_max(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100, 3))
        self.assertEqual(stats.tail([1.0] * 10)[1:], (100, 10))


class FailureAccounting(unittest.TestCase):
    def results(self):
        ops = [op(0, "q_a", 9.0, pass_=0), op(1, "bench_fail_probe", 0.1, ok=False,
                                                reason="IllegalStateException: deliberate", pass_=0)]
        seq = 2
        for p in (1, 2):
            for name, t in (("q_a", 1.0), ("q_b", 2.0), ("q_c", 3.0)):
                ops.append(op(seq, name, t, pass_=p))
                seq += 1
            ops.append(op(seq, "bench_fail_probe", 0.05, ok=False,
                          reason="IllegalStateException: deliberate", pass_=p))
            seq += 1
        ops.append(op(seq, "q_slow", 60.0, ok=False, reason="timeout after 60 s", pass_=2))
        return {"ops": ops, "passes": [{"pass": 0, "traced": False, "wall_s": 9},
                                       {"pass": 1, "traced": False, "wall_s": 6.1},
                                       {"pass": 2, "traced": False, "wall_s": 66.1}],
                "session_start_s": 1.0, "setup_cycles_s": [3.0, 1.0, 2.0], "prepare_s": 0.5,
                "warmup_s": 4.0, "first_op_s": 9.0, "retained_heap_mb": 80.0}

    def test_failed_ops_are_named_and_never_timed(self):
        m, extra, attempted, failed = stats.end_to_end(self.results(), {"q_c": "oracle: rows differ"})
        self.assertEqual(attempted, 9)
        names = sorted(f["name"] for f in failed)
        self.assertEqual(names, ["bench_fail_probe", "bench_fail_probe", "q_c", "q_c", "q_slow"])
        self.assertTrue(all(f["reason"] for f in failed))
        self.assertAlmostEqual(extra["failed_frac"], 5 / 9)
        # latency figures see only q_a (1.0) and q_b (2.0): never 60 s, never 3 s
        self.assertEqual(m["op_p50_s"], 1.5)
        self.assertEqual(m["op_tail_s"], 2.0)
        self.assertEqual(extra["op_samples"], 4)

    def test_oracle_failure_by_sequence_number(self):
        _, _, _, failed = stats.end_to_end(self.results(), {3: "oracle: digest differs"})
        self.assertIn({"name": "q_b", "pass": 1, "reason": "oracle: digest differs"}, failed)
        self.assertNotIn("q_b", [f["name"] for f in failed if f["pass"] == 2])

    def test_setup_is_session_plus_median_cycle_plus_state_and_warmup(self):
        m, _, _, _ = stats.end_to_end(self.results(), {})
        self.assertAlmostEqual(m["setup_s"], 1.0 + 2.0 + 0.5 + 4.0)
        self.assertEqual(m["pass_s"], (6.1 + 66.1) / 2)


class SpanSelfTime(unittest.TestCase):
    def span(self, i, parent, layer, start, end):
        return {"id": i, "parent": parent, "layer": layer, "start_us": start * 10**6,
                "end_us": end * 10**6}

    def test_self_time_subtracts_union_of_children(self):
        spans = [
            self.span(1, 0, "pass", 0, 10),
            self.span(2, 1, "op", 1, 9),
            self.span(3, 2, "build", 1, 3),
            self.span(4, 2, "exec", 3, 8),
            self.span(5, 4, "job", 4, 6),
            self.span(6, 4, "job", 5, 7),   # overlaps the first job
            self.span(7, 5, "stage", 4, 5),
            self.span(8, 5, "stage", 4.5, 5.5),
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["pass"], 2.0)    # 10 - 8
        self.assertAlmostEqual(st["op"], 1.0)      # 8 - (2 + 5)
        self.assertAlmostEqual(st["build"], 2.0)
        self.assertAlmostEqual(st["exec"], 2.0)    # 5 - union(4..7)
        self.assertAlmostEqual(st["job"], 0.5 + 2.0)  # (2 - 1.5) + 2
        self.assertAlmostEqual(st["stage"], 2.0)

    def test_children_are_clipped_to_their_parent(self):
        spans = [self.span(1, 0, "exec", 0, 4), self.span(2, 1, "job", 3, 6)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["exec"], 3.0)
        self.assertAlmostEqual(st["job"], 3.0)


if __name__ == "__main__":
    unittest.main()
