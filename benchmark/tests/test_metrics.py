"""Tests of the benchmark's statistics: the percentile rule, span self time
and backlog-growth detection. Run with

    python3 -m unittest discover -s benchmark/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):

    def test_highest_percentile_with_ten_samples_beyond(self):
        cases = {1000: 99.0, 999: 95.0, 200: 95.0, 199: 90.0, 100: 90.0, 99: 75.0,
                 40: 75.0, 39: 50.0, 20: 50.0}
        for n, want in cases.items():
            p, _, count = metrics.tail(list(range(n)))
            self.assertEqual((p, count), (want, n), f'{n} samples')

    def test_too_few_samples_report_the_median_and_their_count(self):
        self.assertEqual(metrics.tail([5.0, 1.0, 3.0]), (50.0, 3.0, 3))

    def test_value_is_the_interpolated_percentile(self):
        p, v, _ = metrics.tail([float(x) for x in range(1, 1001)])
        self.assertEqual(p, 99.0)
        self.assertAlmostEqual(v, 990.01)
        self.assertEqual(metrics.percentile([1.0, 2.0, 3.0, 4.0], 50.0), 2.5)

    def test_empty_sample(self):
        self.assertEqual(metrics.median([]), 0.0)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50.0)


class SelfTime(unittest.TestCase):

    def test_children_are_clipped_and_overlaps_count_once(self):
        spans = [
            [0, -1, 't', 'batch', 0.0, 10.0],
            [1, 0, 't', 'sink', 1.0, 3.0],
            [2, 0, 't', 'sink', 2.0, 5.0],
            [3, 0, 't', 'sink', 8.0, 12.0],  # runs past its parent
            [4, 1, 't', 'job', 1.5, 2.5],
        ]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st['batch']['self_ms'], 10.0 - 4.0 - 2.0)
        self.assertEqual(st['sink']['count'], 3)
        self.assertAlmostEqual(st['sink']['total_ms'], 2.0 + 3.0 + 4.0)
        self.assertAlmostEqual(st['sink']['self_ms'], (2.0 - 1.0) + 3.0 + 4.0)
        self.assertAlmostEqual(st['job']['self_ms'], 1.0)

    def test_leaf_self_time_is_its_duration(self):
        st = metrics.self_times([[0, -1, 't', 'stage', 5.0, 7.5]])
        self.assertEqual(st['stage'], {'count': 1, 'total_ms': 2.5, 'self_ms': 2.5})


def sawtooth(seconds, rate, batch_s, drift_per_s, offset_s=0.0):
    """Backlog samples every 0.1 s: input accrues at `rate` and each batch
    (every `batch_s`) drains it, except `drift_per_s` events per second."""
    out = []
    for i in range(int(seconds * 10) + 1):
        t = i / 10.0
        out.append((t, rate * ((t + offset_s) % batch_s) + drift_per_s * t))
    return out


class BacklogGrowth(unittest.TestCase):

    def test_flat_sawtooth_is_sustained(self):
        growth, grows = metrics.backlog_growth(sawtooth(10, 3000, 2.0, 0), 3000, 2.0)
        self.assertFalse(grows)
        self.assertLess(abs(growth), 3000 * 2.0)

    def test_long_batches_in_a_short_phase_are_sustained(self):
        # under two saw-teeth in the second half: the slope is an artifact
        for offset in (0.0, 0.5, 1.0, 1.5, 2.0, 2.5):
            samples = sawtooth(10, 1000, 3.0, 0, offset)
            self.assertFalse(metrics.backlog_growth(samples, 1000, 3.0)[1], offset)
        self.assertTrue(metrics.backlog_growth(sawtooth(10, 1000, 3.0, 1000), 1000, 3.0)[1])

    def test_steady_growth_is_unsustained(self):
        growth, grows = metrics.backlog_growth(sawtooth(10, 3000, 2.0, 1500), 3000, 2.0)
        self.assertTrue(grows)
        self.assertAlmostEqual(growth, 1500 * 5, delta=1500)

    def test_growth_only_in_the_first_half_is_sustained(self):
        samples = [(t / 10.0, min(t, 50) * 300.0) for t in range(101)]
        self.assertFalse(metrics.backlog_growth(samples, 3000)[1])

    def test_too_few_samples(self):
        self.assertEqual(metrics.backlog_growth([(0.0, 1.0), (1.0, 9e9)], 1), (0.0, False))


class Mapping(unittest.TestCase):

    def test_every_per_layer_metric_names_what_it_should_move(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(root, 'BENCHMARK.json')) as fh:
            names = [m['name'] for m in json.load(fh)['per_layer']]
        self.assertEqual([n for n in names if not metrics.moves(n)], [])


if __name__ == '__main__':
    unittest.main()
