"""Tests of the summary script's spreads and host-probe columns.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import summarize


def run(seed, latency, probe, trace=False):
    return {"workload": "w", "seed": seed, "trace": trace, "failed": 0,
            "probe_ms": [probe, probe],
            "end_to_end": {"op_p50_ms": {"value": latency, "unit": "ms"}},
            "per_layer": {"format.live_files": {"value": 32.0, "unit": "count"}}}


class SummarizeTest(unittest.TestCase):
    def test_spread_probe_spread_and_overhead(self):
        lat = [100.0, 110.0, 90.0, 120.0, 105.0]
        probe = [40.0, 44.0, 36.0, 48.0, 42.0]  # the host explains every change
        runs = [run(i, l, p) for i, (l, p) in enumerate(zip(lat, probe))]
        runs += [run(9, 112.0, 40.0, trace=True), run(8, 108.0, 41.0, trace=True)]
        e = summarize.summarize(runs)["w"]
        m = e["metrics"]["op_p50_ms"]
        q1, _, q3 = statistics.quantiles(lat, n=4)
        self.assertAlmostEqual(m["spread"], (q3 - q1) / 105.0)
        self.assertAlmostEqual(m["probe_spread"], e["host_probe_ms"]["spread"])
        self.assertAlmostEqual(m["probe_correlation"], 1.0)
        self.assertAlmostEqual(m["tracing_overhead"], 110.0 - 105.0)
        self.assertEqual(e["runs"], 5)
        self.assertEqual(e["format_counts"]["format.live_files"], [32.0])

    def test_steal_share_and_correlation(self):
        lat = [100.0, 110.0, 90.0, 120.0]
        runs = [dict(run(i, l, 40.0 + i % 2), steal_pct=l / 10) for i, l in enumerate(lat)]
        e = summarize.summarize(runs)["w"]
        self.assertEqual(e["host_steal_pct"], {"median": 10.5, "min": 9.0, "max": 12.0})
        self.assertAlmostEqual(e["metrics"]["op_p50_ms"]["steal_correlation"], 1.0)
        # runs without the figure (no /proc/stat) leave it out
        runs = [run(i, 100.0 + i, 40.0) for i in range(3)]
        self.assertNotIn("host_steal_pct", summarize.summarize(runs)["w"])

    def test_constant_probe_has_no_correlation(self):
        runs = [run(i, 100.0 + i, 40.0) for i in range(4)]
        self.assertIsNone(summarize.summarize(runs)["w"]["metrics"]["op_p50_ms"]["probe_correlation"])


if __name__ == "__main__":
    unittest.main()
