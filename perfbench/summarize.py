#!/usr/bin/env python3
"""Summarise benchmark results kept under perfbench/out.

    python3 perfbench/summarize.py [--out DIR] [--json FILE]

For each workload and end-to-end metric it prints the number of runs, the
median, the quartiles and their distance as a share of the median (the
spread the benchmark's bounds are checked against), and beside it the
same spread of the host-speed probe over the same runs and the
correlation of the metric with the probe across runs (how much of the
spread the host's speed explains), and the same correlation with the
share of CPU time stolen by other guests during each run. Where traced runs of the same
workload exist, it also prints the tracing overhead (traced median minus
untraced median) and the format counts of the traced runs, with the
number of distinct values each took. --json writes the same figures to
FILE.
"""
import argparse
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def correlation(xs, ys):
    try:
        return statistics.correlation(xs, ys)
    except statistics.StatisticsError:  # a constant series
        return None


def summarize(runs):
    summary = {}
    for w in sorted({r["workload"] for r in runs}):
        plain = [r for r in runs if r["workload"] == w and not r["trace"]]
        traced = [r for r in runs if r["workload"] == w and r["trace"]]
        entry = {"runs": len(plain), "traced_runs": len(traced),
                 "failed_ops": sum(r["failed"] for r in plain + traced),
                 "seeds": [r["seed"] for r in plain], "metrics": {}}
        if len(plain) >= 2:
            probe = [statistics.mean(r["probe_ms"]) for r in plain]
            entry["host_probe_ms"] = spread(probe)
            steal = [r.get("steal_pct") for r in plain]
            if None in steal:
                steal = None
            else:
                entry["host_steal_pct"] = {"median": statistics.median(steal),
                                           "min": min(steal), "max": max(steal)}
            for m in sorted(plain[0]["end_to_end"]):
                vals = [r["end_to_end"][m]["value"] for r in plain]
                s = spread(vals)
                s["probe_spread"] = entry["host_probe_ms"]["spread"]
                s["probe_correlation"] = correlation(vals, probe)
                if steal:
                    s["steal_correlation"] = correlation(vals, steal)
                if traced:
                    s["tracing_overhead"] = statistics.median(
                        r["end_to_end"][m]["value"] for r in traced) - s["median"]
                entry["metrics"][m] = s
        if traced:
            entry["format_counts"] = {
                m: sorted({r["per_layer"][m]["value"] for r in traced})
                for m in sorted(traced[0]["per_layer"]) if m.startswith("format.")}
        summary[w] = entry
    return summary


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(HERE, "out"))
    ap.add_argument("--json")
    a = ap.parse_args()
    runs = [json.load(open(f)) for f in sorted(glob.glob(os.path.join(a.out, "*.json")))]
    summary = summarize(runs)
    for w, e in summary.items():
        print(f"{w}: {e['runs']} runs, {e['traced_runs']} traced, {e['failed_ops']} failed ops")
        if "host_probe_ms" in e:
            p = e["host_probe_ms"]
            print(f"  {'host.probe_ms':<14} median {p['median']:<12.5g} spread {p['spread']:.3f}")
        if "host_steal_pct" in e:
            st = e["host_steal_pct"]
            print(f"  {'host.steal_pct':<14} median {st['median']:<12.4g} "
                  f"min {st['min']:.4g} max {st['max']:.4g}")
        for m, s in e["metrics"].items():
            r = s["probe_correlation"]
            extra = (f"  overhead {s['tracing_overhead']:+.4g}"
                     if "tracing_overhead" in s else "")
            if s.get("steal_correlation") is not None:
                extra = f" (steal r {s['steal_correlation']:+.2f})" + extra
            print(f"  {m:<14} median {s['median']:<12.5g} q1 {s['q1']:<12.5g} "
                  f"q3 {s['q3']:<12.5g} spread {s['spread']:.3f} "
                  f"(probe {s['probe_spread']:.3f}, r {'-' if r is None else f'{r:+.2f}'})"
                  f"{extra}")
        for m, vs in e.get("format_counts", {}).items():
            print(f"  {m:<36} {len(vs)} distinct: {', '.join(f'{v:.6g}' for v in vs)}")
    if a.json:
        with open(a.json, "w") as fh:
            json.dump({"cpus": os.cpu_count(), "workloads": summary}, fh,
                      indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
