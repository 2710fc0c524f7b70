"""Per-layer table of the current tree: every workload untraced, then
traced, with the tracing overhead and the agg layer-sum check.

Usage (from the repository root)::

    python3 perfbench/layer_table.py --seed 1 --seconds 10 --out perfbench/baseline

Writes ``layers.md`` and ``layers.json`` into ``--out``.  Each workload
runs ``--repeats`` times untraced and traced, alternating; a layer's row
holds the median of its traced numbers, and the tracing overhead is the
median traced operation time minus the median untraced one.  The
``agg`` layers are cumulative prefixes (scan, +parse, +enrich, +route,
+aggregate), so their times sum to the traced agg operation; the check
compares that sum with the untraced agg operation, both from the medians
and within each adjacent pair of runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
AGG_LAYERS = ("scan", "parse", "enrich", "route", "aggregate")


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, check=True)
    with open(os.path.join(ROOT, ".perfbench", "records",
                           f"{workload}-s{seed}-t{trace}.json")) as f:
        return json.load(f)


def _layer(name: str) -> str:
    return name.rsplit(".", 1)[0] if name.startswith("query.") else name.split(".", 1)[0]


def build(seed: int, seconds: float, repeats: int) -> dict:
    table = {"seed": seed, "seconds": seconds, "repeats": repeats, "workloads": {}}
    med = statistics.median
    for w in ("agg", "ingest", "query"):
        plain, traced = [], []
        for i in range(repeats):  # alternate which side runs first
            for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
                (traced if trace else plain).append(_run(w, seed, seconds, trace))
        op = med(r["metrics"]["op_p50_s"]["value"] for r in plain)
        op_traced = med(r["metrics"]["trace.op_p50_s"]["value"] for r in traced)
        layers: dict[str, dict] = {}
        for name, m in traced[0]["metrics"].items():
            value = med(r["metrics"][name]["value"] for r in traced)
            if value and not name.startswith("trace."):
                layers.setdefault(_layer(name), {})[name] = {"value": value, "unit": m["unit"]}
        self_times = {k: med(r["self_times_s"].get(k, 0.0) for r in traced)
                      for k in traced[0]["self_times_s"]}
        untraced = {k: {"value": med(r["metrics"][k]["value"] for r in plain), "unit": m["unit"]}
                    for k, m in plain[0]["metrics"].items()}
        untraced.update({k: {"value": med(r["named"][k]["value"] for r in plain),
                             "unit": m["unit"]} for k, m in plain[0]["named"].items()})
        entry = {
            "settings": plain[0]["settings"],
            "probe": [r[k] for r in plain + traced for k in ("probe_start", "probe_end")],
            "untraced": untraced,
            "op_p50_s": op,
            "traced_op_p50_s": op_traced,
            "tracing_overhead_s": op_traced - op,
            "tracing_overhead_paired_s": med(
                t["metrics"]["trace.op_p50_s"]["value"] - u["metrics"]["op_p50_s"]["value"]
                for u, t in zip(plain, traced)),
            "layers": layers,
            "self_times_s": self_times,
            "failed": sum(r["failed"] for r in plain + traced),
            "attempted": sum(r["attempted"] for r in plain + traced),
        }
        if w == "agg":
            layer_sum = sum(layers[k][f"{k}.s"]["value"] for k in AGG_LAYERS)
            entry["agg_layer_sum_s"] = layer_sum
            entry["agg_layer_sum_over_wall"] = layer_sum / op
            # the same ratio within each adjacent untraced/traced pair of
            # runs, so a drift in host speed across the repeats cancels
            entry["agg_layer_sum_over_wall_paired"] = med(
                sum(t["metrics"][f"{k}.s"]["value"] for k in AGG_LAYERS)
                / u["metrics"]["op_p50_s"]["value"] for u, t in zip(plain, traced))
        table["workloads"][w] = entry
    return table


def to_markdown(t: dict) -> str:
    out = [f"# Per-layer table (seed {t['seed']}, {t['seconds']:g} s per run, median of "
           f"{t['repeats']} untraced and {t['repeats']} traced runs per workload)", ""]
    first = next(iter(t["workloads"].values()))
    s = first["settings"]
    out += [f"Host: {s['cpus']} cores, {s['mem_bytes'] / 2**30:.1f} GiB; Spark "
            f"`{s['master']}`, {s['shuffle_partitions']} shuffle partitions, driver "
            f"memory {s['driver_memory']}.", ""]
    for w, e in t["workloads"].items():
        out += [f"## {w}", "",
                f"- operations checked: {e['attempted']}, failed: {e['failed']}",
                f"- untraced median operation: {e['op_p50_s']:.4f} s; traced: "
                f"{e['traced_op_p50_s']:.4f} s; tracing overhead: "
                f"{e['tracing_overhead_s']:+.4f} s (median over the pairs of adjacent runs: "
                f"{e['tracing_overhead_paired_s']:+.4f} s)",
                "- CPU probe at the start and end of each measurement: " + ", ".join(
                    f"{p['calibration_probe_s']:.4f} s (load {p['load1']:.1f})"
                    for p in e["probe"])]
        if "agg_layer_sum_s" in e:
            out.append(f"- agg layers sum to {e['agg_layer_sum_s']:.4f} s = "
                       f"{e['agg_layer_sum_over_wall']:.3f} x the untraced agg operation "
                       f"(median over the pairs of adjacent runs: "
                       f"{e['agg_layer_sum_over_wall_paired']:.3f} x)")
        out += ["", "| end-to-end (untraced) | value | unit |", "|---|---|---|"]
        out += [f"| {k} | {v['value']:.6g} | {v['unit']} |" for k, v in e["untraced"].items()]
        out += ["", "| layer | metric | value | unit |", "|---|---|---|---|"]
        for layer, ms in e["layers"].items():
            out += [f"| {layer} | {k} | {m['value']:.6g} | {m['unit']} |" for k, m in ms.items()]
        out += ["", "| span | self time, s (sum over a traced run) |", "|---|---|"]
        out += [f"| {k} | {v:.4f} |" for k, v in sorted(e["self_times_s"].items())]
        out.append("")
    return "\n".join(out)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--repeats", type=int, default=3,
                   help="untraced and traced runs per workload, alternating")
    p.add_argument("--out", default=os.path.join(HERE, "baseline"))
    args = p.parse_args()
    table = build(args.seed, args.seconds, args.repeats)
    os.makedirs(args.out, exist_ok=True)
    with open(os.path.join(args.out, "layers.json"), "w") as f:
        json.dump(table, f, indent=1)
    with open(os.path.join(args.out, "layers.md"), "w") as f:
        f.write(to_markdown(table))
    return 0


if __name__ == "__main__":
    sys.exit(main())
