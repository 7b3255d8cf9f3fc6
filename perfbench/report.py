#!/usr/bin/env python3
"""Layer report: one traced run of each workload, tabulated.

    python3 perfbench/report.py [--seed N]

Runs `perfbench/run.py --trace 1` once per workload (run length from
BENCHMARK.json), reads the spans each run wrote, and rewrites the part of
perfbench/LAYERS.md between the generated markers: self time per layer,
the largest self-time spans, and the predicted links between layer and
end-to-end metrics with what the trace shows. Text outside the markers
is kept.
"""
import argparse
import json
import os
import subprocess
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REPORT = os.path.join(HERE, "LAYERS.md")
TRACES = os.path.join(ROOT, ".bench_build", "work", "traces")
BEGIN, END = "<!-- generated:begin -->", "<!-- generated:end -->"
LAYERS = ("bench", "ml_graft", "pipeline", "sql_graft", "io")

# (layer metrics, end-to-end metric they should move, workload it moves on,
#  workloads where it should barely move). Layer time is compared as a
# share of op time; counts are compared as they are.
LINKS = [
    ("ml_graft.fit_s.*", "rows_per_s (fit_rows_per_s)", "ensemble-fit", ["daily-loop"]),
    ("ml_graft.transform_s", "score_rows_per_s", "ensemble-fit", ["daily-loop"]),
    ("pipeline.day_dedup_s + day_split_stats_s + day_append_s", "op_p50_s (day_p50_s)",
     "daily-loop", ["ensemble-fit"]),
    ("spark.sql.plan_s", "op_p50_s (day_p50_s)", "daily-loop", ["ensemble-fit"]),
    ("spark.sched.driver_gap_s", "rows_per_s, op_p50_s", "ensemble-fit, daily-loop", []),
    ("io.append_mb", "day_growth_ratio", "daily-loop", ["ensemble-fit"]),
    ("jvm.heap_peak_mb", "error rate (out-of-memory failures)", "daily-loop", []),
]


def run(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    lines = out.strip().splitlines()
    with open(os.path.join(TRACES, f"{workload}-seed{seed}.json")) as fh:
        return json.loads(lines[-1]), lines[:-1], json.load(fh)


def layer_value(metrics, name, op_s):
    """A link's layer figure: time as a share of op time, else the count."""
    if name == "ml_graft.fit_s.*":
        return sum(v for k, v in metrics.items() if k.startswith("ml_graft.fit_s.")) / op_s, "share"
    if name.startswith("pipeline.day_dedup_s"):
        return sum(metrics[f"pipeline.{k}"] for k in
                   ("day_dedup_s", "day_split_stats_s", "day_append_s")) / op_s, "share"
    if name.endswith("_s"):
        return metrics[name] / op_s, "share"
    return metrics[name], "count"


def overhead(metrics):
    """Traced over untraced mean op, or 'unresolved' when the two untraced
    passes (one before, one after the traced pass) differ by more."""
    frac = metrics["trace.overhead_frac"]["value"]
    spread = metrics["trace.untraced_spread_frac"]["value"]
    verdict = f"{frac * 100:+.1f}%" if abs(frac) > spread else f"unresolved ({frac * 100:+.1f}%"
    return verdict + (f", untraced passes ±{spread * 100:.1f}%" if abs(frac) > spread
                      else f" within ±{spread * 100:.1f}%)")


def tables(results, seed):
    names = list(results)
    cores = results[names[0]][2]["cores"]
    out = [f"Seed {seed}; one traced run per workload on a {cores}-core machine (`local[{cores}]`).", ""]

    out += ["### Self time per layer", "",
            "Seconds per op, from the spans around the benchmark's calls into each layer. "
            "`bench` is the benchmark's own code between calls. The Spark rows come from the "
            "listeners and overlap the layer rows: they say how the layer time was spent.", "",
            "| layer | " + " | ".join(names) + " |", "|---|" + "---:|" * len(names)]
    for layer in LAYERS:
        vals = []
        for w in names:
            spans = [s for s in results[w][2]["spans"] if s["op"] >= 0 and s["layer"] == layer]
            ops = max(1, len({s["op"] for s in results[w][2]["spans"] if s["op"] >= 0}))
            vals.append(f"{sum(s['self_ms'] for s in spans) / 1e3 / ops:.3f}")
        out.append(f"| {layer} | " + " | ".join(vals) + " |")
    for m in ("spark.sql.plan_s", "spark.sched.task_run_s", "spark.sched.driver_gap_s",
              "spark.sched.busy_frac", "spark.sched.jobs", "spark.sql.queries"):
        out.append(f"| {m} | " + " | ".join(f"{results[w][0]['metrics'][m]['value']:.3f}"
                                             for w in names) + " |")
    out.append("| mean op, traced (s) | " + " | ".join(
        f"{results[w][0]['metrics']['trace.traced_op_s']['value']:.3f}" for w in names) + " |")
    out.append("| tracing overhead | " + " | ".join(overhead(results[w][0]["metrics"]) for w in names) + " |")
    out.append("")

    out += ["### Largest self-time spans", "",
            "Per workload, the three span names with the most self time per op "
            "(probes, the calls made after the ops, are listed apart).", "",
            "| workload | span | layer | self s/op | share of op | jobs/op | Spark job time s/op |",
            "|---|---|---|---:|---:|---:|---:|"]
    for w in names:
        spans = results[w][2]["spans"]
        ops = max(1, len({s["op"] for s in spans if s["op"] >= 0}))
        op_s = results[w][0]["metrics"]["trace.traced_op_s"]["value"]
        agg = defaultdict(lambda: [0.0, 0, 0.0])  # self s, jobs, Spark job s
        for s in spans:
            key = (s["name"] + (" (probe)" if s["op"] < 0 else ""), s["layer"])
            a = agg[key]
            a[0] += s["self_ms"] / 1e3
            a[1] += s["jobs"]
            a[2] += s["job_ms"] / 1e3
        in_ops = sorted((k for k in agg if not k[0].endswith("(probe)")), key=lambda k: -agg[k][0])[:3]
        probes = sorted((k for k in agg if k[0].endswith("(probe)")), key=lambda k: -agg[k][0])[:3]
        for k in in_ops:
            self_s, jobs, job_s = agg[k]
            out.append(f"| {w} | {k[0]} | {k[1]} | {self_s / ops:.3f} | {self_s / ops / op_s:.0%} "
                       f"| {jobs / ops:.1f} | {job_s / ops:.3f} |")
        for k in probes:
            self_s, jobs, job_s = agg[k]
            out.append(f"| {w} | {k[0]} | {k[1]} | {self_s:.3f} (once) | | {jobs} | {job_s:.3f} |")
    out.append("")

    out += ["### Predicted links", "",
            "Each layer figure should move the named end-to-end metric on its workload and "
            "barely move on the others. Time is shown as a share of the op; counts as they are. "
            "A link is marked *disagrees* when a 'barely' workload shows at least a tenth of the "
            "'moves on' workload's figure.", "",
            "| layer figure | moves | on | barely on | " + " | ".join(names) + " | trace |",
            "|---|---|---|---|" + "---:|" * len(names) + "---|"]
    for name, moves, on, barely in LINKS:
        vals, kinds = {}, {}
        for w in names:
            op_s = results[w][0]["metrics"]["trace.traced_op_s"]["value"]
            vals[w], kinds[w] = layer_value({k: v["value"] for k, v in results[w][0]["metrics"].items()},
                                            name, op_s)
        cells = [f"{vals[w]:.0%}" if kinds[w] == "share" else f"{vals[w]:.2f}" for w in names]
        on_ws = [w.strip() for w in on.split(",")]
        top = max(vals[w] for w in on_ws)
        verdict = "agrees" if top > 0 and all(vals[b] < 0.1 * top for b in barely) else "*disagrees*"
        if not barely:
            verdict = "no 'barely' workload to compare" if top > 0 else "*absent*"
        out.append(f"| `{name}` | {moves} | {on} | {', '.join(barely) or '—'} | "
                   + " | ".join(cells) + f" | {verdict} |")
    out.append("")
    out += ["### Run output", ""]
    for w in names:
        out += [f"`{w}`:", "", "```"] + results[w][1] + ["```", ""]
    return out


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=1)
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    results = {w["name"]: run(w["name"], a.seed, bench["run_seconds"]) for w in bench["workloads"]}
    body = "\n".join(tables(results, a.seed))
    with open(REPORT) as fh:
        text = fh.read()
    head, rest = text.split(BEGIN, 1)
    _, tail = rest.split(END, 1)
    with open(REPORT, "w") as fh:
        fh.write(f"{head}{BEGIN}\n{body}\n{END}{tail}")


if __name__ == "__main__":
    main()
