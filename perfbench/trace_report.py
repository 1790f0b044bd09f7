#!/usr/bin/env python3
"""Read traced benchmark runs.

    python3 perfbench/trace_report.py TRACE [TRACE_B] [--untraced RUN ...]

TRACE files are written by `run.py --trace 1` under `.bench_build/traces/`.
For one trace this prints each layer's self time (a span's duration minus
the part its child spans cover) per cold and per steady pass, the per-layer
counters, and the steady median of each op. Given two traces it prints both
side by side with their difference. `--untraced` takes untraced run records
(`.bench_build/runs/`) of the same workload and prints the tracing overhead:
the traced run's median pass minus the untraced runs' median pass.
"""
import argparse
import collections
import json
import statistics


def _union(intervals, lo, hi):
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def layer_self_ms(trace):
    """{'cold'|'steady': {layer: self ms per pass}}."""
    spans = {s["id"]: s for s in map(json.loads, trace["spans"])}
    kids = collections.defaultdict(list)
    for s in spans.values():
        kids[s["parent"]].append(s)
    # Jobs and planning phases hang off their op; give each
    # to the construct or execute span whose interval holds its start.
    for op in [s for s in spans.values() if s["layer"] == "bench"]:
        phases = [k for k in kids[op["id"]] if k["name"] in ("construct", "execute")]
        for k in [k for k in kids[op["id"]] if k not in phases]:
            home = next((p for p in phases if p["start"] <= k["start"] <= p["end"]), None)
            if home is not None:
                kids[op["id"]].remove(k)
                kids[home["id"]].append(k)
                k["parent"] = home["id"]

    def pass_of(s):
        while s["layer"] != "bench" and s["parent"] in spans:
            s = spans[s["parent"]]
        return s.get("attrs", {}).get("pass") if s["layer"] == "bench" else None

    steady = set(trace["steady_passes"])
    out = {"cold": collections.Counter(), "steady": collections.Counter()}
    for s in spans.values():
        p = pass_of(s)
        kind = "cold" if p == 0 else "steady" if p in steady else None
        if kind is None:
            continue
        cover = _union([(k["start"], k["end"]) for k in kids[s["id"]]], s["start"], s["end"])
        out[kind][s["layer"]] += (s["end"] - s["start"]) - cover
    for layer in out["steady"]:
        out["steady"][layer] /= max(1, len(steady))
    return out


def load(path):
    with open(path) as f:
        return json.load(f)


def table(title, rows, names):
    print(f"\n{title}")
    width = max([len(r) for r in rows] + [8])
    print(f"{'':{width}}  " + "  ".join(f"{n:>12}" for n in names))
    for r, vals in rows.items():
        print(f"{r:{width}}  " + "  ".join(
            f"{v:12.3f}" if isinstance(v, (int, float)) else f"{'-':>12}" for v in vals))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("traces", nargs="+")
    ap.add_argument("--untraced", nargs="*", default=[])
    a = ap.parse_args()
    traces = [load(p) for p in a.traces[:2]]
    names = [f"{t['workload']}/seed{t['seed']}" for t in traces]
    if len(traces) == 2:
        names.append("B-A")

    def rows(dicts):
        out = {}
        for k in sorted(set().union(*dicts)):
            vals = [d.get(k) for d in dicts]
            if len(dicts) == 2:
                vals.append(vals[1] - vals[0] if None not in vals else None)
            out[k] = vals
        return out

    selfs = [layer_self_ms(t) for t in traces]
    for kind in ("cold", "steady"):
        table(f"layer self time, ms per {kind} pass", rows([s[kind] for s in selfs]), names)
    table("per-layer counters (steady-pass medians unless named cold/total)",
          rows([t["per_layer"] for t in traces]), names)
    table("op steady median, ms", rows([t["ops"] for t in traces]), names)
    if a.untraced:
        base = statistics.median(statistics.median(load(p)["pass_s"]) for p in a.untraced)
        for t, n in zip(traces, names):
            traced = t["per_layer"]["trace.pass_s"]
            print(f"\ntracing overhead {n}: {traced:.3f} s traced - {base:.3f} s untraced "
                  f"= {traced - base:+.3f} s per pass ({(traced - base) / base:+.1%})")


if __name__ == "__main__":
    main()
