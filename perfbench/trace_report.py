#!/usr/bin/env python3
"""Per-layer self-time table and tracing overhead, from traced runs.

    python3 perfbench/trace_report.py [SPANS.jsonl ...]

Without arguments it reads every span file under `.bench_build/spans/`
(written by `run.py --trace 1`). A span's self time is its duration minus
the part of its interval that its child spans cover; a layer is the span
name's first dot-separated part (`cypher`, `exec`, `catalyst`, `spark`,
`session`, `graph`, `pipeline`; `harness` is the benchmark's own request
span); a second table splits the same self time by span name. Self time
of spans that run concurrently (four clients, parallel jobs) adds up, so a
share is a share of busy time, not of wall time.

Tracing overhead compares the traced run's pass time (`trace.traced_p50_ms`)
with the untraced run of the same workload and seed (`pass_p50_ms`); for
the Cypher workloads the traced path runs in-process, so the HTTP cost the
traced run measured for the same templates (`http_pass_overhead_ms`) is
added back first. The two are separate runs, so host noise between them
shows in the figure; each run record carries its host-noise counters.
"""
import json
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"


def covered(interval, children):
    """Length of the union of `children` clipped to `interval`."""
    lo, hi = interval
    segs = sorted((max(lo, s), min(hi, e)) for s, e in children if min(hi, e) > max(lo, s))
    total, cur_s, cur_e = 0, None, None
    for s, e in segs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: self time in microseconds}."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"]:
            kids[s["parent"]].append((s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"])
            - covered((s["start_us"], s["end_us"]), kids[s["id"]]) for s in spans}


def self_table(spans, key):
    """[(key(span), span count, self ms, share of all self time)]."""
    st = self_times(spans)
    agg = defaultdict(lambda: [0, 0])
    for s in spans:
        agg[key(s)][0] += 1
        agg[key(s)][1] += st[s["id"]]
    total = sum(v[1] for v in agg.values()) or 1
    return sorted(((k, n, us / 1000, us / total) for k, (n, us) in agg.items()),
                  key=lambda r: -r[2])


def overhead(workload, seed):
    """(traced ms, untraced ms, overhead share) or None."""
    try:
        t = json.loads((OUT / "results" / f"{workload}-seed{seed}-trace1.json").read_text())
        u = json.loads((OUT / "results" / f"{workload}-seed{seed}-trace0.json").read_text())
    except OSError:
        return None
    traced = t["metrics"]["trace.traced_p50_ms"]["value"]
    traced += t["details"].get("http_pass_overhead_ms", 0.0)
    untraced = u["metrics"]["pass_p50_ms"]["value"]
    return traced, untraced, (traced / untraced - 1) if untraced else None


def report(path: Path) -> str:
    spans = [json.loads(l) for l in path.read_text().splitlines() if l.strip()]
    workload, _, seed = path.stem.rpartition("-seed")
    lines = [f"== {workload} (seed {seed}): {len(spans)} spans, "
             f"{len({s['req'] for s in spans})} requests/calls"]
    for title, key in (("layer", lambda s: s["name"].split(".")[0]),
                       ("span", lambda s: s["name"] if s["parent"] else "(request or call)")):
        lines.append(f"{title:<24} {'spans':>7} {'self ms':>12} {'share':>7}")
        for name, n, ms, share in self_table(spans, key):
            lines.append(f"{name:<24} {n:>7} {ms:>12.1f} {share:>7.1%}")
    ov = overhead(workload, seed)
    if ov is None:
        lines.append("tracing overhead: no untraced run of this workload and seed recorded")
    else:
        lines.append(f"tracing overhead: traced {ov[0]:.1f} ms vs untraced {ov[1]:.1f} ms "
                     f"({ov[2]:+.1%})")
    return "\n".join(lines)


def main(argv):
    paths = [Path(p) for p in argv] or sorted((OUT / "spans").glob("*.jsonl"))
    if not paths:
        sys.exit("no span files: run `run.py --trace 1` first")
    print("\n\n".join(report(p) for p in paths))


if __name__ == "__main__":
    main(sys.argv[1:])
