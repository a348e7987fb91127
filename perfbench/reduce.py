"""Reducer for traced runs: per-layer self time and waiting.

A span's self time is its duration minus what its child spans cover. Spans
run in lanes (a thread, or a streaming query); lanes run in parallel. Each
instant of the measured interval is split evenly over the lanes busy at that
instant, and within a lane charged to its innermost open span's layer; an
instant with no lane busy is charged to "(idle)". The per-layer self times
therefore sum to the traced wall time by construction; the table compares
that sum with the wall time of the untraced pass of the same run (same
seed, same inputs), and says whether the gap is within trace_overhead_frac. Waiting is the Spark scheduler wait of the jobs each layer submitted: time
its tasks spent queued for a core.
"""
from collections import defaultdict


def self_times(spans):
    """{layer: ms} over the 'measured' root span's interval, and its wall ms."""
    root = next(s for s in spans if s["layer"] == "Workload")
    lo, hi = root["start"], root["end"]
    events = []
    for s in spans:
        if s is root:
            continue
        a, b = max(s["start"], lo), min(s["end"], hi)
        if b > a:
            events.append((a, 1, s))
            events.append((b, 0, s))
    events.sort(key=lambda e: (e[0], e[1]))
    open_by_lane = defaultdict(list)
    out = defaultdict(float)
    t = lo
    i = 0
    while i <= len(events):
        nxt = events[i][0] if i < len(events) else hi
        dt = nxt - t
        if dt > 0:
            lanes = [v for v in open_by_lane.values() if v]
            if lanes:
                for v in lanes:
                    inner = max(v, key=lambda s: (s["start"], -s["end"]))
                    out[inner["layer"]] += dt / len(lanes)
            else:
                out["(idle)"] += dt
            t = nxt
        if i == len(events):
            break
        _, kind, s = events[i]
        if kind == 1:
            open_by_lane[s["lane"]].append(s)
        else:
            open_by_lane[s["lane"]].remove(s)
        i += 1
    return {k: v / 1e6 for k, v in out.items()}, (hi - lo) / 1e6


def waits(jobs):
    w = defaultdict(float)
    n = defaultdict(int)
    for j in jobs:
        w[j["layer"]] += j["wait_ms"]
        n[j["layer"]] += 1
    return w, n


def table(res, cores, untraced_wall_ms, baselines=None):
    """Lines of the per-layer table for one traced result. `untraced_wall_ms`
    is the measured wall time of the run's untraced pass;
    `baselines` is an optional (local[N] result, local[1] result) pair of
    backlog drains."""
    st, wall = self_times(res["spans"])
    w, n = waits(res.get("jobs", []))
    lines = [f"== {res['workload']}: per-layer self time over the traced pass "
             f"(wall {wall:.0f} ms, local[{cores}]) ==",
             f"{'layer':16s} {'self_ms':>10s} {'share':>7s} {'wait_ms':>10s} {'jobs':>6s}"]
    for layer in sorted(set(st) | set(w), key=lambda k: -st.get(k, 0.0)):
        lines.append(f"{layer:16s} {st.get(layer, 0.0):10.1f} "
                     f"{st.get(layer, 0.0) / wall:7.1%} {w.get(layer, 0.0):10.1f} "
                     f"{n.get(layer, 0):6d}")
    total = sum(st.values())
    lines.append(f"{'sum of self':16s} {total:10.1f} {total / wall:7.1%}  "
                 f"(traced wall {wall:.1f} ms, {st.get('(idle)', 0.0):.1f} ms of it idle)")
    gap = total / untraced_wall_ms - 1.0
    ov = res["metrics"]["trace_overhead_frac"]["value"]
    lines.append(f"untraced wall {untraced_wall_ms:.1f} ms: self-time sum gap {gap:+.4f}, "
                 f"trace_overhead_frac {ov:+.4f} (traced primary metric vs the "
                 f"untraced pass): gap "
                 f"{'within' if abs(gap) <= abs(ov) else 'NOT within'} the overhead")
    if baselines:
        par, one = baselines
        sp, _ = self_times(par["spans"])
        s1, _ = self_times(one["spans"])
        lines.append(f"== backlog drain: local[1] vs local[{cores}] "
                     f"(reported only, not gated) ==")
        lines.append(f"{'layer':16s} {'local[1]_ms':>12s} {'local[N]_ms':>12s} {'speed-up':>9s}")
        for layer in sorted(set(sp) | set(s1), key=lambda k: -s1.get(k, 0.0)):
            a, b = s1.get(layer, 0.0), sp.get(layer, 0.0)
            lines.append(f"{layer:16s} {a:12.1f} {b:12.1f} "
                         f"{(a / b if b > 0 else float('nan')):9.2f}")
        e1 = one["metrics"].get("backfill.events_per_s", {}).get("value")
        en = par["metrics"].get("backfill.events_per_s", {}).get("value")
        if e1 and en:
            lines.append(f"{'events_per_s':16s} {e1:12.1f} {en:12.1f} {en / e1:9.2f}")
    return lines
