#!/usr/bin/env python3
"""Self-time report of a traced run's spans.

The benchmark JVM writes one span per line (`spans.jsonl`): the benchmark's own
pass / op / construct / execute spans (with parent ids), Spark job and
stage spans tagged with the op that started them, and SQL planning phases
and streaming microbatches, which carry only their times. This tool puts
every span under its innermost enclosing span of the same op, then gives
each instant of an op to the deepest spans active at that instant: a
span kind's self time is the time attributed to it. Per op, the self times
of all kinds add up to the op's wall time.

Usage: python3 perfbench/trace_report.py <spans.jsonl>
"""
import collections
import json
import sys

KINDS = ("op", "construct", "execute", "plan", "microbatch", "job", "stage")
# which kinds may enclose which: an op's phases hold microbatches, planning
# and jobs; a microbatch holds jobs and planning; a job holds stages
PARENTS = {"construct": ("op",), "execute": ("op",),
           "microbatch": ("construct", "execute"),
           "plan": ("microbatch", "construct", "execute"),
           "job": ("microbatch", "construct", "execute"),
           "stage": ("job",)}


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def tree(spans):
    """Assigns each span a parent: benchmark spans keep theirs; the others
    go to the innermost enclosing candidate of the same op."""
    own = {s["id"]: s for s in spans if s["id"] > 0}
    ops = [s for s in own.values() if s["kind"] == "op"]
    placed = [s for s in own.values() if s["kind"] in ("construct", "execute")]
    for s in spans:
        s["children"] = []
    for s in own.values():
        if s["parent"] in own:
            own[s["parent"]]["children"].append(s)
    order = ("microbatch", "plan", "job", "stage")
    for kind in order:
        for s in (x for x in spans if x["kind"] == kind):
            if not s["key"]:
                op = next((o for o in ops
                           if o["start_ms"] <= s["start_ms"] < o["end_ms"]), None)
                if op is None:
                    continue
                s["key"] = op["key"]
            cands = [c for c in placed if c["key"] == s["key"]
                     and c["kind"] in PARENTS[kind]
                     and c["start_ms"] <= s["start_ms"] <= c["end_ms"]]
            if not cands:
                continue
            parent = min(cands, key=lambda c: c["end_ms"] - c["start_ms"])
            parent["children"].append(s)
            if kind in ("microbatch", "job"):
                placed.append(s)
    return ops


def attribute(op):
    """Self seconds by span kind within one op. Every child interval is
    clipped to its parent's; each instant of the op belongs to the deepest
    spans active then, split evenly among them when several run at once
    (parallel stages), so the kinds add up to the op's wall time."""
    segs = []

    def walk(s, lo, hi, depth):
        a, b = max(lo, s["start_ms"]), min(hi, s["end_ms"])
        if b <= a:
            return
        segs.append((a, b, depth, s["kind"]))
        for c in s["children"]:
            walk(c, a, b, depth + 1)
    walk(op, op["start_ms"], op["end_ms"], 0)
    points = sorted({p for a, b, _, _ in segs for p in (a, b)})
    out = collections.Counter()
    for x, y in zip(points, points[1:]):
        active = [(d, k) for a, b, d, k in segs if a <= x and b >= y]
        deepest = max(d for d, _ in active)
        top = [k for d, k in active if d == deepest]
        for k in top:
            out[k] += (y - x) / 1e3 / len(top)
    return out


def self_times(path):
    """Self seconds of each span kind per traced pass."""
    spans = load(path)
    passes = max(1, sum(1 for s in spans if s["kind"] == "pass"))
    total = collections.Counter()
    for o in tree(spans):
        total.update(attribute(o))
    return {f"self.{k}_s": total[k] / passes for k in KINDS}


def main():
    spans = load(sys.argv[1])
    passes = max(1, sum(1 for s in spans if s["kind"] == "pass"))
    by_op = collections.defaultdict(lambda: [0.0, collections.Counter()])
    for o in tree(spans):
        name = o["key"].split("/", 1)[1]
        by_op[name][0] += (o["end_ms"] - o["start_ms"]) / 1e3 / passes
        by_op[name][1].update({k: v / passes for k, v in attribute(o).items()})
    total = sum((c for _, c in by_op.values()), collections.Counter())
    print(f"self seconds per traced pass, {passes} traced pass(es)")
    print(f"{'op':<36} {'wall':>8} " + " ".join(f"{k:>10}" for k in KINDS))
    rows = sorted(by_op.items(), key=lambda x: -x[1][0])
    rows.append(("(all ops)", (sum(w for w, _ in by_op.values()), total)))
    for name, (wall, c) in rows:
        print(f"{name:<36} {wall:8.3f} " + " ".join(f"{c[k]:10.3f}" for k in KINDS))


if __name__ == "__main__":
    main()
