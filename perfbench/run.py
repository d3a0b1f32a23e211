#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one process tree.

Usage:
  python3 perfbench/run.py --workload {gen_stream,batch_mix,stream_mix}
      --seed N --seconds T --trace {0,1}

Builds the engine and the benchmark's JVM program if needed
(perfbench/build.py), then runs the workload in a fresh JVM under
local[nproc] with shuffle.partitions = nproc and graft.SessionTuning, as a
closed loop with one client: pass 0 runs every op once cold and checks its
output, then warm passes repeat until T seconds of op time have been spent,
at least three (five on stream_mix), and the last warm pass is checked
too. Every run works in its own directory under .bench_build/runs, which
it removes at the end. The input tables are the ones in perfbench/data.

Prints a readable summary (host evidence, store ledger, per-op checks),
then, as the last line, one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics of BENCHMARK.json with --trace 0,
its per-layer metrics with --trace 1).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import trace_report  # noqa: E402
try:
    import digest  # noqa: E402
except ImportError as e:
    sys.exit(f"cannot load the oracle compare tools/check_parity.py: {e}")

WORKLOADS = ("gen_stream", "batch_mix", "stream_mix")
# The input tables of the registry workloads: copies of the engine's
# seed-42 test tables at two scale factors. The pinned digests are
# computed over exactly these.
DATA = {"batch_mix": "sf0.01", "stream_mix": "sf0.001"}
JVM_TIMEOUT_S = 150


def data_dir(workload):
    return os.path.join(HERE, "data", DATA[workload]) if workload in DATA else ""


def host_evidence():
    """nproc, 1-minute load average and the machine's steal jiffies."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return {"nproc": os.cpu_count(), "loadavg_1m": os.getloadavg()[0],
            "steal_jiffies": int(cpu[8]) if len(cpu) > 8 else 0}


def load_pins():
    pins = {}
    with open(os.path.join(HERE, "pins.txt")) as f:
        for line in f:
            if line.strip() and not line.startswith("#"):
                workload, name, sha = line.split()
                pins[(workload, name)] = sha
    return pins


def jvm(classes, args, run_dir, deadline):
    """Runs the benchmark JVM in `run_dir`; returns its result record."""
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    cmd = build.java_command(classes) + [
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", "perfbench.Main",
        "--out", out, "--launch-ms", repr(time.time() * 1000)] + args
    with open(os.path.join(run_dir, "stderr.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.DEVNULL,
                             stderr=err)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("benchmark JVM timed out")
    if p.returncode != 0 or not os.path.exists(out):
        tail = open(os.path.join(run_dir, "stderr.log")).read()[-3000:]
        raise RuntimeError(f"benchmark JVM exited {p.returncode}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def failures(res, pins, workload):
    """{(phase, name): why} for each checked result that is wrong: a failed
    structural check, or a digest that differs from the pinned one. The
    phase is "cold" (pass 0) or "warm" (the last warm pass)."""
    bad = {}
    for chk in res["checks"]:
        key = (chk["phase"], chk["name"])
        if "digest_path" in chk:
            want = pins.get((workload, chk["name"]))
            got = digest.of_parquet(chk["digest_path"])
            if got != want:
                bad[key] = f"digest {got[:12]} != pinned {str(want)[:12]}"
        elif not chk["ok"]:
            bad[key] = chk["detail"]
    return bad


def outcome(res, pins, workload):
    """(attempted, failed, wrong): timed op executions; those that threw or
    whose output is wrong; and the wrong checks. A cold execution is judged
    by its own check; every warm execution of an op is judged by the check
    of that op's last warm pass."""
    bad = failures(res, pins, workload)
    failed = sum(1 for o in res["ops"] if o["error"] or
                 ("cold" if o["pass"] == 0 else "warm", o["name"]) in bad)
    return len(res["ops"]), failed, bad


def end_to_end(res):
    warm = [p["wall_s"] for p in res["passes"] if p["pass"] > 0 and not p["traced"]]
    ops = [o["s"] for o in res["ops"] if o["pass"] > 0 and not o["traced"]]
    return {
        "setup_s": res["setup_s"],
        "wall_s": statistics.median(warm),
        "op_p50_s": statistics.median(ops),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + JVM_TIMEOUT_S
    data = data_dir(a.workload)
    if data and not os.path.isdir(data):
        sys.exit(f"input tables not found: {data}")
    try:
        classes = build.classes()
    except build.BuildFailed as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
    # the build may take minutes once per checkout; the run's own clock
    # starts after it
    deadline = max(deadline, time.time() + JVM_TIMEOUT_S)
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    pins = load_pins()

    host0 = host_evidence()
    runs = os.path.join(build.BUILD, "runs")
    run_dir = os.path.join(runs, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", repr(a.seconds), "--trace", str(a.trace),
                "--data", data, "--pins", os.path.join(HERE, "pins.txt")]
        res = jvm(classes, args, run_dir, deadline)
        attempted, failed, bad = outcome(res, pins, a.workload)
        spans = os.path.join(run_dir, "spans.jsonl")
        selftimes = trace_report.self_times(spans) if a.trace else {}
        if a.trace:
            keep = os.path.join(build.BUILD, "traces", f"{a.workload}-s{a.seed}.jsonl")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.copyfile(spans, keep)
    except Exception as e:
        print(f"run failed: {e}", file=sys.stderr)
        sys.exit(1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    host1 = host_evidence()

    if a.trace:
        values = dict(res["layers"])
        values.update(selftimes)
        values["failed_frac"] = failed / attempted
        values["peak_rss_mb"] = res["peak_rss_mb"]
        names = [m["name"] for m in spec["per_layer"]]
    else:
        values = end_to_end(res)
        names = [m["name"] for m in spec["end_to_end"]]

    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"nproc {host0['nproc']}, loadavg_1m {host0['loadavg_1m']:.2f} -> "
          f"{host1['loadavg_1m']:.2f}, steal jiffies "
          f"{host1['steal_jiffies'] - host0['steal_jiffies']}")
    print(f"setup_s {res['setup_s']:.3f}: session {res['session_start_s']:.3f} s, "
          f"warm {res['warm_s']:.3f} s, then the cold pass; "
          f"peak_rss_mb {res['peak_rss_mb']:.1f}")
    for p in res["passes"]:
        print(f"pass {p['pass']} {'traced' if p['traced'] else 'untraced'} "
              f"{p['wall_s']:.3f} s")
    built = [s for s in res["stores"] if s["built"]]
    print(f"store ledger: {len(built)} op executions built stores "
          f"({sum(s['s'] for s in built):.2f} s), "
          f"{len(res['stores']) - len(built)} found or used none")
    for chk in res["checks"]:
        key = (chk["phase"], chk["name"])
        print(f"check {key[0]} {key[1]}: {'FAIL ' + bad[key] if key in bad else 'ok'}")
    for o in res["ops"]:
        if o["error"]:
            print(f"error pass {o['pass']} {o['name']}: {o['error']}")
    t = res["op_tail"]
    print(f"op_tail_s p{t['pct']:g} = {t['s']:.3f} s over {t['n']} warm op samples")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]}
                    for n in names},
    }))


if __name__ == "__main__":
    main()
