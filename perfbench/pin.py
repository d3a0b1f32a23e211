#!/usr/bin/env python3
"""Re-derives the result digests in `pins.txt`.

Runs each registry workload's cold pass alone (`--seconds 0`) over its
tables, with the op list `pins.txt` names, digests each op's checked
result, and digests the DuckDB oracle's result for the same query
(`SparkEntry.oracleSql`). Every pinned query must match its oracle; the
pinned digest is the oracle's.

The batch_mix list was drawn once: six ops modules sampled with seed
20261017, and in each one query, among the oracle-gated, non-streaming
queries that matched their oracle and took at most 1.5 s in a run of the
whole registry over an earlier, generated stand-in for the tables. Graph
was left out, because every such Graph query builds a derived store on
its first call in a fresh run (10-17 s for a query of 0.5-1.3 s). The stream_mix list holds three Streams-backed queries with
different state shapes. To change a list, edit the names in `pins.txt`
(any digest) and run this.

Usage: python3 perfbench/pin.py   (rewrites pins.txt)
"""
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import digest  # noqa: E402
import run  # noqa: E402

PINS = os.path.join(HERE, "pins.txt")


def cold_digests(classes, workload):
    """{name: (result digest, oracle digest)} from one cold pass."""
    work = os.path.join(build.BUILD, "pin-" + workload)
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run.jvm(classes, [
            "--workload", workload, "--seed", "0", "--seconds", "0",
            "--trace", "0", "--data", run.data_dir(workload), "--pins", PINS],
            work, time.time() + 600)
        con = digest.oracle_connection(run.data_dir(workload))
        out = {}
        for chk in res["checks"]:
            if "digest_path" not in chk:
                raise SystemExit(f"{chk['name']}: {chk['detail']}")
            if not chk["oracle"]:
                raise SystemExit(f"{chk['name']} has no oracle SQL")
            out[chk["name"]] = (digest.of_parquet(chk["digest_path"]),
                                digest.of_sql(con, chk["oracle"]))
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    classes = build.classes()
    lines = [line.rstrip("\n") for line in open(PINS)]
    pinned = [line.split() for line in lines
              if line.strip() and not line.startswith("#")]
    got = {}
    for workload in dict.fromkeys(w for w, _, _ in pinned):
        for name, (result, oracle) in cold_digests(classes, workload).items():
            if result != oracle:
                raise SystemExit(f"{name}: differs from its oracle")
            got[(workload, name)] = oracle
            print(f"{workload} {name} matches its oracle")
    out = [line if line.startswith("#") or not line.strip() else
           "{} {} {}".format(*line.split()[:2], got[tuple(line.split()[:2])])
           for line in lines]
    with open(PINS, "w") as f:
        f.write("\n".join(out) + "\n")


if __name__ == "__main__":
    main()
