"""CPU-scaling sentinel (VERDICT r15 scaling block, r16 item 2).

The driver's 8-vs-32-core suite totals tie at sf0.1 because the suite
is stage-latency-bound at that fixture scale, but the bench payload
carried nothing that could refute a "SPARK_GRAFT_CPUS ignored"
heuristic. This tool demonstrates, with fresh interleaved subprocesses,
that the env var changes the master AND that a CPU-bound kernel at a
tier where cores matter shows a real spread.

For each round it alternates core counts (default 32 then 8), spawning
a FRESH python subprocess per run (same-session runs would share a
master); each subprocess builds the session through the same
`session.get_spark` factory bench.py uses (reading SPARK_GRAFT_CPUS),
warms it with `session.warm_session`, and times the named registry
query via the noop sink. Interleaving cancels ambient drift — the same
adjudication discipline as tools/adjudicate.py.

Run:  python tools/cpu_scaling_sentinel.py --sf-dir /tmp/scale10 \
          --query z10658_winnow_containment --rounds 3 \
          --out CPU_SCALING_r16.json
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {root!r})
from eprints_to_hyku_data_tool_spark.session import get_spark, warm_session

sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
spark = get_spark(app_name="cpu_sentinel", driver_memory="48g")
query = {query!r}
if query == "_synthetic_md5":
    # Embarrassingly parallel pure-JVM compute with a FIXED partition
    # count (so 8-vs-32 cores changes only concurrency, not plan shape):
    # the cleanest possible witness that the master the env var set is
    # actually scheduling that many concurrent tasks.
    from pyspark.sql import functions as F
    def mk(n):
        return (spark.range(n, numPartitions=64)
                .select(F.md5(F.col("id").cast("string")).alias("h"))
                .agg(F.max("h")))
    mk(2_000_000).collect()  # warm codegen/JIT on a small range
    # Time a FRESH Dataset: re-collecting the same instance would reuse
    # its already-materialized AQE shuffle stages and time ~nothing.
    df = mk(120_000_000)
    spark.sparkContext.setJobDescription("cpu_sentinel synthetic md5")
    t0 = time.perf_counter()
    df.collect()
    dt = time.perf_counter() - t0
else:
    from eprints_to_hyku_data_tool_spark.plans.registry import REGISTRY, _load_all
    _load_all()
    warm_session(spark, sf_dir)
    spec = REGISTRY[query]
    spark.sparkContext.setJobDescription("cpu_sentinel " + query)
    t0 = time.perf_counter()
    spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
print("SENTINEL " + json.dumps({{
    "sec": round(dt, 3),
    "master": spark.sparkContext.master,
    "default_parallelism": spark.sparkContext.defaultParallelism,
}}))
"""


def run_once(query: str, sf_dir: str, cpus: int) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    out = subprocess.run(
        [sys.executable, "-c", _CHILD.format(root=_ROOT, query=query)],
        env=env,
        capture_output=True,
        text=True,
    )
    if out.returncode != 0:
        raise RuntimeError(
            f"sentinel child (cpus={cpus}) exited {out.returncode}:\n"
            f"{out.stderr[-4000:]}"
        )
    for line in out.stdout.splitlines():
        if line.startswith("SENTINEL "):
            return json.loads(line[len("SENTINEL "):])
    raise RuntimeError(f"no SENTINEL line in child stdout:\n{out.stdout[-2000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--query", default="z10658_winnow_containment")
    ap.add_argument("--sf-dir", default="/tmp/scale10")
    ap.add_argument("--cpus", type=int, nargs=2, default=[32, 8])
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--out", default=os.path.join(_ROOT, "CPU_SCALING_r16.json"))
    args = ap.parse_args()

    hi, lo = args.cpus
    runs: dict[int, list[dict]] = {hi: [], lo: []}
    for r in range(args.rounds):
        for cpus in (hi, lo):  # interleaved: hi, lo, hi, lo, ...
            res = run_once(args.query, args.sf_dir, cpus)
            res["cpus"] = cpus
            runs[cpus].append(res)
            print(f"round {r} cpus={cpus}: {res['sec']}s "
                  f"master={res['master']}", flush=True)

    best_hi = min(x["sec"] for x in runs[hi])
    best_lo = min(x["sec"] for x in runs[lo])
    artifact = {
        "query": args.query,
        "sf_dir": args.sf_dir,
        "rounds": args.rounds,
        "interleaved": True,
        "fresh_subprocess_per_run": True,
        "runs": runs[hi] + runs[lo],
        "min_sec": {str(hi): best_hi, str(lo): best_lo},
        "masters": {
            str(hi): sorted({x["master"] for x in runs[hi]}),
            str(lo): sorted({x["master"] for x in runs[lo]}),
        },
        "low_over_high_ratio": round(best_lo / best_hi, 3),
        "note": (
            "SPARK_GRAFT_CPUS drives the local master (masters field); the "
            "ratio is the CPU-bound spread the sf0.1 suite cannot show "
            "because its ~0.7s-median queries are stage-latency-bound."
        ),
    }
    with open(args.out, "w") as fh:
        json.dump(artifact, fh, indent=1)
        fh.write("\n")
    print(json.dumps({"low_over_high_ratio": artifact["low_over_high_ratio"],
                      "min_sec": artifact["min_sec"]}))


if __name__ == "__main__":
    main()
