"""Run one benchmark workload; print its result as the last stdout line.

    python3 perfbench/run.py --workload articles_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from the seed into
``.perfbench/inputs`` and reused by later runs with the same seed; run
outputs go to ``.perfbench/runs`` and are deleted at the end; one record
per run is written to ``.perfbench/records`` and, with ``--trace 1``, its
spans to ``.perfbench/traces``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("articles_bulk", "query_mix")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _commit() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True)
    return out.stdout.strip() or None


def _source_digest() -> str:
    """Digest of the package sources: names the code in a checkout that
    is not a git repository."""
    h = hashlib.md5()
    for p in sorted((ROOT / "readembedability_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def result(values: dict, wanted: list[dict], ops: list[dict]) -> dict:
    """The result line: every wanted metric, by name, with its unit."""
    failed = sum(1 for o in ops if o["error"])
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }


def main(argv=None) -> int:
    args = _args(argv)
    # import the package and the benchmark from the checkout root
    sys.path[0] = str(ROOT)
    try:
        import pyspark  # noqa: F401

        import readembedability_spark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the program under test: {exc}")
        return 2
    from perfbench import measure, spark_env, workloads

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    k = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench"
    record = {
        "id": f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}",
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": os.cpu_count(), "k": k, "commit": _commit(), "source_digest": _source_digest(),
    }
    ctx = workloads.Ctx(None, k, args.seed, work / "runs" / record["id"], work / "inputs")
    ops: list[dict] = []
    values: dict = {}
    wall = record["wall_s"] = {}
    t0 = time.perf_counter()

    def lap(name: str) -> None:
        wall[name] = round(time.perf_counter() - t0 - sum(wall.values()), 3)

    raised = False
    try:
        record["host_probe_before"] = spark_env.host_probe(k)
        wl = workloads.WORKLOADS[args.workload]()
        plan = record["plan"] = wl.plan(args.seconds)
        spark_env.confine_temp(ctx.work)
        record["spark_conf"] = conf = spark_env.spark_conf(k, ctx.work)
        # inputs (and the query oracle) are made while the JVM launches;
        # both are done before the set-up repeats and all timing start
        with ThreadPoolExecutor(1) as pool:
            prepared = pool.submit(wl.prepare, ctx.cache, args.seed)
            try:
                ctx.spark, record["jvm_setup_s"] = spark_env.start_session(conf, k)
            finally:
                record["corpus"] = prepared.result()
        lap("prepare_and_jvm")
        ctx.spark, record["setup_s_repeats"] = spark_env.repeat_sessions(ctx.spark, conf, k)
        setup_s = statistics.median([record["jvm_setup_s"], *record["setup_s_repeats"]])
        record["spark_version"] = ctx.spark.version
        lap("setup")
        warm_ops = wl.warm(ctx)
        lap("warm")
        if args.trace:
            # per-layer metrics only: the paired replay stands in for the timed pass
            values, ops = measure.traced(wl, ctx, plan, record, work / "traces" / f"{record['id']}.json")
            ops = warm_ops + ops
            lap("traced")
        else:
            values, ops = measure.timed(wl, ctx, plan, setup_s)
            ops = warm_ops + ops
            record["report"] = wl.report(ops)
            lap("timed")
        record["host_probe_after"] = spark_env.host_probe(k)
    except Exception:
        traceback.print_exc()
        raised = True
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        spark_env.shutdown_jvm()
        shutil.rmtree(ctx.work, ignore_errors=True)
        lap("teardown")

    for o in ops:
        if o["error"]:
            log(f"FAILED {o['label']}: {o['error']}")
    record.update(ops=ops, values=values, raised=raised)
    # a run that raises counts every operation it attempted as failed
    failed = max(1, len(ops)) if raised else sum(1 for o in ops if o["error"])
    record["failed_frac"] = failed / max(1, len(ops))
    rec_path = work / "records" / f"{record['id']}.json"
    rec_path.parent.mkdir(parents=True, exist_ok=True)
    rec_path.write_text(json.dumps(record, indent=1, default=str))
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if raised or missing:
        log("no result: " + ("the run raised" if raised else f"not measured: {missing}"))
        return 1
    print(json.dumps(result(values, wanted, ops)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
