"""Self-test of the benchmark at a smoke size, in one Spark session.

- Runs every workload, and the traced run on one of them, and checks
  that every metric BENCHMARK.json names is emitted with its unit.
- Checks that the correctness gate fires on one corrupted output row, on
  one dropped url, and on a query result that differs from its oracle.

    python3 perfbench/selftest.py        # exit 0 = pass; under two minutes on 4 cores
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SEED = 7


def _smoke(wl):
    """Shrink a workload to smoke size; its outputs are checked in full."""
    if wl.name == "articles_bulk":
        wl.PAGES, wl.WARM_PAGES, wl.SAMPLE = 200, 50, 10**6
    else:
        wl.DOCS, wl.EVENTS = 100, 1000
        wl.HEAVY, wl.TAIL = ("q_pagerank",), ("q_csp_audit", "q_hidden_text")
    return wl


def _check(res: dict, wanted: list[dict], label: str) -> list[str]:
    problems = []
    if not res["correct"] or res["failed"]:
        problems.append(f"{label}: {res['failed']} of {res['attempted']} operations failed")
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None:
            problems.append(f"{label}: {m['name']} not emitted")
        elif got["unit"] != m["unit"]:
            problems.append(f"{label}: {m['name']} unit {got['unit']!r}, not {m['unit']!r}")
        elif isinstance(got["value"], bool) or not math.isfinite(got["value"]):
            problems.append(f"{label}: {m['name']} = {got['value']!r}")
    return problems


def _gate_fires(spark, k: int, work: Path) -> list[str]:
    from perfbench import gate, workloads

    problems = []
    bulk = _smoke(workloads.ArticlesBulk())
    ctx = workloads.Ctx(spark, k, SEED, work / "gate", work / "inputs")
    bulk.prepare(ctx.cache, SEED)
    read_output = gate.read_output

    def corrupt(path):
        rows = read_output(path)
        rows[len(rows) // 2]["content_text"] = "corrupted"
        return rows

    def drop(path):
        return read_output(path)[1:]

    for label, fake in (("a corrupted row", corrupt), ("a dropped url", drop)):
        gate.read_output = fake
        try:
            ops = bulk.run(ctx, 1)
        finally:
            gate.read_output = read_output
        if not ops[0]["error"]:
            problems.append(f"the extraction gate did not fire on {label}")

    mix = _smoke(workloads.QueryMix())
    mix.prepare(ctx.cache, SEED)
    digest = gate.result_digest
    gate.result_digest = lambda cols, rows: digest(cols, list(rows)[:-1])
    try:
        ops = mix.run(ctx, 1)
    finally:
        gate.result_digest = digest
    if not all(o["error"] for o in ops):
        problems.append("the query gate did not fire on a result with a row missing")
    return problems


def main() -> int:
    sys.path[0] = str(ROOT)
    from perfbench import measure, spark_env, workloads
    from perfbench.run import result

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = ROOT / ".perfbench" / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    k = len(os.sched_getaffinity(0))
    spark_env.confine_temp(work)
    spark, setup_s = spark_env.start_session(spark_env.spark_conf(k, work), k)
    problems = []
    try:
        for name, cls in workloads.WORKLOADS.items():
            wl = _smoke(cls())
            ctx = workloads.Ctx(spark, k, SEED, work / name, work / "inputs")
            wl.prepare(ctx.cache, SEED)
            warm_ops = wl.warm(ctx)
            plan = wl.plan(0)
            values, ops = measure.timed(wl, ctx, plan, setup_s)
            ops = warm_ops + ops
            problems += _check(result(values, spec["end_to_end"], ops), spec["end_to_end"], name)
            if name == "articles_bulk":
                layer, replay = measure.traced(
                    wl, ctx, plan, {"id": "selftest"}, work / "trace.json",
                    probe_pages=300, extractor_sample=30, boundary_sample=100,
                )
                res = result(layer, spec["per_layer"], ops + replay)
                problems += _check(res, spec["per_layer"], f"{name} traced")
        problems += _gate_fires(spark, k, work)
    finally:
        spark.stop()
        spark_env.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"FAIL {p}")
    print("selftest: " + ("ok" if not problems else f"{len(problems)} problems"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
