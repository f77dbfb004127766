"""Plan identity of registry queries: for each named query at an sf
dir, a sha256 (first 16 hex digits) of its normalized optimized plan
and of its normalized executed plan (the final adaptive plan, read
after the query runs),
plus the executed plan's Exchange, Window and aggregate node counts and
the result's row count. Two checkouts that print the same line for a
query plan it the same way.

Normalizing strips what differs between two runs of one commit on the
same data: expression ids (``#12``), lambda-variable suffixes
(``x_3``), adaptive query-stage and plan ids, and WholeStageCodegen
ids; and it sorts the attribute order of a distinct aggregate's
``Expand`` (columns, projections and the key lists that carry
``gid``), which the planner does not fix. Each Expand projection's
grouping-id literal is read as ``?``: the planner numbers the distinct
groups of one aggregate differently between plannings. What stays unstable is
a runtime choice of adaptive execution: which join becomes a broadcast,
or on which side of a join an exchange lands, can depend on which query
stage finishes first, so compare such a query by its optimized digest
and its node counts.

    python bench/plans.py /path/to/sf0.01 q_hits q_bm25_eval ...
    make plans SF=/path/to/sf0.01 Q="q_hits q_bm25_eval"
"""

from __future__ import annotations

import argparse
import hashlib
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

_SUBS = (
    (re.compile(r"#\d+"), ""),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_"),
    (re.compile(r"\b(\w*QueryStage) \d+"), r"\1"),
    (re.compile(r"\[plan_id=\d+\]"), ""),
    (re.compile(r"\*\(\d+\) "), "* "),
    (re.compile(r"WholeStageCodegen \(\d+\)"), "WholeStageCodegen"),
    (re.compile(r"\bgid = \d+"), "gid = ?"),
)
_EXPAND = re.compile(r"Expand \[")
_NODE = re.compile(r"^[\s:+\-*!|]*(\w+)")


_DEPTH = {"[": 1, "]": -1, "(": 1, ")": -1}


def _bracket_end(s: str, start: int) -> int:
    """Index just past the bracket that closes ``s[start]``."""
    depth = 0
    for i in range(start, len(s)):
        depth += _DEPTH.get(s[i], 0)
        if depth == 0:
            return i + 1
    return len(s)


def _top_level(s: str) -> list[str]:
    """Split a bracket-free-at-top-level list body on its commas."""
    out, depth, cur = [], 0, []
    for ch in s:
        depth += _DEPTH.get(ch, 0)
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur).strip())
    return out


def _sort_expands(line: str) -> str:
    """An ``Expand`` with its columns ordered by output attribute and
    its projections sorted (each one's trailing cell and its cell under
    the grouping id ``gid`` read as ``?``)."""
    m = _EXPAND.search(line)
    if not m:
        return line
    start = m.end() - 1
    end = _bracket_end(line, start)
    out_start = line.index("[", end)
    out_end = _bracket_end(line, out_start)
    outs = _top_level(line[out_start + 1 : out_end - 1])
    order = sorted(range(len(outs)), key=outs.__getitem__)
    rows = []
    for r in _top_level(line[start + 1 : end - 1]):
        cells = _top_level(r[1:-1])
        cells[-1] = "?"
        cells = ["?" if o == "gid" else c for c, o in zip(cells, outs)]
        rows.append("[" + ", ".join(cells[i] for i in order) + "]")
    rows.sort()
    return (
        line[:start] + "[" + ", ".join(rows) + "], ["
        + ", ".join(outs[i] for i in order) + "]" + line[out_end:]
    )


def _sort_gid_lists(line: str) -> str:
    """Every bracketed list holding the grouping id ``gid`` with its
    elements sorted: the key, output and partitioning lists of a
    distinct aggregate's Expand side, whose attribute order varies."""
    for m in reversed(list(re.finditer(r"[\[(]", line))):
        i = m.start()
        end = _bracket_end(line, i)
        items = _top_level(line[i + 1 : end - 1])
        if "gid" in items:
            line = line[: i + 1] + ", ".join(sorted(items)) + line[end - 1 :]
    return line


def normalize(plan: str) -> str:
    for rx, rep in _SUBS:
        plan = rx.sub(rep, plan)
    return "\n".join(
        _sort_expands(ln) if _EXPAND.search(ln) else _sort_gid_lists(ln)
        for ln in plan.splitlines()
    )


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def _final_nodes(plan: str) -> list[str]:
    """Node names of an executed plan, leaving out every adaptive
    plan's ``Initial Plan`` section."""
    nodes, skip_from = [], None
    for ln in plan.splitlines():
        col = len(ln) - len(ln.lstrip(" :|+-*"))
        if skip_from is not None and col >= skip_from:
            continue
        skip_from = None
        if "== Initial Plan ==" in ln:
            skip_from = col
        elif m := _NODE.match(ln):
            nodes.append(m.group(1))
    return nodes


def _counts(plan: str) -> dict[str, int]:
    nodes = _final_nodes(plan)
    return {
        "exchanges": sum(n.endswith("Exchange") for n in nodes),
        "windows": sum(n.endswith("Window") for n in nodes),
        "aggregates": sum(n.endswith("Aggregate") for n in nodes),
    }


def plan_line(spark, name: str, fn, sf_dir: str) -> str:
    df = fn(spark, sf_dir)
    qe = df._jdf.queryExecution()  # noqa: SLF001
    optimized = normalize(qe.optimizedPlan().toString())
    n_rows = len(df.collect())
    executed = normalize(qe.executedPlan().toString())
    counts = " ".join(f"{k}={v}" for k, v in _counts(executed).items())
    return (
        f"{name} optimized={_sha(optimized)} executed={_sha(executed)}"
        f" {counts} rows={n_rows}"
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", help="directory holding the <table>.parquet files")
    ap.add_argument("names", nargs="+", help="registry query names")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("plan-identity")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    registry = entry.queries()
    try:
        for name in args.names:
            print(plan_line(spark, name, registry[name], args.sf_dir), flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
