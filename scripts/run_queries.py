"""Time registry queries through ``bench.force`` (the bench's noop-sink run).

Usage: python scripts/run_queries.py <sf_dir> <name[,name...]|headline|all>
                                     [--repeat N] [--plan DIR]

``headline`` is ``bench.ANALYTICS_HEADLINE``, ``all`` every registry entry;
an unknown name exits before the session starts, and ``get_spark`` picks
the master from ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_MASTER``. Rounds are
the outer loop; each run prints ``[name] run=R wall=S.SSs`` or ``FAIL name:
<first line>`` and the sweep goes on. Ends with a name/min_s/median_s TSV
table and exit code 1 if any run failed. ``--plan DIR`` writes each query's
pre-execution plan to ``DIR/<name>.txt`` and adds its plan-shape counts.
"""

from __future__ import annotations

import argparse
import os
import re
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
import bench  # noqa: E402
from flux_spark.session import get_spark  # noqa: E402

_PY_NODES = r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas"
_JOINS = r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct"
SHAPE_COLUMNS = ["exchanges", "scans", "py_nodes", "joins"]


def resolve(spec: str, registry) -> list[str]:
    """The query names ``spec`` stands for; exits on an unknown name."""
    if spec == "headline":
        names = list(bench.ANALYTICS_HEADLINE)
    elif spec == "all":
        names = sorted(registry)
    else:
        names = spec.split(",")
    unknown = [n for n in names if n not in registry]
    if unknown:
        sys.exit(f"run_queries: unknown query name(s): {', '.join(unknown)}")
    return names


def write_plan(spark, df, name: str, plan_dir: str) -> list[str]:
    """Write ``df``'s formatted plan to ``plan_dir/<name>.txt`` and return
    its exchanges, parquet scans, Python nodes and join kinds. The noop
    write executes its own copy of the plan, so this one is pre-execution."""
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    with open(os.path.join(plan_dir, f"{name}.txt"), "w") as f:
        f.write(f"# {name}: pre-execution plan (formatted)\n\n{plan}")
    return [
        str(len(re.findall(r"\(\d+\) Exchange", plan))),
        str(len(re.findall(r"\(\d+\) Scan parquet", plan))),
        str(len(re.findall(_PY_NODES, plan))),
        ",".join(sorted(set(re.findall(_JOINS, plan)))) or "-",
    ]


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("sf_dir")
    p.add_argument("names", help="name[,name...], headline or all")
    p.add_argument("--repeat", type=int, default=1)
    p.add_argument("--plan", metavar="DIR")
    args = p.parse_args(argv)
    if args.repeat < 1:
        p.error(f"--repeat must be at least 1, got {args.repeat}")
    registry = entry.queries()
    names = resolve(args.names, registry)
    if args.plan:
        os.makedirs(args.plan, exist_ok=True)

    spark = get_spark(
        "run-queries", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    runs: dict[str, list[float]] = {n: [] for n in names}
    shapes: dict[str, list[str]] = {}
    failed = False
    for r in range(args.repeat):
        for name in names:
            built = []

            def build():
                built.append(registry[name](spark, args.sf_dir))
                return built[0]

            try:
                wall = bench.force(spark, build, f"run_queries: {name}")
                runs[name].append(wall)
                print(f"[{name}] run={r} wall={wall:.2f}s", flush=True)
                if args.plan and name not in shapes:
                    shapes[name] = write_plan(spark, built[0], name, args.plan)
            except Exception as exc:  # noqa: BLE001 — report and go on
                failed = True
                first = (str(exc).strip().splitlines() or [type(exc).__name__])[0]
                print(f"FAIL {name}: {first[:200]}", flush=True)
            finally:
                spark.catalog.clearCache()

    print("\t".join(["name", "min_s", "median_s"] + (SHAPE_COLUMNS if args.plan else [])))
    for name in names:
        rs = runs[name]
        row = [name] + (
            [f"{min(rs):.2f}", f"{statistics.median(rs):.2f}"] if rs else ["-", "-"]
        )
        if args.plan:
            row += shapes.get(name, ["-"] * len(SHAPE_COLUMNS))
        print("\t".join(row))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
