"""Write the formatted physical plan of named ``queries()`` entries to
``<plans-dir>/<name>_<tag>.txt``, the before/after plan evidence a change
that rewrites a plan commits next to its numbers.

Expression ids (``doc_id#123``), exchange plan ids (``[plan_id=45]``) and
lambda-variable counters (``lambda x_287``) are masked to ``#N``,
``plan_id=N`` and ``lambda x_N``: all three count up per session, so two
builds of the same plan differ only in them, and masking lets a
before/after pair diff cleanly.  Timing is perfbench's job; this script
only builds each entry's DataFrame and explains it.

Usage:
  python scripts/plan_dump.py --sf DIR --plans-dir DIR --tag TAG name [name ...]

Names are ``queries()`` keys, or bench-only ``q_<name>`` builders in
``__spark_entry__``.  Prints one line per query: ``<name> <lines> <path>``.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from clickhouse_flatfile_tool_spark import get_spark  # noqa: E402
from clickhouse_flatfile_tool_spark.plans import explain_str  # noqa: E402

_SESSION_IDS = re.compile(r"(#|plan_id=|lambda \w+_)\d+")


def mask_ids(plan: str) -> str:
    """The plan text with every expression id, plan id and lambda-variable
    counter masked."""
    return _SESSION_IDS.sub(r"\1N", plan)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", required=True, help="fixture directory (TESTDATA.md)")
    ap.add_argument("--plans-dir", required=True, help="output directory")
    ap.add_argument("--tag", required=True, help="file suffix, e.g. before/after")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    registry = entrymod.queries()
    builders = {}
    for name in args.names:
        fn = registry.get(name) or getattr(entrymod, f"q_{name}", None)
        if fn is None:
            sys.exit(
                f"unknown query {name!r}: not in queries() registry and no "
                f"q_{name} builder in __spark_entry__"
            )
        builders[name] = fn

    spark = get_spark(app_name="cfts-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.plans_dir, exist_ok=True)
    for name, fn in builders.items():
        plan = mask_ids(explain_str(fn(spark, args.sf)))
        path = os.path.join(args.plans_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"{name:32s} {plan.count(chr(10)):6d}  {path}", flush=True)


if __name__ == "__main__":
    main()
