"""Composition fuzz for the dialect translator's call rewrites.

The r8 deep-fuzz found reinterpretAsUInt64∘reinterpretAsString exploding
to 587 KB of SQL (multiplicative argument splicing); the r9 sweep found
formatReadableTimeDelta doing the same (134 KB at depth 3).  Both are
now let-bound and `_rewrite_call` carries a translate-time size guard
(`_MAX_REWRITE_CHARS`) — this script is the recurring audit that keeps
the class extinct as new rewrites land:

  1. SELF-COMPOSITION: every call-rewritten name f, f(f(f(lit))) 3 deep
     — translate, bound the output size, Spark-ANALYZE (no execution).
     The names are the rows of the dialect's call tables (_EARLY_CALLS,
     _CALLS, _LITERAL_CALLS) and _WRAPS; a curried row is probed in its
     curried shape f(p)(lit).
  2. PAIRS: f(g(lit)) over every pair of unary-working seeds.

Flags: translate exceptions other than the guard's own ValueError,
output size > 80 KB (multiplicative growth smell well under the hard
guard), and analyzer iteration/stack blow-ups.  Depth-1-broken shapes
(type mismatches the fuzz shape causes) are skipped — they are not
bugs.  Exit code 1 when anything is flagged.

  3. TRIPLES (sampled): f(g(h(lit))) over a fixed-seed random sample of
     the ~1.8M triple space — the depth the r9 offenders needed to show
     multiplicative growth, now probed across DIFFERENT-name stacks too.

Usage: python scripts/fuzz_dialect.py [--self-only|--pairs-only|--triples-sample[=N]]
Runtime: ~2 min self, ~30 min pairs, ~N/500 min triples (local[32]).
"""

from __future__ import annotations

import itertools
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clickhouse_flatfile_tool_spark import get_spark  # noqa: E402
from clickhouse_flatfile_tool_spark import dialect as _dialect  # noqa: E402
from clickhouse_flatfile_tool_spark.dialect import (  # noqa: E402
    _MAX_REWRITE_CHARS,
    translate_clickhouse_sql as tr,
)

BIG = 80_000
LITS = ["'abcdefgh'", "12345", "1.5", "('a', 'b')"]


def rewrite_names() -> list[str]:
    """Every name the dialect rewrites, read from its tables: the call
    tables (curried and literal-aware rows included) and _WRAPS."""
    return sorted(
        {name for table in _dialect._CALL_TABLES for name, _, _ in table}
    )


def call_shapes(name: str) -> list[str]:
    """``name(...)`` shapes with one ``{}`` argument slot — the curried
    rows are probed as ``name(p)(arg)``."""
    forms = {
        form
        for table in _dialect._CALL_TABLES
        for n, _, form in table
        if n == name
    }
    if "curried" in forms:
        return [f"{name}(0.5)({{}})", f"{name}(1)({{}})"]
    return [f"{name}({{}})"]


def main() -> int:
    mode = sys.argv[1] if len(sys.argv) > 1 else ""
    names = rewrite_names()
    spark = get_spark(app_name="dialect-fuzz")
    spark.sparkContext.setLogLevel("ERROR")

    def analyzes(sql: str) -> tuple[bool, str]:
        try:
            spark.sql(sql).schema
            return True, ""
        except Exception as e:  # noqa: BLE001
            return False, str(e).split("\n")[0][:140]

    issues: list[tuple] = []
    # (call shape with a {} slot, literal) per name whose depth-1 call
    # analyzes
    seeds: list[tuple[str, str]] = []
    for n in names:
        for shape, lit in itertools.product(call_shapes(n), LITS):
            try:
                t1 = tr(f"SELECT {shape.format(lit)} AS v")
            except Exception:  # noqa: BLE001
                continue
            ok, _ = analyzes(t1)
            if ok:
                seeds.append((shape, lit))
                break

    # non-guard translate-time ValueErrors are reported but SOFT: several
    # rewrites deliberately raise on non-literal arguments (geohashesInBox
    # etc.), which nesting necessarily produces — a deliberate raise is
    # designed behavior, not a splice bug.  Only the guard's own message
    # is silently accepted.
    soft: list[tuple] = []

    def classify_ve(e: ValueError):
        return "guard" if "grew the statement" in str(e) else "other"

    if mode != "--pairs-only":
        for n, lit in seeds:
            expr = n.format(n.format(n.format(lit)))
            try:
                t3 = tr(f"SELECT {expr} AS v")
            except ValueError as e:
                if classify_ve(e) == "other":
                    soft.append((n, lit, "TRANSLATE-VE", str(e)[:120]))
                continue
            except Exception as e:  # noqa: BLE001
                issues.append((n, lit, "TRANSLATE-EXC", str(e)[:120]))
                continue
            if len(t3) > BIG:
                issues.append((n, lit, "BIG", len(t3)))
                continue
            ok, err = analyzes(t3)
            if not ok and ("MAX_ITERATIONS" in err or "StackOverflow" in err):
                issues.append((n, lit, "ANALYZER", err))
        print(f"self-composition: {len(seeds)} seeds checked")

    if mode.startswith("--triples-sample"):
        import random

        n_sample = int(mode.partition("=")[2] or 6000)
        rng = random.Random(42)  # fixed seed: reruns probe the same set
        fs = [s[0] for s in seeds]
        triples = {
            (rng.choice(fs), rng.choice(fs), rng.choice(range(len(seeds))))
            for _ in range(n_sample)
        }
        for f, g, hi in sorted(triples):
            h, lit = seeds[hi]
            try:
                t = tr(f"SELECT {f.format(g.format(h.format(lit)))} AS v")
            except ValueError as e:
                if classify_ve(e) == "other":
                    soft.append((f, g, h, lit, "TRANSLATE-VE", str(e)[:120]))
                continue
            except Exception as e:  # noqa: BLE001
                issues.append((f, g, h, lit, "TRANSLATE-EXC", str(e)[:120]))
                continue
            if len(t) > BIG:
                issues.append((f, g, h, lit, "BIG", len(t)))
                continue
            ok, err = analyzes(t)
            if not ok and ("MAX_ITERATIONS" in err or "StackOverflow" in err):
                issues.append((f, g, h, lit, "ANALYZER", err))
        print(f"triples: {len(triples)} sampled compositions checked")

    if mode == "--self-only" or mode.startswith("--triples-sample"):
        pairs = []
    else:
        pairs = list(itertools.product([s[0] for s in seeds], seeds))
    if pairs:
        for f, (g, lit) in pairs:
            try:
                t = tr(f"SELECT {f.format(g.format(lit))} AS v")
            except ValueError as e:
                if classify_ve(e) == "other":
                    soft.append((f, g, lit, "TRANSLATE-VE", str(e)[:120]))
                continue
            except Exception as e:  # noqa: BLE001
                issues.append((f, g, lit, "TRANSLATE-EXC", str(e)[:120]))
                continue
            if len(t) > BIG:
                issues.append((f, g, lit, "BIG", len(t)))
                continue
            ok, err = analyzes(t)
            if not ok and ("MAX_ITERATIONS" in err or "StackOverflow" in err):
                issues.append((f, g, lit, "ANALYZER", err))
        print(f"pairs: {len(pairs)} compositions checked")

    for s in soft:
        print("soft (deliberate translate-time raise under nesting):", s)
    for i in issues:
        print("ISSUE:", i)
    print(
        f"issues: {len(issues)}  soft: {len(soft)}  "
        f"(guard cap {_MAX_REWRITE_CHARS})"
    )
    spark.stop()
    return 1 if issues else 0


if __name__ == "__main__":
    sys.exit(main())
