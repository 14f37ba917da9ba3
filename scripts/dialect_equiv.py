"""Translation-equivalence evidence for dialect-edit deferrals.

When a dialect.py edit is guard/infrastructure-only (r10: the expansion
guard's budget formula — ADVICE r9), every dialect-calling entry's green
fingerprint stales via the whole-module hash even though no translation
changed.  Re-proving ~43 entries would consume the whole driver window
and starve the oldest-green rotation (VERDICT r9 #3), so the r8 deferral
precedent applies — IF the staleness is provably cosmetic.  This script
produces that proof:

  mode ``record``: construct every registry entry's DataFrame at the
  given sf dir with ``translate_clickhouse_sql`` wrapped by a recorder —
  in ``dialect`` AND in every package module that bound the name at
  import (``api``, ``operators.mutations``), so API-routed and mutation
  translations are recorded too; dump every (entry, input SQL,
  translated SQL) triple to JSON.  The record fails when a swept
  ``REQUIRED`` entry has no recording.  Run it once at HEAD and once in
  a worktree at the last proven commit.

  mode ``diff``: byte-compare the two recordings.  Identical inputs ->
  identical outputs means the historical driver greens still prove the
  current translations; any difference lists the entry and a unified
  first-divergence excerpt.

Usage:
  python scripts/dialect_equiv.py record OUT.json [sf_dir] [entry ...]
  python scripts/dialect_equiv.py diff OLD.json NEW.json
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# entries whose translations go through module-level aliases of
# translate_clickhouse_sql (api.py, operators/mutations.py): a recording
# without them means the alias patching missed a path
REQUIRED = ("dialect_final", "api_query_roundtrip")


def _patch_aliases(real, recorder) -> list[tuple[object, str]]:
    """Point every module-level binding of ``real`` in the package at
    ``recorder``; modules imported later bind the patched ``dialect``
    attribute.  Returns the (module, name) pairs to restore."""
    patched = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(
            "clickhouse_flatfile_tool_spark"
        ):
            continue
        for name, value in list(vars(mod).items()):
            if value is real:
                setattr(mod, name, recorder)
                patched.append((mod, name))
    return patched


def record(out_path: str, sf_dir: str, only: list[str]) -> int:
    from clickhouse_flatfile_tool_spark import dialect, get_spark

    recorded: dict[str, list[list[str]]] = {}
    current: list[str] = [""]
    real = dialect.translate_clickhouse_sql

    def recorder(sql, spark=None):
        out = real(sql, spark)
        recorded.setdefault(current[0], []).append([sql, out])
        return out

    patched = _patch_aliases(real, recorder)
    import __spark_entry__ as entrymod

    spark = get_spark(app_name="cfts-dialect-equiv")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    names = only or list(qs)
    errors: dict[str, str] = {}
    for name in names:
        current[0] = name
        try:
            qs[name](spark, sf_dir)  # construction triggers translation
        except Exception as e:  # noqa: BLE001 — record, don't abort the sweep
            errors[name] = f"{type(e).__name__}: {e}"
    for mod, name in patched:
        setattr(mod, name, real)
    payload = {
        "sf_dir": sf_dir,
        "translations": recorded,
        "construct_errors": errors,
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=0, sort_keys=True)
    n = sum(len(v) for v in recorded.values())
    print(
        f"recorded {n} translations across {len(recorded)} entries -> "
        f"{out_path}; construct errors: {len(errors)}"
    )
    missing = [e for e in REQUIRED if e in names and e not in recorded]
    if missing:
        print(f"FAILED: no translation recorded for {', '.join(missing)}")
        return 1
    return 0


def diff(old_path: str, new_path: str) -> int:
    old = json.load(open(old_path))["translations"]
    new = json.load(open(new_path))["translations"]
    bad = 0
    for entry in sorted(set(old) | set(new)):
        a, b = old.get(entry, []), new.get(entry, [])
        ain = [x[0] for x in a]
        bin_ = [x[0] for x in b]
        if ain != bin_:
            print(f"INPUT SET DIFFERS: {entry} ({len(a)} vs {len(b)} calls)")
            bad += 1
            continue
        for (sql, aout), (_, bout) in zip(a, b):
            if aout != bout:
                i = next(
                    (j for j, (x, y) in enumerate(zip(aout, bout)) if x != y),
                    min(len(aout), len(bout)),
                )
                print(
                    f"TRANSLATION DIFFERS: {entry}\n  input : {sql[:120]}\n"
                    f"  old[{i}:]: {aout[i : i + 80]}\n"
                    f"  new[{i}:]: {bout[i : i + 80]}"
                )
                bad += 1
    n = sum(len(v) for v in new.values())
    if bad == 0:
        print(
            f"EQUIVALENT: all {n} recorded translations across "
            f"{len(new)} entries are byte-identical"
        )
        return 0
    print(f"{bad} divergences")
    return 1


def main() -> int:
    mode = sys.argv[1] if len(sys.argv) > 1 else ""
    if mode == "record":
        out = sys.argv[2]
        sf_dir = (
            sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.001"
        )
        return record(out, sf_dir, sys.argv[4:])
    if mode == "diff":
        return diff(sys.argv[2], sys.argv[3])
    print(__doc__)
    return 2


if __name__ == "__main__":
    sys.exit(main())
