"""Mini-driver: run every registered query against its DuckDB oracle.

Emulates the driver's t2 gate (row-count + schema-shape + order-insensitive
value comparison) so regressions surface locally before a round ends.

Usage: python tools/check.py [sf_dir] [query ...]
       python tools/check.py --wrapper [sf_dir] [query ...]
       python tools/check.py --changed [--wrapper] [sf_dir]
       python tools/check.py --digest

--wrapper: exercise the exact driver path — a bare SparkSession (no engine
confs pre-applied) calling ``__spark_entry__.queries()`` / ``oracle_sql()``
instead of the internal registry.

--changed: git-diff-driven selection (VERDICT r5 item 9 — the registry is
260+ queries, a full sweep is no longer a per-commit tool): check only the
queries registered by operator modules touched in the UNION of the working
tree, the last commit, and untracked files (a dirty tree with unrelated
edits must not mask operator changes already committed — round-6 review
catch). A touched shared module (functions/ sources/ plans/ streaming/ or
the registry machinery) can affect any query, so that escalates to the
full sweep instead of under-checking.

--digest: print the sha256 of the registry contract — the JSON dump of
the key order, then name → oracle SQL sorted by name — with the key and
oracle counts, and exit. Starts no Spark session; a refactor that keeps
every key, its order and its oracle text keeps this digest.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.astype(object).where(pd.notnull(df), None)
    key = df.apply(lambda r: tuple(repr(v) for v in r), axis=1)
    return df.iloc[key.argsort(kind="stable")].reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    s_cols, d_cols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if s_cols != d_cols:
        problems.append(f"columns spark={s_cols} duck={d_cols}")
        return problems
    for c in s_cols:
        if str(spark_pdf[c].dtype) != str(duck_pdf[c].dtype):
            problems.append(
                f"dtype[{c}] spark={spark_pdf[c].dtype} duck={duck_pdf[c].dtype}"
            )
    a, b = canon(spark_pdf), canon(duck_pdf)
    if len(a) == len(b):
        neq = (a.map(repr) != b.map(repr)).any(axis=1)
        if neq.any():
            i = int(neq.idxmax())
            problems.append(
                f"values differ ({int(neq.sum())} rows), first at {i}:\n"
                f"  spark: {a.iloc[i].to_dict()}\n  duck : {b.iloc[i].to_dict()}"
            )
    return problems


def _changed_query_names() -> set[str]:
    """Queries registered by operator modules the git diff touches."""
    import subprocess
    from importlib import import_module

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def diff(*rev) -> list[str]:
        out = subprocess.run(
            ["git", "-C", repo, "diff", "--name-only", *rev],
            capture_output=True, text=True, check=True,
        ).stdout
        return [line for line in out.splitlines() if line.strip()]

    # union of working-tree changes, the last commit, and untracked files:
    # a dirty tree with only unrelated edits (e.g. VERDICT.md) must not
    # mask operator changes in HEAD, and brand-new operator modules are
    # invisible to `git diff` entirely (round-6 code-review catch)
    untracked = subprocess.run(
        ["git", "-C", repo, "ls-files", "--others", "--exclude-standard"],
        capture_output=True, text=True, check=True,
    ).stdout
    files = sorted(
        set(diff("HEAD"))
        | set(diff("HEAD~1", "HEAD"))
        | {line for line in untracked.splitlines() if line.strip()}
    )
    pkg = "dataflow_pubsub_message_encryption_spark"
    # the registry machinery itself (base.py / __init__.py) is shared
    # state: a change there can affect EVERY query, same as functions/
    shared = [
        f for f in files
        if f.startswith(f"{pkg}/")
        and (
            f"{pkg}/operators/" not in f
            or os.path.basename(f) in ("__init__.py", "base.py")
        )
    ]
    names: set[str] = set()
    for f in files:
        if f.startswith(f"{pkg}/operators/") and f.endswith(".py"):
            mod_name = os.path.basename(f)[:-3]
            if mod_name in ("__init__", "base"):
                continue
            repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            if not os.path.exists(os.path.join(repo, f)):
                continue  # deleted/renamed module: its queries are gone
            mod = import_module(f"{pkg}.operators.{mod_name}")
            names |= set(getattr(mod, "QUERIES", {}))
    return names, bool(shared)


def registry_digest() -> tuple[str, int, int]:
    """(sha256, key count, oracle count) of the registry contract."""
    from dataflow_pubsub_message_encryption_spark.operators import registry

    queries, oracles = registry()
    blob = json.dumps(
        {"order": list(queries), "oracles": {k: oracles[k] for k in sorted(oracles)}}
    )
    return hashlib.sha256(blob.encode()).hexdigest(), len(queries), len(oracles)


def main() -> int:
    args = sys.argv[1:]
    if "--digest" in args:
        digest, n_keys, n_oracles = registry_digest()
        print(f"{digest}  {n_keys} keys, {n_oracles} oracles")
        return 0
    wrapper = "--wrapper" in args
    changed = "--changed" in args
    args = [a for a in args if a not in ("--wrapper", "--changed")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    if changed:
        names, shared = _changed_query_names()
        only |= names
        if shared:
            # a shared engine file (functions/ sources/ streaming/ plans/
            # or the registry machinery) can affect EVERY query — escalate
            # to the full sweep instead of silently under-checking
            print("--changed: shared engine files touched — escalating to "
                  "the FULL sweep (any query may be affected)")
            only = set()
        elif not only:
            print("--changed: no operator-module changes detected; nothing to check")
            return 0
        else:
            print(f"--changed: {len(only)} queries from touched modules")

    if wrapper:
        from pyspark.sql import SparkSession

        import __spark_entry__ as entry_mod

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.ui.enabled", "false")
            .appName("check-wrapper")
            .getOrCreate()
        )
        queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    else:
        from dataflow_pubsub_message_encryption_spark.operators import registry
        from dataflow_pubsub_message_encryption_spark.session import get_session

        queries, oracles = registry()
        spark = get_session("check")

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    unknown = only - set(queries)
    if unknown:
        # a typo'd name would otherwise "pass" by checking nothing
        print(f"ERROR: unknown query name(s): {sorted(unknown)}")
        return 2

    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS {name}: {len(spark_pdf)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            failures += 1
            print(f"FAIL {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"  - {p}")
        else:
            print(f"OK   {name}: {len(spark_pdf)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{failures} failures / {len(only) or len(queries)} checked @ {sf_dir}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
