#!/usr/bin/env python3
"""Check named registry queries against their DuckDB oracles.

Usage: python3 scripts/oracle_subset.py --sf SF_DIR NAME [NAME ...]

Runs each ``__spark_entry__.queries()[NAME]`` at ``SF_DIR`` on a plain
SparkSession (no engine tuning, UTC: registered queries must not rely
on the engine's session settings) and compares it with
``oracle_sql()[NAME]`` through ``tests/oracle_util.compare_to_oracle``. A query without an oracle is
only executed. Prints one line per query and exits non-zero when any
query fails or mismatches.

When the reference Delta fixtures that the ``delta_read`` oracle
replays are absent, ``_delta_oracle_filesets`` is stubbed so that
``oracle_sql()`` can be built at all; ``delta_read`` itself is then
reported as not checkable.
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Python workers import the package too: they inherit PYTHONPATH, not
# this process's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", required=True, help="scale-factor data dir")
    ap.add_argument("names", nargs="+", help="registry query names")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    import __spark_entry__ as E
    from tests.oracle_util import compare_to_oracle

    registry = E.queries()
    unknown = [n for n in args.names if n not in registry]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    fixtures = os.path.isdir(os.path.join(E._REF_DELTA, "customers"))
    if not fixtures:
        E._delta_oracle_filesets = lambda root: ("[]",) * 4
    oracles = E.oracle_sql()

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    failed = []
    try:
        for name in args.names:
            if name == "delta_read" and not fixtures:
                print(f"{name}: NOT CHECKED (reference Delta fixtures absent)")
                failed.append(name)
                continue
            try:
                df = registry[name](spark, args.sf)
                if name in oracles:
                    compare_to_oracle(df, oracles[name], args.sf)
                    print(f"{name}: ok")
                else:
                    df.count()
                    print(f"{name}: ran (no oracle)")
            except Exception:  # report every query, then fail the run
                traceback.print_exc()
                print(f"{name}: FAILED")
                failed.append(name)
    finally:
        spark.stop()
    print(f"{len(args.names) - len(failed)}/{len(args.names)} green")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
