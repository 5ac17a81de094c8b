"""Oracle-check registry queries the way the external driver does.

Usage: python scripts/check_queries.py [name1 name2 ...] [--first N]
                                       [--sf DIR] [--out FILE]

Vanilla SparkSession (NOT the engine builder — the driver builds its
own), oracle compare via the same canonicalization the driver's pandas
hash uses.  With no names, checks the whole registry in driver order;
``--first N`` checks the first N of that order (the driver window).
Defaults to sf0.01 (the driver's correctness tier).  Prints one line
per query and a summary, and exits nonzero on any failure.  --out
writes a JSON artifact {name: {"ok": bool, "secs": float, "detail":
str}} — the per-round standalone parity evidence ADVICE r10 #3 asked
for (CHECK_r{N}.json), so queries the driver window does not sample
still leave a committed, reproducible correctness record.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if "--sf" in argv:
        i = argv.index("--sf")
        sf_dir = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    out_path = None
    if "--out" in argv:
        i = argv.index("--out")
        out_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    first = None
    if "--first" in argv:
        i = argv.index("--first")
        first = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .appName("check_queries")
        .getOrCreate()
    )
    import __spark_entry__ as contract
    from tests.oracle_harness import compare_query

    queries = contract.queries()
    oracles = contract.oracle_sql()
    names = argv or list(queries)[:first]
    failures: list[str] = []
    report: dict[str, dict] = {}
    for name in names:
        if name not in queries:
            print(f"FAIL {name} — not registered")
            failures.append(name)
            report[name] = {
                "ok": False, "secs": 0.0, "detail": "not registered",
            }
            continue
        t0 = time.perf_counter()
        try:
            df = queries[name](spark, sf_dir)
            if name in oracles:
                rep = compare_query(df, oracles[name], sf_dir)
                ok = rep["ok"]
                detail = (
                    ""
                    if ok
                    else str({k: v for k, v in rep.items() if k != "ok"})[:400]
                )
            else:
                ok = df.count() >= 0
                detail = "rows-only"
        except Exception as exc:  # noqa: BLE001
            ok, detail = False, f"{type(exc).__name__}: {exc}"[:400]
        dt = time.perf_counter() - t0
        print(f"{'PASS' if ok else 'FAIL'} {name} {dt:.1f}s {detail}")
        sys.stdout.flush()
        report[name] = {"ok": ok, "secs": round(dt, 2), "detail": detail}
        if not ok:
            failures.append(name)
    print(f"SUMMARY: {len(names) - len(failures)}/{len(names)}; failures={failures}")
    if out_path:
        import json

        with open(out_path, "w") as fh:
            json.dump(
                {"sf_dir": sf_dir, "results": report}, fh, indent=1,
                sort_keys=True,
            )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
