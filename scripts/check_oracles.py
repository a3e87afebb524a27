"""Local stand-in for the driver's correctness gate: run every
`queries()` entry on Spark and its `oracle_sql()` on DuckDB over the same
parquet dir, compare row count, column names, and an order-insensitive
value hash (columns sorted by name, floats rounded upstream by the queries
themselves).

Usage: python scripts/check_oracles.py [--json OUT] [sf_dir] [query ...]

`--json OUT` additionally writes a CORRECTNESS-style JSON (one object per
query: rows/schema/hash match booleans + row counts) so a full-registry run
can be committed as in-repo evidence.
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def value_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    d = df[cols].copy()
    for c in cols:
        col = d[c]
        if col.dtype == object:
            d[c] = col.astype(str)
        elif str(col.dtype).startswith("datetime"):
            d[c] = col.astype(str)
        elif col.dtype.kind == "f":
            d[c] = col.round(6).astype(str)
        else:
            d[c] = col.astype(str)
    rows = sorted("\x1f".join(r) for r in d.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode("utf-8"))
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    report: dict[str, dict] = {}

    import __spark_entry__ as entrymod
    from janet_spark.session import build_session

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    # parallelism overridable so the gate can be re-run at adversarial
    # partition counts — results must be partition-invariant
    import os

    spark = build_session(
        "oracle-check",
        master=os.environ.get("ORACLE_CHECK_MASTER", "local[8]"),
        shuffle_partitions=int(os.environ.get("ORACLE_CHECK_SHUFFLE", "16")),
    )
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            report[name] = {"err": f"spark: {e}"}
            continue
        finally:
            # release persist()-ed intermediates some queries cache
            spark.catalog.clearCache()
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            report[name] = {"err": f"duckdb: {e}"}
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}")
        if not problems:
            hs, ho = value_hash(sdf), value_hash(odf)
            if hs != ho:
                problems.append(f"value hash {hs} != {ho}")
                merged_cols = sorted(sdf.columns)
                a = sdf[merged_cols].sort_values(merged_cols).reset_index(drop=True)
                b = odf[merged_cols].sort_values(merged_cols).reset_index(drop=True)
                diff = a.compare(b) if a.shape == b.shape else None
                if diff is not None and not diff.empty:
                    print(diff.head(5).to_string())
        report[name] = {
            "rows_match": len(sdf) == len(odf),
            "schema_match": sorted(sdf.columns) == sorted(odf.columns),
            "hash_match": not problems,
            "spark_rows": len(sdf),
            "oracle_rows": len(odf),
            "sec": round(time.time() - t0, 2),
            "err": "; ".join(problems) or None,
        }
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            failures.append(name)
        else:
            print(f"ok    {name}: rows={len(sdf)} hash match [{time.time()-t0:.1f}s]")

    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "queries": report}, f, indent=1)
        print(f"wrote {json_out}")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("all queries match their oracles")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
