"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry from __spark_entry__ at a given sf dir and
compares against ``oracle_sql()`` via DuckDB: row count + sorted-by-name
column schema + order-insensitive value comparison (rounded).

Usage: python tools/oracle_check.py [sf_dir] [name_filter ...]
       python tools/oracle_check.py [sf_dir] --json OUT.json [name ...]

--json writes a driver-format artifact (one object per entry with
rows_match / schema_match / hash_match / spark_rows / oracle_rows /
err; rows-only entries carry err="no_oracle") so a FULL gate run over
all entries can be committed, not just the driver's 50-name sample.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# the Python workers import the package too: put the checkout on their
# path, so the check runs from any working directory
_old = os.environ.get("PYTHONPATH")
os.environ["PYTHONPATH"] = REPO + (os.pathsep + _old if _old else "")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"create view {t} as select * from '{p}'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(4)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    # --sample N --seed R: check a deterministic random N-name subset —
    # rotate the seed each round so every entry eventually gets a
    # driver-attested row rather than the same 50-name sample forever
    sample_n = sample_seed = None
    if "--sample" in argv:
        i = argv.index("--sample")
        sample_n = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    if "--seed" in argv:
        i = argv.index("--seed")
        sample_seed = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    filters = argv[1:]
    import __spark_entry__ as E
    from gdal_spark.session import get_session

    spark = get_session(master=os.environ.get("SPARK_GRAFT_MASTER", "local[8]"))
    con = duck_con(sf_dir)
    qs, oracles = E.queries(), E.oracle_sql()
    if sample_n is not None:
        import random

        names = sorted(qs)
        rng = random.Random(0 if sample_seed is None else sample_seed)
        keep = set(rng.sample(names, min(sample_n, len(names))))
        qs = {k: v for k, v in qs.items() if k in keep}
        print(f"sampled {len(qs)}/{len(names)} entries "
              f"(seed={sample_seed if sample_seed is not None else 0})")
    failed, passed, rows_only = [], [], []
    report: dict[str, dict] = {}

    def record(name, rows_match=None, schema_match=None, hash_match=None,
               spark_rows=None, oracle_rows=None, err=None):
        report[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": spark_rows,
            "oracle_rows": oracle_rows, "err": err,
        }

    for name, fn in qs.items():
        if filters and not any(f in name for f in filters):
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            failed.append((name, f"spark error: {exc}"))
            record(name, err=f"spark error: {str(exc)[:300]}")
            print(f"FAIL {name}: spark error: {str(exc)[:500]}")
            continue
        if name not in oracles:
            rows_only.append((name, len(sdf)))
            record(name, spark_rows=len(sdf), err="no_oracle")
            print(f"rows-only {name}: {len(sdf)} rows")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            failed.append((name, f"duckdb error: {exc}"))
            record(name, spark_rows=len(sdf),
                   err=f"duckdb error: {str(exc)[:300]}")
            print(f"FAIL {name}: duckdb error: {str(exc)[:500]}")
            continue
        if len(sdf) != len(odf):
            failed.append((name, f"row count {len(sdf)} vs {len(odf)}"))
            record(name, rows_match=False, spark_rows=len(sdf),
                   oracle_rows=len(odf), err="row count mismatch")
            print(f"FAIL {name}: row count {len(sdf)} vs {len(odf)}")
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            failed.append((name, f"schema {sorted(sdf.columns)} vs {sorted(odf.columns)}"))
            record(name, rows_match=True, schema_match=False,
                   spark_rows=len(sdf), oracle_rows=len(odf),
                   err="schema mismatch")
            print(f"FAIL {name}: schema {sorted(sdf.columns)} vs {sorted(odf.columns)}")
            continue
        a, b = normalize(sdf), normalize(odf)
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, atol=2e-4)
            passed.append(name)
            record(name, rows_match=True, schema_match=True, hash_match=True,
                   spark_rows=len(sdf), oracle_rows=len(odf))
            print(f"PASS {name}: {len(sdf)} rows")
        except AssertionError as exc:
            failed.append((name, "value mismatch"))
            record(name, rows_match=True, schema_match=True, hash_match=False,
                   spark_rows=len(sdf), oracle_rows=len(odf),
                   err="value mismatch")
            print(f"FAIL {name}: value mismatch\n{str(exc)[:800]}")
            mism = a.compare(b) if a.shape == b.shape else None
            if mism is not None and not mism.empty:
                print(mism.head(5))
    print(
        f"\n== {len(passed)} passed, {len(rows_only)} rows-only, {len(failed)} failed =="
    )
    if json_out:
        import json
        with open(json_out, "w") as fh:
            json.dump(report, fh, indent=2)
        print(f"wrote {json_out} ({len(report)} entries)")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
