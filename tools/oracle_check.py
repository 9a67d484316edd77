"""Driver-mimic: run every __spark_entry__ query in Spark AND its DuckDB
oracle, compare row count + column names + order-insensitive values.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

# this checkout's root, so a copy of the repo checks its own package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd


def canon_cell(v):
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(canon_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon_cell(x)) for k, x in v.items()))
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return round(f, 9)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, pd.Timestamp):
        return v.tz_localize(None).isoformat() if v.tzinfo else v.isoformat()
    return v


def canon_df(df: pd.DataFrame):
    cols = sorted(df.columns)
    rows = [tuple(canon_cell(r[c]) for c in cols) for _, r in df[cols].iterrows()]
    return cols, sorted(rows, key=repr)


def dtype_kind_mismatches(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """int-vs-float dtype drift per column (the DuckDB HUGEINT→float64
    class that canon_cell's numeric normalization would otherwise hide —
    the driver hashes raw values, so int64 vs float64 fails THERE even
    when values are numerically equal; fail locally instead)."""
    bad = []
    for c in set(sdf.columns) & set(odf.columns):
        sk, ok = sdf[c].dtype.kind, odf[c].dtype.kind
        sk = "i" if sk in "iu" else sk
        ok = "i" if ok in "iu" else ok
        if {sk, ok} == {"i", "f"}:
            bad.append(f"{c}: spark={sdf[c].dtype} oracle={odf[c].dtype}")
    return bad


def main():
    args = [a for a in sys.argv[1:]]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args.pop(0) if args and args[0].startswith("/") else "/root/testdata/sf0.01"
    only = set(args)

    import __spark_entry__ as E
    from ingestion_scripts_spark.caching import release_caches
    from ingestion_scripts_spark.session import build_session

    spark = build_session(master="local[8]", shuffle_partitions=8)

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, sqls = E.queries(), E.oracle_sql()
    failures = []
    record: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            record[name] = {"status": "fail", "err": f"spark: {str(e)[:200]}"}
            print(f"[FAIL] {name}: SPARK ERROR {type(e).__name__}: {str(e)[:500]}")
            continue
        finally:
            # operator-internal tracked caches die with the query's action
            # (the full-registry sweep runs ~200 queries in one session)
            release_caches()
        if name not in sqls:
            record[name] = {"status": "rows_only", "rows": len(sdf)}
            print(f"[rows-only] {name}: {len(sdf)} rows")
            continue
        try:
            odf = con.execute(sqls[name]).df()
        except Exception as e:
            failures.append(name)
            record[name] = {"status": "fail", "err": f"oracle: {str(e)[:200]}"}
            print(f"[FAIL] {name}: ORACLE ERROR {type(e).__name__}: {str(e)[:500]}")
            continue
        kind_bad = dtype_kind_mismatches(sdf, odf)
        if kind_bad:
            failures.append(name)
            record[name] = {"status": "fail", "err": f"dtype drift {kind_bad}"}
            print(f"[FAIL] {name}: dtype-kind drift {kind_bad}")
            continue
        scols, srows = canon_df(sdf)
        ocols, orows = canon_df(odf)
        if scols != ocols:
            failures.append(name)
            record[name] = {"status": "fail", "err": f"columns {scols} vs {ocols}"}
            print(f"[FAIL] {name}: columns {scols} vs {ocols}")
            continue
        if len(srows) != len(orows):
            failures.append(name)
            record[name] = {"status": "fail", "err": f"rowcount {len(srows)} vs {len(orows)}"}
            print(f"[FAIL] {name}: rowcount {len(srows)} vs {len(orows)}")
            continue
        bad = [(a, b) for a, b in zip(srows, orows) if a != b]
        if bad:
            failures.append(name)
            record[name] = {"status": "fail", "err": f"{len(bad)}/{len(srows)} rows differ"}
            print(f"[FAIL] {name}: {len(bad)}/{len(srows)} rows differ; first:")
            print("  spark :", bad[0][0])
            print("  oracle:", bad[0][1])
        else:
            record[name] = {"status": "ok", "rows": len(srows)}
            print(f"[OK]   {name}: {len(srows)} rows")

    spark.stop()
    if json_out:
        import json as _json

        with open(json_out, "w") as fh:
            _json.dump({"sf_dir": sf_dir, "results": record}, fh, indent=1, sort_keys=True)
        print(f"wrote {json_out} ({len(record)} entries)")
    print(f"\n{len(failures)} failing: {failures}" if failures else "\nALL OK")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
