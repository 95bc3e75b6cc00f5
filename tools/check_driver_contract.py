"""Local replica of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.01,
compare row count + order-insensitive values (columns sorted by name).
The session takes get_spark()'s host defaults (the CPUs in the
affinity mask).

Usage: python tools/check_driver_contract.py [sf_dir] [name,name,...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            # bytes → hex for comparability
            if df[c].map(lambda x: isinstance(x, (bytes, bytearray))).any():
                df[c] = df[c].map(
                    lambda x: x.hex() if isinstance(x, (bytes, bytearray)) else x)
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        if df[c].dtype == np.float32:
            df[c] = df[c].astype(np.float64)
    sort_cols = list(df.columns)
    df = df.sort_values(sort_cols, kind="stable").reset_index(drop=True)
    return df


def compare(name: str, got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    problems = []
    if len(got) != len(exp):
        return [f"rowcount {len(got)} != {len(exp)}"]
    g, e = normalize(got), normalize(exp)
    if list(g.columns) != list(e.columns):
        return [f"columns {list(g.columns)} != {list(e.columns)}"]
    for c in g.columns:
        gv, ev = g[c], e[c]
        # Dtype-strict (r4 verdict): DuckDB HUGEINT arrives in pandas as
        # float64 while Spark hands back int64; coercing both to float
        # hides a type mismatch the driver's value-hash DOES see. An
        # int-vs-float kind split is therefore a failure, not a coercion.
        kinds = {gv.dtype.kind, ev.dtype.kind}
        if kinds == {"i", "f"} or kinds == {"u", "f"}:
            problems.append(
                f"col {c}: dtype kind mismatch spark={gv.dtype} "
                f"oracle={ev.dtype} (HUGEINT oracle column? CAST to BIGINT)")
            continue
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            ga = np.ascontiguousarray(gv.astype(float).to_numpy())
            ea = np.ascontiguousarray(ev.astype(float).to_numpy())
            both_nan = np.isnan(ga) & np.isnan(ea)
            # REPRESENTATION-exact (like the driver's value hash): bit
            # compare, so -0.0 vs +0.0 is a mismatch even though == says
            # equal. NaN-vs-NaN is accepted regardless of payload.
            bits_ne = ga.view(np.uint64) != ea.view(np.uint64)
            bad_mask = bits_ne & ~both_nan
            if bad_mask.any():
                bad = np.nonzero(bad_mask)[0][:3]
                problems.append(
                    f"col {c}: {int(bad_mask.sum())} "
                    f"repr mismatches, e.g. idx {bad}: "
                    f"{ga[bad]} vs {ea[bad]}")
        else:
            if not gv.astype(str).equals(ev.astype(str)):
                bad = (gv.astype(str) != ev.astype(str))
                i = bad[bad].index[:3]
                problems.append(
                    f"col {c}: {bad.sum()} mismatches, e.g. "
                    f"{gv[i].tolist()} vs {ev[i].tolist()}")
    return problems


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None):
    import __spark_entry__ as entrymod
    from cesium_spark.session import get_spark

    spark = get_spark(app_name="contract_check",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = {}
    names = [n for n in qs if not only or n in only]
    for name in names:
        fn = qs[name]
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            failures[name] = [f"SPARK ERROR: {ex}"]
            print(f"✗ {name}: spark error {str(ex)[:200]}")
            continue
        try:
            rel = con.sql(oracles[name])
            huge = [c for c, tp in zip(rel.columns, rel.types)
                    if "HUGEINT" in str(tp)]
            if huge:
                failures[name] = [f"HUGEINT oracle columns {huge}"]
                print(f"✗ {name}: HUGEINT oracle columns {huge} "
                      f"(driver hash will diverge from Spark BIGINT)")
                continue
            exp = rel.df()
        except Exception as ex:
            failures[name] = [f"DUCKDB ERROR: {ex}"]
            print(f"✗ {name}: duckdb error {str(ex)[:200]}")
            continue
        problems = compare(name, got, exp)
        if problems:
            failures[name] = problems
            print(f"✗ {name}: {problems[0][:220]}")
        else:
            print(f"✓ {name}: {len(got)} rows match [{time.time()-t0:.1f}s]")

    # entry smoke
    if not only:
        n = entrymod.entry(spark).count()
        print(f"entry(): {n} rows")
    spark.stop()
    if failures:
        print(f"\nFAILED: {len(failures)}/{len(names)}: {list(failures)}")
        sys.exit(1)
    print(f"\nALL MATCH {len(names)}/{len(names)}")


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    main(sf, only)
