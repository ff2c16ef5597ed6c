#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [q1,q2,...]
       python3 tools/check_oracle.py --selftest

Runs each oracle_sql.json entry in DuckDB against the sfDir parquet
tables, loads the Spark result parquet from verifyOutDir, sorts columns
by name and rows by value, and compares. The optional third argument is
the same comma-separated name filter as graft.Verify's: only those
entries are checked, so a filtered Verify run gets a meaningful exit
status (a filter name with no oracle entry counts as a failure).
"""
import sys, json, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # normalize dtypes for compare: timestamps to ns, floats rounded already by queries
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def values_equal(a: pd.Series, b: pd.Series) -> bool:
    if str(a.dtype).startswith("datetime") or str(b.dtype).startswith("datetime"):
        return (pd.to_datetime(a).astype("datetime64[us]")
                .equals(pd.to_datetime(b).astype("datetime64[us]")))
    if a.dtype.kind in "fc" or b.dtype.kind in "fc":
        # BIT-strict, matching the driver's exact value hash: any epsilon
        # compare is blind to -0.0 vs +0.0 (and to NaN-payload
        # differences) — exactly the divergence the driver's hash
        # rejects. Compare the raw float64 bytes.
        return (a.astype(float).to_numpy().tobytes()
                == b.astype(float).to_numpy().tobytes())
    return bool((a.astype("object") == b.astype("object")).all())


def selftest() -> int:
    """Planted regressions for the divergence classes the gate must see
    (-0.0 was invisible to the pre-r8 1e-9 tolerance for two rounds)."""
    cases = [
        ("signed zero differs", pd.Series([0.0]), pd.Series([-0.0]), False),
        ("equal floats equal", pd.Series([1.5, -2.25]), pd.Series([1.5, -2.25]), True),
        ("NaN == NaN (same payload)", pd.Series([float("nan")]), pd.Series([float("nan")]), True),
        ("1e-10 drift differs", pd.Series([1.0]), pd.Series([1.0 + 1e-10]), False),
        ("ints equal", pd.Series([3, 4]), pd.Series([3, 4]), True),
    ]
    bad = [n for n, a, b, want in cases if values_equal(a, b) != want]
    for n in bad:
        print(f"SELFTEST FAIL: {n}")
    print("SELFTEST OK" if not bad else f"SELFTEST: {len(bad)} failures")
    return len(bad)


def main(sf_dir: str, out_dir: str, only=None) -> int:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_fail = 0
    if only is not None:
        for name in sorted(only - set(oracle)):
            print(f"FAIL {name}: no oracle entry")
            n_fail += 1
        oracle = {k: v for k, v in oracle.items() if k in only}
    for name, sql in sorted(oracle.items()):
        spark_files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not spark_files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in spark_files]))
            want = canon(con.execute(sql).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            n_fail += 1
            continue
        # Dtype-strict gate (mirrors the driver's exact value hash):
        # DuckDB SUM(BIGINT) -> HUGEINT lands as float64 while Spark emits
        # int64; the values print differently (12345.0 vs 12345) so the
        # driver's hash differs even when every value is equal. Compare
        # dtype KIND CLASS (int-family vs float-family vs datetime vs
        # other) per column before any value compare.
        def kind_class(dt):
            k = dt.kind
            if k in "iu":
                return "int"
            if k in "fc":
                return "float"
            if k == "M":
                return "datetime"
            if k == "b":
                return "bool"
            return "object"
        dtype_bad = [
            f"{c}: spark {got[c].dtype} vs oracle {want[c].dtype}"
            for c in got.columns
            if kind_class(got[c].dtype) != kind_class(want[c].dtype)]
        if dtype_bad:
            print(f"FAIL {name}: dtype kind mismatch — {'; '.join(dtype_bad)}")
            n_fail += 1
            continue
        # value compare with dtype coercion
        mismatch = None
        for c in got.columns:
            try:
                eq = values_equal(got[c], want[c])
            except Exception as e:
                eq = False
                mismatch = f"{c}: {e}"
            if not eq:
                mismatch = mismatch or c
                break
        if mismatch:
            print(f"FAIL {name}: column {mismatch} differs")
            print("  spark:", got.head(3).to_dict("records"))
            print("  duck :", want.head(3).to_dict("records"))
            n_fail += 1
        else:
            print(f"OK   {name} ({len(got)} rows)")
    return n_fail


if __name__ == "__main__":
    if len(sys.argv) == 2 and sys.argv[1] == "--selftest":
        sys.exit(selftest())
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    only = set(filter(None, sys.argv[3].split(","))) if len(sys.argv) == 4 else None
    sys.exit(main(sys.argv[1], sys.argv[2], only))
