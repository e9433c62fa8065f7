"""Local replica of the driver's correctness gate.

For every entry in queries(): run the Spark query and the DuckDB oracle at
the given sf dir, compare row count, sorted column names, and an
order-insensitive value hash (columns sorted by name, rows sorted, floats
rounded to 6 significant-ish decimals before hashing).

Usage: python tools/check.py [sf_dir] [only_query ...]

Set CHECK_QUERY_TIMEOUT=<seconds> to put a watchdog on every query: on
expiry the DuckDB connection is interrupted and all Spark jobs are
cancelled, the query is recorded as a timeout FAIL, and the sweep
continues — so one quadratic oracle (the r5 sf1 sweep wedged for 30+
minutes on an exact all-pairs ground truth) cannot stall the whole run.

Set CHECK_STRATUM=1 (scale sweeps only) to compare SCALE_STRATA queries
on a deterministic hash stratum applied identically to both engines:
the predicate wraps the oracle (DuckDB pushes it through the CTE
projections to the scan) and filters the Spark result. This exists for
oracle-CAPACITY limits — queries whose Spark side completes at sf1 but
whose DuckDB twin OOMs materializing the full result (the r6 sweep's
only red: staging_records' 41-column JSON normalization over 6M rows).
Full-fidelity comparison stays the default at <= sf0.1.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# query -> SQL predicate over its OUTPUT columns, valid in both dialects;
# 1-in-20 keeps the sf1 stratum ~300k rows (DuckDB fetches it in ~30s
# where the full 6M-row frame dies)
SCALE_STRATA = {
    "staging_records": "l_orderkey % 20 = 0",
}


def canon_df(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == "float64" or df[c].dtype == "float32":
            df[c] = df[c].round(6)
        elif df[c].dtype == "object":
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def value_hash(df: pd.DataFrame) -> str:
    canon = canon_df(df)
    payload = canon.to_csv(index=False).encode()
    return hashlib.md5(payload).hexdigest()


class _Watchdog:
    """Interrupts both engines if a query exceeds the budget."""

    def __init__(self, spark, con, seconds: float):
        import threading

        self.spark, self.con, self.seconds = spark, con, seconds
        self.fired = False
        self._timer = None
        # _fire and __exit__ race when the timer expires just as the
        # query completes: without the lock a late _fire would interrupt
        # the SHARED SparkContext/DuckDB connection while the NEXT query
        # runs, recording a spurious timeout for an in-budget query.
        self._lock = threading.Lock()
        self._exited = False

    def _fire(self):
        with self._lock:
            if self._exited:
                return  # query already finished within budget — stand down
            self.fired = True
            try:
                self.con.interrupt()
            except Exception:
                pass
            try:
                self.spark.sparkContext.cancelAllJobs()
            except Exception:
                pass

    def __enter__(self):
        import threading

        if self.seconds > 0:
            self._timer = threading.Timer(self.seconds, self._fire)
            self._timer.daemon = True
            self._timer.start()
        return self

    def __exit__(self, *exc):
        with self._lock:
            self._exited = True
            if self._timer is not None:
                self._timer.cancel()
        return False


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    per_query_timeout = float(os.environ.get("CHECK_QUERY_TIMEOUT", "0"))

    sys.path.insert(0, REPO_ROOT)
    import __spark_entry__ as entry_mod
    from chilekids_etl_pipeline_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    import glob

    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p).removesuffix(".parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        stratum = (
            SCALE_STRATA.get(name)
            if os.environ.get("CHECK_STRATUM") == "1"
            else None
        )
        with _Watchdog(spark, con, per_query_timeout) as wd:
            try:
                res = fn(spark, sf_dir)
                if stratum:
                    res = res.filter(stratum)
                sdf = res.toPandas()
            except Exception as e:
                kind = "timeout" if wd.fired else "spark error"
                print(f"FAIL {name}: {kind}: {str(e)[:300]}")
                n_fail += 1
                continue
            if name not in oracles:
                print(f"ROWS-ONLY {name}: {len(sdf)} rows")
                continue
            osql = oracles[name]
            if stratum:
                osql = f"SELECT * FROM ({osql}) q WHERE {stratum}"
            try:
                odf = con.execute(osql).fetchdf()
            except Exception as e:
                kind = "timeout" if wd.fired else "oracle error"
                print(f"FAIL {name}: {kind}: {str(e)[:300]}")
                n_fail += 1
                continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)}≠{len(odf)}")
        if sorted(map(str.lower, sdf.columns)) != sorted(map(str.lower, odf.columns)):
            problems.append(f"cols {sorted(sdf.columns)}≠{sorted(odf.columns)}")
        if not problems:
            h1, h2 = value_hash(sdf), value_hash(odf)
            if h1 != h2:
                problems.append("value-hash mismatch")
                c1, c2 = canon_df(sdf), canon_df(odf)
                neq = (c1 != c2) & ~(c1.isna() & c2.isna())
                bad = neq.any(axis=None)
                if bad:
                    idx = neq.any(axis=1)
                    print(c1[idx].head(5))
                    print(c2[idx].head(5))
        if problems:
            n_fail += 1
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"OK   {name} ({len(sdf)} rows)")
    print(f"== {n_fail} failures ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
