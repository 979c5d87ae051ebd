"""Correctness checks made after the benchmark JVM exits, with DuckDB.

- `oracle`: a dedup gate's Spark output against the gate's DuckDB oracle
  SQL from `SparkEntry.oracleSql`, compared with the repository's
  correctness checker (tools/check.py): column names, row count, then
  every value after sorting columns by name.
  For the curation chain (cur5, `components`), whose oracle SQL finds
  duplicate clusters with a recursive transitive closure that DuckDB runs
  in minutes, the same SQL runs with that closure replaced by connected
  components of its own `pairs` (benchlib.components): same clusters, same
  cluster ids (the smallest member), every other step as written.
- `elt_snapshot`: a warehouse snapshot taken after one pipeline call:
  dense surrogate keys, dim sizes the generator expects, and row counts
  unchanged against an earlier snapshot (replayed and empty days).

Each check returns (attempted, [failure messages])."""

import glob
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pandas as pd

import benchlib

# The repository's own comparison logic (column order, null and value
# equality), so the benchmark and the correctness gate agree.
sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
from check import norm as _norm, values_equal  # noqa: E402


def _connect():
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='2GB'")
    return con


def _table(path):
    return f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) else f"read_parquet('{path}')"


class Checker:
    def __init__(self):
        self._oracle_cache = {}
        self._counts = {}

    def _oracle_frame(self, check):
        key = (check["sql"], check["tables_dir"], check["aux_dir"], check.get("components"))
        if key not in self._oracle_cache:
            con = _connect()
            try:
                for p in glob.glob(os.path.join(check["tables_dir"], "*.parquet")):
                    name = os.path.basename(p)[: -len(".parquet")]
                    con.execute(f"CREATE VIEW {name} AS SELECT * FROM {_table(p)}")
                sql = check["sql"].replace("__AUX__", check["aux_dir"])
                if check.get("components"):
                    pairs_sql, sql = benchlib.split_closure(sql)
                    comp = benchlib.components(con.execute(pairs_sql).fetchall())
                    con.register("closure_clusters", pd.DataFrame(
                        {"doc_id": list(comp), "cluster_id": list(comp.values())},
                        dtype="int64"))
                self._oracle_cache[key] = _norm(con.execute(sql).fetchdf())
            finally:
                con.close()
        return self._oracle_cache[key]

    def _oracle_frame_safe(self, check):
        """Warm the oracle cache; errors surface in `oracle` itself."""
        try:
            self._oracle_frame(check)
        except Exception:
            pass

    def oracle(self, check):
        label = check["label"]
        files = sorted(glob.glob(os.path.join(check["dir"], "*.parquet")))
        if not files:
            return 1, [f"{label}: no spark output"]
        try:
            spark_df = _norm(pd.concat([pd.read_parquet(f) for f in files]))
            duck_df = self._oracle_frame(check)
        except Exception as e:  # a failing oracle query is a failed check
            return 1, [f"{label}: {e}"]
        if list(spark_df.columns) != list(duck_df.columns):
            return 1, [f"{label}: columns {list(spark_df.columns)} vs {list(duck_df.columns)}"]
        if len(spark_df) != len(duck_df):
            return 1, [f"{label}: rows {len(spark_df)} vs {len(duck_df)}"]
        if not values_equal(spark_df, duck_df):
            return 1, [f"{label}: value mismatch"]
        return 1, []

    def elt_snapshot(self, check):
        label, d = check["label"], check["dir"]
        attempted, failures = 0, []
        con = _connect()
        try:
            counts = {}
            for t in check["tables"]:
                p = os.path.join(d, t)
                counts[t] = con.execute(f"SELECT count(*) FROM {_table(p)}").fetchone()[0] \
                    if os.path.isdir(p) else 0
            self._counts[label] = counts
            for t, k in check["dense"]:
                attempted += 1
                n, dist, lo, hi = con.execute(
                    f"SELECT count(*), count(DISTINCT {k}), min({k}), max({k}) "
                    f"FROM {_table(os.path.join(d, t))}").fetchone()
                if not (n == dist and lo == 1 and hi == n):
                    failures.append(f"{label}: {t}.{k} not dense "
                                    f"(rows={n} distinct={dist} min={lo} max={hi})")
            for t, want in check["expect_rows"].items():
                attempted += 1
                if counts[t] != want:
                    failures.append(f"{label}: {t} has {counts[t]} rows, expected {want}")
        except Exception as e:
            attempted += 1
            failures.append(f"{label}: {e}")
        finally:
            con.close()
        if check.get("same_as"):
            attempted += 1
            ref = self._counts.get(check["same_as"])
            if ref != self._counts.get(label):
                failures.append(f"{label}: row counts {self._counts.get(label)} "
                                f"differ from {check['same_as']} {ref}")
        return attempted, failures

    def run(self, check):
        return getattr(self, check["kind"])(check)


def run_all(check_list):
    """Run every check; oracle queries of distinct gates run concurrently
    (DuckDB releases the GIL), the snapshot checks in order, since a
    snapshot compares against an earlier one."""
    checker = Checker()
    oracles = [c for c in check_list if c["kind"] == "oracle"]
    with ThreadPoolExecutor(max_workers=len(oracles) or 1) as pool:
        list(pool.map(checker._oracle_frame_safe, oracles))
    attempted, failures = 0, []
    for c in check_list:
        n, fails = checker.run(c)
        attempted += n
        failures += fails
    return attempted, failures
