"""Output check: each query's collected output against its DuckDB
oracle from ``relational.suite.oracle_sql()``, with the normalisation
and exact-equality rule of ``tests/test_oracle.py``.

Oracle results are cached on disk per (seed, sf, query, SQL digest):
some oracles take seconds, and a run with a seed already seen reuses
them. The cache holds only frames this module wrote itself.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd

from perfbench.data import TABLES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def mismatch(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when the two frames are equal under the oracle rule, else
    a one-line reason."""
    if len(spark_pdf) != len(oracle_pdf):
        return f"row count {len(spark_pdf)} vs oracle {len(oracle_pdf)}"
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    for col in a.columns:
        av, bv = a[col], b[col]
        ak, bk = av.dtype.kind, bv.dtype.kind
        if not (ak == bk or {ak, bk} <= {"i", "u"}):
            return f"{col}: dtype kind {ak} vs oracle {bk}"
        if ak == "f" or bk == "f":
            av, bv = av.astype(float), bv.astype(float)
            eq = (av == bv) | (av.isna() & bv.isna())
        else:
            eq = av.astype(object).eq(bv.astype(object)) | (
                av.isna() & bv.isna()
            )
        if not eq.all():
            bad = np.where(~eq)[0][:3]
            return (
                f"{col}: {int((~eq).sum())} mismatches, e.g. rows "
                f"{bad.tolist()}: {av.iloc[bad].tolist()} vs "
                f"{bv.iloc[bad].tolist()}"
            )
    return None


class OracleCache:
    """DuckDB oracle results for one generated table directory."""

    def __init__(self, cache_root: str, seed: int, sf: str, sf_dir: str):
        self.dir = os.path.join(cache_root, f"seed{seed}", f"sf{sf}")
        self.sf_dir = sf_dir
        self._con = None

    def _connection(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
        return self._con

    def ensure(self, name: str, sql: str) -> str:
        """Path of the cached oracle result for ``name``, running the
        SQL first when the cache does not hold it yet."""
        digest = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(self.dir, f"{name}-{digest}.pkl")
        if not os.path.exists(path):
            pdf = self._connection().execute(sql).fetchdf()
            os.makedirs(self.dir, exist_ok=True)
            tmp = f"{path}.{os.getpid()}"
            pdf.to_pickle(tmp)
            os.replace(tmp, path)
        return path

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def fill(cache_root: str, seed: int, sf: str, sf_dir: str,
         names: list[str]) -> dict[str, str]:
    """Make sure the cache holds the oracle result of every query in
    ``names``; return ``{query: cached result path}``. Queries without
    an oracle are left out."""
    from magmapandas_spark.relational import suite

    sqls = suite.oracle_sql()
    cache = OracleCache(cache_root, seed, sf, sf_dir)
    try:
        return {n: cache.ensure(n, sqls[n]) for n in names if n in sqls}
    finally:
        cache.close()


def start(cache_root: str, seed: int, sf: str, sf_dir: str,
          names) -> subprocess.Popen:
    """Run :func:`fill` in a low-priority child process, so the oracles
    run while the driver makes its warm pass; :func:`collect` reads the
    result."""
    return subprocess.Popen(
        [sys.executable, "-m", "perfbench.oracle", cache_root, str(seed),
         sf, sf_dir, *names],
        cwd=ROOT, stdout=subprocess.PIPE, text=True,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
    )


def collect(proc: subprocess.Popen, timeout: float) -> dict[str, str]:
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"oracle worker exited with {proc.returncode}")
    return json.loads(out.splitlines()[-1])


if __name__ == "__main__":
    os.nice(10)
    root, seed, sf, sf_dir, *names = sys.argv[1:]
    print(json.dumps(fill(root, int(seed), sf, sf_dir, names)), flush=True)
