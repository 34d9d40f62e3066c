"""Output checks, run outside the timed region.

Headline results are compared with the DuckDB oracle under
``tools/check.py``'s ``canon_df``; the webhook stream's final cache is
compared with ``pipeline/tracks.device_cache_snapshot`` over the same
deliveries."""

from __future__ import annotations

import functools
import importlib.util
import os

import numpy as np
import pandas as pd

from common import ROOT

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


@functools.cache
def _check_module():
    spec = importlib.util.spec_from_file_location("perfbench_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _numeric(df: pd.DataFrame) -> bool:
    return all(pd.api.types.is_numeric_dtype(t) and not pd.api.types.is_bool_dtype(t)
               for t in df.dtypes) and not df.isna().any().any()


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal under ``canon_df``, else what differs.

    Two frames are equal under ``canon_df`` when their canonical rows
    are equal as multisets. For all-numeric frames without nulls (q127
    returns ~0.7M such rows) that is checked by sorting both frames'
    values and comparing them exactly, which is what ``canon_df`` does
    for numbers, without building a Python tuple per row."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rowcount {len(got)} != {len(want)}"
    cols = sorted(got.columns)
    if _numeric(got) and _numeric(want):
        g, w = got[cols].to_numpy(), want[cols].to_numpy()
        g = g[np.lexsort(g.T[::-1])]
        w = w[np.lexsort(w.T[::-1])]
        bad = np.nonzero((g != w).any(axis=1))[0]
        return None if not len(bad) else f"row {bad[0]}: {tuple(g[bad[0]])!r} != {tuple(w[bad[0]])!r}"
    canon = _check_module().canon_df
    g, w = canon(got), canon(want)
    if len(g) != len(w):
        return f"rowcount {len(g)} != {len(w)}"
    for i, (a, b) in enumerate(zip(g, w)):
        if a != b:
            return f"row {i}: {a!r} != {b!r}"[:300]
    return None


def check_headline(sf_dir: str, oracles: dict[str, str], results: dict[str, pd.DataFrame]) -> dict[str, str]:
    """{query: what differs} for every result that does not equal its oracle."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = {}
    for name, sql in oracles.items():
        try:
            diff = compare(results[name], con.sql(sql).df())
        except Exception as e:
            diff = f"oracle error: {type(e).__name__}: {str(e)[:200]}"
        if diff:
            bad[name] = diff
    con.close()
    return bad
