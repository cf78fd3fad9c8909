"""Output check: each query's collected rows against its DuckDB oracle.

Both sides go through the same steps as ``tools/verify_oracle.py``: the
Spark rows become the frame ``toPandas()`` would build (Arrow off), the
oracle becomes ``duckdb ... .df()``, both pass through that tool's
``normalize`` (columns sorted, floats rounded to 9 places, ints as int64,
rows sorted), and ``compare`` makes its three checks: row count, column
names, then ``assert_frame_equal(check_dtype=False, check_exact=True)``.
The normalized oracle frame is cached on disk per dataset, so DuckDB runs
once per query while the Spark side is checked on every run.
"""
from __future__ import annotations

import hashlib
import os

import pandas as pd


def rows_to_pandas(rows: list, schema, timezone: str,
                   struct_mode: str) -> pd.DataFrame:
    """The frame ``DataFrame.toPandas()`` returns without Arrow, built
    from rows already collected (so the check re-executes nothing). It
    uses the per-column converter ``toPandas`` itself applies, a private
    pyspark helper, so the dtypes match what the oracle tool compares."""
    from pyspark.sql.pandas.types import _create_converter_to_pandas
    cols = [f.name for f in schema.fields]
    if rows:
        pdf = pd.DataFrame.from_records(rows, index=range(len(rows)),
                                        columns=cols)
    else:
        pdf = pd.DataFrame(columns=cols)
    if not cols:
        return pdf
    return pd.concat(
        [_create_converter_to_pandas(
            f.dataType, f.nullable, timezone=timezone,
            struct_in_pandas="row" if struct_mode == "legacy"
            else struct_mode,
            error_on_duplicated_field_names=False,
            timestamp_utc_localized=False)(pser)
         for (_, pser), f in zip(pdf.items(), schema.fields)],
        axis="columns")


def compare(s: pd.DataFrame, o: pd.DataFrame) -> str | None:
    """None when the normalized Spark frame ``s`` equals the normalized
    oracle frame ``o``, else the failure, named like verify_oracle's."""
    if len(s) != len(o):
        return f"row_count spark={len(s)} oracle={len(o)}"
    if list(s.columns) != list(o.columns):
        return f"columns spark={list(s.columns)} oracle={list(o.columns)}"
    try:
        pd.testing.assert_frame_equal(s, o, check_dtype=False,
                                      check_exact=True)
    except AssertionError as e:
        return f"values {str(e)[:200]}"
    return None


class OracleCache:
    """Normalized oracle frames for one dataset, one pickle per query
    under ``path``, keyed by query name and the sha256 of its SQL text
    (plus, for oracles that read an index cache, a digest of that
    cache's committed state). A miss runs the SQL in DuckDB."""

    def __init__(self, path: str, con):
        self.path, self.con = path, con
        os.makedirs(path, exist_ok=True)

    def get(self, name: str, sql: str, normalize, extra: str = "",
            live: bool = False) -> pd.DataFrame:
        if live:
            return normalize(self.con.sql(sql).df())
        digest = hashlib.sha256((sql + "\0" + extra).encode()).hexdigest()
        f = os.path.join(self.path, f"{name}-{digest[:24]}.pkl")
        if os.path.exists(f):
            return pd.read_pickle(f)
        frame = normalize(self.con.sql(sql).df())
        frame.to_pickle(f + ".tmp")
        os.replace(f + ".tmp", f)
        return frame


def index_state(cache_root: str) -> str:
    """Digest of every committed index under ``cache_root``: the
    ``_CURRENT`` pointers the oracle SQL resolves plus the size of each
    artefact file, so a rebuilt index invalidates cached oracle rows."""
    items = []
    for dirpath, _, files in os.walk(cache_root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            rel = os.path.relpath(p, cache_root)
            if fn == "_CURRENT":
                with open(p) as f:
                    items.append(f"{rel}={f.read().strip()}")
            elif not fn.startswith((".", "_")) or fn == "_FINGERPRINT":
                items.append(f"{rel}:{os.path.getsize(p)}")
    return hashlib.sha256("\n".join(sorted(items)).encode()).hexdigest()
