"""Signed zero in the DuckDB oracles.

Spark's ``F.round`` and DuckDB's ``round`` can disagree on which zero a
tiny negative rounds to, and a value-hash comparison tells ``-0.0`` from
``+0.0``.  The oracle pairs in ``tests/test_duckdb_oracle.py`` compare
at an absolute tolerance, which hides that; this DuckDB-only sweep
keeps every oracle's float output free of ``-0.0``.
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent))

from test_duckdb_oracle import CASES


def test_no_negative_zero_in_any_oracle_at_sf001(sf_small):
    import duckdb

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_small}/documents.parquet'")
    offenders = []
    for name, (_, sql) in CASES.items():
        df = con.sql(sql).df()
        assert len(df) > 0, f"{name}: oracle returned no rows"
        for c in df.columns:
            if df[c].dtype.kind == "f":
                v = df[c].to_numpy()
                if ((v == 0.0) & np.signbit(v)).any():
                    offenders.append((name, c))
    assert not offenders, f"oracles emitting -0.0 at sf0.001: {offenders}"
