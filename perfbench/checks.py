"""Output checks for the benchmark: order-insensitive result fingerprints.

A fingerprint is the row count, the sorted column names and a SHA-256
over the rows as ``tools/check_oracle.py`` compares them when it checks
Spark against DuckDB: columns sorted by name, rows sorted, every value
tagged with its type so that ``0`` and ``0.0`` differ.

Regenerate the stored fingerprints (``expected.json``) from the
repository's DuckDB oracles over the tables in ``data/``::

    python3 perfbench/checks.py
"""

from __future__ import annotations

import hashlib
import json
import math
import sys
from pathlib import Path

import numpy as np
import pandas as pd

HERE = Path(__file__).resolve().parent
EXPECTED = HERE / "expected.json"
sys.path.insert(0, str(HERE.parent))

from tools.check_oracle import normalize, value_repr  # noqa: E402

def fingerprint(df: pd.DataFrame) -> dict:
    digest = hashlib.sha256(repr(value_repr(normalize(df))).encode()).hexdigest()
    return {"rows": len(df), "columns": sorted(df.columns), "sha256": digest}


def frames_match(got: pd.DataFrame, want: pd.DataFrame, rel_tol: float = 1e-9) -> bool:
    """Order-insensitive comparison for the CSV workload, whose float
    sums depend on summation order: numbers compare within ``rel_tol``,
    everything else exactly."""
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return False
    g, w = normalize(got), normalize(want)
    for a, b in zip(g.itertuples(index=False), w.itertuples(index=False)):
        for x, y in zip(a, b):
            if isinstance(x, (int, float, np.number)) and isinstance(
                y, (int, float, np.number)
            ):
                if not math.isclose(float(x), float(y), rel_tol=rel_tol):
                    return False
            elif x != y:
                return False
    return True


def regenerate(names: list[str]) -> dict:
    """Fingerprints of the DuckDB oracles for ``names`` over every table
    directory in ``data/``."""
    import duckdb

    from datafusion_archive_spark.context import TESTDATA_TABLES
    from datafusion_archive_spark.queries import ORACLES

    out = {"regenerate": "python3 perfbench/checks.py"}
    for data_dir in sorted((HERE / "data").iterdir()):
        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir / t}.parquet')")
        out[data_dir.name] = {
            n: fingerprint(con.execute(ORACLES[n]).fetchdf()) for n in names
        }
        con.close()
    return out


if __name__ == "__main__":
    from workloads import REGISTRY_WORKLOADS

    names = [n for qs in REGISTRY_WORKLOADS.values() for n in qs]
    EXPECTED.write_text(json.dumps(regenerate(names), indent=1, sort_keys=True) + "\n")
    print(f"wrote {EXPECTED}")
