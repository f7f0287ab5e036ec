"""Checks a closed-loop run's warm-up results against the registry's
DuckDB oracles, in a process of its own so that the oracle's memory
stays out of the driver's ``peak_rss_mb``.

    python3 perfbench/oracle.py <sf_dir> <results_dir> <query> ...

``results_dir`` holds ``<query>.pkl`` per query: ``(columns, rows)`` as
collected from Spark. The comparison is the repo correctness gate's
(scripts/check_correctness.py): column names, row count and that
gate's order-insensitive value hash. As in that gate, a Spark result
holding a NaN cell fails outright, because the oracle's pandas fetch
turns NaN into NULL.
The last stdout line is a JSON object, query -> problem, naming every
query that failed.
"""

from __future__ import annotations

import json
import math
import os
import pickle
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))

from check_correctness import value_hash  # noqa: E402

from evaluate_human_balance_with_spark_streaming_spark.plans import registry  # noqa: E402
from evaluate_human_balance_with_spark_streaming_spark.sources.testdata import TABLES  # noqa: E402


def nan_cells(rows: list[tuple]) -> int:
    return sum(1 for r in rows for v in r if isinstance(v, float) and math.isnan(v))


def oracle_rows(con, query: str) -> tuple[list[str], list[tuple]]:
    """The oracle's result as the gate fetches it: through pandas, with
    NaN and NaT read as NULL."""
    pdf = con.execute(query).df()
    rows = [
        tuple(
            None if (isinstance(v, float) and math.isnan(v)) or v is pd.NaT else v
            for v in row
        )
        for row in pdf.itertuples(index=False, name=None)
    ]
    return list(pdf.columns), rows


def check(sf_dir: str, results_dir: str, names: list[str]) -> dict[str, str]:
    oracles = registry.all_oracles()
    problems: dict[str, str] = {}
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in names:
            path = os.path.join(results_dir, f"{name}.pkl")
            if not os.path.exists(path):
                problems[name] = "no warm-up result"
                continue
            with open(path, "rb") as f:
                scols, srows = pickle.load(f)
            n_nan = nan_cells(srows)
            if n_nan:
                problems[name] = f"{n_nan} NaN cells in the Spark result"
                continue
            ocols, orows = oracle_rows(con, oracles[name])
            if sorted(scols) != sorted(ocols):
                problems[name] = f"columns: spark {sorted(scols)} != oracle {sorted(ocols)}"
            elif len(srows) != len(orows):
                problems[name] = f"rows: spark {len(srows)} != oracle {len(orows)}"
            elif value_hash(srows, scols) != value_hash(orows, ocols):
                problems[name] = "value hash mismatch"
    finally:
        con.close()
    return problems


if __name__ == "__main__":
    print(json.dumps(check(sys.argv[1], sys.argv[2], sys.argv[3:])))
