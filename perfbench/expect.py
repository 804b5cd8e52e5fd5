"""Oracle expectations for the registry workload.

Running this file generates the benchmark tables at each scale the
benchmark uses, evaluates every workload entry's DuckDB twin
(`oracle_sql()`), and writes the row count and digest of each result to
`expected.json`. The digest is `attest.py`'s canonical hash: columns
sorted by name, timestamps normalized to UTC-naive nanoseconds, rows
sorted, then a sum of pandas row hashes. It needs DuckDB but not Spark:

    python3 perfbench/expect.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from attest import _canon_hash  # noqa: E402

ENTRIES = os.path.join(HERE, "entries.json")
EXPECTED = os.path.join(HERE, "expected.json")
SCALES = ("0.01", "0.001")


def canon_digest(df) -> str:
    return str(_canon_hash(df))


def load_entries() -> list[str]:
    with open(ENTRIES) as f:
        return json.load(f)


def load_expected() -> dict:
    with open(EXPECTED) as f:
        return json.load(f)


def main() -> None:
    import duckdb

    import __spark_entry__ as entrymod
    import datagen

    oracles = entrymod.oracle_sql()
    names = sorted(load_entries())
    out: dict = {"data_seed": datagen.DATA_SEED}
    for sf in SCALES:
        with tempfile.TemporaryDirectory() as d:
            datagen.write(d, float(sf))
            con = duckdb.connect()
            for t in datagen.TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
            out[sf] = {}
            for n in names:
                df = con.sql(oracles[n]).df()
                out[sf][n] = {"rows": len(df), "digest": canon_digest(df)}
                print(sf, n, len(df), flush=True)
            con.close()
    with open(EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
