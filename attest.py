"""Spark-vs-DuckDB attestation of the query registry.

Each entry runs on Spark and its DuckDB twin (``oracle_sql()``) runs over
the same parquet tables. The two results are compared with the external
driver's canonicalization: columns sorted by name, rows sorted, values
hashed. An entry without an oracle is still executed, but nothing checks
its values, so it reports ROWS-ONLY and is counted apart from PASS.

Modes:
  python attest.py [sf_dir]
      full sweep of every registry entry (default: the sf0.01 tables)
  python attest.py sf_dir N|name,name,...
      the first N entries (the driver window is 50), or the named entries
  python attest.py --forced [sf_dir] [name,name,...]
      the driver-iterate entries with their driver-path thresholds patched
      to -1, so they run their distributed rounds (default: .scale/sf1.0,
      built by tools_scale_gen.py, and the eight entries with a driver path)

Ledgers, written next to this file: a full sweep writes ATTESTATION.md at
sf0.01 and ATTESTATION_<sf>.md elsewhere; a first-N or named run writes
ATTESTATION_spot_<sf>.md, so it never clobbers a full ledger; a forced run
writes ATTESTATION_forced_<sf>.md. The exit status is 1 if any entry fails.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from collections.abc import Iterable, Iterator

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod
from financial_fraud_detection_using_time_series_data_spark.operators import (
    dedup,
    drift,
    events,
)
from financial_fraud_detection_using_time_series_data_spark.session import get_spark

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
FORCED_NAMES = (
    "pagerank,label_propagation,kcore,gesd_outliers,seasonal_esd,"
    "entity_clusters,fraud_rings,dedup_clusters_lsh"
)


def _canon_cell(v):
    """An array cell as a nested tuple of Python scalars: hashable, sortable,
    and the same whether an engine returned a list or an ndarray."""
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, list):
        return tuple(_canon_cell(x) for x in v)
    return v


def _canon_hash(df: pd.DataFrame) -> int:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        # array-valued columns: only columns holding a list or ndarray are
        # rewritten, so every other column hashes as it always has
        if df[c].dtype == object and any(isinstance(v, (list, np.ndarray)) for v in df[c]):
            df[c] = pd.Series([_canon_cell(v) for v in df[c]], index=df.index, dtype=object)
        # tz-aware (Spark LTZ) vs naive (DuckDB) and us- vs ns-resolution
        # timestamps are value-identical here (UTC session) but hash
        # differently; normalize to UTC-naive ns
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
        if df[c].dtype.kind == "M":
            df[c] = df[c].astype("datetime64[ns]")
    if len(df):
        df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return int(pd.util.hash_pandas_object(df, index=False).sum())


def attest(
    spark, sf_dir: str, names: Iterable[str]
) -> Iterator[tuple[str, str, str, float]]:
    """Yield (name, status, detail, seconds) per entry, in the given order.

    status is PASS (hash-equal to the oracle), FAIL (mismatch or error) or
    ROWS-ONLY (no oracle: the entry ran, nothing checked its values).
    """
    with duckdb.connect() as con:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        queries = entrymod.queries()
        oracles = entrymod.oracle_sql()
        for name in names:
            t0 = time.perf_counter()
            try:
                sp = queries[name](spark, sf_dir).toPandas()
                if name in oracles:
                    oc = con.sql(oracles[name]).df()
                    ok = len(sp) == len(oc) and _canon_hash(sp) == _canon_hash(oc)
                    status = "PASS" if ok else "FAIL"
                    detail = f"spark={len(sp)} oracle={len(oc)}"
                    if not ok and len(sp) == len(oc):
                        detail += " hash-mismatch"
                else:
                    status, detail = "ROWS-ONLY", f"spark={len(sp)}"
            except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
                status = "FAIL"
                msg = str(e).splitlines()[0][:120] if str(e) else type(e).__name__
                detail = f"error: {msg}"
            yield name, status, detail, time.perf_counter() - t0


def _patch_default(fn, param: str, value) -> None:
    """Rewrite one keyword default in-place (module-level gate params)."""
    code = fn.__code__
    names = code.co_varnames[: code.co_argcount]
    defaults = list(fn.__defaults__)
    idx = names.index(param) - (code.co_argcount - len(defaults))
    defaults[idx] = value
    fn.__defaults__ = tuple(defaults)


def _force_distributed() -> None:
    """Make every driver-iterate hybrid take its distributed rounds."""
    events._GRAPH_DRIVER_THRESHOLD = -1
    _patch_default(drift._esd_iterate, "driver_threshold", -1)
    _patch_default(dedup.connected_components, "driver_threshold", -1)


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--forced", action="store_true", help="force distributed paths")
    ap.add_argument("sf_dir", nargs="?", help="parquet table directory")
    ap.add_argument("entries", nargs="?", help="N (first N) or comma-separated names")
    args = ap.parse_args()

    if args.forced:
        sf_dir = args.sf_dir or ".scale/sf1.0"
        names = (args.entries or FORCED_NAMES).split(",")
        scope = "forced distributed paths"
        _force_distributed()
    else:
        default_dir = os.path.join(os.path.dirname(entrymod.SF0001), "sf0.01")
        sf_dir = args.sf_dir or default_dir
        names = list(entrymod.queries())
        if args.entries is None:
            scope = "full sweep"
        elif args.entries.isdigit():
            names = names[: int(args.entries)]
            scope = f"first {len(names)} entries"
        else:
            names = args.entries.split(",")
            scope = "named entries"

    spark = get_spark(app_name="attest")
    lines = []
    counts = {"PASS": 0, "ROWS-ONLY": 0, "FAIL": 0}
    for pos, (name, status, detail, dt) in enumerate(
        attest(spark, sf_dir, names), start=1
    ):
        counts[status] += 1
        lines.append(f"| {pos} | {name} | {status} | {detail} | {dt:.1f}s |")
        print(lines[-1], flush=True)

    sf_base = os.path.basename(sf_dir.rstrip("/"))
    if args.forced:
        out_name = f"ATTESTATION_forced_{sf_base}.md"
    elif args.entries is not None:
        out_name = f"ATTESTATION_spot_{sf_base}.md"
    elif sf_base == "sf0.01":
        out_name = "ATTESTATION.md"
    else:
        out_name = f"ATTESTATION_{sf_base}.md"
    summary = " / ".join(f"{n} {s}" for s, n in counts.items())
    forced_note = (
        "Driver-iterate thresholds were patched to -1 (driver path\n"
        "unreachable), so every entry below ran its distributed rounds.\n\n"
        if args.forced
        else ""
    )
    with open(os.path.join(HERE, out_name), "w") as f:
        f.write(
            "# Registry attestation\n\n"
            f"{scope.capitalize()} at `{sf_dir}`: each entry's Spark result is\n"
            "compared with its DuckDB oracle (`oracle_sql()`) under the\n"
            "driver's canonical hash. ROWS-ONLY entries have no oracle: they\n"
            "ran, and nothing checked their values. Positions 1-50 of a full\n"
            "sweep are the external driver's window.\n\n"
            f"{forced_note}"
            f"**{summary} of {len(names)} entries.**\n\n"
            "| # | entry | status | rows | time |\n"
            "|---|-------|--------|------|------|\n"
        )
        f.write("\n".join(lines) + "\n")
    print(f"\n{summary} -> {out_name}")
    sys.exit(1 if counts["FAIL"] else 0)


if __name__ == "__main__":
    main()
