"""pandas-parity scalar expression library (SURVEY §2.8, §4.3.2).

Every helper returns a Column built ONLY from JVM built-ins — they stay
inside whole-stage codegen; no Python crosses the row boundary. Each
docstring cites the reference behavior it reproduces.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

TWO_PI = 2.0 * math.pi

# epoch seconds of the reference's timestamp origin 2017-12-01 UTC
# (reference src/features/engineer.py:27-31: to_datetime(dt, unit='s',
# origin='2017-12-01'))
REF_ORIGIN_EPOCH = 1512086400


def epoch_to_ts(col: Column, origin_epoch: int = REF_ORIGIN_EPOCH) -> Column:
    """F1: epoch-seconds-from-origin -> timestamp."""
    return F.timestamp_seconds(col + F.lit(origin_epoch))


def epoch_us(col: Column) -> Column:
    """Epoch microseconds from ANY timestamp flavor (TIMESTAMP,
    TIMESTAMP_NTZ, or an already-numeric epoch column).

    ``F.unix_micros`` rejects TIMESTAMP_NTZ outright, so a testdata
    format change (tz-less parquet) would otherwise break every epoch
    call site at once. One tolerant helper makes the whole temporal
    family immune: NTZ is first cast to LTZ (the engine session is
    pinned UTC, so the instant is unchanged)."""
    return F.unix_micros(col.cast("timestamp"))


def epoch_s(col: Column) -> Column:
    """Epoch seconds (fractional) from any timestamp flavor."""
    return epoch_us(col) / F.lit(1_000_000.0)


def pandas_dow(ts: Column) -> Column:
    """F2: day-of-week with pandas origin (Mon=0..Sun=6).

    Spark's dayofweek is Sun=1..Sat=7 (reference engineer.py:35 uses
    pandas .dt.dayofweek, Mon=0)."""
    return (F.dayofweek(ts) + F.lit(5)) % 7


def cyclical(col: Column, period: float) -> tuple[Column, Column]:
    """F3: sin/cos cyclical encoding (engineer.py:41-48)."""
    angle = F.lit(TWO_PI) * col / F.lit(period)
    return F.sin(angle), F.cos(angle)


def has_decimal(col: Column) -> Column:
    """F5 (engineer.py:234-240): amt % 1 > 0 flag."""
    return (col % F.lit(1.0) > 0).cast("int")


def is_round_number(col: Column, base: int) -> Column:
    """F5: amt % base == 0 flag (base 10 / 100)."""
    return (col % F.lit(float(base)) == 0).cast("int")


def zscore(col: Column, mean: Column, std: Column) -> Column:
    """F6 (engineer.py:246-248): (x - mean)/(std + 1) — note the reference's
    +1 denominator (not epsilon), preserved for parity."""
    return (col - mean) / (std + F.lit(1.0))


AMOUNT_BIN_SPLITS = [50.0, 100.0, 200.0, 500.0, 1000.0, 5000.0]


def amount_bin(col: Column, splits: list[float] = AMOUNT_BIN_SPLITS) -> Column:
    """F7 (engineer.py:251-255): pd.cut with right-closed bins
    (-inf,50],(50,100],...,(5000,inf) -> labels 0..6."""
    expr = None
    for i, s in enumerate(splits):
        cond = col <= F.lit(s)
        expr = F.when(cond, i) if expr is None else expr.when(cond, i)
    return expr.otherwise(len(splits)).cast("int")


def sigmoid(x: Column) -> Column:
    """F8 (api/main.py:199): 1/(1+exp(-x))."""
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-x))


def heuristic_score(amount: Column) -> Column:
    """F8 (api/main.py:199-221): sigmoid amount heuristic base score."""
    return sigmoid(F.lit(0.003) * (amount - F.lit(500.0)))


def clip(col: Column, lo: float, hi: float) -> Column:
    """P8 (loader.py:128): np.clip."""
    return F.greatest(F.least(col, F.lit(hi)), F.lit(lo))


def missing_indicator(col: Column) -> Column:
    """F9 (preprocessor.py:51-66): isnull -> 0/1 indicator column."""
    return col.isNull().cast("int")


def impute_categorical(col: Column, fill: str = "missing") -> Column:
    """F9: categoricals -> 'missing'."""
    return F.coalesce(col, F.lit(fill))


def impute_numeric(col: Column, sentinel: float = -999.0) -> Column:
    """F9: numerics -> -999 sentinel (kept for tree-model parity)."""
    return F.coalesce(col, F.lit(sentinel))


def scrub(col: Column, nan: float = -999.0, posinf: float = 999.0, neginf: float = -999.0) -> Column:
    """F12 (sequence_builder.py:85): np.nan_to_num."""
    return (
        F.when(col.isNull() | F.isnan(col), F.lit(nan))
        .when(col == F.lit(float("inf")), F.lit(posinf))
        .when(col == F.lit(float("-inf")), F.lit(neginf))
        .otherwise(col)
    )


RISK_THRESHOLDS = (0.8, 0.6, 0.4, 0.2)  # config/config.yaml:85-88
RISK_LABELS = ("CRITICAL", "HIGH", "MEDIUM", "LOW", "MINIMAL")


def risk_bucket(score: Column) -> Column:
    """F14 (api/main.py:332-342): score -> risk label."""
    expr = None
    for t, label in zip(RISK_THRESHOLDS, RISK_LABELS[:-1]):
        cond = score >= F.lit(t)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return expr.otherwise(RISK_LABELS[-1])


def r6(col: Column | str) -> Column:
    """Deterministic 6dp rounding: floor(x*1e6 + 0.5)/1e6.

    Built from IEEE-exact ops (*, +, floor, /) that produce bit-identical
    results in Spark and DuckDB for identical inputs — unlike round(),
    whose tie-breaking differs between the engines (Spark BigDecimal
    HALF_UP vs DuckDB's multiply-and-rint), which flips values like
    58.7546875 at the 5e-7 boundary. Used on every float output column in
    the oracle-checked queries (the SQL twin inlines the same formula)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def dsum(col: Column | str, scale: str = "decimal(25,2)") -> Column:
    """Order-independent exact sum for money-like doubles: cast to decimal,
    sum exactly, cast back. Spark's parallel partial sums and DuckDB's
    (possibly tree-shaped) window sums then agree bit-exactly regardless
    of combination order — doubles alone differ in final ulps, which 6dp
    rounding cannot mask at 1e10 magnitudes."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(scale))


# date_trunc grain -> INTERVAL unit: a shift of n BUCKETS must move in
# the bucket's own unit, or the shifted bucket never equals a
# date_trunc'd one (a day series shifted by "168 HOURS" never aligns)
_GRAIN_UNIT = {
    "minute": "MINUTES",
    "hour": "HOURS",
    "day": "DAYS",
    "week": "WEEKS",
    "month": "MONTHS",
}


def bucket_interval(bucket: str, n: int) -> Column:
    """``INTERVAL n <unit>`` for ``n`` buckets of the ``bucket`` grain;
    an unsupported grain raises ValueError."""
    try:
        unit = _GRAIN_UNIT[bucket]
    except KeyError:
        raise ValueError(
            f"unsupported bucket {bucket!r}; one of {sorted(_GRAIN_UNIT)}"
        ) from None
    return F.expr(f"INTERVAL {int(n)} {unit}")


def feature_hash_slot(col: "Column", dim: int = 64, salt: str = "fh") -> "Column":
    """Hashing-trick slot for a categorical value: md5 bucket mod dim.
    High-cardinality categoricals (merchant ids, devices) map into a
    fixed-width feature space with no vocabulary fit, no dictionary to
    broadcast, and no train/serve skew — the standard scale move when
    label encoding's |keys| dimension stops fitting anywhere. Map-only;
    md5-based so the DuckDB oracle replays membership exactly."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"), col.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    return (h % dim).cast("int")


def feature_hash_sign(col: "Column", salt: str = "fh") -> "Column":
    """±1 sign companion for the hashing trick (Weinberger et al. 2009):
    an independent hash bit; signed collisions cancel in expectation
    instead of always inflating the slot."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}s:"), col.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    return (h % 2 * 2 - 1).cast("int")
