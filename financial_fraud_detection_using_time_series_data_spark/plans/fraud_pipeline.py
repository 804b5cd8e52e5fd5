"""End-to-end fraud feature-engineering plan — the Spark re-expression of
the reference's ``FraudFeatureEngineer.fit_transform`` chain
(``src/features/engineer.py:274-312``) + ``DataPreprocessor``
(``src/data/preprocessor.py``).

Stage order mirrors the reference (it matters: velocity reuses the lag
diffs; merchant stats are fit on the train frame only):

    temporal → amount → user-behavioral → velocity → merchant → device →
    fillna(-999)

Everything is one lazy DataFrame composition; Catalyst collapses the
per-stage selects into a handful of window exchanges (one per distinct
partition key: user, (user,merchant), (user,device), merchant keys are
broadcast-joined aggregates).

The reference's per-split recomputation (train_pipeline.py:124-132) gives
val/test rows truncated histories; we compute windows ONCE over the full
table then split — cheaper and leak-free. ``reference_mode=True``
restores the reference's expanding-only semantics (its `lookback_windows`
config is dead code — see SURVEY §2.5 trap).

``engineer_features_split_compat`` restores the reference's PER-SPLIT
recomputation exactly (SURVEY §3.1 compat flag): the chronological
70/15/15 split is assigned FIRST, then every window partition key is
prefixed with the split id — so val/test rows see only split-internal
history, matching `fit_transform(val_df, train_df=train_df)` — while
target-encoding rates are still fit on the train split only and amount
z-stats per scoring frame (the reference's own leakage, preserved
deliberately for parity). Still ONE Spark job: the per-split restart is
a partition-key change, not three pipeline runs.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import exprs as E
from ..functions.lineage import reuse
from ..operators import relational, windows


@dataclass
class FraudPipelineConfig:
    user_col: str = "card1"
    merchant_col: str = "card2"
    device_col: str = "DeviceInfo"
    ts_col: str = "TransactionDT"        # epoch seconds from origin
    amt_col: str = "TransactionAmt"
    label_col: str = "isFraud"
    id_col: str = "TransactionID"
    lookback_days: tuple[int, ...] = (1, 7, 30)  # config.yaml:17
    reference_mode: bool = True          # expanding-only (reference-exact)
    target_encode_default: float = 0.035
    sentinel: float = -999.0
    # when set, every window partition key is prefixed with this column —
    # the reference-exact per-split truncation (train_pipeline.py:124-132)
    split_col: str | None = None


def _pk(cfg: FraudPipelineConfig, *cols: str) -> list[str]:
    """Window partition key, split-prefixed in compat mode."""
    return ([cfg.split_col] if cfg.split_col else []) + list(cols)


def preprocess(df: DataFrame, cfg: FraudPipelineConfig = FraudPipelineConfig()) -> DataFrame:
    """DataPreprocessor.clean_data (preprocessor.py:26-71): missing
    indicators for every nullable column, categorical→'missing',
    numeric→-999 sentinel."""
    string_cols = {c for c, t in df.dtypes if t == "string"}
    num_cols = {
        c for c, t in df.dtypes
        if t in ("double", "float", "int", "bigint") and c not in (cfg.label_col, cfg.id_col)
    }
    # ONE select, not a withColumn per column: each withColumn re-analyzes
    # the whole plan, so ~30 of them cost seconds of driver time on a wide
    # frame (and the result is identical — indicators read the ORIGINAL
    # nullable column, imputed values replace in place, indicators append)
    cols = []
    for c in df.columns:
        if c in string_cols:
            cols.append(E.impute_categorical(F.col(c)).alias(c))
        elif c in num_cols:
            cols.append(E.impute_numeric(F.col(c), cfg.sentinel).alias(c))
        else:
            cols.append(F.col(c))
    cols += [
        E.missing_indicator(F.col(c)).alias(f"{c}_missing")
        for c in df.columns
        if c in string_cols
    ]
    return df.select(*cols)


def temporal_features(df: DataFrame, cfg: FraudPipelineConfig) -> DataFrame:
    """engineer.py:22-57: origin timestamp, parts, cyclical, predicates."""
    ts = E.epoch_to_ts(F.col(cfg.ts_col))
    hour = F.hour(ts)
    dow = E.pandas_dow(ts)
    month = F.month(ts)
    hs, hc = E.cyclical(hour, 24.0)
    ds, dc = E.cyclical(dow, 7.0)
    ms, mc = E.cyclical(month, 12.0)
    day = F.dayofmonth(ts)
    return df.select(
        "*",
        hour.alias("hour"),
        dow.alias("dayofweek"),
        day.alias("day"),
        F.weekofyear(ts).alias("week"),
        month.alias("month"),
        hs.alias("hour_sin"), hc.alias("hour_cos"),
        ds.alias("dow_sin"), dc.alias("dow_cos"),
        ms.alias("month_sin"), mc.alias("month_cos"),
        (dow >= 5).cast("int").alias("is_weekend"),
        ((hour >= 22) | (hour <= 6)).cast("int").alias("is_night"),
        ((hour >= 9) & (hour <= 17)).cast("int").alias("is_business_hours"),
        (day <= 3).cast("int").alias("is_month_start"),
        (day >= 28).cast("int").alias("is_month_end"),
    )


def amount_features(df: DataFrame, cfg: FraudPipelineConfig, train: DataFrame | None = None) -> DataFrame:
    """engineer.py:226-272: log, decimal flags, z-score, percentile, bins.

    NOTE the reference computes the z-score stats on the SCORING frame
    (leakage — engineer.py:246-248); pass ``train`` to fit on train only
    (corrected mode), or None to reproduce reference-exact behavior.
    """
    amt = F.col(cfg.amt_col)
    mu_sigma = [
        (E.dsum(cfg.amt_col).cast("double") / F.count(F.lit(1))).alias("__amt_mu"),
        F.stddev_samp(cfg.amt_col).alias("__amt_sigma"),
    ]
    if cfg.split_col:
        # split-compat: the reference fits z-stats on each SCORING frame
        # (engineer.py:246-248 — its own leakage, preserved for parity),
        # so per-split stats: a 3-row broadcast join instead of crossJoin
        stats = df.groupBy(cfg.split_col).agg(*mu_sigma)
        out = df.join(F.broadcast(stats), cfg.split_col)
    else:
        stats_src = train if train is not None else df
        out = df.crossJoin(F.broadcast(stats_src.agg(*mu_sigma)))
    return out.select(
        "*",
        F.log1p(amt).alias("amount_log"),
        (amt % 1.0).alias("amount_decimal"),
        E.has_decimal(amt).alias("has_decimal"),
        E.is_round_number(amt, 10).alias("is_round_10"),
        E.is_round_number(amt, 100).alias("is_round_100"),
        E.zscore(amt, F.col("__amt_mu"), F.col("__amt_sigma")).alias("amount_zscore"),
        E.amount_bin(amt).alias("amount_bin"),
        windows.pct_rank_pandas(amt, _pk(cfg, cfg.user_col)).alias(
            "amount_percentile_user"
        ),
    ).drop("__amt_mu", "__amt_sigma")


def user_behavior_features(df: DataFrame, cfg: FraudPipelineConfig) -> DataFrame:
    """engineer.py:60-118 (W1-W7, W9). In reference mode the three
    lookback windows are identical expanding copies; corrected mode uses
    real rangeBetween time bounds."""
    w = windows.user_window(_pk(cfg, cfg.user_col), cfg.ts_col, cfg.id_col)
    frame = windows.expanding_frame(w)
    amt = F.col(cfg.amt_col)
    exp_sum = F.sum(amt.cast("decimal(25,2)")).over(frame).cast("double")
    exp_cnt = F.count(F.lit(1)).over(frame)
    exp_avg = exp_sum / exp_cnt
    exp_std = F.stddev_samp(amt).over(frame)
    ts_num = F.col(cfg.ts_col)
    cols = ["*"]
    if cfg.reference_mode:
        for d in cfg.lookback_days:
            cols += [
                (F.row_number().over(w) - 1).alias(f"user_txn_count_{d}d"),
                exp_sum.alias(f"user_total_amount_{d}d"),
                exp_avg.alias(f"user_avg_amount_{d}d"),
                exp_std.alias(f"user_std_amount_{d}d"),
                F.max(amt).over(frame).alias(f"user_max_amount_{d}d"),
                F.min(amt).over(frame).alias(f"user_min_amount_{d}d"),
            ]
    else:
        for d in cfg.lookback_days:
            wb = windows.time_bounded_frame(_pk(cfg, cfg.user_col), ts_num, d)
            dsum = F.sum(amt.cast("decimal(25,2)")).over(wb).cast("double")
            dcnt = F.count(F.lit(1)).over(wb)
            cols += [
                dcnt.alias(f"user_txn_count_{d}d"),
                dsum.alias(f"user_total_amount_{d}d"),
                (dsum / dcnt).alias(f"user_avg_amount_{d}d"),
                F.stddev_samp(amt).over(wb).alias(f"user_std_amount_{d}d"),
                F.max(amt).over(wb).alias(f"user_max_amount_{d}d"),
                F.min(amt).over(wb).alias(f"user_min_amount_{d}d"),
            ]
    cols += [
        ((amt - exp_avg) / (F.coalesce(exp_std, F.lit(1.0)) + F.lit(1.0))).alias("amount_deviation"),
        F.coalesce(ts_num - F.lag(ts_num, 1).over(w), F.lit(0.0)).alias("time_since_last_txn"),
        (F.row_number().over(w) == 1).cast("int").alias("is_first_txn"),
    ]
    return df.select(*cols)


def velocity_features(df: DataFrame, cfg: FraudPipelineConfig) -> DataFrame:
    """engineer.py:120-152: velocity/rate/acceleration block."""
    w = windows.user_window(_pk(cfg, cfg.user_col), cfg.ts_col, cfg.id_col)
    amt = F.col(cfg.amt_col)
    ts_num = F.col(cfg.ts_col)
    td = F.coalesce(ts_num - F.lag(ts_num, 1).over(w), F.lit(0.0))
    td_repl = F.when(td == 0, F.lit(1.0)).otherwise(td)
    rn = F.row_number().over(w)
    cum = F.sum(amt.cast("decimal(25,2)")).over(windows.expanding_frame(w)).cast("double")
    out = df.select(
        "*",
        (rn - 1).alias("txn_velocity_1h"),
        (cum / rn).alias("amount_velocity"),
        td.alias("time_diff"),
        (amt / (td_repl + F.lit(1.0))).alias("spending_rate"),
    )
    w2 = windows.user_window(_pk(cfg, cfg.user_col), cfg.ts_col, cfg.id_col)
    return out.withColumn(
        "spending_acceleration",
        F.coalesce(
            F.col("spending_rate") - F.lag("spending_rate", 1).over(w2), F.lit(0.0)
        ),
    )


def merchant_features(df: DataFrame, cfg: FraudPipelineConfig, train: DataFrame) -> DataFrame:
    """engineer.py:155-194: target-encoding rates (fit on TRAIN only,
    broadcast-joined) + per-(user,merchant) expanding avg + first-pair flag."""
    out = df
    for key, out_col in [
        (cfg.merchant_col, "merchant_fraud_rate"),
        ("ProductCD", "product_fraud_rate"),
        ("card4", "card_fraud_rate"),
    ]:
        if key in df.columns:
            out = relational.target_encode(
                out, train, key, cfg.label_col, out_col, cfg.target_encode_default
            )
    wp = Window.partitionBy(_pk(cfg, cfg.user_col, cfg.merchant_col)).orderBy(
        cfg.ts_col, cfg.id_col
    )
    amt = F.col(cfg.amt_col)
    pair_avg = (
        F.sum(amt.cast("decimal(25,2)"))
        .over(wp.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        / F.count(F.lit(1)).over(wp.rowsBetween(Window.unboundedPreceding, 0))
    )
    return out.select(
        "*",
        pair_avg.alias("user_merchant_avg_amount"),
        (amt / (pair_avg + F.lit(1.0))).alias("amount_vs_user_merchant_avg"),
        (F.row_number().over(wp) == 1).cast("int").alias("is_first_txn_merchant"),
    )


def device_features(
    df: DataFrame, cfg: FraudPipelineConfig, agg_source: DataFrame | None = None
) -> DataFrame:
    """engineer.py:196-224: new-device flag, users-per-device /
    devices-per-user distinct counts (two-phase agg+join, skew-safe).

    ``agg_source``: the raw pipeline input; the distinct counts only need
    its (user, device) pairs, so aggregating it instead of the engineered
    tail avoids re-running the whole upstream join/window chain twice
    (the joins upstream survive column pruning)."""
    wd = Window.partitionBy(_pk(cfg, cfg.user_col, cfg.device_col)).orderBy(
        cfg.ts_col, cfg.id_col
    )
    out = df.withColumn(
        "is_new_device", (F.row_number().over(wd) == 1).cast("int")
    )
    if "DeviceType" in df.columns:
        out = out.withColumn(
            "is_mobile", (F.col("DeviceType") == "mobile").cast("int")
        )
    narrow = (
        agg_source.select(*_pk(cfg, cfg.user_col, cfg.device_col))
        if agg_source is not None
        else None
    )
    out = relational.distinct_count_per_group(
        out, _pk(cfg, cfg.device_col), cfg.user_col, "users_per_device",
        agg_source=narrow,
    )
    out = relational.distinct_count_per_group(
        out, _pk(cfg, cfg.user_col), cfg.device_col, "devices_per_user",
        agg_source=narrow,
    )
    return out


def engineer_features(
    df: DataFrame,
    cfg: FraudPipelineConfig = FraudPipelineConfig(),
    train: DataFrame | None = None,
) -> DataFrame:
    """Full chain in reference order (engineer.py:274-312). ``train``
    defaults to df (fit-on-self, reference behavior for single-frame use)."""
    train = train if train is not None else df
    out = temporal_features(df, cfg)
    out = amount_features(out, cfg)
    out = user_behavior_features(out, cfg)
    out = velocity_features(out, cfg)
    out = merchant_features(out, cfg, train)
    out = device_features(out, cfg, agg_source=df)
    # final fillna(-999) over engineered numerics (engineer.py:307)
    num_cols = [
        c for c, t in out.dtypes
        if t in ("double", "float") and c not in (cfg.label_col,)
    ]
    return out.na.fill(cfg.sentinel, subset=num_cols)


def engineer_features_split_compat(
    df: DataFrame,
    cfg: FraudPipelineConfig = FraudPipelineConfig(),
    fracs: tuple[float, float, float] = (0.7, 0.15, 0.15),
) -> DataFrame:
    """Reference-EXACT per-split feature engineering
    (train_pipeline.py:124-132): assign the chronological 70/15/15 split
    FIRST, then run the full chain with every window partition key
    prefixed by the split id — so each split's expanding windows,
    percentile ranks, pair averages, first-row flags and distinct counts
    restart at its boundary, exactly as the reference's three separate
    `fit_transform` calls produce — while target-encoding rates are fit
    on the TRAIN split only (`train_df=train_df`) and applied to all
    three with the unseen-key default.

    Scale shape: identical to `engineer_features` — the split prefix
    only changes shuffle keys (finer partitions, never coarser), and the
    whole thing stays ONE lazy plan instead of three pipeline runs over
    three frames. The output carries the `split` column."""
    tagged = relational.time_split(
        df, cfg.ts_col, fracs, tiebreak=cfg.id_col, split_col="split"
    )
    # every window family and the train-rates branch share one split pass
    tagged = reuse(tagged)
    cfg2 = replace(cfg, split_col="split")
    train = tagged.filter(F.col("split") == "train")
    return engineer_features(tagged, cfg2, train=train)
