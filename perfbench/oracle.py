"""DuckDB references for the output checks, computed straight from the
generated parquet, and the comparison rule: integer columns exactly,
real columns equal after rounding to 6 decimals (the oracle
convention), within one rounding unit to absorb engine summation
order."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

Q_BIN = 64.0  # histogram bin width of the serve spec
# Distinct counts are HLL estimates (DataSketches, lgK = 12: relative
# standard error 1.04 / sqrt(2**12) = 1.6%, exact in coupon mode at small
# counts); they must lie within five standard errors of the true count.
HLL_TOL = 5 * 1.04 / 2**6


def con() -> duckdb.DuckDBPyConnection:
    c = duckdb.connect()
    c.execute("SET threads TO 1")
    return c


def _src(files: list[str]) -> str:
    quoted = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return f"(SELECT *, epoch_us(event_time) // 1000000 AS sec FROM read_parquet([{quoted}]))"


def day_totals(c, files) -> pd.DataFrame:
    return c.execute(
        f"SELECT CAST(sec // 86400 * 86400 AS BIGINT) AS day, count(*) AS rows, "
        f"CAST(sum(n_tok) AS BIGINT) AS toks FROM {_src(files)} GROUP BY 1 ORDER BY 1"
    ).df()


def range_rollup(c, files, t_from, t_to, step) -> pd.DataFrame:
    return c.execute(
        f"""SELECT source, CAST(sec // {step} * {step} AS BIGINT) AS b,
                   count(*) AS cnt, CAST(sum(n_tok) AS BIGINT) AS sum_n_tok,
                   min(n_tok) AS min_n_tok, max(n_tok) AS max_n_tok,
                   CAST(sum(n_tok) AS DOUBLE) / {float(step)} AS rate
            FROM {_src(files)} WHERE sec >= {t_from} AND sec < {t_to}
            GROUP BY 1, 2"""
    ).df()


def range_distinct(c, files, t_from, t_to, step) -> pd.DataFrame:
    return c.execute(
        f"""SELECT source, CAST(sec // {step} * {step} AS BIGINT) AS b,
                   count(DISTINCT doc_id) AS n_distinct, count(*) AS cnt
            FROM {_src(files)} WHERE sec >= {t_from} AND sec < {t_to}
            GROUP BY 1, 2"""
    ).df()


def range_quantiles(c, files, t_from, t_to, step, qs=(0.5, 0.95, 0.99)) -> pd.DataFrame:
    """Histogram-tier quantile rule: the lower edge of the smallest bin
    whose running count reaches ceil(q * total)."""
    cols = ", ".join(
        f"min(CASE WHEN cum >= ceil({q} * tot) THEN bin END) * {Q_BIN} AS p{int(round(q * 100))}"
        for q in qs
    )
    return c.execute(
        f"""WITH h AS (
              SELECT source, CAST(sec // {step} * {step} AS BIGINT) AS b,
                     CAST(floor(n_tok / {Q_BIN}) AS BIGINT) AS bin, count(*) AS c
              FROM {_src(files)} WHERE sec >= {t_from} AND sec < {t_to}
              GROUP BY 1, 2, 3),
            w AS (
              SELECT *, sum(c) OVER (PARTITION BY source, b ORDER BY bin
                                     ROWS UNBOUNDED PRECEDING) AS cum,
                        sum(c) OVER (PARTITION BY source, b) AS tot
              FROM h)
            SELECT source, b, CAST(sum(c) AS BIGINT) AS cnt, {cols}
            FROM w GROUP BY 1, 2"""
    ).df()


def window_asof(c, pop: pd.DataFrame, peri_file: str, horizon, memory) -> pd.DataFrame:
    c.register("pop_sample", pop)
    return c.execute(
        f"""SELECT o.o_orderkey,
                   count(e.value) AS count,
                   coalesce(sum(e.value), 0.0) AS sum,
                   avg(e.value) AS avg, min(e.value) AS min, max(e.value) AS max,
                   median(e.value) AS median,
                   quantile_cont(e.value, 0.90) AS q90,
                   arg_min(e.value, epoch_us(e.ts)) AS first,
                   arg_max(e.value, epoch_us(e.ts)) AS last
            FROM pop_sample o LEFT JOIN read_parquet('{peri_file}') e
              ON e.user_id = o.o_custkey
             AND epoch_us(e.ts) <= epoch_us(o.pop_ts) - {int(horizon * 1e6)}
             AND epoch_us(e.ts) >  epoch_us(o.pop_ts) - {int((horizon + memory) * 1e6)}
            GROUP BY 1"""
    ).df()


def window_fastprop(c, pop: pd.DataFrame, peri_file: str, horizon, memory, aggs, n_lags=2):
    c.register("pop_sample", pop)
    h_us, mem_us = int(horizon * 1e6), int(memory * 1e6)
    step = mem_us // n_lags
    delta = "(epoch_us(o.pop_ts) - epoch_us(e.ts))"
    conds = {"all": None}
    for r in (1, 2, 3):
        conds[f"event_type_top{r}"] = f"e.event_type = (SELECT catv FROM cats WHERE rk = {r})"
    for j in range(n_lags):
        conds[f"lag{j}"] = f"{delta} >= {h_us + j * step} AND {delta} < {h_us + (j + 1) * step}"
    tpl = {
        "count": "count({x})",
        "sum": "coalesce(sum({x}), 0.0)",
        "avg": "avg({x})",
        "min": "min({x})",
        "max": "max({x})",
    }
    cols = []
    for name, cond in conds.items():
        x = "e.value" if cond is None else f"CASE WHEN {cond} THEN e.value END"
        cols += [f'{tpl[a].format(x=x)} AS "{a}__value__{name}"' for a in aggs]
    return c.execute(
        f"""WITH cats AS (
              SELECT event_type AS catv,
                     row_number() OVER (ORDER BY count(*) DESC, event_type) AS rk
              FROM read_parquet('{peri_file}') GROUP BY event_type)
            SELECT o.o_orderkey, {", ".join(cols)}
            FROM pop_sample o LEFT JOIN read_parquet('{peri_file}') e
              ON e.user_id = o.o_custkey
             AND epoch_us(e.ts) <= epoch_us(o.pop_ts) - {h_us}
             AND epoch_us(e.ts) >  epoch_us(o.pop_ts) - {h_us + mem_us}
            GROUP BY 1"""
    ).df()


def _round6(x):
    return np.floor(np.asarray(x, dtype=np.float64) * 1e6 + 0.5) / 1e6


def frames_equal(
    got: pd.DataFrame, want: pd.DataFrame, keys: list[str], rel_tol: dict | None = None
) -> str | None:
    """None when equal, else a one-line description of the first
    mismatch. Compares want's columns; integer columns exactly, real
    columns after rounding to 6 decimals, columns in ``rel_tol`` within
    that share of want's value."""
    rel_tol = rel_tol or {}
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    g = got.sort_values(keys).reset_index(drop=True)
    w = want.sort_values(keys).reset_index(drop=True)
    for col in want.columns:
        a, b = g[col].to_numpy(), w[col].to_numpy()
        if col in rel_tol:
            bad = ~(np.abs(a.astype(float) - b) <= rel_tol[col] * np.abs(b.astype(float)))
        elif col in keys or not (
            np.issubdtype(a.dtype, np.floating) or np.issubdtype(b.dtype, np.floating)
        ):
            bad = ~(a == b)
        else:
            a, b = _round6(a), _round6(b)
            both_nan = np.isnan(a) & np.isnan(b)
            bad = ~(both_nan | (np.abs(a - b) <= 1.5e-6))
        if bad.any():
            i = int(np.argmax(bad))
            return f"{col} at {dict(w.loc[i, keys])}: {a[i]!r} != {b[i]!r}"
    return None
