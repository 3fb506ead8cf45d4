"""Mimic the driver's correctness gate: every queries() entry runs at
sf0.001 and matches its oracle_sql() (row count, schema names, and
order-insensitive values) via DuckDB. Catches contract drift before the
driver does."""

from __future__ import annotations

import math
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")
import __spark_entry__ as entrymod  # noqa: E402

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    out.columns = [c.lower() for c in out.columns]
    out = out[sorted(out.columns)]
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = pd.to_datetime(s).dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
        elif s.dtype == object:
            out[c] = s.astype(str)
    return out.sort_values(list(out.columns)).reset_index(drop=True)


ORACLE_CHECKED = sorted(entrymod.oracle_sql().keys())
ROWS_ONLY = sorted(set(entrymod.queries()) - set(ORACLE_CHECKED))


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_query_matches_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    got_raw = q(spark, SF).toPandas()
    want_raw = ddb.execute(entrymod.oracle_sql()[name]).df()
    # the driver's gate is column-ORDER sensitive — compare the UNSORTED
    # lists first, before _canon sorts them away (round-2 lesson:
    # battery_full_1h shipped red on ordering alone)
    assert [c.lower() for c in got_raw.columns] == [
        c.lower() for c in want_raw.columns
    ], (name, list(got_raw.columns), list(want_raw.columns))
    # ... and dtype-sensitive: _canon's tz_localize(None) erases exactly
    # the TIMESTAMPTZ-vs-naive mismatch the driver catches (round-3
    # lesson: battery_full_1h shipped red on DuckDB to_timestamp()
    # returning TIMESTAMP WITH TIME ZONE). Compare tz-awareness on the
    # RAW frames, before canonicalization.
    for gc, wc in zip(got_raw.columns, want_raw.columns):
        g_tz = getattr(got_raw[gc].dtype, "tz", None)
        w_tz = getattr(want_raw[wc].dtype, "tz", None)
        assert (g_tz is None) == (w_tz is None), (
            name, gc, f"tz-awareness mismatch: spark={g_tz} oracle={w_tz}"
        )
    _assert_frames_match(name, got_raw, want_raw)


def _assert_frames_match(name, got_raw, want_raw):
    got = _canon(got_raw)
    want = _canon(want_raw)
    assert len(got) == len(want), (name, len(got), len(want))
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(w):
            gv, wv = g.to_numpy(float), w.to_numpy(float)
            ok = (np.isnan(gv) & np.isnan(wv)) | np.isclose(
                gv, wv, rtol=0, atol=1.5e-6, equal_nan=True
            )
            assert ok.all(), (name, c, gv[~ok][:5], wv[~ok][:5])
            # the driver's gate is a BYTE hash: -0.0 != +0.0 there even
            # though == and isclose say equal (round-4 lesson: DuckDB
            # round(-1e-12, 6) keeps -0.0, Spark's BigDecimal round
            # doesn't). Assert sign-bit equality on non-NaN cells so a
            # fourth mirror-blind byte class can't ship.
            both = ~(np.isnan(gv) | np.isnan(wv))
            sb = np.signbit(gv[both]) == np.signbit(wv[both])
            assert sb.all(), (
                name, c, "signed-zero/sign-bit mismatch",
                gv[both][~sb][:5], wv[both][~sb][:5],
            )
        else:
            assert (g == w).all(), (name, c, g[g != w].head(), w[g != w].head())


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    q = entrymod.queries()[name]
    df = q(spark, SF)
    assert df.count() >= 0
    assert len(df.schema) > 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_battery_1h_keeps_null_user_id_group(spark, tmp_path):
    """A NULL user_id is a group like any other: battery_1h's separate
    count_distinct aggregation must join back null-safely, or the NULL
    group vanishes while the oracle keeps it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ev = pq.read_table(f"{SF}/events.parquet")
    uid = ev.column("user_id").to_pylist()
    for i in range(0, len(uid), 7):
        uid[i] = None
    ev = ev.set_column(
        ev.schema.get_field_index("user_id"), "user_id", pa.array(uid, pa.int64())
    )
    pq.write_table(ev, str(tmp_path / "events.parquet"))

    got = entrymod.queries()["battery_1h"](spark, str(tmp_path)).toPandas()
    assert got["user_id"].isna().any()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'events.parquet'}')"
    )
    want = con.execute(entrymod.oracle_sql()["battery_1h"]).df()
    _assert_frames_match("battery_1h", got, want)


def test_md5_tokens_arrow_null_text_is_null(spark):
    """NULL text tokenizes to NULL in the Arrow kernel, as in the JVM
    form it replaces, instead of failing the task."""
    docs = spark.createDataFrame(
        [(1, "Hello, World 42"), (2, None), (3, "")], "doc_id long, text string"
    )
    rows = docs.select(
        "doc_id",
        entrymod._md5_tokens_arrow().alias("arrow"),
        entrymod._md5_tokens_expr().alias("jvm"),
    ).collect()
    by_id = {r.doc_id: (r.arrow, r.jvm) for r in rows}
    assert by_id[2] == (None, None)
    assert by_id[1][0] == by_id[1][1] and len(by_id[1][0]) == 3
    assert by_id[3][0] == by_id[3][1] == []


def test_shingles_arrow_matches_jvm_on_null_and_blank_text(spark):
    """The Arrow shingle kernel equals its JVM twin on NULL, empty and
    whitespace-only text: each is the single whole-doc shingle [""]."""
    from getml_community_spark.operators.dedup import shingles, shingles_arrow

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   \t\n "), (4, "The cat, the HAT; the bat")],
        "doc_id long, text string",
    )
    rows = docs.select(
        "doc_id",
        shingles_arrow(F.col("text"), 2).alias("arrow"),
        shingles(F.col("text"), 2).alias("jvm"),
    ).collect()
    by_id = {r.doc_id: (r.arrow, r.jvm) for r in rows}
    for doc_id in (1, 2, 3):
        assert by_id[doc_id] == ([""], [""]), doc_id
    assert by_id[4][0] == by_id[4][1] == ["the cat", "cat the", "the hat", "hat the", "the bat"]
