"""Driver-contract conformance: every ``queries()`` entry runs; every
``oracle_sql()`` entry matches the Spark result exactly (row count, schema
shape, order-insensitive values) — the same comparison the round driver does,
at sf0.001 for speed (the driver uses sf0.01)."""

from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from "
                f"read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            # driver-gate semantics (tools/verify_contract.canon):
            # object cells compare as strings — Spark hands back
            # decimal.Decimal where DuckDB hands back str for hugeint
            pdf[c] = pdf[c].astype(str)
            continue
        if np.issubdtype(pdf[c].dtype, np.floating):
            pdf[c] = pdf[c].astype("float64")
        elif np.issubdtype(pdf[c].dtype, np.integer):
            pdf[c] = pdf[c].astype("float64")  # unify int widths for compare
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"doc_id", "source", "ts", "features"}


try:
    from _golden_oracles import SF001_PINNED as _SF001_PINNED
except ImportError:
    _SF001_PINNED = set()


def test_all_queries_run(spark):
    """Every query runs at sf0.001: the oracle test below runs all but the
    sf0.01-pinned ones there, so only those run here."""
    for name in sorted(_SF001_PINNED):
        df = entrymod.queries()[name](spark, SF_DIR)
        assert df.count() >= 0, name


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    # sketch-dedup goldens are pinned to the driver's sf0.01 input tables;
    # run those at sf0.01 (the synthesized-input goldens are sf-independent)
    sf_dir = ("/root/testdata/sf0.01" if name in _SF001_PINNED else SF_DIR)
    got_raw = q(spark, sf_dir).toPandas()
    exp_raw = duck.sql(entrymod.oracle_sql()[name]).df()
    # dtype-strict like tools/verify_contract (which caught an
    # int32-vs-int64 divergence this harness' width-unifying compare
    # passed): integer-width and float-vs-int mismatches fail here too
    for c in sorted(set(got_raw.columns) & set(exp_raw.columns)):
        gd, ed = got_raw[c].dtype, exp_raw[c].dtype
        if gd != object and ed != object:
            assert gd == ed, f"{name}.{c}: spark {gd} vs oracle {ed}"
    got = _normalize(got_raw)
    exp = _normalize(exp_raw)
    assert list(got.columns) == list(exp.columns), name
    assert len(got) == len(exp), name
    pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                  check_exact=True, obj=name)


def test_query_counts_match_docs():
    """The docstring counts in __spark_entry__ and README must track
    len(queries())/len(oracle_sql()) — they drifted once (r2 verdict #4)."""
    n_q = len(entrymod.queries())
    n_o = len(entrymod.oracle_sql())
    doc = entrymod.__doc__
    assert f"{n_q} queries" in doc, (n_q, "not in entry docstring")
    assert f"{n_o} with exact DuckDB oracles" in doc, (n_o, doc)
    readme = (Path(__file__).resolve().parents[1] / "README.md").read_text()
    assert f"{n_q} queries" in readme
    # every query has an oracle entry (rows-only queries would show up here)
    assert sorted(entrymod.oracle_sql()) == sorted(entrymod.queries())
