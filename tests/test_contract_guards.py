"""Contract-drift guards: the UDF output frame must match EXTRACT_SCHEMA
column-for-column, every queries() entry must be callable with the driver
signature, and every oracle key must have a query."""

import pandas as pd

import __spark_entry__ as entry_mod
from epstein_browser_spark.udfs import EXTRACT_SCHEMA, extract_pdf_batch


def test_udf_output_matches_schema_columns():
    ddl_cols = [c.strip().split(" ")[0] for c in EXTRACT_SCHEMA.split(",")]
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"], "turn_idx": pd.array([0], dtype="int32"),
            "role": ["u"], "text": ["some ordinary sentence of text"],
            "tool": pd.array([None], dtype=object), "ts_us": [0],
        }
    )
    out = extract_pdf_batch(pdf)
    assert list(out.columns) == ddl_cols


def test_driver_contract_shapes():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) >= 39
    assert set(oracles) <= set(qs)
    assert len(oracles) >= 34
    for name, fn in qs.items():
        assert callable(fn), name
    for name, sql in oracles.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_session_default_shuffle_partitions(spark):
    """Without ``shuffle_partitions``, get_spark sizes the shuffle to the
    parallelism Spark reports for the master; ``extra_conf`` still wins."""
    from epstein_browser_spark.session import get_spark

    key = "spark.sql.shuffle.partitions"
    try:
        spark.conf.set(key, "7")
        assert get_spark(master="local[4]").conf.get(key) == "4"
        assert get_spark(master="local[4]",
                         extra_conf={key: "6"}).conf.get(key) == "6"
    finally:
        spark.conf.set(key, "4")
