"""Row/column security policies (plans/governance.py): mask semantics,
row-filter pushdown, drops, and the secure-view SQL face."""

import pytest
from pyspark.sql import functions as F

from vptstools_spark.plans.governance import apply_policies


def _people(spark):
    return spark.createDataFrame(
        [
            (1, "Ada Lovelace", "555-0001", 1200.0),
            (2, "Alan Turing", "555-0042", -50.0),
            (3, "Grace Hopper", "555-1906", 9000.0),
        ],
        "id long, name string, phone string, balance double",
    )


def test_mask_kinds(spark):
    df = _people(spark)
    out = apply_policies(
        df,
        {
            "masks": [
                {"column": "name", "kind": "hash"},
                {"column": "phone", "kind": "partial", "keep": 4},
                {"column": "balance", "kind": "null"},
            ]
        },
    )
    rows = {r["id"]: r for r in out.collect()}
    # sha2-256 is deterministic and equality-preserving
    import hashlib

    assert rows[1]["name"] == hashlib.sha256(b"Ada Lovelace").hexdigest()
    assert rows[2]["phone"] == "****0042"
    assert rows[3]["balance"] is None
    # null mask keeps the column TYPE (schema-stable for consumers)
    assert dict(out.dtypes)["balance"] == "double"


def test_partial_mask_short_value_not_padded(spark):
    df = spark.createDataFrame([(1, "ab")], "id long, s string")
    out = apply_policies(df, {"masks": [{"column": "s", "kind": "partial"}]})
    assert out.collect()[0]["s"] == "ab"  # shorter than keep: no stars


def test_redact_and_custom_and_drop(spark):
    out = apply_policies(
        _people(spark),
        {
            "masks": [
                {"column": "phone", "kind": "redact"},
                {
                    "column": "balance",
                    "kind": "custom",
                    "expr": "CASE WHEN balance < 0 THEN 'neg' ELSE 'pos' END",
                },
            ],
            "drop": ["name"],
        },
    )
    assert "name" not in out.columns
    r = {x["id"]: x for x in out.collect()}
    assert r[1]["phone"] == "[REDACTED]" and r[2]["balance"] == "neg"


def test_row_filter_sees_true_values_and_pushes_down(spark, tmp_path):
    p = str(tmp_path / "people")
    _people(spark).write.parquet(p)
    df = spark.read.parquet(p)
    out = apply_policies(
        df,
        {
            "row_filter": "balance > 0",
            "masks": [{"column": "balance", "kind": "null"}],
        },
    )
    # filter evaluated on TRUE values even though the column is masked
    assert sorted(r["id"] for r in out.collect()) == [1, 3]
    # and it reaches the parquet scan as a pushed filter
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThan(balance" in plan


def test_unknown_column_errors(spark):
    with pytest.raises(ValueError, match="unknown column"):
        apply_policies(
            _people(spark), {"masks": [{"column": "nope", "kind": "hash"}]}
        )
    with pytest.raises(ValueError, match="unknown columns"):
        apply_policies(_people(spark), {"drop": ["nope"]})
    with pytest.raises(ValueError, match="unknown mask kind"):
        apply_policies(
            _people(spark), {"masks": [{"column": "name", "kind": "rot13"}]}
        )


# ---------------------------------------------------------------------------
# GDPR erase-and-forget lifecycle
# ---------------------------------------------------------------------------


def _walk_parquet_values(data_dir, column):
    """Byte-level probe: every value of `column` in every parquet file
    still on disk under the table's data dir."""
    import os

    import pyarrow.parquet as pq

    vals = set()
    for root, _dirs, files in os.walk(data_dir):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(root, f))
            if column in t.column_names:
                vals |= set(t[column].to_pylist())
    return vals


def test_erase_and_forget_removes_bytes_and_history(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from vptstools_spark.plans.governance import erase_and_forget
    from vptstools_spark.plans.timetravel import (
        commit_append,
        commit_initial,
        read_version,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("part"),
        (F.col("id") * 1.5).alias("v"),
    )
    commit_initial(df, path, ["part"])
    commit_append(spark, path, df.withColumn("k", F.col("k") + 1000))
    subjects = spark.createDataFrame([(7,), (1007,), (500,)], "k long")

    proof = erase_and_forget(spark, path, subjects, ["k"])
    assert proof["n_residual_raw"] == 0
    assert proof["expired"]  # pre-erasure history gone
    assert proof["vacuumed_files"] > 0
    t = read_version(spark, path)
    assert t.count() == 1997
    assert t.filter("k in (7, 1007, 500)").count() == 0
    # byte-level: no parquet file on disk still holds the subjects
    on_disk = _walk_parquet_values(os.path.join(path, "data"), "k")
    assert not ({7, 1007, 500} & on_disk)
    # and old versions can no longer resurrect them
    import pytest

    with pytest.raises(Exception):
        read_version(spark, path, 0).collect()


def test_erase_without_forget_keeps_history(spark, tmp_path):
    from pyspark.sql import functions as F

    from vptstools_spark.plans.governance import erase_and_forget
    from vptstools_spark.plans.timetravel import commit_initial, read_version

    path = str(tmp_path / "t")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    commit_initial(df, path, [])
    proof = erase_and_forget(
        spark, path, spark.createDataFrame([(5,)], "k long"), ["k"],
        expire=False, vacuum=False,
    )
    # logically erased, physically purged from the live snapshot…
    assert proof["n_residual_raw"] == 0
    assert read_version(spark, path).filter("k = 5").count() == 0
    # …but the pinned pre-erasure snapshot still serves (no expiry)
    assert read_version(spark, path, 0).filter("k = 5").count() == 1
