"""Copy-on-write ≡ merge-on-read (hypothesis): any short sequence of
small change batches gives the same rows applied through ``merge_into``
as appended through ``merge_delta`` — read with its deltas resident,
and again after ``compact``. Both sinks run the one guarded merge, so
they agree for ``soft`` tables in any batch order, and for ``hard``
tables when batches arrive in increasing-LSN order (a hard delete drops
the key's LSN watermark, the caveat in ``lake/merge.py``)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from gear5_spark.lake.merge import merge_into
from gear5_spark.lake.mor import compact, merge_delta
from gear5_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
        T.StructField("_cdc_lsn", T.StringType(), True),
    ]
)
DDL = "k string, v long, _cdc_lsn string, op string"
# one change per key per batch (a deduped batch): key -> (op, value)
BATCH = st.dictionaries(
    st.sampled_from("abcd"),
    st.tuples(st.sampled_from(["insert", "update", "delete"]), st.integers(0, 9)),
    min_size=1,
    max_size=3,
)


def _rows(t: LakeTable) -> list[tuple]:
    return sorted(tuple(r) for r in t.read().select("k", "v", "_cdc_lsn").collect())


def _check_sinks_agree(spark, root, delete_mode, batches, lsns):
    cow, mor = (
        LakeTable.create(
            spark, str(root / side), schema=SCHEMA, key_columns=["k"],
            n_buckets=2, extra_properties={"delete_mode": delete_mode},
        )
        for side in ("cow", "mor")
    )
    lsn = iter(lsns)
    for batch in batches:
        rows = [(k, v, str(next(lsn)), op) for k, (op, v) in sorted(batch.items())]
        merge_into(cow, spark.createDataFrame(rows, DDL))
        merge_delta(mor, spark.createDataFrame(rows, DDL))
    want = _rows(cow)
    assert _rows(mor) == want
    compact(mor)
    assert not any(f.get("kind") == "delta" for f in mor.snapshot().files)
    assert _rows(mor) == want


@settings(
    max_examples=5, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(data=st.data())
def test_soft_sinks_agree_in_any_lsn_order(spark, tmp_path_factory, data):
    batches = data.draw(st.lists(BATCH, min_size=1, max_size=3))
    n = sum(len(b) for b in batches)
    lsns = data.draw(
        st.lists(st.integers(1, 10_000), min_size=n, max_size=n, unique=True)
    )
    _check_sinks_agree(
        spark, tmp_path_factory.mktemp("soft"), "soft", batches, lsns
    )


@settings(
    max_examples=4, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(batches=st.lists(BATCH, min_size=1, max_size=3), step=st.integers(1, 500))
def test_hard_sinks_agree_in_increasing_lsn_order(
    spark, tmp_path_factory, batches, step
):
    n = sum(len(b) for b in batches)
    lsns = [5 + i * step for i in range(n)]
    _check_sinks_agree(
        spark, tmp_path_factory.mktemp("hard"), "hard", batches, lsns
    )
