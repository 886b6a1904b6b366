"""Property-based tests for the round-8 operators, each checked
against a plain-Python reference model (the §2at lesson: an oracle
gate proves ENGINE AGREEMENT; semantic contracts need an independent
model). One Spark job per example, tiny frames."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from public_projet_data_engineering_tarification_electrique_spark.operators.merge import (
    merge_into,
    src,
)
from public_projet_data_engineering_tarification_electrique_spark.operators.shards import (
    global_ntile,
)
from public_projet_data_engineering_tarification_electrique_spark.operators.util import (
    scoped_conf,
)

keys = st.integers(min_value=0, max_value=12)


def _ntile_model(n_rows: int, n_tiles: int) -> list[int]:
    """ANSI NTILE over ranks 1..n_rows: first n_rows % n_tiles tiles
    get ceil(n/n), the rest floor(n/n)."""
    q, r = divmod(n_rows, n_tiles)
    out = []
    for tile in range(1, n_tiles + 1):
        out.extend([tile] * (q + 1 if tile <= r else q))
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.integers(min_value=0, max_value=40),
    st.integers(min_value=1, max_value=9),
)
def test_global_ntile_matches_ansi_model(spark, n_rows, n_tiles):
    df = spark.range(n_rows).select(
        F.col("id").alias("k"), (F.col("id") * 13 % 7).alias("v")
    )
    with scoped_conf(spark, "spark.sql.shuffle.partitions", 3):
        got = [
            r["t"]
            for r in global_ntile(
                df, [F.asc("v"), F.asc("k")], n_tiles, tile_col="t"
            )
            .orderBy(F.asc("v"), F.asc("k"))
            .collect()
        ]
    assert got == _ntile_model(n_rows, n_tiles)


def _merge_model(target, source):
    """dict model of q229's clause set: matched+D delete, matched
    update v-sum/tag-lww, src-only+not-D insert, target-only keep."""
    out = dict(target)
    for k, (v, tag, op) in source.items():
        if k in out:
            if op == "D":
                del out[k]
            else:
                out[k] = (out[k][0] + v, tag)
        elif op != "D":
            out[k] = (v, tag)
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.dictionaries(keys, st.integers(-50, 50), max_size=8),
    st.dictionaries(
        keys,
        st.tuples(
            st.integers(-50, 50),
            st.sampled_from(["a", "b"]),
            st.sampled_from(["U", "D"]),
        ),
        max_size=8,
    ),
)
def test_merge_into_matches_dict_model(spark, tgt, srcd):
    target_rows = [(k, v, "t") for k, v in tgt.items()]
    source_rows = [(k, v, tag, op) for k, (v, tag, op) in srcd.items()]
    target = spark.createDataFrame(
        target_rows or [(None, None, None)], "k long, v long, tag string"
    )
    if not target_rows:
        target = target.filter(F.lit(False))
    source = spark.createDataFrame(
        source_rows or [(None, None, None, None)],
        "k long, v long, tag string, op string",
    )
    if not source_rows:
        source = source.filter(F.lit(False))
    got = {
        r["k"]: (r["v"], r["tag"])
        for r in merge_into(
            target,
            source,
            keys=["k"],
            update_set={"v": F.col("v") + src("v"), "tag": src("tag")},
            delete_when=src("op") == "D",
            insert_when=src("op") != "D",
        ).collect()
    }
    want = _merge_model(
        {k: (v, "t") for k, v in tgt.items()}, srcd
    )
    assert got == want
