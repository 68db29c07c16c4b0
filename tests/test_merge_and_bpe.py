"""Operator-level tests for the reusable MERGE and BPE APIs (their
registry instances — merge_upsert_cdc, bpe_pair_merges — carry the
cross-engine oracle proof; these pin the generic API semantics)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from copenhagen_traffic_and_weather_etl_pipeline_spark.functions.bpe import (
    encode_with_merges,
    learn_bpe,
    word_frequencies,
)
from copenhagen_traffic_and_weather_etl_pipeline_spark.operators.merge import merge_into
from copenhagen_traffic_and_weather_etl_pipeline_spark.testdata import sf_dir


def test_merge_into_four_semantics(spark):
    target = spark.createDataFrame(
        [Row(k=1, a="t1", b=10), Row(k=2, a="t2", b=20), Row(k=3, a="t3", b=30)]
    )
    changes = spark.createDataFrame(
        [
            Row(k=2, op="U", b=200),   # update: only b changes, a passes through
            Row(k=3, op="D", b=None),  # delete
            Row(k=9, op="I", b=900),   # insert: a absent from changes -> NULL
        ]
    )
    out = {r.k: r for r in merge_into(target, changes, key="k").collect()}
    assert set(out) == {1, 2, 9}
    assert out[1].a == "t1" and out[1].b == 10      # untouched
    assert out[2].a == "t2" and out[2].b == 200     # update keeps a
    assert out[9].a is None and out[9].b == 900     # insert
    assert set(merge_into(target, changes, "k").columns) == {"k", "a", "b"}


def test_merge_into_change_only_column_appends(spark):
    target = spark.createDataFrame([Row(k=1, a="x")])
    changes = spark.createDataFrame([Row(k=1, op="U", extra=5)])
    row = merge_into(target, changes, "k").collect()[0]
    assert row.a == "x" and row.extra == 5


def test_learn_bpe_matches_registry_query(spark):
    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import (
        REGISTRY,
        load,
    )

    sf = sf_dir("0.001")
    docs = load(spark, sf, "documents")
    got = learn_bpe(word_frequencies(docs), 2)
    want = [
        (r.left_sym, r.right_sym, r.pair_count)
        for r in sorted(
            REGISTRY["bpe_pair_merges"].fn(spark, sf).collect(),
            key=lambda r: r.step,
        )
    ]
    assert got == want


def test_encode_with_merges_applies_in_order_within_words(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="hello hell ohl")])
    out = encode_with_merges(docs, [("l", "l", 0), ("h", "e", 0)]).collect()[0]
    # "ll" merges first, then "he"; merges never cross the word gap
    # (the trailing "o"+leading "h" of "hello hell" stay separate).
    assert out.bpe_tokens == "he ll o he ll o h l"


def test_encode_lowercases_like_the_learned_vocabulary(spark):
    # word_frequencies learns over lowercased words, so every casing of
    # a word must encode with the same merges.
    docs = spark.createDataFrame([Row(doc_id=1, text="Hello hello HELLO")])
    merges = learn_bpe(word_frequencies(docs), 2)
    assert [(l, r) for l, r, _ in merges] == [("e", "l"), ("el", "l")]
    out = encode_with_merges(docs, merges).collect()[0]
    assert out.bpe_tokens == "h ell o h ell o h ell o"
