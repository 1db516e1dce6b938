"""operators/blocking.py on hand-built frames, against brute-force pairs."""

from __future__ import annotations

import random
from collections import Counter
from itertools import combinations

from queue_system_simulator_spark.operators.blocking import band_join, posting_pairs


def _pairs(df) -> Counter:
    return Counter((r.doc_a, r.doc_b) for r in df.select("doc_a", "doc_b").collect())


def test_band_join_equals_brute_force_on_multi_column_keys(spark):
    rng = random.Random(7)
    rows = [
        (rng.randrange(12), rng.randrange(3), rng.choice("xyz")) for _ in range(40)
    ]
    frame = spark.createDataFrame(rows, "id long, band int, key string")
    want = Counter(
        (r[0], s[0])
        for r in rows
        for s in rows
        if r[1:] == s[1:] and r[0] < s[0]
    )
    assert sum(want.values()) > 10
    assert _pairs(band_join(frame, "id", ["band", "key"])) == want


def test_pair_colliding_in_two_bands_appears_twice_before_distinct(spark):
    frame = spark.createDataFrame(
        [(1, 0, "x"), (2, 0, "x"), (1, 1, "y"), (2, 1, "y"), (1, 2, "z"), (2, 2, "w")],
        "doc_id long, band int, band_key string",
    )
    cand = band_join(frame, "doc_id", ["band", "band_key"])
    assert _pairs(cand) == Counter({(1, 2): 2})
    assert _pairs(cand.distinct()) == Counter({(1, 2): 1})


def test_null_keys_never_pair(spark):
    frame = spark.createDataFrame(
        [(1, None, 0), (2, None, 0), (3, "k", 0), (4, "k", 0), (5, "k", None)],
        "id long, key string, band int",
    )
    assert _pairs(band_join(frame, "id", ["key", "band"])) == Counter({(3, 4): 1})


def test_carried_columns_come_back_on_their_side(spark):
    names = {1: "one", 2: "two", 3: "three"}
    frame = spark.createDataFrame(
        [(i, "k", n, 10 * i) for i, n in names.items()],
        "doc_id long, shingle string, tag string, n long",
    )
    out = band_join(frame, "doc_id", ["shingle"], carry=["tag", "n"])
    assert out.columns == ["doc_a", "doc_b", "tag_a", "tag_b", "n_a", "n_b"]
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        (a, b, names[a], names[b], 10 * a, 10 * b)
        for a, b in combinations(sorted(names), 2)
    ]


def test_posting_pairs_counts_equal_self_join_and_count(spark):
    rng = random.Random(11)
    rows = sorted(
        {(rng.randrange(15), rng.choice("pq"), f"t{rng.randrange(6)}") for _ in range(60)}
    )
    sh = spark.createDataFrame(rows, "doc_id long, source string, shingle string")
    want = Counter(
        (r[0], s[0])
        for r in rows
        for s in rows
        if r[1:] == s[1:] and r[0] < s[0]
    )
    assert max(want.values()) > 1
    got = posting_pairs(sh, "doc_id", "shingle", block=["source"])
    assert got.columns == ["doc_a", "doc_b", "n_inter"]
    assert {(r.doc_a, r.doc_b): r.n_inter for r in got.collect()} == dict(want)
    joined = (
        band_join(sh, "doc_id", ["source", "shingle"])
        .groupBy("doc_a", "doc_b")
        .count()
    )
    assert {(r.doc_a, r.doc_b): r["count"] for r in joined.collect()} == dict(want)


def test_posting_pairs_block_separates_equal_tokens(spark):
    sh = spark.createDataFrame(
        [(1, "s1", "t"), (2, "s2", "t"), (3, "s1", "t"), (3, "s1", "u"), (1, "s1", "u")],
        "doc_id long, source string, shingle string",
    )
    blocked = posting_pairs(sh, "doc_id", "shingle", block=["source"])
    assert sorted(tuple(r) for r in blocked.collect()) == [(1, 3, 2)]
    unblocked = posting_pairs(sh, "doc_id", "shingle")
    assert sorted(tuple(r) for r in unblocked.collect()) == [
        (1, 2, 1),
        (1, 3, 2),
        (2, 3, 1),
    ]
