"""Candidate generation (blocking) for every pair emitter.

Near-duplicate queries filter, then refine: a keyed blocking step emits the
candidate pairs that share a key (never all-pairs), and the caller verifies
only those (exact Jaccard, signature agreement, hamming).

* :func:`band_join` — equi-self-join on the keys (LSH bands, prefix
  shingles).  It returns one row per colliding key row, so a pair that
  shares several bands appears once per band: callers dedup as they need
  (``distinct``, a pinned ``dropDuplicates``, or a ``groupBy`` count).
* :func:`posting_pairs` — the inverted-index form of a self-join plus count:
  the token frame crosses the shuffle once and there is no join.

A hot key (a stop-shingle, a popular band bucket) makes one quadratic
posting list or join partition; :func:`operators.skew.salted_join` is the
explicit remedy beside AQE's skew-join handling.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PAIRS_SQL = (
    "flatten(transform(docs, (x, i) -> "
    "transform(slice(docs, i + 2, size(docs)), "
    "y -> struct(x AS doc_a, y AS doc_b))))"
)


def band_join(
    frame: DataFrame, id_col: str, keys: Sequence[str], carry: Sequence[str] = ()
) -> DataFrame:
    """Rows of ``frame`` paired with every row equal on all ``keys`` and a
    larger ``id_col``: ``(doc_a, doc_b, <c>_a, <c>_b for c in carry)``.
    Null keys never pair (SQL equality)."""
    a, b = frame.alias("a"), frame.alias("b")
    same_keys = reduce(
        lambda x, y: x & y, [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    )
    cond = same_keys & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    return a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
        *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"],
    )


def posting_pairs(
    sh: DataFrame, id_col: str, token_col: str, block: Sequence[str] = ()
) -> DataFrame:
    """``(doc_a, doc_b, n_inter)``: for each id pair ``doc_a < doc_b``, the
    number of ``(*block, token)`` posting lists holding both ids.  Each list
    is collected and sorted, and its ``C(k, 2)`` pairs are emitted JVM-side.
    ``sh`` holds one row per distinct ``(*block, token, id)``."""
    posting = sh.groupBy(*block, token_col).agg(
        F.sort_array(F.collect_list(id_col)).alias("docs")
    )
    return (
        posting.select(F.explode(F.expr(_PAIRS_SQL)).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
