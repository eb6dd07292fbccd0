"""Property-based tests for the pure jobspec helpers."""

from __future__ import annotations

from hypothesis import given
from hypothesis import strategies as st

from hdata_spark.jobspec import expand_shards, mongo_id_split_conditions

_prefix = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz_.", min_size=1, max_size=8
)


@given(
    pre=_prefix,
    lo=st.integers(0, 999),
    hi=st.integers(0, 999),
    width=st.integers(1, 4),
)
def test_expand_shards_range_properties(pre, lo, hi, width):
    """Reference semantics (JDBCSplitter/NumberUtils): inclusive,
    order-insensitive range, zero-padded to the BEGIN token's width,
    deduplicated and sorted."""
    a, b = f"{lo:0{width}d}", f"{hi:0{width}d}"
    out = expand_shards(f"{pre}[{a}-{b}]")
    n = abs(hi - lo) + 1
    assert len(out) == n
    assert out == sorted(set(out))  # deduped + sorted
    assert all(s.startswith(pre) for s in out)
    # every shard number in the inclusive range appears exactly once
    nums = sorted(int(s[len(pre):]) for s in out)
    assert nums == list(range(min(lo, hi), max(lo, hi) + 1))
    # width preserved when the begin token is wide enough
    if width >= 3:
        assert all(len(s) == len(pre) + max(width, len(str(max(lo, hi))))
                   or len(s[len(pre):]) >= width for s in out)


@given(
    span=st.integers(1, 10**12),
    parallelism=st.integers(1, 64),
    base=st.integers(0, 2**40),
)
def test_mongo_split_conditions_cover_range_without_overlap(
    span, parallelism, base
):
    """Splits are contiguous, non-overlapping, inclusive of both endpoints
    (MongoDBSplitter.java:47-89)."""
    lo, hi = format(base, "024x"), format(base + span, "024x")
    splits = mongo_id_split_conditions(lo, hi, parallelism)
    assert len(splits) == parallelism
    assert splits[0]["_id"]["$gte"] == lo
    assert splits[-1]["_id"]["$lte"] == hi
    for prev, nxt in zip(splits, splits[1:]):
        assert prev["_id"]["$lt"] == nxt["_id"]["$gte"]  # contiguous
    for s in splits[:-1]:
        assert int(s["_id"]["$lt"], 16) >= int(s["_id"]["$gte"], 16)
