"""Property test for `rollup.grouped_stream`, the group scaffold under
every per-group kernel, as a pure function (no Spark): for ANY sorted
stream of groups — one string key or a (string, int) key, cut into
Arrow batches at random points, with empty batches and one group that
runs through three or more batches — every group reaches `emit`
exactly once, whole and in order, and every `emit` call gets only
complete groups, contiguous from row 0 of its batch."""

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from drought_t_spark.operators.rollup import grouped_stream


@st.composite
def streams(draw):
    """(key column names, rows as a Table, batch cut points)."""
    two = draw(st.booleans())
    key = st.tuples(st.sampled_from("abcdef"), st.integers(0, 3) if two else st.just(0))
    keys = sorted(draw(st.lists(key, min_size=1, max_size=8, unique=True)))
    sizes = draw(st.lists(st.integers(1, 6), min_size=len(keys), max_size=len(keys)))
    # one group long enough to be cut twice inside: it spans >= 3 batches
    big = draw(st.integers(0, len(keys) - 1))
    sizes[big] = draw(st.integers(3, 12))
    ends = np.cumsum(sizes)
    lo = ends[big] - sizes[big]
    inner = draw(st.lists(st.integers(lo + 1, ends[big] - 1), min_size=2, max_size=2,
                          unique=True))
    # a repeated cut point gives an empty batch (the first one inside
    # the long group); random ones may land anywhere, the ends included
    anywhere = draw(st.lists(st.integers(0, int(ends[-1])), max_size=8))
    cuts = sorted(inner + inner[:1] + anywhere)
    rows = [k for k, n in zip(keys, sizes) for _ in range(n)]
    cols = {"src": pa.array([k[0] for k in rows], pa.string()),
            "row": pa.array(np.arange(len(rows)))}
    names = ["src"]
    if two:
        cols["n"] = pa.array([k[1] for k in rows], pa.int32())
        names.append("n")
    return names, pa.table(cols), cuts


@given(streams())
@settings(max_examples=300, deadline=None)
def test_every_group_reaches_emit_once_whole_in_order(case):
    key_cols, table, cuts = case
    bounds = [0, *cuts, table.num_rows]
    batches = [table.slice(a, b - a).combine_chunks().to_batches(max_chunksize=None)
               for a, b in zip(bounds[:-1], bounds[1:])]
    batches = [rb[0] if rb else pa.RecordBatch.from_pylist([], schema=table.schema)
               for rb in batches]

    seen = []

    def emit(rb, starts, ends):
        assert starts[0] == 0 and ends[-1] == rb.num_rows
        np.testing.assert_array_equal(starts[1:], ends[:-1])
        for s, e in zip(starts, ends):
            grp = rb.slice(s, e - s).to_pydict()
            seen.append((tuple(grp[c][0] for c in key_cols), grp["row"]))
        return pa.RecordBatch.from_arrays([pa.array(ends - starts)], ["n"])

    out = list(grouped_stream(iter(batches), key_cols, emit))

    want = {}
    rows = table.to_pydict()
    for i in range(table.num_rows):
        want.setdefault(tuple(rows[c][i] for c in key_cols), []).append(i)
    assert seen == list(want.items())
    assert sum(rb.num_rows for rb in out) == len(want)
