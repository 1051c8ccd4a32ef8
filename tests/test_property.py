"""Property-based tests (hypothesis) — randomized codec round-trips and
scoring invariants, beyond the reference's example-based unit tests
(SURVEY.md §5: Ivory has no property-based testing; we add it)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from codec_ref import decode_run, encode_run
from ivory_spark.functions.scoring import bm25_idf, bm25_max_score, bm25_tf_part, group_sum_f32
from ivory_spark.index import codec


@st.composite
def postings_run(draw):
    n = draw(st.integers(min_value=1, max_value=600))
    gaps = draw(
        st.lists(st.integers(min_value=1, max_value=2**33), min_size=n, max_size=n)
    )
    docnos = np.cumsum(np.array(gaps, dtype=np.uint64))
    tfs = np.array(
        draw(st.lists(st.integers(min_value=1, max_value=32767), min_size=n, max_size=n)),
        dtype=np.int64,
    )
    dls = np.array(
        draw(st.lists(st.integers(min_value=1, max_value=10**6), min_size=n, max_size=n)),
        dtype=np.int64,
    )
    return docnos, tfs, dls


@settings(max_examples=40, deadline=None)
@given(postings_run())
def test_codec_roundtrip_random(run):
    docnos, tfs, dls = run
    impacts = (tfs / (dls + 1)).astype(np.float32)
    blob = encode_run(docnos, tfs, dls, impacts)
    d, t, l = decode_run(blob)
    assert np.array_equal(d, docnos)
    assert np.array_equal(t, tfs)
    assert np.array_equal(l, dls)
    fd, ft, fl, indptr = codec.decode_frame([blob])
    assert indptr.tolist() == [0, len(docnos)]
    assert np.array_equal(fd, docnos)
    assert np.array_equal(ft, tfs)
    assert np.array_equal(fl, dls)
    # block random access agrees with full decode
    _, n_blocks, _ = codec.read_header(blob)
    pieces = [codec.decode_block(blob, bi)[0] for bi in range(n_blocks)]
    assert np.array_equal(np.concatenate(pieces), docnos)
    # directory invariants: last_docno per block, max impact is a max
    directory = codec.read_directory(blob)
    assert directory[-1]["last_docno"] == docnos[-1]
    assert np.float32(directory["max_impact"].max()) == np.float32(impacts.max())


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=2**31), min_size=0, max_size=500))
def test_varint_roundtrip_random(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(codec.varint_decode(codec.varint_encode(arr)), arr)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=50),  # docno
            st.integers(min_value=1, max_value=20),  # termid
            st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=200,
    )
)
def test_group_sum_deterministic_under_permutation(rows):
    """Canonical fold must not depend on input row order."""
    d = np.array([r[0] for r in rows], dtype=np.int64)
    t = np.array([r[1] for r in rows], dtype=np.int64)
    c = np.array([r[2] for r in rows], dtype=np.float32)
    d1, s1 = group_sum_f32(d, t, c)
    perm = np.random.RandomState(0).permutation(len(d))
    d2, s2 = group_sum_f32(d[perm], t[perm], c[perm])
    assert np.array_equal(d1, d2)
    # ties of (docno, termid) pairs with different contribs could reorder;
    # restrict the assertion to inputs with unique (docno, termid) pairs
    if len({(int(a), int(b)) for a, b in zip(d, t)}) == len(d):
        assert np.array_equal(s1.view(np.uint32), s2.view(np.uint32))


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=10**9),  # N
    st.integers(min_value=1, max_value=10**6),  # df (clamped to N)
    st.integers(min_value=1, max_value=32767),  # tf
    st.integers(min_value=1, max_value=10**6),  # dl
)
def test_bm25_bounds(n_docs, df, tf, dl):
    """Every BM25 score is bounded by the term's maxScore (the MaxScore /
    block-max WAND correctness precondition)."""
    df = min(df, n_docs)
    idf = bm25_idf(n_docs, np.array([df]))[0]
    score = np.float32(idf) * bm25_tf_part(np.array([tf]), np.array([dl]), 100.0)[0]
    ub = bm25_max_score(n_docs, np.array([df]))[0]
    assert score <= ub + abs(ub) * 1e-5 + 1e-6
