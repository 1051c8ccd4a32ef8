"""Property-based tests (hypothesis) — randomized codec round-trips and
scoring invariants, beyond the reference's example-based unit tests
(SURVEY.md §5: Ivory has no property-based testing; we add it)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from codec_ref import decode_run, encode_run
from ivory_spark.functions.scoring import (
    bm25_idf,
    bm25_max_score,
    bm25_tf_part,
    docno_fold_f32,
    group_sum_f32,
)
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
    """Canonical fold must not depend on input row order, and
    docno_fold_f32 over the rows put termid-major (the order the serve
    path hands it) gives group_sum_f32's docnos and bits."""
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
    tm = np.lexsort((d, t))
    d3, s3 = docno_fold_f32(d[tm], c[tm])
    assert np.array_equal(d1, d3)
    assert np.array_equal(s1.view(np.uint32), s3.view(np.uint32))


# float32 contribution bits of four docs' groups (2, 3, 9 and 20 terms,
# termid order) and the committed bits of their folded scores. A strict
# left fold gives different bits for the last three groups.
_FOLD_GROUPS = [
    [1071968711, 1054834232],
    [1176057384, 1021138698, 3314533215],
    [3178053223, 1175634293, 3214350241, 3255496348, 1032308641, 3273835055,
     1053538226, 3330182732, 3263140607],
    [1115298070, 3190054301, 3264857196, 3194719532, 1172886656, 1184522807,
     3214884719, 3206569180, 3321572682, 3222983234, 3211558306, 3213037148,
     1177526046, 3299140750, 3218065361, 1059425414, 3255730720, 3274592361,
     3262032108, 3205934623],
]
_FOLD_BITS = [1074686122, 1168288040, 3319778037, 1189151995]


def test_group_sum_fold_bits_frozen():
    """The canonical fold is np.add.reduceat's: c0 + pairwise(c1, ...),
    where numpy's pairwise sum adds up to 8 terms in order and more
    through 8 strided accumulators combined as a tree. Every scorer
    path's rank identity, and every golden, rests on these bits, so a
    numpy release that changes the fold fails here. docno_fold_f32,
    given the same rows termid-major, gives the same bits."""
    f = np.float32

    def pairwise(a):
        if len(a) < 8:
            acc = f(-0.0)
            for x in a:
                acc = f(acc + x)
            return acc
        r = list(a[:8])
        whole = len(a) - len(a) % 8
        for i in range(8, whole, 8):
            r = [f(r[j] + a[i + j]) for j in range(8)]
        acc = f(f(f(r[0] + r[1]) + f(r[2] + r[3])) + f(f(r[4] + r[5]) + f(r[6] + r[7])))
        for x in a[whole:]:
            acc = f(acc + x)
        return acc

    groups = [np.array(g, dtype=np.uint32).view(np.float32) for g in _FOLD_GROUPS]
    docnos = np.repeat(np.arange(1, 5), [len(g) for g in groups])
    termids = np.concatenate([np.arange(len(g)) for g in groups])
    d, s = group_sum_f32(docnos, termids, np.concatenate(groups))
    assert d.tolist() == [1, 2, 3, 4]
    assert s.view(np.uint32).tolist() == _FOLD_BITS
    tm = np.lexsort((docnos, termids))
    d, s = docno_fold_f32(docnos[tm], np.concatenate(groups)[tm])
    assert d.tolist() == [1, 2, 3, 4]
    assert s.view(np.uint32).tolist() == _FOLD_BITS
    assert [f(g[0] + pairwise(g[1:])).view(np.uint32) for g in groups] == _FOLD_BITS


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
