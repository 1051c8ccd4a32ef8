"""Codec round-trips — analogue of Ivory's postings unit tests
(src/java/test/ivory/core/data/index/PostingsListDocSortedPositionalTest.java:33-129)."""

import numpy as np
import pytest

from ivory_spark.index import codec


def rt(docnos, tfs, dls):
    docnos = np.asarray(docnos, dtype=np.uint64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    impacts = tfs.astype(np.float32)  # any float works for round-trip
    blob = codec.encode_run(docnos, tfs, dls, impacts)
    d, t, l = codec.decode_run(blob)
    assert np.array_equal(d, docnos)
    assert np.array_equal(t, tfs)
    assert np.array_equal(l, dls)
    fd, ft, fl, indptr = codec.decode_frame([blob])
    assert indptr.tolist() == [0, len(docnos)]
    assert fd.dtype == np.uint64 and ft.dtype == np.int32 and fl.dtype == np.int32
    assert np.array_equal(fd, docnos)
    assert np.array_equal(ft, tfs)
    assert np.array_equal(fl, dls)
    return blob


def test_varint_roundtrip():
    vals = np.array([0, 1, 127, 128, 300, 2**14, 2**31 - 1, 2**40, 2**63 - 1], dtype=np.uint64)
    assert np.array_equal(codec.varint_decode(codec.varint_encode(vals)), vals)


def test_varint_empty():
    assert codec.varint_decode(codec.varint_encode(np.array([], dtype=np.uint64))).size == 0


def test_reference_fixture_postings():
    # FIXTURES.md §4: [(13, tf=5), (14, tf=2), (24, tf=1)], df=3
    rt([13, 14, 24], [5, 2, 1], [10, 20, 30])


@pytest.mark.parametrize("n", [1, 127, 128, 129, 1000])
def test_block_boundaries(n):
    docnos = np.cumsum(np.arange(1, n + 1)) + 5
    tfs = (np.arange(n) % 7) + 1
    dls = (np.arange(n) % 50) + 1
    rt(docnos, tfs, dls)


def test_huge_gaps():
    rt([1, 2**31, 2**31 + 1, 2**40], [1, 2, 3, 4], [9, 9, 9, 9])


def test_empty_run():
    blob = codec.encode_run(
        np.array([], np.uint64), np.array([], np.int64), np.array([], np.int64),
        np.array([], np.float32),
    )
    d, t, l = codec.decode_run(blob)
    assert d.size == 0 and t.size == 0 and l.size == 0


def test_non_increasing_rejected():
    with pytest.raises(ValueError):
        codec.encode_run(
            np.array([5, 5], np.uint64), np.array([1, 1], np.int64),
            np.array([1, 1], np.int64), np.array([1, 1], np.float32),
        )


def test_block_random_access():
    n = 300
    docnos = np.arange(1, n + 1, dtype=np.uint64) * 3
    tfs = (np.arange(n) % 9) + 1
    dls = np.full(n, 40)
    blob = codec.encode_run(docnos, tfs, dls, tfs.astype(np.float32))
    npost, nblocks, bs = codec.read_header(blob)
    assert npost == n and nblocks == (n + bs - 1) // bs
    got_d, got_t, got_l = [], [], []
    for bi in range(nblocks):
        d, t, l = codec.decode_block(blob, bi)
        got_d.append(d)
        got_t.append(t)
        got_l.append(l)
    assert np.array_equal(np.concatenate(got_d), docnos)
    assert np.array_equal(np.concatenate(got_t), tfs)
    assert np.array_equal(np.concatenate(got_l), dls)


def test_directory_block_max():
    n = 200
    docnos = np.arange(1, n + 1, dtype=np.uint64)
    tfs = np.ones(n, np.int64)
    dls = np.full(n, 10)
    impacts = np.arange(n, dtype=np.float32)
    blob = codec.encode_run(docnos, tfs, dls, impacts)
    _, _, bs = codec.read_header(blob)
    directory = codec.read_directory(blob)
    # per-block maxima of an increasing impact sequence = block tails
    assert directory[0]["max_impact"] == np.float32(bs - 1)
    assert directory[-1]["max_impact"] == np.float32(199.0)
    assert directory[0]["first_docno"] == 1
    assert directory[0]["last_docno"] == bs
    assert directory[-1]["last_docno"] == 200


def test_merge_salted_runs_byte_identical():
    # FIXTURES.md §4: salted splits must merge to the unsalted bytes
    n = 500
    docnos = np.sort(np.random.RandomState(7).choice(10**6, n, replace=False)).astype(np.uint64)
    tfs = (np.arange(n) % 11) + 1
    dls = (np.arange(n) % 90) + 5

    def impacts_fn(t, l):
        return (t.astype(np.float32) / (l.astype(np.float32) + 1)).astype(np.float32)

    whole = codec.encode_run(docnos, tfs, dls, impacts_fn(tfs, dls))
    splits = [(0, 100), (100, 350), (350, 500)]
    runs = [
        codec.encode_run(docnos[a:b], tfs[a:b], dls[a:b], impacts_fn(tfs[a:b], dls[a:b]))
        for a, b in splits
    ]
    assert codec.merge_runs(runs, impacts_fn) == whole


def test_pfor_roundtrip_property():
    """PForDelta section: round-trip + exact consumed-bytes accounting
    across value ranges (zipf gaps + 2^40..2^50 outlier patches), with
    trailing bytes present to prove self-delimiting decode."""
    import numpy as np

    from ivory_spark.index.codec import pfor_decode, pfor_encode

    rng = np.random.RandomState(5)
    for trial in range(200):
        n = rng.randint(0, 129)
        vals = rng.zipf(1.3, size=n).astype(np.uint64)
        if n and trial % 7 == 0:
            vals[rng.randint(0, n, size=max(1, n // 20))] = rng.randint(
                1 << 40, 1 << 50
            )
        enc = pfor_encode(vals)
        buf = np.frombuffer(enc + b"\x7f\x03trailing", dtype=np.uint8)
        dec, consumed = pfor_decode(buf, n)
        assert consumed == len(enc), trial
        assert np.array_equal(dec, vals), trial


def test_pfor_beats_varint_on_small_gaps():
    """Dense postings (tiny d-gaps) must pack below 1 byte/gap — the
    point of bit-packing over byte-aligned varint."""
    import numpy as np

    from ivory_spark.index.codec import pfor_encode, varint_encode

    gaps = np.ones(128, dtype=np.uint64) * 3  # 2 bits each
    assert len(pfor_encode(gaps)) < varint_encode(gaps).nbytes
    assert len(pfor_encode(gaps)) <= 2 + 32  # 2-bit packing + header


def test_encode_frame_byte_identical_to_encode_run():
    """encode_frame (the vectorized multi-run encoder the build uses)
    must produce byte-for-byte the same blobs as per-run encode_run,
    across block-size regimes, exception-heavy gap distributions, and
    run boundaries where the next run restarts at a lower docno."""
    from ivory_spark.index.codec import decode_run, encode_frame, encode_run

    rng = np.random.default_rng(7)
    starts, ends, dn, tf, dl, imp = [], [], [], [], [], []
    pos = 0
    for n in [1, 7, 31, 32, 129, 600, 2048, 5000]:
        gaps = rng.choice(
            [1, 2, 17, 255, 2**20, 2**45], size=n, p=[0.5, 0.2, 0.15, 0.08, 0.05, 0.02]
        ).astype(np.uint64)
        d = np.cumsum(gaps)
        starts.append(pos)
        ends.append(pos + n)
        pos += n
        dn.append(d)
        tf.append(rng.integers(1, 40000, n).astype(np.int64))
        dl.append(rng.integers(1, 10**9, n).astype(np.int64))
        imp.append((rng.random(n) * 20).astype(np.float32))
    dn, tfs = np.concatenate(dn), np.concatenate(tf)
    dls, imps = np.concatenate(dl), np.concatenate(imp)
    blobs = encode_frame(dn, tfs, dls, imps, np.array(starts), np.array(ends))
    for i, (a, z) in enumerate(zip(starts, ends)):
        assert blobs[i] == encode_run(dn[a:z], tfs[a:z], dls[a:z], imps[a:z])
        got_d, got_t, got_l = decode_run(blobs[i])
        assert np.array_equal(got_d, dn[a:z])
        assert np.array_equal(got_t, tfs[a:z])
        assert np.array_equal(got_l, dls[a:z])


def test_encode_frame_rejects_non_increasing_within_run():
    from ivory_spark.index.codec import encode_frame

    one = np.ones(2, dtype=np.int64)
    with pytest.raises(ValueError):
        encode_frame(
            np.array([5, 5], dtype=np.uint64), one, one,
            np.ones(2, dtype=np.float32), np.array([0]), np.array([2]),
        )
    with pytest.raises(ValueError):
        encode_frame(
            np.array([9, 3], dtype=np.uint64), one, one,
            np.ones(2, dtype=np.float32), np.array([0]), np.array([2]),
        )
    # a LOWER docno at a run boundary is legal (absolute restart)
    blobs = encode_frame(
        np.array([100, 200, 5, 6], dtype=np.uint64),
        np.ones(4, dtype=np.int64), np.ones(4, dtype=np.int64),
        np.ones(4, dtype=np.float32), np.array([0, 2]), np.array([2, 4]),
    )
    assert len(blobs) == 2


def test_decode_frame_matches_block_decode():
    """decode_frame over one frame of many runs equals decode_block over
    every block of every run (an independent per-block decoder): empty
    and 1-posting runs, long runs whose bit-packed blocks carry
    exceptions, 2^40 gaps, multi-byte tf/dl varints, and a run that
    restarts below the previous run's last docno."""
    rng = np.random.default_rng(11)
    runs = []
    for n in [0, 1, 5, 0, 1, 40, 600, 2048, 3000, 0, 1]:
        gaps = rng.choice([1, 2, 3, 2**40], size=n, p=[0.5, 0.3, 0.18, 0.02])
        runs.append(np.cumsum(gaps.astype(np.uint64)))
    runs[3] = np.array([7, 2**40 + 7], dtype=np.uint64)  # below runs[2]'s tail
    lens = np.array([len(r) for r in runs])
    ends = np.cumsum(lens)
    docnos = np.concatenate(runs)
    tfs = rng.integers(1, 70_000, len(docnos))
    dls = rng.integers(1, 2**31 - 1, len(docnos))
    imps = rng.random(len(docnos)).astype(np.float32)
    blobs = codec.encode_frame(docnos, tfs, dls, imps, ends - lens, ends)

    packed_with_exceptions = 0
    ref_d, ref_t, ref_l = [], [], []
    for blob in blobs:
        payload, start = codec._payload(blob), 0
        for bi, end in enumerate(codec.read_directory(blob)["end"].tolist()):
            width, n_exc = int(payload[start]), int(payload[start + 1])
            packed_with_exceptions += width != 0xFF and n_exc > 0
            start = end
            d, t, l = codec.decode_block(blob, bi)
            ref_d.append(d)
            ref_t.append(t)
            ref_l.append(l)
    assert packed_with_exceptions > 0
    assert np.array_equal(np.concatenate(ref_d), docnos)

    d, t, l, indptr = codec.decode_frame(blobs)
    assert indptr.tolist() == [0] + ends.tolist()
    assert np.array_equal(d, np.concatenate(ref_d))
    assert np.array_equal(t, np.concatenate(ref_t))
    assert np.array_equal(l, np.concatenate(ref_l))
    assert np.array_equal(t, tfs) and np.array_equal(l, dls)


def test_decode_frame_empty():
    d, t, l, indptr = codec.decode_frame([])
    assert d.size == t.size == l.size == 0
    assert d.dtype == np.uint64 and t.dtype == np.int32 and l.dtype == np.int32
    assert indptr.tolist() == [0]
