"""Block d-gap postings codec (NumPy-vectorized): PForDelta-packed
docno gaps + variable-byte tf/doclen sections.

Plays the role of Ivory's compressed postings lists
(ivory/core/data/index/PostingsListDocSortedPositional.java:92-181 —
Golomb/gamma bit coding) and of BloomIR's block-compressed postings
(ivory/bloomir/data/CompressedPostings.java:20-174 — 128-entry PForDelta
blocks with block-aligned random access). v3+ stores each block's d-gaps
in actual PForDelta (bit width chosen per block, overflowers patched via
an exception list — see pfor_encode), matching the reference scheme;
tf/doclen sections stay byte-aligned varint (their value range makes
bit-packing a wash, and varint is vectorization-friendly). Retrieval
scores do not depend on the storage codec.

Blob layout (little-endian, FORMAT_VERSION 4 — mirrors _HDR/_DIR below):
  header : uint32 n_postings, uint32 n_blocks, uint32 block_size
           (block_size is adaptive per run, see _block_size_for)
  dir    : n_blocks x (uint64 first_docno, uint64 last_docno,
                       float32 max_impact, uint32 end)
           `first_docno`/`last_docno` = block's docno range — first_docno
           lets the WAND grid prove inter-block docno gaps term-free
           `end` = payload byte offset one past this block's payload
           `max_impact` = max per-posting BM25 impact in the block — the
           block-max WAND bound (upgrade of Ivory's term-level MaxScore,
           ivory/smrf/retrieval/MRFDocumentRanker.java:99-155)
  payload: per block: PForDelta d-gap section (first gap relative to the
           previous block's last docno; absolute for the very first
           block), then varint tfs, then varint doclens.

Doclens are stored inline so scoring needs no side lookup — the Spark-scale
replacement for Ivory's in-RAM DocLengthTable
(ivory/core/data/stat/DocLengthTable2B.java), which would not broadcast at
10^12 documents.

Each blob is one *run*: a docno-sorted, docno-range-contiguous slice of one
term's postings. Salted builds emit several runs per term over disjoint
docno ranges; they can be scored independently and in parallel, so no
global merge is required.

Multi-run work goes a frame at a time: encode_frame encodes many runs in
a few vectorized passes, and decode_runs, its inverse, decodes every run
that starts at the given byte offsets of one buffer with a fixed number
of whole-frame passes, paying numpy's per-call overhead once per frame
rather than once per run or block. The serving tier calls it on its
resident postings buffer; decode_frame is the adapter for a list of
blobs. Their per-run references, encode_run and decode_run, live in
tests/codec_ref.py, and decode_block is the random access the WAND
kernel uses.
"""

from __future__ import annotations

import numpy as np

BLOCK = 128
MIN_BLOCK = 8
FORMAT_VERSION = 4  # v4: pfor varint-sentinel blocks (v3: PForDelta d-gaps)

_HDR = np.dtype([("n_postings", "<u4"), ("n_blocks", "<u4"), ("block_size", "<u4")])

# numpy scalars of the array's own dtype: a Python int operand costs a
# value-based cast resolution per call, which dominates on tiny arrays
_U8_127, _U8_128 = np.uint8(0x7F), np.uint8(0x80)
# byte offsets of a uint32 and of the 12-byte run header
_I4, _I12 = np.arange(4), np.arange(12)


def _block_size_for(n: int) -> int:
    """Adaptive block size: short (sparse) runs get small blocks so each
    block covers a narrow docno range — that is what makes per-block
    max-impact bounds tight enough to prune (a sparse term's single
    128-posting block would otherwise span a huge docno range and poison
    every segment's bound)."""
    if n >= BLOCK * 16:
        return BLOCK
    return max(MIN_BLOCK, n // 16 or MIN_BLOCK)
# first_docno makes block-max bounds tight for sparse lists: a docno range
# that falls BETWEEN two blocks provably contains no postings of the term,
# so its segments get bound 0 instead of the next block's max impact
_DIR = np.dtype(
    [("first_docno", "<u8"), ("last_docno", "<u8"), ("max_impact", "<f4"), ("end", "<u4")]
)


def varint_encode(values: np.ndarray) -> np.ndarray:
    """Vectorized LEB128 encode of non-negative int array -> uint8 array."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8)
    nbytes = np.ones(v.shape, dtype=np.int64)
    for j in range(1, 10):
        nbytes += (v >= (np.uint64(1) << np.uint64(7 * j))).astype(np.int64)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for j in range(10):
        mask = nbytes > j
        if not mask.any():
            break
        idx = starts[mask] + j
        byte = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] > j + 1).astype(np.uint8) << 7
        out[idx] = byte.astype(np.uint8) | cont
    return out


def varint_decode(buf: np.ndarray) -> np.ndarray:
    """Vectorized LEB128 decode of a complete varint stream -> uint64."""
    b = np.asarray(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    last = (b < _U8_128).nonzero()[0]  # the last byte of each value
    first = np.empty_like(last)
    first[0] = 0
    first[1:] = last[:-1] + 1
    # each byte's 7 payload bits, shifted by 7 per earlier byte of its value
    shift = np.arange(b.size) - first.repeat(last - first + 1)
    shift *= 7
    low = (b & _U8_127).astype(np.uint64)
    return np.bitwise_or.reduceat(low << shift.view(np.uint64), first)


# ---------------------------------------------------------------------------
# PForDelta block coding (d-gap sections). The reference stores postings in
# 128-entry PForDelta blocks (ivory/bloomir/data/CompressedPostings.java:
# 20-174, core/data/index/PostingsListDocSortedPositionalPForDelta.java:
# 40-120); this is the same patched-frame-of-reference scheme, numpy-
# vectorized: per block choose a bit width b, bit-pack every value's low b
# bits little-endian, and patch the few values that overflow b bits through
# an exception list (u8 in-block position + varint high bits).
#
# Section layout (self-delimiting given the block's value count n):
#   u8 b | u8 n_exc | ceil(n*b/8) packed bytes | n_exc u8 positions
#   | n_exc varint high-bit values
# ---------------------------------------------------------------------------


def _bitlen(v: np.ndarray) -> np.ndarray:
    """Per-element bit length of uint64 values (0 -> 0)."""
    bl = np.zeros(v.shape, dtype=np.int64)
    x = v.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        big = x >= (np.uint64(1) << np.uint64(shift))
        bl[big] += shift
        x[big] >>= np.uint64(shift)
    bl[v > 0] += 1
    return bl


_PFOR_VARINT = 0xFF  # width sentinel: section body is a plain varint stream


def pfor_encode(values: np.ndarray) -> bytes:
    """Encode <=256 non-negative uint64 values as one PForDelta section.

    Bit width candidates are the ~90th-percentile and max bit lengths
    (the NewPFD exception trade-off); blocks below 32 values skip the
    search entirely and use the byte-aligned varint sentinel (width
    0xFF) — for tiny blocks the bit-packing search costs more encode
    time than it saves in bytes, and adaptive block sizing gives sparse
    runs many tiny blocks. The sentinel also wins whenever varint is
    simply smaller."""
    v = np.asarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return bytes([0, 0])
    if n > 256:
        raise ValueError("pfor section limited to 256 values (one block)")
    varint_payload = varint_encode(v).tobytes()
    if n < 32:
        return bytes([_PFOR_VARINT, 0]) + varint_payload
    bl = _bitlen(v)
    bl_sorted = np.sort(bl)
    candidates = {int(bl_sorted[(n * 9) // 10]), int(bl_sorted[-1])}
    best = None
    for b in sorted(candidates):
        exc = bl > b
        n_exc = int(exc.sum())
        if n_exc > 255:
            continue
        highs = v[exc] >> np.uint64(b)
        size = 2 + (n * b + 7) // 8 + n_exc + varint_encode(highs).nbytes
        if best is None or size < best[0]:
            best = (size, b, exc)
    if best is None or best[0] >= 2 + len(varint_payload):
        return bytes([_PFOR_VARINT, 0]) + varint_payload
    _, b, exc = best
    if b:
        mask = (np.uint64(1) << np.uint64(b)) - np.uint64(1) if b < 64 else np.uint64(0xFFFFFFFFFFFFFFFF)
        low = v & mask
        bits = (
            (low[:, None] >> np.arange(b, dtype=np.uint64)[None, :]) & np.uint64(1)
        ).astype(np.uint8)
        packed = np.packbits(bits.ravel(), bitorder="little").tobytes()
    else:
        packed = b""
    pos = np.nonzero(exc)[0].astype(np.uint8).tobytes()
    highs = varint_encode(v[exc] >> np.uint64(b)).tobytes()
    return bytes([b, int(exc.sum())]) + packed + pos + highs


def pfor_decode(buf: np.ndarray, n: int) -> tuple[np.ndarray, int]:
    """Decode n values from a PForDelta section at the start of `buf`
    (uint8 array). Returns (values uint64, bytes consumed)."""
    if n == 0:
        return np.empty(0, dtype=np.uint64), 2
    b, n_exc = int(buf[0]), int(buf[1])
    if b == _PFOR_VARINT:
        rest = buf[2:]
        last = np.nonzero((rest & 0x80) == 0)[0]
        end = int(last[n - 1]) + 1
        return varint_decode(rest[:end]), 2 + end
    nbytes = (n * b + 7) // 8
    off = 2
    if b:
        bits = np.unpackbits(
            np.ascontiguousarray(buf[off : off + nbytes]), count=n * b, bitorder="little"
        ).reshape(n, b)
        weights = np.uint64(1) << np.arange(b, dtype=np.uint64)
        v = (bits.astype(np.uint64) * weights[None, :]).sum(axis=1, dtype=np.uint64)
    else:
        v = np.zeros(n, dtype=np.uint64)
    off += nbytes
    if n_exc:
        pos = buf[off : off + n_exc].astype(np.int64)
        off += n_exc
        rest = buf[off:]
        # the highs varint stream ends at the n_exc-th terminator byte
        last = np.nonzero((rest & 0x80) == 0)[0]
        hi_end = int(last[n_exc - 1]) + 1
        highs = varint_decode(rest[:hi_end])
        v[pos] |= highs << np.uint64(b)
        off += hi_end
    return v, off


def varint_lengths(values: np.ndarray) -> np.ndarray:
    """Per-value LEB128 byte length (vectorized; 0 -> 1 byte)."""
    v = np.asarray(values, dtype=np.uint64)
    nbytes = np.ones(v.shape, dtype=np.int64)
    for j in range(1, 10):
        nbytes += (v >= (np.uint64(1) << np.uint64(7 * j))).astype(np.int64)
    return nbytes


def _varint_small(values: np.ndarray) -> bytes:
    """Scalar LEB128 encode for tiny arrays (exception highs): the
    vectorized varint_encode pays ~30 numpy dispatches regardless of
    size, which dominates for the 1-10-value exception lists."""
    out = bytearray()
    for x in values.tolist():
        x = int(x)
        while x >= 0x80:
            out.append((x & 0x7F) | 0x80)
            x >>= 7
        out.append(x)
    return bytes(out)


def encode_frame(
    docnos: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    impacts: np.ndarray,
    run_starts: np.ndarray,
    run_ends: np.ndarray,
) -> list[bytes]:
    """Encode many runs at once, byte-identical to the per-run reference
    encode_run (tests/codec_ref.py).

    encode_run spends ~80% of its time in per-block varint_encode calls
    whose fixed numpy-dispatch overhead dwarfs the work on <=128-value
    blocks (measured 61 s single-threaded for a 1.65M-posting build
    slice). Here every per-value quantity — d-gaps, varint byte
    lengths/streams for gaps/tf/dl, bit lengths — is computed ONCE over
    the whole frame with a handful of vectorized passes, and per-block
    sections become slices of the precomputed streams. The PForDelta
    width search uses the precomputed bit lengths (exception varint
    sizes derive from bitlen(v >> b) == bitlen(v) - b, so no trial
    encode is needed); only the low-bit packbits of chosen-width blocks
    and the tiny exception lists are materialized per block.

    run_starts/run_ends delimit docno-sorted runs (same contract as
    encode_run per run). Returns one blob per run.
    """
    n_total = int(len(docnos))
    docnos = np.asarray(docnos, dtype=np.uint64)
    tfs64 = np.asarray(tfs, dtype=np.uint64)
    dls64 = np.asarray(dls, dtype=np.uint64)
    imp = np.asarray(impacts, dtype=np.float32)
    run_starts = np.asarray(run_starts, dtype=np.int64)
    run_ends = np.asarray(run_ends, dtype=np.int64)

    # global d-gaps: absolute at each run start, deltas elsewhere
    gaps = np.empty(n_total, dtype=np.uint64)
    if n_total:
        # an empty run's start may be n_total: it restarts nothing
        firsts = run_starts[run_ends > run_starts]
        gaps[0] = docnos[0]
        gaps[1:] = docnos[1:] - docnos[:-1]
        gaps[firsts] = docnos[firsts]
        interior = np.ones(n_total, dtype=bool)
        interior[firsts] = False
        # uint64 wraparound on a non-increasing docno yields a huge gap;
        # detect via the signed view to keep encode_run's contract
        if interior.any() and (gaps[interior].view(np.int64) <= 0).any():
            raise ValueError("docnos must be strictly increasing within a run")

    # one vectorized pass per stream instead of one call per block
    vlen_g = varint_lengths(gaps)
    cum_g = np.zeros(n_total + 1, dtype=np.int64)
    np.cumsum(vlen_g, out=cum_g[1:])
    stream_g = varint_encode(gaps).tobytes()
    vlen_tf = varint_lengths(tfs64)
    cum_tf = np.zeros(n_total + 1, dtype=np.int64)
    np.cumsum(vlen_tf, out=cum_tf[1:])
    stream_tf = varint_encode(tfs64).tobytes()
    vlen_dl = varint_lengths(dls64)
    cum_dl = np.zeros(n_total + 1, dtype=np.int64)
    np.cumsum(vlen_dl, out=cum_dl[1:])
    stream_dl = varint_encode(dls64).tobytes()
    bl = _bitlen(gaps)

    blobs: list[bytes] = []
    for r0, r1 in zip(run_starts.tolist(), run_ends.tolist()):
        n = r1 - r0
        bs = _block_size_for(n)
        n_blocks = (n + bs - 1) // bs
        hdr = np.zeros(1, dtype=_HDR)
        hdr["n_postings"] = n
        hdr["n_blocks"] = n_blocks
        hdr["block_size"] = bs
        if n == 0:
            blobs.append(hdr.tobytes())
            continue
        directory = np.zeros(n_blocks, dtype=_DIR)
        parts: list[bytes] = []
        off = 0
        for bi in range(n_blocks):
            lo = r0 + bi * bs
            hi = min(r1, lo + bs)
            n_blk = hi - lo
            vp_len = int(cum_g[hi] - cum_g[lo])
            sec = None
            if n_blk >= 32:
                bl_blk = bl[lo:hi]
                bl_sorted = np.sort(bl_blk)
                candidates = {int(bl_sorted[(n_blk * 9) // 10]), int(bl_sorted[-1])}
                best = None
                for b in sorted(candidates):
                    exc = bl_blk > b
                    n_exc = int(exc.sum())
                    if n_exc > 255:
                        continue
                    # bitlen(v >> b) == bitlen(v) - b for exceptions
                    high_bytes = int(((bl_blk[exc] - b + 6) // 7).sum())
                    size = 2 + (n_blk * b + 7) // 8 + n_exc + high_bytes
                    if best is None or size < best[0]:
                        best = (size, b, exc)
                if best is not None and best[0] < 2 + vp_len:
                    _, b, exc = best
                    g_blk = gaps[lo:hi]
                    if b:
                        mask = (
                            (np.uint64(1) << np.uint64(b)) - np.uint64(1)
                            if b < 64
                            else np.uint64(0xFFFFFFFFFFFFFFFF)
                        )
                        low = g_blk & mask
                        bits = (
                            (low[:, None] >> np.arange(b, dtype=np.uint64)[None, :])
                            & np.uint64(1)
                        ).astype(np.uint8)
                        packed = np.packbits(bits.ravel(), bitorder="little").tobytes()
                    else:
                        packed = b""
                    pos = np.nonzero(exc)[0].astype(np.uint8).tobytes()
                    highs = _varint_small(g_blk[exc] >> np.uint64(b))
                    sec = bytes([b, int(exc.sum())]) + packed + pos + highs
            if sec is None:
                sec = b"\xff\x00" + stream_g[cum_g[lo] : cum_g[hi]]
            payload = (
                sec
                + stream_tf[cum_tf[lo] : cum_tf[hi]]
                + stream_dl[cum_dl[lo] : cum_dl[hi]]
            )
            off += len(payload)
            directory[bi] = (docnos[lo], docnos[hi - 1], imp[lo:hi].max(), off)
            parts.append(payload)
        blobs.append(hdr.tobytes() + directory.tobytes() + b"".join(parts))
    return blobs


def read_header(blob: bytes) -> tuple[int, int, int]:
    hdr = np.frombuffer(blob, dtype=_HDR, count=1)[0]
    return int(hdr["n_postings"]), int(hdr["n_blocks"]), int(hdr["block_size"])


def read_directory(blob: bytes) -> np.ndarray:
    """Structured array (last_docno, max_impact, end) per block."""
    _, n_blocks, _ = read_header(blob)
    return np.frombuffer(blob, dtype=_DIR, count=n_blocks, offset=_HDR.itemsize)


def _payload(blob: bytes) -> np.ndarray:
    _, n_blocks, _ = read_header(blob)
    off = _HDR.itemsize + n_blocks * _DIR.itemsize
    return np.frombuffer(blob, dtype=np.uint8, offset=off)


def _decode_block_payload(
    section: np.ndarray, sz: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One block's payload -> (gaps uint64, tfs, dls)."""
    gaps, consumed = pfor_decode(section, sz)
    vals = varint_decode(section[consumed:])
    return gaps, vals[:sz], vals[sz : 2 * sz]


def decode_frame(
    blobs: list[bytes],
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode many runs at once -> (docnos uint64, tfs int32, dls int32,
    indptr int64[len(blobs)+1]); run i is [indptr[i], indptr[i+1]) and
    equals the per-run reference decode_run(blobs[i]) in
    tests/codec_ref.py. The inverse of encode_frame: the blobs are joined
    into one buffer and decoded by decode_runs."""
    lens = np.fromiter(map(len, blobs), dtype=np.int64, count=len(blobs))
    return decode_runs(np.frombuffer(b"".join(blobs), dtype=np.uint8), lens.cumsum() - lens)


def decode_runs(
    buf: np.ndarray, starts: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode the runs that begin at byte offsets `starts` of the uint8
    buffer `buf` -> (docnos uint64, tfs int32, dls int32,
    indptr int64[len(starts)+1]), run i being [indptr[i], indptr[i+1]).
    A run is self-delimiting (its header and directory give its length),
    so only its start is needed: the runs may be any subset of a larger
    buffer, and nothing is copied out of it per run.

    The cost on a frame of a few short runs is numpy's per-call dispatch,
    so the work is a fixed number of whole-frame passes, not passes per
    block. A run's payload (its blocks' sections back to back) is read as
    one varint stream: a varint-sentinel block's 0xFF 0x00 prefix reads
    as one value, then come its gaps, tfs and dls, so block j of a run
    holds 1 + 3 * size_j values at a position known from the header
    alone, and one varint_decode reads every payload of the frame. Only
    bit-packed d-gap sections (blocks of 32+ postings) are decoded apart,
    by pfor_decode; each is replaced in the stream by 1 + size zero bytes
    that hold its value slots. Docnos are one cumsum over all gaps, reset
    at each run start (a block's first gap is relative to the previous
    block's last docno, the run's first gap absolute).
    """
    starts = np.asarray(starts, dtype=np.int64)
    n, nb, bs = buf[starts[:, None] + _I12].view("<u4").astype(np.int64).T
    indptr = np.zeros(len(starts) + 1, dtype=np.int64)
    n.cumsum(out=indptr[1:])
    total = int(indptr[-1])
    if not total:
        return np.empty(0, np.uint64), np.empty(0, np.int32), np.empty(0, np.int32), indptr

    # payload byte range of every run, ending at its last block's
    # directory `end`: the 4 bytes just before the payload
    pay = nb * _DIR.itemsize
    pay += starts
    pay += _HDR.itemsize
    plen = buf[(pay - 4)[:, None] + _I4].view("<u4").ravel().astype(np.int64)
    plen *= nb > 0  # an empty run has no directory
    pend = plen.cumsum()
    stream = buf[(pay - pend + plen).repeat(plen) + np.arange(pend[-1])]

    # only blocks of 32+ postings may be bit-packed
    packed = []  # (stream offset, section bytes, block size, first posting, gaps)
    for r in (bs >= 32).nonzero()[0].tolist():
        at, b = int(pay[r]), int(bs[r])
        end = buf[starts[r] + _HDR.itemsize : at].view(_DIR)["end"].astype(np.int64)
        lo = np.concatenate(([0], end[:-1]))
        for k in (buf[at + lo] != _PFOR_VARINT).nonzero()[0].tolist():
            sz = min(b, int(n[r]) - k * b)
            gaps, used = pfor_decode(buf[at + lo[k] : at + end[k]], sz)
            packed.append((int(pend[r] - plen[r] + lo[k]), used, sz, int(indptr[r]) + k * b, gaps))
    if packed:
        pieces, cut = [], 0
        for at, used, sz, _, _ in packed:
            pieces += [stream[cut:at], np.zeros(1 + sz, dtype=np.uint8)]
            cut = at + used
        stream = np.concatenate(pieces + [stream[cut:]])
    vals = varint_decode(stream)

    # run r's values start at rv[r], and its block j at
    # rv[r] + j * (1 + 3 * bs[r]): one header value, then size_j gaps,
    # tfs and dls. Posting i = j * bs + k of the run has its gap at
    # rv + j * (1 + 3 * bs) + 1 + k = (rv + 1) + i + j + 2 * j * bs, and
    # its tf and dl size_j and 2 * size_j values further
    nval = n * 3
    nval += nb
    rv = nval.cumsum()
    rv -= nval
    rv += 1
    i = np.arange(total) - indptr[:-1].repeat(n)
    bsp = bs.repeat(n)
    j = i // bsp
    jb = j * bsp
    size = np.minimum(bsp, n.repeat(n) - jb)
    gap_at = rv.repeat(n) + i
    gap_at += j
    jb *= 2
    gap_at += jb
    gaps = vals[gap_at]
    for _, _, sz, p, g in packed:
        gaps[p : p + sz] = g
    gap_at += size
    tfs = vals[gap_at].astype(np.int32)
    gap_at += size
    dls = vals[gap_at].astype(np.int32)
    cs = np.zeros(total + 1, dtype=np.uint64)
    gaps.cumsum(out=cs[1:])
    return cs[1:] - cs[indptr[:-1]].repeat(n), tfs, dls, indptr


def decode_block(blob: bytes, bi: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Random-access decode of block `bi` (block-aligned skipping,
    analogue of CompressedPostings.getBlockNumber/getBlockStartIndex)."""
    n, n_blocks, bs = read_header(blob)
    if not 0 <= bi < n_blocks:
        raise IndexError(bi)
    directory = read_directory(blob)
    payload = _payload(blob)
    start = int(directory[bi - 1]["end"]) if bi > 0 else 0
    end = int(directory[bi]["end"])
    sz = bs if bi < n_blocks - 1 else n - bs * (n_blocks - 1)
    gaps, tf_b, dl_b = _decode_block_payload(payload[start:end], sz)
    base = directory[bi - 1]["last_docno"] if bi > 0 else np.uint64(0)
    docnos = np.cumsum(gaps, dtype=np.uint64) + base
    return docnos, tf_b.astype(np.int32), dl_b.astype(np.int32)


def encode_positions(flat_positions: np.ndarray, tfs: np.ndarray) -> bytes:
    """Encode per-posting position lists (1-based, ascending) as one
    varint stream of p-gaps: first position of each posting absolute,
    subsequent ones as gaps — the byte-aligned analogue of the
    reference's gamma-coded p-gaps
    (PostingsListDocSortedPositional.java:147-179). Stored as a separate
    column (pos_blob) so non-positional readers never touch the bytes
    (Parquet column pruning replaces the positional/non-positional
    format split of the reference)."""
    flat = np.asarray(flat_positions, dtype=np.uint64)
    tfs = np.asarray(tfs, dtype=np.int64)
    if flat.size == 0:
        return b""
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    gaps = np.empty_like(flat)
    gaps[1:] = flat[1:] - flat[:-1]
    gaps[starts] = flat[starts]
    return varint_encode(gaps).tobytes()


def decode_positions_flat(pos_blob: bytes, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_positions in CSR form: (flat int64 positions,
    indptr) with indptr[i]:indptr[i+1] delimiting posting i's positions.
    The CSR form lets the MRF kernel gather many postings' position lists
    without a Python-level per-posting split."""
    tfs = np.asarray(tfs, dtype=np.int64)
    indptr = np.concatenate(([0], np.cumsum(tfs)))
    if len(pos_blob) == 0:
        return np.empty(0, dtype=np.int64), np.zeros(len(tfs) + 1, dtype=np.int64)
    gaps = varint_decode(np.frombuffer(pos_blob, dtype=np.uint8)).astype(np.int64)
    starts = indptr[:-1]
    p = np.cumsum(gaps)
    # subtract the running total just before each posting's first position
    offsets = np.where(starts > 0, p[np.maximum(starts - 1, 0)], 0)
    flat = p - np.repeat(offsets, tfs)
    return flat, indptr


def decode_positions(pos_blob: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """Inverse of encode_positions: per-posting position arrays."""
    flat, indptr = decode_positions_flat(pos_blob, tfs)
    if flat.size == 0:
        return [np.empty(0, dtype=np.int64) for _ in range(len(np.asarray(tfs)))]
    return list(np.split(flat, indptr[1:-1]))
