"""Per-run reference codec: one blob encoded, decoded or merged at a time.

The package encodes and decodes postings a frame at a time
(codec.encode_frame / codec.decode_frame). These scalar routes are the
references the tests compare the frame routes against, block by block,
over the same blob layout (see the ivory_spark.index.codec docstring).
"""

from __future__ import annotations

import numpy as np

from ivory_spark.index import codec


def encode_run(
    docnos: np.ndarray, tfs: np.ndarray, dls: np.ndarray, impacts: np.ndarray
) -> bytes:
    """Encode one doc-sorted postings run. impacts: float32 per posting."""
    n = int(len(docnos))
    docnos = np.asarray(docnos, dtype=np.uint64)
    if n > 1 and not (docnos[1:] > docnos[:-1]).all():
        raise ValueError("docnos must be strictly increasing within a run")
    bs = codec._block_size_for(n)
    n_blocks = (n + bs - 1) // bs
    hdr = np.zeros(1, dtype=codec._HDR)
    hdr["n_postings"] = n
    hdr["n_blocks"] = n_blocks
    hdr["block_size"] = bs
    if n == 0:
        return hdr.tobytes()

    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = docnos[0]
    gaps[1:] = docnos[1:] - docnos[:-1]
    imp = np.asarray(impacts, dtype=np.float32)
    tfs64 = np.asarray(tfs, dtype=np.uint64)
    dls64 = np.asarray(dls, dtype=np.uint64)

    directory = np.zeros(n_blocks, dtype=codec._DIR)
    payloads: list[bytes] = []
    off = 0
    for bi in range(n_blocks):
        lo, hi = bi * bs, min(n, (bi + 1) * bs)
        payload = (
            codec.pfor_encode(gaps[lo:hi])
            + codec.varint_encode(tfs64[lo:hi]).tobytes()
            + codec.varint_encode(dls64[lo:hi]).tobytes()
        )
        off += len(payload)
        directory[bi] = (docnos[lo], docnos[hi - 1], imp[lo:hi].max(), off)
        payloads.append(payload)
    return hdr.tobytes() + directory.tobytes() + b"".join(payloads)


def decode_run(blob: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Full decode -> (docnos uint64, tfs int32, dls int32)."""
    n, n_blocks, bs = codec.read_header(blob)
    if n == 0:
        z = np.empty(0, dtype=np.uint64)
        return z, z.astype(np.int32), z.astype(np.int32)
    directory = codec.read_directory(blob)
    payload = codec._payload(blob)
    docnos = np.empty(n, dtype=np.uint64)
    tfs = np.empty(n, dtype=np.int64)
    dls = np.empty(n, dtype=np.int64)
    base = np.uint64(0)
    start = 0
    out = 0
    for bi in range(n_blocks):
        sz = bs if bi < n_blocks - 1 else n - bs * (n_blocks - 1)
        end = int(directory[bi]["end"])
        gaps, tf_b, dl_b = codec._decode_block_payload(payload[start:end], sz)
        d = np.cumsum(gaps, dtype=np.uint64) + base
        docnos[out : out + sz] = d
        base = d[-1]
        tfs[out : out + sz] = tf_b
        dls[out : out + sz] = dl_b
        start = end
        out += sz
    return docnos, tfs.astype(np.int32), dls.astype(np.int32)


def merge_runs(blobs: list[bytes], impacts_fn) -> bytes:
    """Merge docno-disjoint, range-ordered runs into one blob.

    Proves salted == unsalted byte equality (the engine keeps salted
    runs as separate index rows). impacts_fn(tfs, dls) -> float32
    impacts for the directory rebuild.
    """
    parts = [decode_run(b) for b in blobs if codec.read_header(b)[0] > 0]
    parts.sort(key=lambda p: int(p[0][0]) if len(p[0]) else 0)
    if not parts:
        return encode_run(
            np.empty(0, np.uint64), np.empty(0, np.int64), np.empty(0, np.int64),
            np.empty(0, np.float32),
        )
    docnos = np.concatenate([p[0] for p in parts])
    tfs = np.concatenate([p[1] for p in parts])
    dls = np.concatenate([p[2] for p in parts])
    return encode_run(docnos, tfs, dls, impacts_fn(tfs, dls))
