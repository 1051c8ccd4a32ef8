"""The serve image: the index as query/serve.LocalSearcher maps it.

Every commit of an index writes one: build_index as its serve_image
stage, after postings, and compact.append_delta, refresh_bounds and
repair_partial_append just before they write properties.json. The
image of generation g lives in <index_root>/serve/g<g>/ as three
uncompressed Arrow IPC files, each one record batch:

- postings.arrow: the postings termid and blob columns (plus pos_blob on
  a positional index) sorted by termid, a stable sort, so a term's runs
  are adjacent and in file order. A term's postings are one byte range
  of the blob column, as Ivory reaches them with one seek through its
  forward index (IntPostingsForwardIndex.java:68-110);
- dictionary.arrow: term, termid, df and cf sorted by each term's UTF-8
  bytes, the term as fixed-size binary as wide as the longest term
  (zero-padded), so a lookup is a binary search over fixed-width keys
  instead of Ivory's front-coded terms and perfect hash
  (BuildDictionary.java:173-196);
- docids.arrow: the docid 'repo/path@commit' of every docno, in docno
  order.

The image is derived data: image_tables computes it from the parquet
artifacts, and validate_index compares it with them. properties.json's
`generation` (0 at build, plus 1 for each append or refresh) names the
committed image, so a crash before the commit leaves the committed image
serving; prune deletes the superseded generations after the commit.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ivory_spark.index.reader import _data_files

FILES = ("postings", "dictionary", "docids")


def _read(index_root: str, artifact: str, columns: list[str]) -> pa.Table:
    """Columns of a parquet artifact, its files in name order (the order
    pyarrow.dataset discovers them in), read without importing
    pyarrow.dataset, which costs a process about 36 MB of RSS."""
    tables = [pq.ParquetFile(f).read(columns=columns)
              for f in _data_files(os.path.join(index_root, artifact))]
    return pa.table({c: pa.chunked_array([t[c] for t in tables]) for c in columns})


def byte_views(arr) -> tuple[np.ndarray, np.ndarray]:
    """(data, offsets) of a large_binary or large_string array as numpy
    views, no copy: value i is data[offsets[i]:offsets[i+1]]."""
    _, offsets, data = arr.buffers()
    off = np.frombuffer(offsets, dtype=np.int64)[arr.offset : arr.offset + len(arr) + 1]
    return np.frombuffer(data or b"", dtype=np.uint8), off


def image_dir(index_root: str, generation) -> str:
    return os.path.join(index_root, "serve", f"g{generation}")


def image_tables(index_root: str, props: dict) -> dict[str, pa.Table]:
    """The image's three tables, computed from the parquet artifacts of
    the index at index_root under its properties `props`. Raises
    ValueError when the docmap's docnos are not 1..n_docs (rows a
    crashed append left behind: run compact.repair_partial_append)."""
    cols = ["termid", "blob"] + (["pos_blob"] if props.get("positional") else [])
    post = _read(index_root, "postings", cols)
    order = np.argsort(post["termid"].to_numpy(), kind="stable")
    # large_binary before the take: offsets stay 64-bit past 2 GiB
    post = pa.table({
        c: post[c].cast(pa.large_binary()) if c != "termid" else post[c] for c in cols
    }).take(order)

    dic = _read(index_root, "dictionary", ["term", "termid", "df", "cf"])
    terms = dic["term"].cast(pa.large_binary()).combine_chunks()
    data, off = byte_views(terms)
    raw = data[off[0] : off[-1]]
    if (raw == 0).any():
        # a zero byte would read as padding in the fixed-width keys
        raise ValueError("a dictionary term holds a NUL byte")
    lens = np.diff(off)
    width = max(1, int(lens.max(initial=0)))
    keys = np.zeros((len(terms), width), dtype=np.uint8)
    row = np.repeat(np.arange(len(terms)), lens)
    keys[row, np.arange(len(raw)) - np.repeat(off[:-1] - off[0], lens)] = raw
    by_term = np.argsort(keys.view(f"S{width}").ravel(), kind="stable")
    fixed = pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(width), len(terms), [None, pa.py_buffer(keys[by_term].tobytes())]
    )
    dictionary = pa.table({
        "term": fixed,
        **{c: dic[c].cast(pa.int64()).take(by_term) for c in ("termid", "df", "cf")},
    })

    dm = _read(index_root, "docmap", ["docno", "repo", "path", "commit"])
    docnos = dm["docno"].to_numpy()
    by_docno = np.argsort(docnos)
    if not np.array_equal(docnos[by_docno], np.arange(1, props["n_docs"] + 1)):
        raise ValueError(
            f"docmap docnos are not 1..n_docs={props['n_docs']}; "
            "run compact.repair_partial_append"
        )
    # 'repo/path@commit', nulls skipped as the Spark docid_expr does
    docid = pc.binary_join_element_wise(
        dm["repo"], "/", dm["path"], "@", dm["commit"], "", null_handling="skip"
    ).take(by_docno).cast(pa.large_string())
    return {"postings": post, "dictionary": dictionary, "docids": pa.table({"docid": docid})}


def write_image(index_root: str, props: dict) -> str:
    """Write the image of props["generation"] from the parquet artifacts;
    -> its directory. The files go to a temporary directory renamed into
    place, so the directory is whole or absent. An existing image of the
    same generation is renamed aside first, so a process that mapped it
    keeps reading its files."""
    final = image_dir(index_root, props["generation"])
    tmp, old = final + ".tmp", final + ".old"
    for p in (tmp, old):
        shutil.rmtree(p, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in image_tables(index_root, props).items():
        with pa.OSFile(os.path.join(tmp, f"{name}.arrow"), "wb") as sink:
            with pa.ipc.new_file(sink, table.schema) as writer:
                writer.write_table(table.combine_chunks())
    if os.path.exists(final):
        os.rename(final, old)
    os.rename(tmp, final)
    shutil.rmtree(old, ignore_errors=True)
    return final


def open_image(index_root: str, props: dict) -> dict[str, pa.Table]:
    """The image of props["generation"], memory-mapped: every column's
    buffers point into the page cache, shared by every process that maps
    it. Raises ValueError when the index has no such image."""
    path = image_dir(index_root, props.get("generation"))
    try:
        return {
            name: pa.ipc.open_file(pa.memory_map(os.path.join(path, f"{name}.arrow"))).read_all()
            for name in FILES
        }
    except FileNotFoundError:
        raise ValueError(
            f"index at {index_root} has no serve image {path}; rebuild the index"
        ) from None


def image_differs(index_root: str, props: dict) -> list[str]:
    """Names of the committed image's files whose tables differ from
    image_tables (a missing image differs in all three)."""
    try:
        mapped = open_image(index_root, props)
    except ValueError:
        return list(FILES)
    want = image_tables(index_root, props)
    return [n for n in FILES if not mapped[n].equals(want[n])]


def prune(index_root: str, generation) -> None:
    """Delete every image but generation's, and any leftover temporary
    one: after a commit, the images it superseded."""
    keep = os.path.basename(image_dir(index_root, generation))
    serve = os.path.join(index_root, "serve")
    for name in os.listdir(serve) if os.path.isdir(serve) else ():
        if name != keep:
            shutil.rmtree(os.path.join(serve, name), ignore_errors=True)
