"""Posting-block codec — the one module that knows how list columns are
laid out, in both directions (the Lucene41PostingsFormat analogue).

A posting block row (``POSTINGS_SCHEMA``) carries ``first_docid`` plus
parallel per-entry lists: ``docid_deltas`` (0 at the block start, then the
gap to the previous entry), ``freqs``, ``norm_bytes``, ``doclens``, and a
FLAT ``positions`` stream whose per-entry split lengths are the ``freqs``.
Readers never loop per block: a whole Arrow batch is flattened once and
the docids come from one segmented cumsum — the vectorized form of
Lucene41PostingsReader.RefillDocs (Lucene41PostingsReader.cs:385-404).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def list_array(offsets: np.ndarray, values) -> pa.ListArray:
    """ListArray from int64 entry offsets + flat values, zero-copy."""
    v = values if isinstance(values, pa.Array) else pa.array(values)
    return pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32), pa.int32()), v)


def flat_list(col) -> tuple[np.ndarray, np.ndarray]:
    """Arrow list column -> (flat int64 values, int64 per-row lengths).
    Honors the slice offset of a sliced array; a null row counts as empty."""
    lens = pc.fill_null(pc.list_value_length(col), 0)
    vals = col.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    return vals, lens.to_numpy(zero_copy_only=False).astype(np.int64)


def decode_blocks(rb: pa.RecordBatch, cols=()) -> dict[str, np.ndarray]:
    """Posting-block batch -> flat per-entry numpy arrays: ``docid``,
    ``row`` (the block index of each entry) and every list column named in
    ``cols`` (``freqs``, ``norm_bytes``, ``doclens``; ``positions`` is the
    flat position stream, ``freqs`` long per entry)."""
    deltas, lens = flat_list(rb.column("docid_deltas"))
    row = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
    # segmented cumsum: the running delta sum minus its value before each
    # block's first entry (int64 wraparound cancels in the subtraction)
    run = np.cumsum(deltas)
    before = np.concatenate(([0], run))[np.cumsum(lens) - lens]
    first = rb.column("first_docid").to_numpy(zero_copy_only=False).astype(np.int64)
    out = {"docid": run + (first - before)[row], "row": row}
    for name in cols:
        out[name] = flat_list(rb.column(name))[0]
    return out
