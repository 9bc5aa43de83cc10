"""Posting-block codec (index/postings_codec.py) against a naive per-block
loop over hand-built Arrow batches — no JVM needed."""

import numpy as np
import pyarrow as pa
import pytest

from lucenenet_spark.index.postings_codec import decode_blocks, flat_list, list_array

SCHEMA = pa.schema(
    [
        ("first_docid", pa.int64()),
        ("docid_deltas", pa.list_(pa.int64())),
        ("freqs", pa.list_(pa.int32())),
        ("norm_bytes", pa.list_(pa.int32())),
        ("doclens", pa.list_(pa.int32())),
        ("positions", pa.list_(pa.int32())),
    ]
)
LIST_COLS = ("freqs", "norm_bytes", "doclens", "positions")


def _blocks(rng, sizes):
    """Encode random ascending docid runs as posting-block rows the way the
    builder lays them out: delta 0 at each block start, flat positions."""
    rows = []
    doc = 0
    for n in sizes:
        doc += int(rng.integers(0, 50))
        docs = doc + np.cumsum(rng.integers(1, 9, size=n))
        doc = int(docs[-1])
        freqs = rng.integers(1, 5, size=n)
        rows.append(
            {
                "first_docid": int(docs[0]),
                "docid_deltas": [0] + np.diff(docs).tolist(),
                "freqs": freqs.tolist(),
                "norm_bytes": rng.integers(0, 256, size=n).tolist(),
                "doclens": rng.integers(1, 900, size=n).tolist(),
                "positions": np.sort(
                    rng.integers(0, 1 << 20, size=int(freqs.sum()))
                ).tolist(),
            }
        )
    return pa.RecordBatch.from_pylist(rows, schema=SCHEMA)


def _naive(rb):
    """The per-block reference decode: fd + cumsum(deltas) per row."""
    out = {c: [] for c in ("docid", "row", *LIST_COLS)}
    for i, r in enumerate(rb.to_pylist()):
        d = r["first_docid"] + np.cumsum(np.asarray(r["docid_deltas"], dtype=np.int64))
        out["docid"].append(d)
        out["row"].append(np.full(len(d), i, dtype=np.int64))
        for c in LIST_COLS:
            out[c].append(np.asarray(r[c], dtype=np.int64))
    return {
        k: np.concatenate(v) if v else np.array([], dtype=np.int64)
        for k, v in out.items()
    }


def _assert_decodes(rb):
    got = decode_blocks(rb, LIST_COLS)
    want = _naive(rb)
    assert set(got) == set(want)
    for k in want:
        assert got[k].dtype == np.int64, k
        np.testing.assert_array_equal(got[k], want[k], err_msg=k)
    return got


def test_multi_block_batch():
    rb = _blocks(np.random.default_rng(1), [128, 128, 37, 128, 5])
    got = _assert_decodes(rb)
    assert np.all(np.diff(got["docid"]) > 0)


def test_single_entry_blocks():
    _assert_decodes(_blocks(np.random.default_rng(2), [1] * 40))


def test_delta_sums_past_int64_wrap_back():
    # the batch-wide running delta sum overflows int64; per-block docids
    # stay exact because the wraparound cancels in the segmented cumsum
    big = (1 << 62) - 10
    rb = pa.RecordBatch.from_pylist(
        [
            {"first_docid": 5, "docid_deltas": [0, big, big], "freqs": [1, 1, 1],
             "norm_bytes": [1, 1, 1], "doclens": [1, 1, 1], "positions": [0, 0, 0]},
            {"first_docid": 7, "docid_deltas": [0, big, big], "freqs": [1, 1, 1],
             "norm_bytes": [1, 1, 1], "doclens": [1, 1, 1], "positions": [0, 0, 0]},
        ],
        schema=SCHEMA,
    )
    got = _assert_decodes(rb)
    assert got["docid"][-1] == 7 + 2 * big


def test_sliced_batch():
    rb = _blocks(np.random.default_rng(4), [7, 128, 3, 1, 128, 64])
    sl = rb.slice(2, 3)
    assert sl.column("docid_deltas").offset == 2
    _assert_decodes(sl)
    vals, lens = flat_list(sl.column("freqs"))
    np.testing.assert_array_equal(lens, [3, 1, 128])
    assert len(vals) == 132


def test_empty_batch():
    rb = _blocks(np.random.default_rng(5), [])
    got = _assert_decodes(rb)
    assert all(len(v) == 0 for v in got.values())
    vals, lens = flat_list(rb.column("positions"))
    assert len(vals) == 0 and len(lens) == 0


def test_null_rows_flatten_as_empty():
    col = pa.array([[1, 2], None, [3]], pa.list_(pa.int32()))
    vals, lens = flat_list(col)
    np.testing.assert_array_equal(vals, [1, 2, 3])
    np.testing.assert_array_equal(lens, [2, 0, 1])
    vals, lens = flat_list(pa.nulls(3, pa.list_(pa.int32())))
    assert len(vals) == 0
    np.testing.assert_array_equal(lens, [0, 0, 0])


def test_positions_split_by_freqs():
    rb = _blocks(np.random.default_rng(6), [3, 9, 1])
    got = decode_blocks(rb, ("freqs", "positions"))
    pos_off = np.concatenate(([0], np.cumsum(got["freqs"])))
    assert pos_off[-1] == len(got["positions"])
    j = 0
    for r in rb.to_pylist():
        flat = r["positions"]
        cut = np.concatenate(([0], np.cumsum(r["freqs"])))
        for a, b in zip(cut[:-1], cut[1:]):
            np.testing.assert_array_equal(
                got["positions"][pos_off[j]: pos_off[j + 1]], flat[a:b]
            )
            j += 1
    assert j == len(got["docid"])


@pytest.mark.parametrize("sizes", [[128, 128, 17], [1], []])
def test_list_array_round_trip(sizes):
    rng = np.random.default_rng(7)
    n = int(sum(sizes))
    docs = np.cumsum(rng.integers(1, 1000, size=n)).astype(np.int64)
    freqs = rng.integers(1, 4, size=n).astype(np.int32)
    blk_off = np.concatenate(([0], np.cumsum(sizes))).astype(np.int64)
    deltas = np.diff(docs, prepend=docs[:1]) if n else docs
    deltas[blk_off[:-1]] = 0
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array(docs[blk_off[:-1]], pa.int64()),
            list_array(blk_off, deltas),
            list_array(blk_off, freqs),
        ],
        names=["first_docid", "docid_deltas", "freqs"],
    )
    got = decode_blocks(rb, ("freqs",))
    np.testing.assert_array_equal(got["docid"], docs)
    np.testing.assert_array_equal(got["freqs"], freqs)
    np.testing.assert_array_equal(got["row"], np.repeat(np.arange(len(sizes)), sizes))
