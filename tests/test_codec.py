"""Codec round-trip tests — mirrors TestForUtil / TestPForUtil /
TestForDeltaUtil strategy (lucene/core/src/test/.../lucene84/):
random values at every bit width, all-equal blocks, exception patching,
plus full term-postings round trips including positions."""

import numpy as np
import pytest

from lucene_solr_8_7_0_spark.functions.codec import (
    BLOCK_SIZE,
    bits_required,
    decode_blocks,
    decode_selected_blocks,
    decode_term_postings,
    encode_blocks,
    encode_term_postings,
    pack_bits,
    unpack_bits,
)


def test_bits_required():
    assert bits_required(0) == 0
    assert bits_required(1) == 1
    assert bits_required(127) == 7
    assert bits_required(128) == 8
    assert bits_required(2**32 - 1) == 32


@pytest.mark.parametrize("width", list(range(0, 33)))
def test_pack_roundtrip_every_width(width):
    rng = np.random.default_rng(width)
    hi = 1 if width == 0 else 2**width
    vals = rng.integers(0, hi, size=BLOCK_SIZE, dtype=np.uint64).astype(np.uint32)
    if width:
        vals[0] = hi - 1  # pin the max
    out = unpack_bits(pack_bits(vals, width), len(vals), width)
    np.testing.assert_array_equal(out, vals)


def test_blocks_roundtrip_random():
    rng = np.random.default_rng(7)
    for trial in range(20):
        n = int(rng.integers(1, 1000))
        vals = rng.integers(0, 2**int(rng.integers(1, 32)), size=n).astype(np.uint32)
        buf, offsets = encode_blocks(vals)
        np.testing.assert_array_equal(decode_blocks(buf, offsets, n), vals)


def test_all_equal_block_collapses():
    vals = np.full(BLOCK_SIZE, 7, dtype=np.uint32)
    buf, offsets = encode_blocks(vals)
    assert len(buf) == 5  # header + 4-byte value (PForUtil.java:91-96 analog)
    np.testing.assert_array_equal(decode_blocks(buf, offsets, BLOCK_SIZE), vals)


def test_exception_patching_shrinks_encoding():
    # 125 small values + 3 huge outliers: patched encoding must beat
    # packing everything at the outlier width (PForUtil.java:54-103)
    vals = np.ones(BLOCK_SIZE, dtype=np.uint32)
    vals[[3, 77, 127]] = 2**30
    buf, offsets = encode_blocks(vals)
    assert len(buf) < BLOCK_SIZE * 30 // 8
    np.testing.assert_array_equal(decode_blocks(buf, offsets, BLOCK_SIZE), vals)


def test_selected_block_random_access():
    rng = np.random.default_rng(11)
    n = 5 * BLOCK_SIZE + 17
    vals = rng.integers(0, 1000, size=n).astype(np.uint32)
    buf, offsets = encode_blocks(vals)
    sel = decode_selected_blocks(buf, offsets, n, np.array([0, 3, 5]))
    np.testing.assert_array_equal(sel[0], vals[:BLOCK_SIZE])
    np.testing.assert_array_equal(sel[3], vals[3 * BLOCK_SIZE : 4 * BLOCK_SIZE])
    np.testing.assert_array_equal(sel[5], vals[5 * BLOCK_SIZE :])


def _random_postings(rng, df, max_doc=100_000, with_positions=True):
    docs = np.sort(rng.choice(max_doc, size=df, replace=False)).astype(np.int64)
    freqs = rng.integers(1, 20, size=df).astype(np.int64)
    norms = rng.integers(0, 256, size=df).astype(np.int64)
    positions = None
    if with_positions:
        positions = np.concatenate(
            [np.sort(rng.choice(5000, size=int(f), replace=False)) for f in freqs]
        ).astype(np.int64)
    return docs, freqs, norms, positions


@pytest.mark.parametrize("df", [2, 5, 127, 128, 129, 1000, 4096])
def test_term_postings_roundtrip(df):
    rng = np.random.default_rng(df)
    docs, freqs, norms, positions = _random_postings(rng, df)
    tp = encode_term_postings(docs, freqs, norms, positions)
    assert tp.df == df
    assert tp.ttf == int(freqs.sum())
    ddocs, dfreqs, dpos = decode_term_postings(tp, with_positions=True)
    np.testing.assert_array_equal(ddocs, docs)
    np.testing.assert_array_equal(dfreqs, freqs)
    np.testing.assert_array_equal(dpos, positions)
    # block_last_docs is the skip table: last doc id of each 128-block
    nb = (df + BLOCK_SIZE - 1) // BLOCK_SIZE
    assert len(tp.block_last_docs) == nb
    assert tp.block_last_docs[-1] == docs[-1]


def test_batched_blocks_match_scalar_encoder():
    """encode_blocks_batched over many streams decodes to the originals
    and chooses the same widths/costs as the scalar encoder (the
    per-stream payloads may differ only in no-op exception patches the
    scalar path writes for values that already fit the width)."""
    from lucene_solr_8_7_0_spark.functions.codec import encode_blocks_batched

    rng = np.random.default_rng(13)
    streams = []
    for trial in range(60):
        kind = trial % 5
        n = int(rng.integers(1, 400))
        if kind == 0:  # all-equal
            v = np.full(n, int(rng.integers(0, 2**20)), dtype=np.uint32)
        elif kind == 1:  # small values + outliers (exception patching)
            v = rng.integers(0, 8, size=n).astype(np.uint32)
            v[rng.integers(0, n, size=min(3, n))] = 2**29
        elif kind == 2:  # zeros
            v = np.zeros(n, dtype=np.uint32)
        elif kind == 3:  # full 32-bit range
            v = rng.integers(0, 2**32, size=n, dtype=np.uint64).astype(np.uint32)
        else:
            v = rng.integers(0, 2 ** int(rng.integers(1, 31)), size=n).astype(
                np.uint32
            )
        streams.append(v)
    flat = np.concatenate(streams)
    starts = np.concatenate(
        ([0], np.cumsum([len(s) for s in streams]))
    ).astype(np.int64)
    payloads, offsets = encode_blocks_batched(flat, starts)
    for v, buf, offs in zip(streams, payloads, offsets):
        got = decode_blocks(buf, np.asarray(offs), len(v))
        np.testing.assert_array_equal(got, v)
        # batched encoding is never larger than the scalar one
        sbuf, _ = encode_blocks(v)
        assert len(buf) <= len(sbuf)


def test_batched_impacts_match_scalar():
    from lucene_solr_8_7_0_spark.functions.impacts import (
        block_impacts,
        block_impacts_batched,
    )

    rng = np.random.default_rng(29)
    freq_streams, norm_streams = [], []
    for _ in range(40):
        n = int(rng.integers(1, 500))
        freq_streams.append(rng.integers(1, 50, size=n).astype(np.int64))
        norm_streams.append(rng.integers(0, 256, size=n).astype(np.int64))
    starts = np.concatenate(
        ([0], np.cumsum([len(s) for s in freq_streams]))
    ).astype(np.int64)
    flats, offs = block_impacts_batched(
        np.concatenate(freq_streams), np.concatenate(norm_streams), starts, BLOCK_SIZE
    )
    for f, nm, flat, off in zip(freq_streams, norm_streams, flats, offs):
        exp_flat, exp_off = block_impacts(f, nm, BLOCK_SIZE)
        np.testing.assert_array_equal(flat, exp_flat)
        np.testing.assert_array_equal(off, exp_off)


def test_batched_segment_encode_matches_scalar():
    """_encode_all_terms rows decode identically to encode_term_postings
    for every term, including positions and block-last skip data."""
    from lucene_solr_8_7_0_spark.operators.segments import _encode_all_terms

    rng = np.random.default_rng(31)
    seg_size = 1024
    norm_arr = rng.integers(0, 256, size=seg_size).astype(np.int64)
    terms, all_docs, all_freqs, all_pos = [], [], [], []
    for t in range(50):
        df = int(rng.integers(1, 300))
        docs, freqs, _, positions = _random_postings(
            rng, df, max_doc=seg_size, with_positions=True
        )
        terms.append(f"term{t:03d}")
        all_docs.append(docs)
        all_freqs.append(freqs)
        all_pos.append(positions)
    boundaries = np.concatenate(
        ([0], np.cumsum([len(d) for d in all_docs]))
    ).astype(np.int64)
    rows = _encode_all_terms(
        0, np.array(terms), boundaries,
        np.concatenate(all_docs), np.concatenate(all_freqs), norm_arr,
        np.concatenate(all_pos),
    )
    from lucene_solr_8_7_0_spark.functions.codec import TermPostings

    for t, row in enumerate(rows):
        exp = encode_term_postings(
            all_docs[t], all_freqs[t], norm_arr[all_docs[t]], all_pos[t]
        )
        tp = TermPostings(
            df=row[2], ttf=row[3], singleton_doc=row[4], singleton_freq=row[5],
            doc_blocks=row[6], doc_block_offsets=np.asarray(row[7], np.int32),
            freq_blocks=row[8], freq_block_offsets=np.asarray(row[9], np.int32),
            pos_blocks=row[10], pos_block_offsets=np.asarray(row[11], np.int32),
            block_last_docs=np.asarray(row[12], np.int32),
            impacts_flat=np.asarray(row[13], np.int32),
            impacts_offsets=np.asarray(row[14], np.int32),
        )
        assert row[1] == terms[t]
        assert tp.df == exp.df and tp.ttf == exp.ttf
        np.testing.assert_array_equal(tp.block_last_docs, exp.block_last_docs)
        np.testing.assert_array_equal(tp.impacts_flat, exp.impacts_flat)
        np.testing.assert_array_equal(tp.impacts_offsets, exp.impacts_offsets)
        gd, gf, gp = decode_term_postings(tp, with_positions=True)
        ed, ef, ep = decode_term_postings(exp, with_positions=True)
        np.testing.assert_array_equal(gd, ed)
        np.testing.assert_array_equal(gf, ef)
        np.testing.assert_array_equal(gp, ep)
    # no-positions mode pulses singletons exactly like the scalar path
    rows2 = _encode_all_terms(
        0, np.array(["single"]), np.array([0, 1]),
        np.array([42]), np.array([3]), norm_arr, None,
    )
    assert rows2[0][4] == 42 and rows2[0][5] == 3 and rows2[0][6] == b""


def test_singleton_pulsing():
    tp = encode_term_postings(
        np.array([42]), np.array([3]), np.array([17]), None
    )
    assert tp.singleton_doc == 42 and tp.singleton_freq == 3
    assert tp.doc_blocks == b""  # no blocks at all
    docs, freqs, _ = decode_term_postings(tp)
    assert docs.tolist() == [42] and freqs.tolist() == [3]


def test_dense_doc_run_is_tiny():
    # contiguous doc ids -> all deltas 1 -> every block collapses to 5 bytes
    docs = np.arange(10_000, dtype=np.int64)
    freqs = np.ones(10_000, dtype=np.int64)
    norms = np.full(10_000, 24, dtype=np.int64)
    tp = encode_term_postings(docs, freqs, norms)
    nb = (10_000 + BLOCK_SIZE - 1) // BLOCK_SIZE
    assert len(tp.doc_blocks) <= nb * 6
    ddocs, dfreqs, _ = decode_term_postings(tp)
    np.testing.assert_array_equal(ddocs, docs)
