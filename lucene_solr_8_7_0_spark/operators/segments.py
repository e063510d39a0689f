"""Segment encode: per-document token rows -> compressed per-(segment,
term) index rows.

The Spark analog of segment flush (FreqProxTermsWriter.flush ->
Lucene84PostingsWriter, SURVEY.md §2.3-2.4).  A segment is a fixed
range of global doc ids: ``segment_id = doc_id // segment_size`` — a
pure function of the doc id, so segment contents are identical at any
cluster size, and a segment's postings are bounded (skew-safe: even a
term present in *every* doc has at most segment_size postings per
group).

ONE FLUSH PATH, like Lucene's: either tokenizer front-end
(operators/invert.py) emits one row per document, the stream shuffles
once on segment_id, and one Arrow kernel (``encode_segment``, run by
``groupBy("segment_id").applyInArrow``) decodes the group's wire to
flat (doc, term code, position) arrays plus per-doc lengths, then
lexsorts, run-length aggregates (doc, term) freqs and batch-encodes
every term.  It emits, per segment:

* one row per term: block-encoded postings + skip offsets + impacts,
* one SENTINEL row (term = "\\x00meta", written by ``sentinel_row``)
  holding the segment's packed norm bytes and exact int64 lengths — the
  ``.nvd`` payload embedded in the segment, making every segment a
  self-contained unit exactly like a Lucene segment's file set.  The
  sentinel term sorts before every real token, so parquet row-group
  pruning keeps working, and queries fetch norms in the same
  pushed-down scan as the postings.

There is no intermediate "freqprox" materialization and no
norms-table cogroup — one tokenize, one shuffle, one write.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..config import EngineConfig
from ..functions.smallfloat import int_to_byte4_np

SENTINEL_TERM = "\x00meta"

SEGMENT_SCHEMA = (
    "segment_id int, term string, df int, ttf bigint, "
    "singleton_doc int, singleton_freq int, "
    "doc_blocks binary, doc_block_offsets array<int>, "
    "freq_blocks binary, freq_block_offsets array<int>, "
    "pos_blocks binary, pos_block_offsets array<int>, "
    "block_last_docs array<int>, "
    "impacts_flat array<int>, impacts_offsets array<int>"
)

_SEG_COLS = [
    "segment_id", "term", "df", "ttf",
    "singleton_doc", "singleton_freq",
    "doc_blocks", "doc_block_offsets",
    "freq_blocks", "freq_block_offsets",
    "pos_blocks", "pos_block_offsets",
    "block_last_docs", "impacts_flat", "impacts_offsets",
]


def _encode_all_terms(
    seg_id: int,
    uniques,
    boundaries: np.ndarray,
    docs_all: np.ndarray,
    freqs_all: np.ndarray,
    norm_arr: np.ndarray,
    pos_flat: np.ndarray | None = None,
) -> list[tuple]:
    """Encode EVERY term of a segment in one batched pass.

    The round-1 encoder called encode_term_postings per term (~300
    interpreted calls each); here doc-delta computation, block
    bit-packing, impact frontiers and block-last extraction are each a
    single whole-segment numpy pass (functions/codec.py
    encode_blocks_batched, functions/impacts.py block_impacts_batched)
    — format-identical to the scalar path, which remains the oracle in
    tests/test_codec.py.  Per-term work is reduced to tuple assembly;
    list-typed cells stay numpy arrays, which Arrow converts straight
    from their buffers (``.tolist()`` per term was ~10% of the encode
    kernel).
    """
    from ..functions.codec import BLOCK_SIZE, _grouped_arange, encode_blocks_batched
    from ..functions.impacts import block_impacts_batched

    T = len(uniques)
    if T == 0:
        return []
    df_t = np.diff(boundaries)
    norms_all = norm_arr[docs_all]
    ttf_t = np.add.reduceat(freqs_all, boundaries[:-1])
    has_pos = pos_flat is not None
    # singleton pulsing (Lucene84PostingsWriter singletonDocID) applies
    # only to builds without positions, mirroring the scalar encoder
    singleton = (df_t == 1) & (not has_pos)
    multi = ~singleton
    keep = np.repeat(multi, df_t)
    m_docs = docs_all[keep]
    m_freqs = freqs_all[keep]
    m_norms = norms_all[keep]
    m_df = df_t[multi]
    m_starts = np.concatenate(([0], np.cumsum(m_df)))
    # doc deltas: first posting of a term keeps its absolute doc id
    deltas = m_docs.copy()
    deltas[1:] -= m_docs[:-1]
    term_starts = m_starts[:-1]
    deltas[term_starts] = m_docs[term_starts]
    doc_pay, doc_offs = encode_blocks_batched(deltas, m_starts)
    freq_pay, freq_offs = encode_blocks_batched(m_freqs, m_starts)
    flats, imp_offs = block_impacts_batched(m_freqs, m_norms, m_starts, BLOCK_SIZE)
    # block-last doc ids, one grouped-arange pass over all blocks
    nb_t = (m_df + BLOCK_SIZE - 1) // BLOCK_SIZE
    blk_first = np.concatenate(([0], np.cumsum(nb_t)))
    bt = np.repeat(np.arange(len(m_df)), nb_t)
    bl = _grouped_arange(nb_t)
    last_idx = term_starts[bt] + np.minimum(
        (bl + 1) * BLOCK_SIZE - 1, m_df[bt] - 1
    )
    last_docs = m_docs[last_idx].astype(np.int32)
    if has_pos:
        pos_all = np.ascontiguousarray(pos_flat, dtype=np.int64)
        # per-doc delta encoding: reset at every posting's first position
        pdelta = pos_all.copy()
        pdelta[1:] -= pos_all[:-1]
        doc_pos_starts = np.concatenate(([0], np.cumsum(m_freqs)[:-1]))
        pdelta[doc_pos_starts] = pos_all[doc_pos_starts]
        p_starts = np.concatenate(([0], np.cumsum(ttf_t[multi])))
        pos_pay, pos_offs = encode_blocks_batched(pdelta, p_starts)
    rows = []
    mi = 0
    for t in range(T):
        s = boundaries[t]
        if singleton[t]:
            rows.append(
                (
                    seg_id, uniques[t], 1, int(freqs_all[s]),
                    int(docs_all[s]), int(freqs_all[s]),
                    b"", [], b"", [], b"", [],
                    [int(docs_all[s])],
                    [int(freqs_all[s]), int(norms_all[s])], [0, 1],
                )
            )
            continue
        rows.append(
            (
                seg_id, uniques[t], int(df_t[t]), int(ttf_t[t]),
                -1, 0,
                doc_pay[mi], doc_offs[mi],
                freq_pay[mi], freq_offs[mi],
                pos_pay[mi] if has_pos else b"",
                pos_offs[mi] if has_pos else [],
                last_docs[blk_first[mi] : blk_first[mi + 1]],
                flats[mi], imp_offs[mi],
            )
        )
        mi += 1
    return rows


def sentinel_row(seg_id: int, lengths: np.ndarray) -> tuple:
    """The segment's SENTINEL row (``_SEG_COLS`` order) — the one
    writer of its format, shared by the build kernel and the merge:
    doc count in ``df``, summed length in ``ttf``, the SmallFloat norm
    bytes in ``doc_blocks`` and the exact int64 lengths in
    ``freq_blocks``, one entry per local doc id."""
    lengths = np.asarray(lengths, dtype=np.int64)
    return (
        seg_id, SENTINEL_TERM, len(lengths), int(lengths.sum()),
        -1, 0,
        int_to_byte4_np(lengths).astype(np.uint8).tobytes(), [],
        lengths.astype("<i8").tobytes(), [],
        b"", [],
        [], [], [],
    )


def _positions_from_holes(
    lens: np.ndarray, hlens: np.ndarray, hole_vals: np.ndarray
) -> np.ndarray:
    """Reconstruct kept token positions from the hole-compressed wire
    format (invert_doc_arrays): per doc, kept positions are
    ``arange(len + holes)`` minus the hole slots.  Vectorized across
    the whole group; the (typical) zero-hole case is one grouped
    arange."""
    from ..functions.codec import _grouped_arange

    if len(hole_vals) == 0:
        return _grouped_arange(lens)
    raw = lens + hlens
    flat_raw = _grouped_arange(raw)
    raw_offsets = np.concatenate(([0], np.cumsum(raw)[:-1]))
    hole_rows = np.repeat(np.arange(len(hlens)), hlens)
    mask = np.ones(int(raw.sum()), dtype=bool)
    mask[raw_offsets[hole_rows] + hole_vals] = False
    return flat_raw[mask]


def segment_arrow_schema():
    """SEGMENT_SCHEMA as a pyarrow schema (``_SEG_COLS`` order)."""
    import pyarrow as pa

    ints = pa.list_(pa.int32())
    return pa.schema(list(zip(_SEG_COLS, [
        pa.int32(), pa.string(), pa.int32(), pa.int64(),
        pa.int32(), pa.int32(),
        pa.binary(), ints, pa.binary(), ints, pa.binary(), ints,
        ints, ints, ints,
    ])))


def _rows_to_arrow(rows: list[tuple]):
    """Segment rows (tuples in _SEG_COLS order) -> pa.Table matching
    SEGMENT_SCHEMA.  One C++ conversion per column — no pandas object
    round-trip on the output side."""
    import pyarrow as pa

    schema = segment_arrow_schema()
    cols = list(zip(*rows))
    return pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)],
        schema=schema,
    )


def _int64(arr) -> np.ndarray:
    return arr.to_numpy(zero_copy_only=False).astype(np.int64)


def encode_segment(seg_id: int, tbl, seg_size: int, index_positions: bool):
    """One segment's per-document rows -> its term rows + sentinel row,
    as a pa.Table matching SEGMENT_SCHEMA.

    Both wires carry ``(doc_id, terms[])``.  The JVM wire
    (invert_doc_arrays) adds ``holes[]``: kept positions are rebuilt
    from the dropped slots and a doc's length is its term count.  The
    Python wire (invert) adds explicit ``positions[]`` and ``length``,
    because index-time synonyms share a position and do not count
    toward the norm.  The token stream stays in Arrow buffers:
    ``list_flatten`` + ``dictionary_encode`` replace per-token Python
    strings, so only the segment's vocabulary materializes as Python
    objects (the measured scaling limiter on allocation-throttled
    hosts, BENCH.md)."""
    import pyarrow.compute as pc

    docs = _int64(tbl.column("doc_id")) - seg_id * seg_size
    terms = tbl.column("terms").combine_chunks()
    lens = _int64(pc.list_value_length(terms))
    if "holes" in tbl.column_names:
        holes = tbl.column("holes").combine_chunks()
        positions = _positions_from_holes(
            lens, _int64(pc.list_value_length(holes)),
            _int64(pc.list_flatten(holes)),
        )
        doc_lengths = lens
    else:
        positions = _int64(
            pc.list_flatten(tbl.column("positions").combine_chunks())
        )
        doc_lengths = _int64(tbl.column("length"))
    # size by the max local id so delta builds whose doc range starts
    # mid-segment stay addressable (leading zeros = docs owned by the
    # base index; the merge overlays them)
    lengths = np.zeros(int(docs.max()) + 1 if len(docs) else 0, np.int64)
    lengths[docs] = doc_lengths
    rows: list[tuple] = []
    if int(lens.sum()):
        de = pc.list_flatten(terms).dictionary_encode()
        codes = _int64(de.indices)
        uniques = de.dictionary.to_numpy(zero_copy_only=False)
        tok_docs = np.repeat(docs, lens)
        # (doc, term) aggregation inside the group the shuffle built:
        # one lexsort, then run-length boundaries per (term, doc) and
        # per term
        order = np.lexsort((positions, tok_docs, codes))
        c_s, d_s, p_s = codes[order], tok_docs[order], positions[order]
        change = np.empty(len(c_s), dtype=bool)
        change[0] = True
        change[1:] = (c_s[1:] != c_s[:-1]) | (d_s[1:] != d_s[:-1])
        starts = np.flatnonzero(change)
        pcodes = c_s[starts]
        tchange = np.empty(len(starts), dtype=bool)
        tchange[0] = True
        tchange[1:] = pcodes[1:] != pcodes[:-1]
        tstarts = np.flatnonzero(tchange)
        rows = _encode_all_terms(
            seg_id,
            uniques[pcodes[tstarts]],
            np.append(tstarts, len(starts)).astype(np.int64),
            d_s[starts],
            np.diff(np.append(starts, len(c_s))),
            int_to_byte4_np(lengths),
            pos_flat=(p_s if index_positions else None),
        )
    rows.append(sentinel_row(seg_id, lengths))
    return _rows_to_arrow(rows)


def encode_segments(doc_rows: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Per-document token rows (either invert front-end) -> segment
    rows: one shuffle on segment_id, one Arrow kernel per group."""
    seg_size = cfg.segment_size
    index_positions = cfg.index_positions
    p = doc_rows.withColumn(
        "segment_id", (F.col("doc_id") / F.lit(seg_size)).cast("int")
    )
    # Explicit partition count for the encode shuffle: AQE's advisory-
    # size coalescing packs the token stream into uneven ~16 MB tasks
    # whose stragglers leave cores idle through the encode wave;
    # 2x parallelism gives two even waves (measured ~8% on the sf1.0
    # segments stage).  The groupBy below reuses this hash
    # partitioning, so there is still exactly one exchange, and the
    # count scales with the cluster, not a local constant.
    n_enc = max(
        2 * doc_rows.sparkSession.sparkContext.defaultParallelism, 1
    )
    p = p.repartition(n_enc, "segment_id")

    def encode(key, tbl):
        return encode_segment(key[0].as_py(), tbl, seg_size, index_positions)

    return p.groupby("segment_id").applyInArrow(encode, schema=SEGMENT_SCHEMA)


def lengths_from_segments(segments: DataFrame, cfg: EngineConfig) -> DataFrame:
    """(doc_id, length) exploded from the sentinel rows."""
    seg_size = cfg.segment_size

    def explode(batches):
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({"doc_id": [], "length": []})
                continue
            # whole-batch vectorized: one buffer concat + one
            # grouped-arange for doc ids — no per-segment-row frames
            bufs = pdf["freq_blocks"].tolist()
            ns = np.fromiter((len(b) // 8 for b in bufs), np.int64,
                             count=len(bufs))
            lengths = np.frombuffer(b"".join(bufs), dtype="<i8")
            bases = pdf["segment_id"].to_numpy(dtype=np.int64) * seg_size
            offs = np.arange(int(ns.sum()), dtype=np.int64) - np.repeat(
                np.cumsum(ns) - ns, ns
            )
            yield pd.DataFrame(
                {"doc_id": np.repeat(bases, ns) + offs, "length": lengths}
            )

    sel = segments.filter(F.col("term") == SENTINEL_TERM).select(
        "segment_id", "freq_blocks"
    )
    # one sentinel row per segment: the pushed-down scan otherwise
    # launches one (serialized ~9 ms) Python task per segment FILE for
    # a trivial frombuffer decode.  Coalescing to a quarter of the scan
    # partitions (floored at 1) keeps the count proportional to the
    # table — more tasks for bigger tables, a handful locally — and
    # costs no shuffle.
    cur = sel.rdd.getNumPartitions()
    target = max(cur // 4, 1)
    if target < cur:
        sel = sel.coalesce(target)
    return sel.mapInPandas(explode, schema="doc_id bigint, length bigint")
