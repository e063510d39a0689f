"""Segment merge: combining indexes / incremental document addition.

The reference merges segments by viewing N segments as one doc-id
remapped stream and re-writing postings (SegmentMerger.merge ->
FieldsConsumer.merge / MappedMultiFields, SURVEY.md §2.5).  Our global
doc ids make the Spark analog direct, and a merge does work in
proportion to what the inputs share:

* indexes over disjoint doc-id ranges union trivially — a segment that
  only one input covers is copied as-is by a JVM-only job; which
  segment ids two inputs share is read from the parquet footers'
  ``segment_id`` min/max, no data,
* only *shared* segments — where two inputs contribute docs to the
  same ``doc_id // segment_size`` range — enter ``merge_segment_rows``:
  decode both runs, concatenate (doc ranges are disjoint and ordered),
  and re-encode blocks + impacts; sentinel norms/lengths rows overlay
  by local doc id.  This is the k-way MultiTermsEnum merge, done per
  (segment, term) group, skew-bounded by segment_size,
* statistics are sums of per-index numbers, so they merge from the
  inputs' own tables: the stats row and length histogram on the driver
  (``stats.merge_stats_tables``), the termdict as ``stats.term_dict``
  over the union of the inputs' termdicts — no postings re-aggregated.

``add_documents`` is the IndexWriter.addDocuments + commit analog:
number the new docs after the existing maximum, build a delta index,
merge, and swap in a new snapshot directory (commit point).
"""

from __future__ import annotations

import os
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import EngineConfig
from ..functions.codec import decode_term_postings
from ..functions.smallfloat import int_to_byte4_np
from .search import rows_to_posting_map
from .segments import SENTINEL_TERM, SEGMENT_SCHEMA, _SEG_COLS


def _read(spark: SparkSession, index_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(index_dir, name))


def merge_segment_rows(seg_union: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Merge a union of segment rows from multiple indexes.

    Pass-through for single-source (segment, term) groups; decode +
    concat + re-encode for multi-source groups; sentinel rows combine
    by overlaying their lengths arrays (disjoint doc ownership)."""

    def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        seg_id = int(key[0])
        sents = pdf[pdf["term"] == SENTINEL_TERM]
        others = pdf[pdf["term"] != SENTINEL_TERM]
        # --- combine sentinel lengths/norms ---
        arrays = [
            np.frombuffer(r.freq_blocks, dtype="<i8") for r in sents.itertuples()
        ]
        size = max((len(a) for a in arrays), default=0)
        lengths = np.zeros(max(size, 1), dtype=np.int64)
        for a in arrays:
            lengths[: len(a)] = np.maximum(lengths[: len(a)], a)
        norms_full = int_to_byte4_np(lengths)
        sentinel_row = (
            seg_id, SENTINEL_TERM, size, int(lengths[:size].sum()) if size else 0,
            -1, 0,
            norms_full[:size].astype(np.uint8).tobytes(), [],
            lengths[:size].astype("<i8").tobytes(), [],
            b"", [],
            [], [], [],
        )
        # --- postings: pass-through singles, re-encode multi-source.
        # Decode stays per source row (each decode is itself a
        # vectorized pass over that row's blocks), but the RE-ENCODE of
        # all multi-source terms of the segment happens in ONE batched
        # call (_encode_all_terms -> encode_blocks_batched /
        # block_impacts_batched) instead of a scalar encode per term —
        # the streaming NRT path pays this merge every micro-batch. ---
        counts = others.groupby("term", sort=False)["df"].count()
        singles = counts[counts == 1].index
        out_single = others[others["term"].isin(singles)]
        multi_terms = counts[counts > 1].index
        rows = [sentinel_row]
        if len(multi_terms):
            from .segments import _encode_all_terms

            multi = others[others["term"].isin(multi_terms)]
            with_pos = "pos_blocks" in multi.columns
            # position availability is tracked PER TERM: terms whose
            # every source row carries positions re-encode with them,
            # position-less terms re-encode without — a mixed merge
            # (e.g. one input built index_positions=False) never drops
            # positions from the terms that do have them.  Each bucket
            # gets its own batched encode call.
            buckets = {
                True: ([], [], [], [], []),   # terms, df, docs, freqs, pos
                False: ([], [], [], [], []),
            }
            for term, grp in multi.groupby("term", sort=False):
                has_pos = with_pos and all(
                    len(x) > 0 for x in grp["pos_block_offsets"]
                )
                decoded = []
                for i in range(len(grp)):
                    tp = rows_to_posting_map(grp.iloc[[i]])[term]
                    docs, freqs, poss = decode_term_postings(
                        tp, with_positions=has_pos
                    )
                    decoded.append((docs, freqs, poss))
                decoded.sort(key=lambda d: int(d[0][0]) if len(d[0]) else -1)
                docs = np.concatenate([d[0] for d in decoded])
                if len(docs) > 1 and not (np.diff(docs) > 0).all():
                    raise ValueError(
                        f"merge inputs overlap in doc ids for term {term!r} "
                        f"segment {seg_id}"
                    )
                has_pos = has_pos and all(d[2] is not None for d in decoded)
                terms_b, df_b, docs_b, freqs_b, pos_b = buckets[has_pos]
                terms_b.append(term)
                df_b.append(len(docs))
                docs_b.append(docs)
                freqs_b.append(np.concatenate([d[1] for d in decoded]))
                if has_pos:
                    pos_b.append(np.concatenate([d[2] for d in decoded]))
            for has_pos, (terms_b, df_b, docs_b, freqs_b, pos_b) in buckets.items():
                if not terms_b:
                    continue
                boundaries = np.concatenate(
                    ([0], np.cumsum(np.asarray(df_b, dtype=np.int64)))
                )
                rows.extend(
                    _encode_all_terms(
                        seg_id,
                        np.asarray(terms_b, dtype=object),
                        boundaries,
                        np.concatenate(docs_b),
                        np.concatenate(freqs_b),
                        norms_full,
                        pos_col=None,
                        pos_flat=(
                            np.concatenate(pos_b) if has_pos else None
                        ),
                    )
                )
        out_multi = pd.DataFrame(rows, columns=_SEG_COLS)
        return pd.concat([out_single[_SEG_COLS], out_multi], ignore_index=True)

    return seg_union.groupby("segment_id").applyInPandas(
        merge, schema=SEGMENT_SCHEMA
    )


def _segment_ranges(index_dir: str) -> list[tuple[int, int]]:
    """(min, max) ``segment_id`` of every row group of an index's
    segments files, from the parquet footers (no data read).  A row
    group without statistics covers every id."""
    import glob

    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(glob.glob(os.path.join(index_dir, "segments", "*.parquet"))):
        md = pq.read_metadata(f)
        col = [md.schema.column(i).path for i in range(md.num_columns)].index(
            "segment_id"
        )
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            if rg.num_rows == 0:
                continue
            st = rg.column(col).statistics
            if st is None or not st.has_min_max:
                ranges.append((-(1 << 31), (1 << 31) - 1))
            else:
                ranges.append((int(st.min), int(st.max)))
    return ranges


def shared_segment_ranges(index_dirs: list[str]) -> list[tuple[int, int]]:
    """Disjoint, sorted ``segment_id`` intervals that rows of two or
    more inputs cover — the only segments a merge must re-encode.
    Conservative by construction: an id inside a footer range counts
    as present, so a truly shared segment is never missed."""
    per_input = [_segment_ranges(d) for d in index_dirs]
    hits = []
    for i, ra in enumerate(per_input):
        for rb in per_input[i + 1:]:
            for alo, ahi in ra:
                for blo, bhi in rb:
                    lo, hi = max(alo, blo), min(ahi, bhi)
                    if lo <= hi:
                        hits.append((lo, hi))
    out: list[tuple[int, int]] = []
    for lo, hi in sorted(hits):
        if out and lo <= out[-1][1] + 1:
            out[-1] = (out[-1][0], max(out[-1][1], hi))
        else:
            out.append((lo, hi))
    return out


def _union(spark: SparkSession, index_dirs: list[str], name: str) -> DataFrame:
    return reduce(DataFrame.union, [_read(spark, d, name) for d in index_dirs])


def merge_indexes(
    spark: SparkSession,
    index_dirs: list[str],
    out_dir: str,
    cfg: EngineConfig | None = None,
) -> None:
    """Merge N indexes over DISJOINT doc-id ranges into one snapshot.

    Shared segments are re-encoded by ``merge_segment_rows``; every other
    segment row is copied by the JVM.  Stats, colstats and the termdict
    are sums of the inputs' own tables.  ``out_dir`` becomes a complete,
    self-contained index directory — the new commit point."""
    from .build import load_config, write_config
    from .stats import merge_stats_tables, term_dict

    cfg = cfg or load_config(index_dirs[0])
    os.makedirs(out_dir, exist_ok=True)

    segs = _union(spark, index_dirs, "segments")
    shared = shared_segment_ranges(index_dirs)
    if shared:
        seg_id = F.col("segment_id")
        in_shared = reduce(
            lambda a, b: a | b, [seg_id.between(lo, hi) for lo, hi in shared]
        )
        segs = merge_segment_rows(segs.filter(in_shared), cfg).unionByName(
            segs.filter(~in_shared)
        )
    # one shuffle on segment_id keeps every segment wholly in one file
    # (the searcher's one-stage invariant); AQE coalesces the partitions
    segs.repartition("segment_id").sortWithinPartitions(
        "segment_id", "term"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "segments"))
    # norms stay a read-time view over the merged sentinels — no write

    _union(spark, index_dirs, "docmeta").sortWithinPartitions(
        "doc_id"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "docmeta"))
    # offsets tier: doc ids are globally disjoint across inputs, so the
    # doc-major termvectors tables union with no re-encode; present in
    # the merged snapshot only when EVERY input carries it
    tv_dirs = [os.path.join(d, "termvectors") for d in index_dirs]
    if all(os.path.exists(os.path.join(t, "_SUCCESS")) for t in tv_dirs):
        _union(spark, index_dirs, "termvectors").sortWithinPartitions(
            "doc_id", "term"
        ).write.mode("overwrite").parquet(os.path.join(out_dir, "termvectors"))

    merge_stats_tables(index_dirs, out_dir)
    term_dict(_union(spark, index_dirs, "termdict"), cfg).repartitionByRange(
        8, "term"
    ).sortWithinPartitions("term").write.mode("overwrite").parquet(
        os.path.join(out_dir, "termdict")
    )
    write_config(out_dir, cfg)


def merge_indexes_tiered(
    spark: SparkSession,
    index_dirs: list[str],
    out_dir: str,
    cfg: EngineConfig | None = None,
    max_fan_in: int = 10,
    work_dir: str | None = None,
) -> list[list[str]]:
    """Multi-round merge with bounded fan-in — the TieredMergePolicy
    analog (L/index/TieredMergePolicy.java:92-103, maxMergeAtOnce=10).

    One global N-way merge is wrong at 10^12-file scale: a single round
    unions every input's segment table into one shuffle and the driver
    tracks N inputs at once.  Instead inputs merge in rounds of at most
    ``max_fan_in``, picking SIMILAR-SIZED inputs together (sorted by
    num_docs, consecutive batches) exactly like the reference scores
    candidate merges by size skew; log_{fan_in}(N) rounds total.

    Returns the merge plan (list of rounds, each a list of produced
    dirs) for inspection/testing.
    """
    import tempfile

    from .build import load_config
    from .stats import read_stats_row

    cfg = cfg or load_config(index_dirs[0])
    work_dir = work_dir or tempfile.mkdtemp(prefix="tiered_merge_")
    rounds: list[list[str]] = []
    current = list(index_dirs)
    rnd = 0
    while len(current) > max_fan_in:
        # size-sorted consecutive batches = similar-sized merges
        sized = sorted(
            current,
            key=lambda d: read_stats_row(os.path.join(d, "stats"))["num_docs"],
        )
        nxt: list[str] = []
        for i in range(0, len(sized), max_fan_in):
            batch = sized[i : i + max_fan_in]
            if len(batch) == 1:
                nxt.append(batch[0])
                continue
            dst = os.path.join(work_dir, f"r{rnd}_m{i // max_fan_in}")
            merge_indexes(spark, batch, dst, cfg)
            nxt.append(dst)
        rounds.append(nxt)
        current = nxt
        rnd += 1
    merge_indexes(spark, current, out_dir, cfg)
    rounds.append([out_dir])
    return rounds


def add_documents(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    out_dir: str,
    cfg: EngineConfig | None = None,
    delta_dir: str | None = None,
) -> None:
    """IndexWriter.addDocuments + commit: number new docs after the
    current maximum, build a delta index, merge into ``out_dir``.  A
    delta directory this call creates is removed when it returns."""
    import shutil
    import tempfile

    from .build import build_index, load_config
    from .docids import assign_doc_ids
    from .stats import read_stats_row

    cfg = cfg or load_config(index_dir)
    base = read_stats_row(os.path.join(index_dir, "stats"))["num_docs"]
    own_delta = delta_dir is None
    delta_dir = delta_dir or tempfile.mkdtemp(prefix="delta_idx_")
    try:
        with_ids = assign_doc_ids(new_docs, ["repo", "path"]).withColumn(
            "doc_id", F.col("doc_id") + F.lit(int(base))
        )
        build_index(
            spark,
            with_ids,
            delta_dir,
            cfg,
            resume=False,
            precomputed_ids=True,
        )
        merge_indexes(spark, [index_dir, delta_dir], out_dir, cfg)
    finally:
        if own_delta:
            shutil.rmtree(delta_dir, ignore_errors=True)
