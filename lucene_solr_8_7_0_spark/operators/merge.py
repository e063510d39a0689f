"""Segment merge and the commit: combining indexes / adding documents.

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

``add_documents`` is the IndexWriter.addDocuments + commit analog: it
numbers the new docs after the base's ``num_docs`` in (repo, path)
order and writes a new snapshot directory (commit point) that carries
the base's deletes and doc-values updates; ``update_documents`` also
marks the replaced docs deleted there.  One rule
(``_choose_commit_placement``) places the commit, from the delta's row
count and the base's segments bytes:

* driver — a small delta over a small base: one JVM-only Spark action
  collects the delta (keys, docmeta columns, sha256 and, for a JVM
  analysis chain, its token arrays), and everything else runs
  in-process with the stage functions the Spark chain uses:
  ``segments.encode_segment`` per delta segment, ``merge_segment`` for
  the one segment a mid-segment delta shares with the base, summed
  stats and termdict, the victims lookup and the deletes write,
* spark — ``build_index`` of the delta, then ``merge_indexes``.

Both write the same snapshot, table by table.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import DRIVER_MAX_SEGMENTS_BYTES, EngineConfig
from ..functions.codec import decode_term_postings
from ..functions.smallfloat import int_to_byte4_np
from .build import read_table
from .search import posting_rows
from .segments import (
    SEGMENT_SCHEMA,
    SENTINEL_TERM,
    _SEG_COLS,
    _encode_all_terms,
    _rows_to_arrow,
    segment_arrow_schema,
    sentinel_row,
)


def merge_segment(seg_id: int, tbl: pa.Table) -> pa.Table:
    """One segment's rows from several indexes (SEGMENT_SCHEMA columns,
    as Arrow) -> the merged segment's rows.

    Pass-through for single-source terms; decode + concat + re-encode
    for multi-source terms; sentinel rows combine by overlaying their
    lengths arrays (disjoint doc ownership).  Raises on a segment
    without a sentinel row and on inputs that overlap in doc ids."""
    is_sent = pc.equal(tbl["term"], SENTINEL_TERM)
    sents = tbl.filter(is_sent)
    if sents.num_rows == 0:
        raise ValueError(f"segment {seg_id}: merge input has no sentinel row")
    others = tbl.filter(pc.invert(is_sent))
    # --- combine sentinel lengths/norms ---
    arrays = [
        np.frombuffer(b, dtype="<i8") for b in sents["freq_blocks"].to_pylist()
    ]
    size = max(len(a) for a in arrays)
    lengths = np.zeros(max(size, 1), dtype=np.int64)
    for a in arrays:
        lengths[: len(a)] = np.maximum(lengths[: len(a)], a)
    norms_full = int_to_byte4_np(lengths)
    # --- postings: pass-through singles, re-encode multi-source.
    # Decode stays per source row (each decode is itself a vectorized
    # pass over that row's blocks), but the RE-ENCODE of all
    # multi-source terms of the segment happens in ONE batched call
    # (_encode_all_terms -> encode_blocks_batched /
    # block_impacts_batched) instead of a scalar encode per term. ---
    terms = others["term"].to_pylist()
    counts = Counter(terms)
    single = pa.array([counts[t] == 1 for t in terms], pa.bool_())
    multi = others.filter(pc.invert(single))
    rows = [sentinel_row(seg_id, lengths[:size])]
    if multi.num_rows:
        tps = posting_rows(multi)
        # position availability is tracked PER TERM: terms whose every
        # source row carries positions re-encode with them,
        # position-less terms re-encode without — a mixed merge (e.g.
        # one input built index_positions=False) never drops positions
        # from the terms that do have them.  Each bucket gets its own
        # batched encode call.
        buckets = {
            True: ([], [], [], [], []),   # terms, df, docs, freqs, pos
            False: ([], [], [], [], []),
        }
        multi_rows: dict[str, list[int]] = {}
        for i, term in enumerate(multi["term"].to_pylist()):
            multi_rows.setdefault(term, []).append(i)
        for term, idx in multi_rows.items():
            has_pos = all(len(tps[i].pos_block_offsets) > 0 for i in idx)
            decoded = [
                decode_term_postings(tps[i], with_positions=has_pos) for i in idx
            ]
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
                    pos_flat=(np.concatenate(pos_b) if has_pos else None),
                )
            )
    out_single = others.filter(single).select(_SEG_COLS)
    return pa.concat_tables([
        out_single.cast(segment_arrow_schema()), _rows_to_arrow(rows)
    ])


def merge_segment_rows(seg_union: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Merge a union of segment rows from multiple indexes: one
    ``merge_segment`` call per segment group."""
    return seg_union.groupby("segment_id").applyInArrow(
        lambda key, tbl: merge_segment(key[0].as_py(), tbl), schema=SEGMENT_SCHEMA
    )


def _segment_ranges(index_dir: str) -> list[tuple[int, int]]:
    """(min, max) ``segment_id`` of every row group of an index's
    segments files, from the parquet footers (no data read).  A row
    group without statistics covers every id."""
    import pyarrow.parquet as pq

    ranges = []
    for f in _table_files(index_dir, "segments"):
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
    """The inputs' ``name`` tables as one frame, aligned by column name
    (a docmeta whose extra columns come in another order keeps each
    value in its column; a missing column raises)."""
    return reduce(
        DataFrame.unionByName, [read_table(spark, d, name) for d in index_dirs]
    )


def merge_indexes(
    spark: SparkSession,
    index_dirs: list[str],
    out_dir: str,
    cfg: EngineConfig | None = None,
    sorted_docs: int = 0,
) -> None:
    """Merge N indexes over DISJOINT doc-id ranges into one snapshot.

    Shared segments are re-encoded by ``merge_segment_rows``; every other
    segment row is copied by the JVM.  Stats, colstats and the termdict
    are sums of the inputs' own tables.  ``out_dir`` becomes a complete,
    self-contained index directory — the new commit point.
    ``sorted_docs`` is the leading doc-id range in which ascending doc
    id still follows ``cfg.index_sort`` (``build.write_config``): none
    for independently numbered inputs."""
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
    # one shuffle on segment_id keeps every segment wholly in one file;
    # AQE coalesces the partitions
    segs.repartition("segment_id").sortWithinPartitions(
        "segment_id", "term"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "segments"))
    # norms ride the merged sentinel rows — no write

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
    write_config(out_dir, cfg, sorted_docs)


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


@dataclass(frozen=True)
class CommitInfo:
    """What one ``add_documents`` / ``update_documents`` commit did: the
    placement that ran it (``"driver"`` or ``"spark"``), the placement
    rule's reason, and the number of docs added and marked deleted."""

    placement: str
    reason: str
    added: int
    deleted: int


# Commit placement rule (_choose_commit_placement).  A driver commit
# collects the delta in one JVM-only Spark action and does the rest
# in-process, serially: it encodes the delta's segments and rewrites
# the whole segments table (base + delta) as one file, holding both in
# driver memory.  The Spark chain (build_index of the delta +
# merge_indexes) costs about 26 jobs of fixed overhead but spreads the
# work over the executors.  Calibrated with tools/profile_commit.py:
# update_documents of a share of the base plus the reopen, both
# placements on the same base, equal snapshots, Spark local[2] on a
# 4-core host, base segment_size = 1/16 of the base; ms, driver ->
# spark (320 docs: median of 3; 20k and 200k: one run):
#   base docs (segments MB)   1% delta        10% delta       50% delta
#        320 (0.4)              190 -> 2,797    306 -> 2,175    666 -> 2,444
#     20,000 (9.5)              519 -> 3,969  1,281 -> 4,160  3,692 -> 5,793
#    200,000 (78)             1,665 -> 4,787  5,565 -> 7,384  (not run)
# (The driver column was measured before the analysis Columns were
# cached per JVM, operators/invert.doc_array_columns, which took 50-70
# ms off every driver commit's collect at 320 docs.)
# The driver won every measured cell, but its lead shrinks with the
# delta (7.6x at 200 docs, 1.3x at 20,000) and it holds the delta's
# token arrays and the base's segments in memory.  A delta over the
# cut also pays the capped collect before going to Spark (1.8 s at
# 10,000 docs), so the cut stays where that waste is small next to the
# Spark chain it precedes; the byte cap (config.DRIVER_MAX_SEGMENTS_BYTES,
# which the searcher's resident tables share) keeps the in-memory
# segments rewrite within what was measured.
_DRIVER_MAX_DOCS = 5_000


def _choose_commit_placement(
    cfg: EngineConfig, base_bytes: int, delta_rows
) -> tuple[str, str]:
    """(placement, reason) of a commit, from what it can observe: the
    base's segments bytes (file sizes) and, only when those allow the
    driver, the delta's row count — ``delta_rows()`` runs the collect,
    capped at ``_DRIVER_MAX_DOCS + 1`` rows."""
    if cfg.index_offsets:
        # the offsets tier (operators/termvectors) is built by its own
        # Spark stage; the driver commit does not write termvectors
        return "spark", "index_offsets: termvectors are built in Spark"
    if base_bytes > DRIVER_MAX_SEGMENTS_BYTES:
        return "spark", (f"base segments {base_bytes} B > "
                         f"{DRIVER_MAX_SEGMENTS_BYTES} B")
    n = delta_rows()
    if n > _DRIVER_MAX_DOCS:
        return "spark", f"delta > {_DRIVER_MAX_DOCS} docs"
    return "driver", (f"delta {n} <= {_DRIVER_MAX_DOCS} docs, base "
                      f"segments {base_bytes} <= {DRIVER_MAX_SEGMENTS_BYTES} B")


def _table_files(index_dir: str, name: str) -> list[str]:
    import glob

    return sorted(glob.glob(os.path.join(index_dir, name, "*.parquet")))


def _collect_delta(new_docs: DataFrame, cfg: EngineConfig,
                   limit: int | None = None):
    """The delta as one Arrow table, from one JVM-only Spark action:
    every non-content column, ``sha256`` of the content and, when the
    analysis chain runs in the JVM, its ``terms``/``holes`` arrays —
    else the content itself, for the Python chain."""
    from . import invert

    cols = [c for c in new_docs.columns if c not in ("content", "sha256")]
    sel = [*cols, F.sha2(F.col("content"), 256).alias("sha256")]
    if invert.use_jvm_tokenizer(cfg):
        terms, holes = invert.doc_array_columns(cfg)
        sel += [terms.alias("terms"), holes.alias("holes")]
    else:
        sel.append("content")
    df = new_docs.select(*sel)
    return (df if limit is None else df.limit(limit)).toArrow()


def _parquet_options(spark: SparkSession) -> dict:
    """pyarrow writer options that compress like the session's own
    parquet writes (``spark.sql.parquet.compression.codec``), which the
    driver-side writes stand in for."""
    codec = spark.conf.get("spark.sql.parquet.compression.codec").lower()
    names = {"zstd": "zstd", "snappy": "snappy", "gzip": "gzip",
             "lz4_raw": "lz4", "brotli": "brotli",
             "uncompressed": "none", "none": "none"}
    if codec not in names:
        raise ValueError(f"no driver-side writer for parquet codec {codec!r}")
    opts = {"compression": names[codec], "store_schema": False}
    if codec == "zstd":
        opts["compression_level"] = 3  # parquet-mr's default zstd level
    return opts


def _write_parquet(tables: list, table_dir: str, options: dict) -> None:
    """Write ``tables`` as the parquet files of ``table_dir`` (one file
    each) and mark the table ``_SUCCESS``."""
    import uuid

    import pyarrow.parquet as pq

    os.makedirs(table_dir, exist_ok=True)
    for i, t in enumerate(tables):
        name = f"part-{i:05d}-{uuid.uuid4()}.parquet"
        pq.write_table(t.replace_schema_metadata(None),
                       os.path.join(table_dir, name), **options)
    open(os.path.join(table_dir, "_SUCCESS"), "w").close()


def _driver_commit(spark: SparkSession, index_dir: str, rows, out_dir: str,
                   cfg: EngineConfig, base_n: int) -> int:
    """Write the snapshot ``out_dir`` = base ``index_dir`` + the
    collected delta ``rows``, in-process: the same tables, table by
    table, as ``build_index`` of the delta followed by
    ``merge_indexes``.  Returns the number of docs added."""

    from . import invert
    from .snapshot import hand_off
    from .stats import length_stats_values, merge_stats_tables

    opts = _parquet_options(spark)
    # doc ids: base_n + rank over (repo, path), the numbering the Spark
    # chain's doc_id_mapping gives the delta
    rows = rows.take(pc.sort_indices(
        rows, [("repo", "ascending"), ("path", "ascending")]
    ))
    ids = np.arange(base_n, base_n + rows.num_rows, dtype=np.int64)
    if "terms" in rows.column_names:
        toks = pa.table({"doc_id": ids, "terms": rows["terms"],
                         "holes": rows["holes"]})
        lengths = pc.list_value_length(rows["terms"]).to_numpy(
            zero_copy_only=False).astype(np.int64)
    else:
        toks = pa.Table.from_batches([invert.analyze_docs(
            pa.array(ids), rows["content"].to_pandas(), cfg
        )])
        lengths = toks["length"].to_numpy().astype(np.int64)
    segs, delta_segs = _driver_segments(index_dir, out_dir, toks, base_n,
                                        cfg, opts)
    _driver_docmeta(index_dir, out_dir, rows, ids, lengths, cfg, opts)
    merge_stats_tables([index_dir], out_dir, length_stats_values(lengths))
    td = _driver_termdict(index_dir, out_dir, delta_segs, opts)
    # the next searcher opened on out_dir builds its resident tables
    # from these, not from the files just written (operators/snapshot)
    hand_off(out_dir, segs, td)
    return rows.num_rows


def _driver_segments(index_dir: str, out_dir: str, toks, base_n: int,
                     cfg: EngineConfig, opts: dict):
    """Encode each delta segment (``toks`` is sorted by doc id, so each
    is one slice), re-encode the one segment a mid-segment delta shares
    with the base, and rewrite the segments table as one file sorted by
    (segment_id, term).  Returns the whole table and the delta's own
    segment rows."""
    import pyarrow.dataset as pads

    from .segments import encode_segment

    seg_size, n = cfg.segment_size, toks.num_rows
    seg_schema = segment_arrow_schema()
    seg_of = toks["doc_id"].to_numpy() // seg_size
    bounds = np.append(np.flatnonzero(np.diff(seg_of, prepend=-1)), n)
    delta_segs = pa.concat_tables(
        [encode_segment(int(seg_of[lo]), toks.slice(lo, hi - lo), seg_size,
                        cfg.index_positions)
         for lo, hi in zip(bounds[:-1], bounds[1:])],
    ) if n else seg_schema.empty_table()
    base_segs = pads.dataset(
        _table_files(index_dir, "segments"), format="parquet"
    ).to_table().cast(seg_schema)
    parts = [base_segs, delta_segs]
    if n and base_n % seg_size:
        shared = base_n // seg_size
        in_base = pc.equal(base_segs["segment_id"], shared)
        in_delta = pc.equal(delta_segs["segment_id"], shared)
        merged = merge_segment(shared, pa.concat_tables([
            base_segs.filter(in_base), delta_segs.filter(in_delta)
        ]))
        parts = [
            base_segs.filter(pc.invert(in_base)),
            merged,
            delta_segs.filter(pc.invert(in_delta)),
        ]
    segs = pa.concat_tables(parts).sort_by(
        [("segment_id", "ascending"), ("term", "ascending")]
    )
    # min/max statistics only for the columns a read filters on:
    # segment_id (footer ranges, segment windows) and term (term IN)
    _write_parquet([segs], os.path.join(out_dir, "segments"),
                   {**opts, "write_statistics": ["segment_id", "term"]})
    return segs, delta_segs


def _driver_docmeta(index_dir: str, out_dir: str, rows, ids, lengths,
                    cfg: EngineConfig, opts: dict) -> None:
    """The base's docmeta files as they are, plus one file of the
    delta's rows aligned by name to the base's footer schema."""
    import shutil

    import pyarrow.parquet as pq

    base_meta = _table_files(index_dir, "docmeta")
    meta_dir = os.path.join(out_dir, "docmeta")
    os.makedirs(meta_dir, exist_ok=True)
    for f in base_meta:
        shutil.copyfile(f, os.path.join(meta_dir, os.path.basename(f)))
    schema = pq.read_schema(base_meta[0]).remove_metadata()
    cols = {c: rows[c] for c in rows.column_names
            if c not in ("terms", "holes", "content")}
    cols.update(
        doc_id=pa.array(ids), length=pa.array(lengths),
        norm=pa.array(int_to_byte4_np(lengths).astype(np.int32)),
        segment_id=pa.array((ids // cfg.segment_size).astype(np.int32)),
    )
    missing = [c for c in schema.names if c not in cols]
    extra = [c for c in cols if c not in schema.names]
    if missing or extra:
        raise ValueError(
            f"delta docmeta columns differ from the base's: missing "
            f"{missing}, extra {extra}"
        )
    if len(ids):
        _write_parquet([pa.table(
            [cols[f.name].cast(f.type) for f in schema], schema=schema
        )], meta_dir, opts)
    open(os.path.join(meta_dir, "_SUCCESS"), "w").close()


def _driver_termdict(index_dir: str, out_dir: str, delta_segs,
                     opts: dict) -> pa.Table:
    """The base's termdict plus the delta's own segment rows, summed
    per term, sorted and range-split.  Returns the whole table."""
    import pyarrow.dataset as pads

    real = delta_segs.filter(pc.not_equal(delta_segs["term"], SENTINEL_TERM))
    base_td = pads.dataset(
        _table_files(index_dir, "termdict"), format="parquet"
    ).to_table(columns=["term", "df", "ttf"])
    summed = pa.concat_tables([base_td, pa.table({
        "term": real["term"].cast(base_td.schema.field("term").type),
        "df": real["df"].cast(pa.int64()), "ttf": real["ttf"],
    })]).group_by("term").aggregate([("df", "sum"), ("ttf", "sum")])
    td = pa.table({"term": summed["term"], "df": summed["df_sum"],
                   "ttf": summed["ttf_sum"]}).sort_by("term")
    # range-split like the Spark write (repartitionByRange(8, "term"));
    # terms are unique, so a dictionary never pays (parquet-mr drops it)
    cuts = np.linspace(0, td.num_rows, min(8, max(td.num_rows, 1)) + 1)
    cuts = cuts.astype(np.int64)
    _write_parquet(
        [td.slice(lo, hi - lo) for lo, hi in zip(cuts[:-1], cuts[1:])],
        os.path.join(out_dir, "termdict"), {**opts, "use_dictionary": False},
    )
    return td


def _driver_victims(index_dir: str, rows, keys: list[str]):
    """``doc_id``s of the base docs whose ``keys`` match a delta row."""
    import pyarrow.dataset as pads

    base_keys = pads.dataset(
        _table_files(index_dir, "docmeta"), format="parquet"
    ).to_table(columns=[*keys, "doc_id"])
    new_keys = rows.select(keys).cast(base_keys.select(keys).schema)
    return base_keys.join(new_keys, keys, join_type="left semi").select(
        ["doc_id"]
    )


def _carry_deletes_and_updates(index_dir: str, out_dir: str) -> None:
    """The new snapshot starts from the base's deletion mask and
    doc-values updates: doc ids are global and stable across merges,
    so both tables and their ``_GENERATION`` counters transfer
    verbatim, as a file copy."""
    import shutil

    from .deletes import deletes_path
    from .dvupdates import dv_updates_path

    for path in (deletes_path, dv_updates_path):
        if os.path.exists(path(index_dir)):
            shutil.copytree(path(index_dir), path(out_dir), dirs_exist_ok=True)


def add_documents(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    out_dir: str,
    cfg: EngineConfig | None = None,
    delta_dir: str | None = None,
    delete_keys: list[str] | None = None,
) -> CommitInfo:
    """IndexWriter.addDocuments + commit: number the new docs after the
    base's ``num_docs`` in (repo, path) order and write the snapshot
    ``out_dir`` = base + new docs, carrying the base's deletes and
    doc-values updates.  ``index_dir`` is never written.

    With ``delete_keys`` (``deletes.update_documents``), base docs whose
    key columns match a new doc's are then marked deleted in
    ``out_dir`` as one new del generation.

    ``_choose_commit_placement`` places the commit on the driver or in
    Spark (``build_index`` of the delta into ``delta_dir``, removed
    when this call created it, then ``merge_indexes``)."""
    from .build import load_config, sorted_docs, write_config
    from .deletes import delete_documents, write_deletes
    from .snapshot import take_handoff
    from .stats import read_stats_row

    take_handoff()  # a commit never holds an earlier commit's tables
    cfg = cfg or load_config(index_dir)
    base_n = int(read_stats_row(os.path.join(index_dir, "stats"))["num_docs"] or 0)
    base_sorted = sorted_docs(index_dir)
    base_sorted = base_n if base_sorted is None else base_sorted
    base_bytes = sum(os.path.getsize(f)
                     for f in _table_files(index_dir, "segments"))
    capped = []

    def delta_rows() -> int:
        capped.append(_collect_delta(new_docs, cfg, _DRIVER_MAX_DOCS + 1))
        return capped[-1].num_rows

    placement, reason = _choose_commit_placement(cfg, base_bytes, delta_rows)
    os.makedirs(out_dir, exist_ok=True)
    if placement == "driver":
        rows = (capped[0] if capped and capped[0].num_rows <= _DRIVER_MAX_DOCS
                else _collect_delta(new_docs, cfg))
        added = _driver_commit(spark, index_dir, rows, out_dir, cfg, base_n)
        write_config(out_dir, cfg, base_sorted)
    else:
        added = _spark_commit(spark, index_dir, new_docs, out_dir, cfg,
                              delta_dir, base_n, base_sorted)
    _carry_deletes_and_updates(index_dir, out_dir)
    deleted = 0
    if delete_keys:
        if placement == "driver":
            deleted = write_deletes(
                out_dir, _driver_victims(index_dir, rows, delete_keys)
            )
        else:
            meta = spark.read.parquet(os.path.join(index_dir, "docmeta"))
            victims = meta.join(
                new_docs.select(*delete_keys).distinct(), delete_keys,
                "left_semi",
            ).select("doc_id")
            deleted = delete_documents(spark, out_dir, victims)
    return CommitInfo(placement, reason, added, deleted)


def _spark_commit(spark: SparkSession, index_dir: str, new_docs: DataFrame,
                  out_dir: str, cfg: EngineConfig, delta_dir: str | None,
                  base_n: int, base_sorted: int) -> int:
    """The Spark placement of ``add_documents``: ``build_index`` of the
    delta, numbered after the base, then ``merge_indexes``.  Returns
    the number of docs added."""
    import shutil
    import tempfile

    from .build import build_index
    from .docids import doc_id_mapping
    from .stats import read_stats_row

    own_delta = delta_dir is None
    delta_dir = delta_dir or tempfile.mkdtemp(prefix="delta_idx_")
    names, mapping, pins = doc_id_mapping(new_docs, ["repo", "path"])
    try:
        with_ids = new_docs.join(mapping, names).withColumn(
            "doc_id", F.col("doc_id") + F.lit(base_n)
        )
        build_index(spark, with_ids, delta_dir, cfg, resume=False,
                    precomputed_ids=True)
        merge_indexes(spark, [index_dir, delta_dir], out_dir, cfg, base_sorted)
        return int(read_stats_row(os.path.join(delta_dir, "stats"))["num_docs"])
    finally:
        # the mapping's consumers (the delta build) have run
        for pin in pins:
            pin.unpersist(blocking=False)
        if own_delta:
            shutil.rmtree(delta_dir, ignore_errors=True)
