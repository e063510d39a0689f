"""Index build orchestration: staged, resumable, metric-emitting.

Stage graph (each stage materializes to ``index_dir/<table>`` with a
``_SUCCESS`` marker; a resumed build skips completed stages; stage
records land in ``manifest``):

  docs      identity mapping (doc_id, repo, path, ..., sha256) — the
            content column itself is NEVER re-materialized: the SOURCE
            table stays the stored-fields store, addressed through this
            mapping (a 100 TB corpus is not copied; Lucene's .fdt
            stored-fields copy becomes source ⨝ mapping)  (operators/docids)
  segments  ONE fused pass: tokenize+invert (Arrow UDF) -> shuffle on
            segment_id -> per-term block encode + in-group norms; each
            segment is self-contained (postings + sentinel norms row),
            exactly one tokenization of the corpus and exactly one
            shuffle of the token stream                   (operators/segments)
  norms     per-segment norms view derived from sentinels (merge/explain)
  docmeta   identity + sha256 invariant + exact length + norm byte
  stats     CollectionStatistics (single row)
  termdict  global term -> (df, ttf), partial aggregation (operators/stats)

Parallelism notes (the 100 TB view): every stage is embarrassingly
parallel except two shuffles — the range partition for doc numbering
and the segment groupBy for encode.  Both key on doc ranges, which are
uniform by construction (segment_size docs each), so neither has a
skewed reducer; the only Zipf-skewed key (term) is summed with map-side
partial aggregation, which bounds each term's reducer input.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import EngineConfig
from . import docids, invert, stats as stats_ops
from .segments import (
    SENTINEL_TERM,
    encode_segments_fused,
    encode_segments_fused_docarrays,
    lengths_from_segments,
)

MANIFEST_SCHEMA = "stage string, rows bigint, wall_s double, detail string, ts double"


def _path(index_dir: str, name: str) -> str:
    return os.path.join(index_dir, name)


def _done(index_dir: str, name: str) -> bool:
    return os.path.exists(os.path.join(_path(index_dir, name), "_SUCCESS"))


def _write(df: DataFrame, index_dir: str, name: str, sort_cols=None) -> None:
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    df.write.mode("overwrite").parquet(_path(index_dir, name))


@dataclass
class BuildResult:
    index_dir: str
    num_docs: int
    num_terms: int
    stages_run: list
    stages_skipped: list


def _flush_manifest(spark: SparkSession, index_dir: str, rows: list) -> None:
    """Driver-side parquet append for the few stage records — a tiny
    bookkeeping table never justifies a Spark job (stage boundaries
    are the build's measured scaling residual at small core counts)."""
    if not rows:
        return
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(_path(index_dir, "manifest"), exist_ok=True)
    table = pa.table(
        {
            "stage": [r[0] for r in rows],
            "rows": pa.array([r[1] for r in rows], pa.int64()),
            "wall_s": pa.array([r[2] for r in rows], pa.float64()),
            "detail": [r[3] for r in rows],
            "ts": pa.array([r[4] for r in rows], pa.float64()),
        }
    )
    pq.write_table(
        table,
        os.path.join(_path(index_dir, "manifest"), f"part-{uuid.uuid4().hex}.parquet"),
    )


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    cfg: EngineConfig | None = None,
    content_col: str = "content",
    resume: bool = True,
    precomputed_ids: bool = False,
) -> BuildResult:
    """Build (or resume building) a full index under ``index_dir``.

    ``precomputed_ids=True`` trusts an existing ``doc_id`` column
    (delta builds from operators/merge.py number docs after the
    existing maximum)."""
    cfg = cfg or EngineConfig()
    os.makedirs(index_dir, exist_ok=True)
    run, skipped = [], []
    manifest_rows: list = []

    def record(stage_name: str, wall: float, detail: dict) -> None:
        manifest_rows.append(
            (stage_name, -1, float(wall), json.dumps(detail), time.time())
        )

    def stage(name: str):
        if resume and _done(index_dir, name):
            skipped.append(name)
            return False
        run.append(name)
        return True

    # -- stage: docs (global doc numbering -> identity MAPPING) -------------
    # One content scan computes the sha256 invariant; only the small
    # identity columns ever shuffle or get written.  Content itself is
    # read again exactly once (the fused segments scan) and never
    # written — at 10^12 files the corpus copy Lucene's stored-fields
    # file implies would dominate the build; here the source table IS
    # the row store and this mapping is the docID <-> stored-fields key.
    t0 = time.time()
    docs_write_fut = None
    seg_mapping = None  # (repo, path, doc_id) for the fused segments input
    if stage("docs"):
        base_cols = [c for c in docs.columns if c not in (content_col, "sha256")]
        proj = docs.select(
            *base_cols, F.sha2(F.col(content_col), 256).alias("sha256")
        )
        # IndexWriterConfig.setIndexSort analog (IndexWriterConfig.java:484):
        # leading sort fields come from cfg.index_sort, with (repo, path)
        # appended for uniqueness — ascending doc id then IS the index
        # sort order, segments cover contiguous sort-key ranges, and the
        # doc-sorted docmeta parquet carries tight row-group min/max on
        # the sort columns (sorted-segment + BKD-pruning story).
        sort_spec = list(cfg.index_sort) + [("repo", False), ("path", False)]
        if precomputed_ids:
            _write(proj, index_dir, "docs")
            record("docs", time.time() - t0, {})
        else:
            # Only the tiny (key, doc_id) MAPPING gates the segments
            # stage; the identity write (whose job carries the sha256
            # content scan) runs CONCURRENTLY with segments — the two
            # jobs' tasks share the executors, so the docs stage leaves
            # the critical path entirely on multi-core runs while total
            # work is unchanged (the measured scaling residual at small
            # N is stage boundaries, BENCH.md).
            names, mapping, id_pins = docids.doc_id_mapping(proj, sort_spec)
            seg_mapping = mapping.select("repo", "path", "doc_id")

            def _docs_write():
                _write(proj.join(mapping, names), index_dir, "docs")
                record("docs", time.time() - t0, {"overlapped": True})

            from concurrent.futures import ThreadPoolExecutor

            docs_write_fut = ThreadPoolExecutor(1).submit(_docs_write)
    if seg_mapping is None:
        docs_ids = spark.read.parquet(_path(index_dir, "docs"))
        seg_mapping = docs_ids.select("repo", "path", "doc_id")

    # -- stage: segments (fused tokenize -> shuffle -> encode) --------------
    t0 = time.time()
    if stage("segments"):
        # content joins the id mapping lazily: AQE broadcasts the small
        # side locally; at cluster scale it degrades to a shuffle join
        seg_input = docs.select("repo", "path", content_col).join(
            seg_mapping, ["repo", "path"]
        )
        from ..functions.analysis import JVM_ANALYZERS, analyzer_base

        if (cfg.tokenize_backend == "jvm"
                and analyzer_base(cfg.analyzer) in JVM_ANALYZERS
                and not cfg.ascii_folding
                and not cfg.index_synonyms
                and not cfg.max_doc_tokens):
            # hot path: whole chain as a JVM Column expression
            doc_tokens = invert.invert_doc_arrays(seg_input, cfg, content_col)
            encoded = encode_segments_fused_docarrays(doc_tokens, cfg)
        else:
            # chains with Python-only filters (e.g. "english" stemming)
            # run the Arrow-batch inversion
            inverted = invert.invert(seg_input, cfg, content_col)
            encoded = encode_segments_fused(inverted, cfg)
        _write(encoded, index_dir, "segments", sort_cols=["segment_id", "term"])
        record(
            "segments", time.time() - t0,
            {"segment_size": cfg.segment_size, "analyzer": cfg.analyzer,
             "positions": cfg.index_positions},
        )
    segments = spark.read.parquet(_path(index_dir, "segments"))

    # (norms are NOT materialized: searcher/merge derive the per-segment
    # norms view from the sentinel rows at read time — one fewer stage)

    # -- stage: termvectors (opt-in doc-major offset store) -----------------
    # The engine's offsets tier (see operators/termvectors.py): one
    # extra content scan, no shuffle, doc-sorted parquet so the
    # highlight path's doc_id pushdown reads only the hit docs.
    if cfg.index_offsets:
        t0 = time.time()
        if stage("termvectors"):
            from .termvectors import build_term_vectors

            tv_input = docs.select("repo", "path", content_col).join(
                seg_mapping, ["repo", "path"]
            )
            _write(
                build_term_vectors(tv_input, cfg, content_col),
                index_dir, "termvectors", sort_cols=["doc_id", "term"],
            )
            record("termvectors", time.time() - t0, {})

    # the overlapped identity write must be committed before docmeta
    # consumes it (and any write error surfaces here); with every
    # mapping consumer done, release the pinned id frames so long
    # sessions building many indexes don't accumulate cached blocks
    if docs_write_fut is not None:
        docs_write_fut.result()
        for pin in id_pins:
            pin.unpersist(blocking=False)
        docs_ids = spark.read.parquet(_path(index_dir, "docs"))

    # -- stages: docmeta + termdict --------------------------------------
    # Both consume the COMMITTED segments table and are independent of
    # each other, so when both are due they are submitted CONCURRENTLY
    # from the driver (two threads, two Spark jobs — the standard
    # concurrent-job pattern; on a cluster both jobs' tasks fill the
    # executors together instead of leaving the tail of each stage
    # under-occupied, and on local[1] the scheduler simply interleaves
    # them with unchanged total work).  Stage boundaries are the
    # measured scaling residual at small N — overlapping the two
    # removes one of them from the critical path.

    def _docmeta_stage() -> None:
        t0 = time.time()
        lengths = lengths_from_segments(segments, cfg)
        # EVERY non-content source column rides into docmeta — extra
        # scalar columns become keyword/point fields, ARRAY columns
        # become multi-valued (SORTED_SET docvalues analog) fields
        # usable by faceting and FieldTermQuery membership
        base = ["doc_id", "repo", "path", "commit", "lang", "sha256"]
        extras = [c for c in docs_ids.columns if c not in base]
        # norm encoding is a pure JVM Column expression
        # (functions/smallfloat.int_to_byte4_col) — the full docmeta
        # stream stays in whole-stage codegen with no Python/Arrow hop
        # (at 10^12 docs the old per-row Arrow round-trip would be the
        # stage's dominant cost)
        from ..functions.smallfloat import int_to_byte4_col

        meta = (
            docs_ids.select(*base, *extras)
            .join(lengths, "doc_id", "left")
            .fillna({"length": 0})
            .withColumn("norm", int_to_byte4_col(F.col("length")).cast("int"))
            .withColumn(
                "segment_id",
                (F.col("doc_id") / F.lit(cfg.segment_size)).cast("int"),
            )
        )
        # CollectionStatistics + the length histogram ride the docmeta
        # WRITE as observed aggregates (Dataset.observe — computed by
        # the same job, zero extra passes/stages); the resulting
        # single-row stats and few-row colstats tables are then written
        # driver-side.  This collapses what used to be four separate
        # Spark jobs (stats agg, histogram min/max, histogram counts,
        # and their writes) into the one docmeta action — stage
        # boundaries are the measured scaling residual at small N.
        from pyspark.sql import Observation

        obs = Observation("docmeta_stats")
        meta_df = meta.observe(
            obs,
            F.count(F.lit(1)).alias("num_docs"),
            F.sum(F.when(F.col("length") > 0, 1).otherwise(0)).alias("doc_count"),
            F.sum("length").alias("sum_ttf"),
            *stats_ops.log_histogram_exprs("length"),
        )
        _write(meta_df, index_dir, "docmeta", sort_cols=["doc_id"])
        vals = obs.get
        stats_ops.write_stats_tables(index_dir, "length", vals)
        run.extend(["stats", "colstats"])
        record("docmeta", time.time() - t0, {"fused_stats": True})

    def _termdict_stage() -> None:
        # global term stats: a plain partial-aggregate sum (stats.term_dict)
        t0 = time.time()
        td = stats_ops.term_dict(
            segments.filter(F.col("term") != SENTINEL_TERM), cfg
        )
        _write(td.repartitionByRange(8, "term"), index_dir, "termdict",
               sort_cols=["term"])
        record("termdict", time.time() - t0, {})

    tail_jobs = []
    if stage("docmeta"):
        tail_jobs.append(_docmeta_stage)
    elif not (_done(index_dir, "stats") and _done(index_dir, "colstats")):
        # resumed from an older/partial layout: derive the two stat
        # tables from the existing docmeta the unfused way
        docmeta = spark.read.parquet(_path(index_dir, "docmeta"))
        _write(stats_ops.collection_stats(docmeta), index_dir, "stats")
        _write(
            stats_ops.column_histograms(docmeta, ["length"]),
            index_dir, "colstats",
        )
        run.extend(["stats", "colstats"])
    else:
        skipped.extend(["stats", "colstats"])
    if stage("termdict"):
        tail_jobs.append(_termdict_stage)
    if len(tail_jobs) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(len(tail_jobs)) as ex:
            for fut in [ex.submit(j) for j in tail_jobs]:
                fut.result()
    else:
        for job in tail_jobs:
            job()

    _flush_manifest(spark, index_dir, manifest_rows)
    # driver-side footer reads — the single-row stats table and the
    # termdict ROW COUNT need no Spark job (parquet metadata carries
    # exact counts); two fewer stage boundaries per build
    stats_row = stats_ops.read_stats_row(_path(index_dir, "stats"))
    num_terms = stats_ops.parquet_row_count(_path(index_dir, "termdict"))
    # persist the config used (query side must match analyzer etc.)
    write_config(index_dir, cfg)
    return BuildResult(
        index_dir=index_dir,
        num_docs=stats_row["num_docs"],
        num_terms=num_terms,
        stages_run=run,
        stages_skipped=skipped,
    )


def write_config(index_dir: str, cfg: EngineConfig) -> None:
    """Persist every result-affecting setting of ``cfg`` as
    ``engine_config.json`` — the one writer for builds and merges, so a
    merged snapshot analyzes its next delta exactly like the base."""
    with open(os.path.join(index_dir, "engine_config.json"), "w") as f:
        json.dump(
            {
                "k1": cfg.k1, "b": cfg.b, "analyzer": cfg.analyzer,
                "ascii_folding": cfg.ascii_folding,
                "html_strip": cfg.html_strip,
                "max_doc_tokens": cfg.max_doc_tokens,
                "max_token_length": cfg.max_token_length,
                "index_positions": cfg.index_positions,
                "index_offsets": cfg.index_offsets,
                "similarity": cfg.similarity,
                "segment_size": cfg.segment_size,
                "stopwords": list(cfg.stopwords),
                "index_sort": [list(s) for s in cfg.index_sort],
                "index_synonyms": {
                    k: list(v) for k, v in cfg.index_synonyms
                },
            },
            f,
        )


def load_config(index_dir: str) -> EngineConfig:
    with open(os.path.join(index_dir, "engine_config.json")) as f:
        d = json.load(f)
    d["stopwords"] = tuple(d.get("stopwords", ()))
    d["index_sort"] = tuple(
        (f_, bool(r)) for f_, r in d.get("index_sort", ())
    )
    d["index_synonyms"] = tuple(
        sorted((k, tuple(v)) for k, v in d.get("index_synonyms", {}).items())
    )
    return EngineConfig(**d)
