"""CheckIndex — distributed index integrity verification.

Reference: lucene/core/src/java/org/apache/lucene/index/CheckIndex.java
(testPostings / testTermVectors / testDocValues walks: decode every
posting list, verify docFreq / totalTermFreq / doc-id order / skip
data against what the postings actually contain, then cross-check the
per-segment numbers against the segment infos).

Spark-first shape: each check is a DataFrame over the index tables —
the postings walk is a narrow mapInArrow over segment rows (perfectly
parallel, no shuffle), the cross-table checks are joins/aggregations —
so verifying a 100 TB index is just another Spark job.  The report is
one row per violation; an empty report = healthy.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = ["check_index", "assert_healthy"]

_REPORT_SCHEMA = "check string, segment_id int, term string, detail string"
_REPORT_ARROW = pa.schema([("check", pa.string()), ("segment_id", pa.int32()),
                          ("term", pa.string()), ("detail", pa.string())])


def _check_postings(segments: DataFrame) -> DataFrame:
    """Decode every posting list and verify the self-describing
    invariants: df == decoded count, ttf == sum(freqs), doc ids
    strictly increasing, block_last_docs == the decoded block tails
    (the skip-data check), freqs >= 1."""
    from ..functions.codec import BLOCK_SIZE, decode_term_postings
    from .search import posting_rows
    from .segments import SENTINEL_TERM

    def run(batches):
        for batch in batches:
            post = pa.Table.from_batches([batch])
            post = post.filter(pc.not_equal(post["term"], SENTINEL_TERM))
            rows = []
            for seg, term, tp in zip(post["segment_id"].to_pylist(),
                                     post["term"].to_pylist(), posting_rows(post)):
                try:
                    docs, freqs, _ = decode_term_postings(tp)
                except Exception as ex:  # decode failure IS the finding
                    rows.append(("postings_decode", seg, term, repr(ex)))
                    continue
                if len(docs) != tp.df:
                    rows.append(
                        ("df_mismatch", seg, term, f"df={tp.df} decoded={len(docs)}")
                    )
                if int(freqs.sum()) != tp.ttf:
                    rows.append(
                        ("ttf_mismatch", seg, term,
                         f"ttf={tp.ttf} decoded={int(freqs.sum())}")
                    )
                if len(docs) > 1 and not (np.diff(docs) > 0).all():
                    rows.append(("doc_order", seg, term, "doc ids not increasing"))
                if len(freqs) and int(freqs.min()) < 1:
                    rows.append(("freq_zero", seg, term, "freq < 1"))
                last = tp.block_last_docs
                if len(docs) and len(last):
                    exp = docs[
                        np.minimum(
                            np.arange(1, len(last) + 1) * BLOCK_SIZE - 1,
                            len(docs) - 1,
                        )
                    ]
                    if not np.array_equal(last.astype(np.int64), exp):
                        rows.append(("skip_data", seg, term,
                                     "block_last_docs != decoded tails"))
            yield pa.RecordBatch.from_pylist(
                [dict(zip(_REPORT_ARROW.names, r)) for r in rows], _REPORT_ARROW
            )

    return segments.mapInArrow(run, schema=_REPORT_SCHEMA)


def check_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """Full integrity report (empty = healthy):

    * postings walk (decode, df/ttf, doc order, skip data),
    * termdict == per-term sums over segments,
    * stats == docmeta aggregates,
    * docmeta norm == intToByte4(length),
    * sentinel lengths == docmeta lengths per doc."""
    from ..functions.smallfloat import int_to_byte4_np
    from .build import load_config
    from .segments import SENTINEL_TERM, lengths_from_segments

    cfg = load_config(index_dir)
    segments = spark.read.parquet(os.path.join(index_dir, "segments"))
    termdict = spark.read.parquet(os.path.join(index_dir, "termdict"))
    docmeta = spark.read.parquet(os.path.join(index_dir, "docmeta"))
    stats = spark.read.parquet(os.path.join(index_dir, "stats"))

    reports = [_check_postings(segments)]

    # termdict vs segment sums (the segment-infos cross-check)
    seg_sums = (
        segments.filter(F.col("term") != SENTINEL_TERM)
        .groupBy("term")
        .agg(F.sum("df").alias("sdf"), F.sum("ttf").alias("sttf"))
    )
    td_bad = (
        termdict.join(seg_sums, "term", "full")
        .filter(
            (F.col("df").isNull()) | (F.col("sdf").isNull())
            | (F.col("df") != F.col("sdf")) | (F.col("ttf") != F.col("sttf"))
        )
        .select(
            F.lit("termdict_mismatch").alias("check"),
            F.lit(-1).cast("int").alias("segment_id"),
            "term",
            F.concat_ws(
                " ", F.lit("dict"), F.col("df"), F.col("ttf"),
                F.lit("segments"), F.col("sdf"), F.col("sttf"),
            ).alias("detail"),
        )
    )
    reports.append(td_bad)

    # docmeta norm invariant
    def norm_check(batches):
        for pdf in batches:
            exp = int_to_byte4_np(pdf["length"].to_numpy(dtype=np.int64))
            bad = pdf[pdf["norm"].to_numpy(dtype=np.int64) != exp]
            yield pd.DataFrame(
                {
                    "check": "norm_invariant",
                    "segment_id": bad["segment_id"].astype("int32"),
                    "term": bad["doc_id"].astype(str),
                    "detail": "norm != intToByte4(length)",
                }
            )

    reports.append(
        docmeta.select("doc_id", "length", "norm", "segment_id").mapInPandas(
            norm_check, schema=_REPORT_SCHEMA
        )
    )

    # sentinel lengths vs docmeta lengths
    sent = lengths_from_segments(segments, cfg).withColumnRenamed(
        "length", "sent_length"
    )
    len_bad = (
        docmeta.select("doc_id", "length")
        .join(sent, "doc_id", "full")
        .filter(
            F.coalesce(F.col("length"), F.lit(-1))
            != F.coalesce(F.col("sent_length"), F.lit(-1))
        )
        .select(
            F.lit("length_mismatch").alias("check"),
            F.lit(-1).cast("int").alias("segment_id"),
            F.col("doc_id").cast("string").alias("term"),
            F.concat_ws(" ", F.lit("docmeta"), F.col("length"),
                        F.lit("sentinel"), F.col("sent_length")).alias("detail"),
        )
    )
    reports.append(len_bad)

    # stats vs docmeta aggregates
    srow = stats.collect()[0]
    agg = docmeta.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("length") > 0, 1).otherwise(0)).alias("dc"),
        F.sum("length").alias("st"),
    ).collect()[0]
    stat_rows = []
    for name, got, exp in (
        ("num_docs", srow["num_docs"], agg["n"]),
        ("doc_count", srow["doc_count"], agg["dc"]),
        ("sum_ttf", srow["sum_ttf"], agg["st"]),
    ):
        if int(got) != int(exp):
            stat_rows.append(
                ("stats_mismatch", -1, name, f"stats={got} docmeta={exp}")
            )
    reports.append(
        spark.createDataFrame(stat_rows, schema=_REPORT_SCHEMA)
        if stat_rows
        else spark.createDataFrame([], schema=_REPORT_SCHEMA)
    )

    # termvectors (offsets tier) vs postings — CheckIndex.testTermVectors:
    # every stored vector must agree with the postings on freq AND the
    # exact position list, offsets must be well-formed, and the two
    # stores must cover the same (doc, term) pairs
    tv_path = os.path.join(index_dir, "termvectors")
    if os.path.exists(os.path.join(tv_path, "_SUCCESS")):
        reports.append(
            _check_termvectors(
                spark.read.parquet(tv_path), segments, cfg
            )
        )

    # doc-values updates overlay (CheckIndex.testDocValues analog for
    # the updatable tier): every update must target an existing doc
    # and an existing numeric docmeta column, with a positive gen
    dv_path = os.path.join(index_dir, "dvupdates")
    if os.path.exists(os.path.join(dv_path, "_SUCCESS")):
        upd = spark.read.parquet(dv_path)
        meta_cols = set(docmeta.columns)
        bad_field = sorted(
            {r["field"] for r in upd.select("field").distinct().collect()}
            - meta_cols
        )
        rows = [
            ("dvupdates_unknown_field", -1, f_, "no such docmeta column")
            for f_ in bad_field
        ]
        reports.append(
            spark.createDataFrame(rows, schema=_REPORT_SCHEMA)
            if rows else spark.createDataFrame([], schema=_REPORT_SCHEMA)
        )
        dangling = (
            upd.join(docmeta.select("doc_id"), "doc_id", "left_anti")
            .select(
                F.lit("dvupdates_dangling_doc").alias("check"),
                F.lit(-1).cast("int").alias("segment_id"),
                F.col("field").alias("term"),
                F.concat_ws(" ", F.lit("doc"), F.col("doc_id")).alias(
                    "detail"
                ),
            )
        )
        reports.append(dangling)
        bad_gen = upd.filter(F.col("gen") <= 0).select(
            F.lit("dvupdates_bad_gen").alias("check"),
            F.lit(-1).cast("int").alias("segment_id"),
            F.col("field").alias("term"),
            F.concat_ws(" ", F.lit("gen"), F.col("gen")).alias("detail"),
        )
        reports.append(bad_gen)

    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def _check_termvectors(tv: DataFrame, segments: DataFrame, cfg) -> DataFrame:
    """Cross-check the doc-major offsets store against the postings
    (CheckIndex.java testTermVectors: 'term vectors must agree with the
    inverted index').  Postings re-derive per-(doc, term) freq +
    positions via the same decode walk _check_postings runs; the
    comparison is a full outer join on (doc_id, term) — an audit job,
    shuffle-parallel on the join key."""
    from ..functions.codec import decode_term_postings
    from .search import posting_rows
    from .segments import SENTINEL_TERM

    seg_size = cfg.segment_size
    post_arrow = pa.schema([("doc_id", pa.int64()), ("term", pa.string()),
                            ("p_freq", pa.int32()), ("p_pos", pa.string())])

    def explode_postings(batches):
        for batch in batches:
            post = pa.Table.from_batches([batch])
            post = post.filter(pc.not_equal(post["term"], SENTINEL_TERM))
            out = []
            for seg, term, tp in zip(post["segment_id"].to_pylist(),
                                     post["term"].to_pylist(), posting_rows(post)):
                docs, freqs, pos = decode_term_postings(tp, with_positions=True)
                starts = np.concatenate(([0], np.cumsum(freqs)))
                for j in range(len(docs)):
                    pl = (
                        pos[starts[j] : starts[j + 1]]
                        if pos is not None
                        else np.empty(0, np.int64)
                    )
                    out.append(
                        (
                            int(docs[j]) + seg * seg_size,
                            term,
                            int(freqs[j]),
                            ",".join(str(int(x)) for x in pl),
                        )
                    )
            yield pa.RecordBatch.from_pylist(
                [dict(zip(post_arrow.names, r)) for r in out], post_arrow
            )

    post_rows = segments.mapInArrow(
        explode_postings,
        schema="doc_id bigint, term string, p_freq int, p_pos string",
    )

    def tv_norm(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                pos = list(r.positions)
                st, en = list(r.starts), list(r.ends)
                bad = ""
                if len(pos) != int(r.freq) or len(st) != int(r.freq) or len(en) != int(r.freq):
                    bad = "offset/position arity != freq"
                elif r.offsets_valid and any(e <= s for s, e in zip(st, en)):
                    bad = "end <= start"
                elif r.offsets_valid and any(
                    st[i + 1] <= st[i] for i in range(len(st) - 1)
                ):
                    bad = "starts not increasing"
                rows.append(
                    (
                        int(r.doc_id), r.term, int(r.freq),
                        ",".join(str(int(x)) for x in sorted(pos)), bad,
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "term", "t_freq", "t_pos", "bad"]
            )

    tv_rows = tv.mapInPandas(
        tv_norm,
        schema="doc_id bigint, term string, t_freq int, t_pos string, bad string",
    )
    joined = post_rows.join(tv_rows, ["doc_id", "term"], "full")
    return joined.filter(
        F.col("p_freq").isNull() | F.col("t_freq").isNull()
        | (F.col("p_freq") != F.col("t_freq"))
        | (F.col("p_pos") != F.col("t_pos"))
        | (F.col("bad") != "")
    ).select(
        F.lit("termvector_mismatch").alias("check"),
        (F.col("doc_id") / F.lit(seg_size)).cast("int").alias("segment_id"),
        F.concat_ws("/", F.col("term"), F.col("doc_id").cast("string")).alias("term"),
        F.concat_ws(
            " ", F.lit("postings"), F.col("p_freq"), F.col("p_pos"),
            F.lit("tv"), F.col("t_freq"), F.col("t_pos"), F.col("bad"),
        ).alias("detail"),
    )


def assert_healthy(spark: SparkSession, index_dir: str) -> None:
    bad = check_index(spark, index_dir).limit(20).collect()
    if bad:
        lines = "\n".join(
            f"  [{r['check']}] seg={r['segment_id']} {r['term']}: {r['detail']}"
            for r in bad
        )
        raise AssertionError(f"index {index_dir} failed CheckIndex:\n{lines}")
