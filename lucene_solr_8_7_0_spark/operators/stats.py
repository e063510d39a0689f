"""Collection + term statistics (CollectionStatistics / TermStatistics).

Term stats sum per-segment (df, ttf) rows into global values with a
plain partial aggregate (``term_dict``): Spark's map-side partial SUM
already bounds a Zipf-hot term's reducer input.  Collection stats and
the length histogram are per-index sums too, so a merge adds up its
inputs' own tables (``merge_stats_tables``) instead of re-aggregating
docmeta.  ``salted_agg`` keeps the two-level salted sum for callers
whose shape defeats partial aggregation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..config import EngineConfig

STATS_COLS = ["num_docs", "doc_count", "sum_ttf"]


def salted_agg(
    df: DataFrame,
    key: str,
    sums: dict[str, str],
    buckets: int,
    salt_src: str | None = None,
) -> DataFrame:
    """Exact two-level sum aggregation over a skewed key.

    sums: {output_col: input_col} summed at both levels.
    """
    salt_col = F.pmod(
        F.xxhash64(F.col(salt_src) if salt_src else F.rand(seed=0) * 1e9),
        F.lit(buckets),
    )
    partial = (
        df.withColumn("_salt", salt_col)
        .groupBy(key, "_salt")
        .agg(*[F.sum(src).alias(out) for out, src in sums.items()])
    )
    return partial.groupBy(key).agg(
        *[F.sum(out).alias(out) for out in sums.keys()]
    )


def term_dict(segments: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Global term dictionary: term -> (df, ttf) over all segments.

    The FST term index analog (BlockTreeTermsWriter .tip) is the
    parquet min/max pruning on the sorted ``term`` column; this table
    additionally serves multi-term query rewrites (prefix/wildcard/...)
    and query-time TermStatistics.

    A plain hash aggregate: Spark's built-in SUM does map-side PARTIAL
    aggregation, so every map task emits at most one row per term and a
    hot (Zipf-skewed) term reaches its reducer as <= num_map_tasks
    partial rows — already skew-safe for an associative sum.  The old
    two-level salted aggregation added a whole extra shuffle for
    protection the partial agg provides for free (~0.7 s/build at
    sf1.0; the salting remains in ``salted_agg`` for non-aggregable
    shapes).
    """
    return (
        segments.select("term", "df", "ttf")
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
    )


COLSTATS_BUCKETS = 32


def column_histograms(
    df: DataFrame, fields: list[str], buckets: int = COLSTATS_BUCKETS
) -> DataFrame:
    """Equi-width histograms of numeric columns — the optimizer
    statistics behind PointRangeQuery cost estimation (the BKD tree's
    ``estimatePointCount``, PointValues.java:249, which
    IndexOrDocValuesQuery's cost comparison consumes).  One tiny
    aggregation per field over the docmeta projection; the result is a
    few-hundred-row table the searcher loads once."""
    import math

    from functools import reduce

    outs = []
    for f_ in fields:
        mm = df.agg(F.min(f_).alias("mn"), F.max(f_).alias("mx")).collect()[0]
        mn, mx = mm["mn"], mm["mx"]
        if mn is None:
            continue
        width = max(1, math.ceil((int(mx) - int(mn) + 1) / buckets))
        outs.append(
            df.select(
                ((F.col(f_) - F.lit(int(mn))) / F.lit(width))
                .cast("int")
                .alias("bucket")
            )
            .groupBy("bucket")
            .count()
            .select(
                F.lit(f_).alias("field"),
                (F.lit(int(mn)) + F.col("bucket") * F.lit(width))
                .cast("double")
                .alias("lo"),
                (F.lit(int(mn)) + (F.col("bucket") + 1) * F.lit(width))
                .cast("double")
                .alias("hi"),
                F.col("count").alias("count"),
            )
        )
    if not outs:
        spark = df.sparkSession
        return spark.createDataFrame(
            [], schema="field string, lo double, hi double, count bigint"
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


def collection_stats(docmeta: DataFrame) -> DataFrame:
    """Single-row CollectionStatistics for the content field.

    doc_count counts documents with at least one indexed token —
    Lucene's Terms.getDocCount(); empty docs are excluded from both
    doc_count and avgdl, exactly as in the reference.
    """
    return docmeta.agg(
        F.count("*").alias("num_docs"),
        F.sum(F.when(F.col("length") > 0, 1).otherwise(0)).alias("doc_count"),
        F.sum("length").alias("sum_ttf"),
    )


# ---- fused build-time statistics (observe() companions) -----------------
# The docmeta write computes CollectionStatistics AND the length
# histogram as OBSERVED aggregates of its own job (Dataset.observe) —
# no extra pass over the data, no extra stage.  The histogram uses
# fixed power-of-two buckets (log2 width) precisely because observe()
# expressions must be data-independent; the searcher's
# ``estimatePointCount`` proration consumes (lo, hi, count) rows the
# same way it did for equi-width buckets.

LOG_BUCKETS = 42  # lengths up to 2^41 tokens/doc — beyond any document


def log_histogram_exprs(field: str) -> list:
    """Aggregate expressions counting docs per power-of-two length
    bucket: b0 = [0,1), b_i = [2^(i-1), 2^i) for i >= 1."""
    c = F.col(field)
    exprs = [F.sum(F.when(c <= 0, 1).otherwise(0)).alias("hb0")]
    for i in range(1, LOG_BUCKETS):
        lo, hi = 1 << (i - 1), 1 << i
        exprs.append(
            F.sum(F.when((c >= lo) & (c < hi), 1).otherwise(0)).alias(f"hb{i}")
        )
    return exprs


def _write_small_table(index_dir: str, name: str, table) -> None:
    """One driver-side parquet file plus the ``_SUCCESS`` marker the
    resume logic and the searcher key on — tiny tables never justify
    their own Spark jobs."""
    import pyarrow.parquet as pq

    d = os.path.join(index_dir, name)
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, os.path.join(d, "part-0.parquet"))
    open(os.path.join(d, "_SUCCESS"), "w").close()


def _write_stats_row(index_dir: str, vals: dict) -> None:
    import pyarrow as pa

    _write_small_table(index_dir, "stats", pa.table({
        c: pa.array([int(vals[c] or 0)], pa.int64()) for c in STATS_COLS
    }))


def _write_colstats(index_dir: str, fields, los, his, counts) -> None:
    import pyarrow as pa

    _write_small_table(index_dir, "colstats", pa.table({
        "field": pa.array(list(fields), pa.string()),
        "lo": pa.array(list(los), pa.float64()),
        "hi": pa.array(list(his), pa.float64()),
        "count": pa.array(list(counts), pa.int64()),
    }))


def write_stats_tables(index_dir: str, field: str, vals: dict) -> None:
    """Flush the observed aggregates as the ``stats`` (single row) and
    ``colstats`` (histogram) parquet tables, driver-side."""
    fields, los, his, counts = [], [], [], []
    for i in range(LOG_BUCKETS):
        cnt = int(vals.get(f"hb{i}") or 0)
        if cnt == 0:
            continue
        lo = 0.0 if i == 0 else float(1 << (i - 1))
        hi = 1.0 if i == 0 else float(1 << i)
        fields.append(field)
        los.append(lo)
        his.append(hi)
        counts.append(cnt)
    _write_stats_row(index_dir, vals)
    _write_colstats(index_dir, fields, los, his, counts)


def merge_stats_tables(index_dirs: list[str], out_dir: str) -> None:
    """Stats of a merge over disjoint doc-id ranges, from the inputs'
    own tables on the driver: the CollectionStatistics row is the sum
    of the inputs' rows, and the histogram the per-bucket sum of their
    ``colstats`` rows (equal ``(field, lo, hi)``).  Exact, because every
    doc counts in exactly one input.  The merged snapshot carries
    ``colstats`` only when every input does."""
    import pyarrow.parquet as pq

    rows = [read_stats_row(os.path.join(d, "stats")) for d in index_dirs]
    _write_stats_row(
        out_dir, {c: sum(int(r[c] or 0) for r in rows) for c in STATS_COLS}
    )
    cs_dirs = [os.path.join(d, "colstats") for d in index_dirs]
    if not all(os.path.exists(os.path.join(c, "_SUCCESS")) for c in cs_dirs):
        return
    import pandas as pd

    hist = (
        pd.concat([pq.read_table(c).to_pandas() for c in cs_dirs])
        .groupby(["field", "lo", "hi"], as_index=False)["count"].sum()
    )
    _write_colstats(
        out_dir, hist["field"], hist["lo"], hist["hi"], hist["count"]
    )


def read_stats_row(stats_dir: str) -> dict:
    """The single CollectionStatistics row via a driver-side parquet
    read (no Spark job)."""
    import glob

    import pyarrow.parquet as pq

    files = sorted(
        f for f in glob.glob(os.path.join(stats_dir, "*.parquet"))
    )
    d = pq.read_table(files).to_pydict()
    return {k: v[0] for k, v in d.items()}


def parquet_row_count(table_dir: str) -> int:
    """Exact row count from parquet footers (no Spark job)."""
    import glob

    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(table_dir, "*.parquet"))
    )
