"""Solr search-component analogs over the engine's index.

The reference ships Solr on top of the Lucene core; the components a
Solr user runs on every request map onto short declarative Spark plans
over the same hit sets and docmeta/termdict tables the Lucene-side
operators already use:

- collapse/expand: solr/core/src/java/org/apache/solr/search/
  CollapsingQParserPlugin.java:122 (GroupHeadSelectorType:196 —
  SCORE or MIN/MAX of a numeric field) and
  handler/component/ExpandComponent.java:101-171 (expand.rows=5
  default: the top remaining group members for each collapsed head
  on the page).
- field stats: handler/component/StatsComponent.java +
  StatsValuesFactory.java:436-606 (count/missing/min/max/sum/
  sumOfSquares/mean/stddev; stddev is the corrected sample form
  sqrt((count*sumOfSquares - sum^2)/(count*(count-1))),
  StatsValuesFactory.java:606).
- pivot facets: handler/component/PivotFacetProcessor.java (nested
  field->subfield counts); expressed as ONE rollup aggregation so
  Catalyst plans a single shuffle for every level at once.
- terms enumeration: handler/component/TermsComponent.java:181-336
  (terms.prefix scan over the term dictionary, terms.sort=count:
  docFreq desc, then index order; freqmin/freqmax bounds) — a
  pushed-down parquet scan of the termdict, no postings touched.
- significant terms: search/SignificantTermsQParserPlugin.java:103-232
  (foreground-vs-background term over-representation over the hit
  set; termdict-pruned postings decode + one groupBy).
- query elevation: handler/component/QueryElevationComponent.java:110
  (configured ids pinned to the head of the page in config order,
  excluded ids removed, organic score order after).
- cursorMark deep paging: solr/core/src/java/org/apache/solr/search/
  CursorMark.java:48-90 (total ordering = sort + uniqueKey tie-break;
  the totem serializes the last row's sort values) — rides
  IndexSearcher.search_sorted's searchAfter(FieldDoc) predicate, so
  every page is an independent bounded top-k job and page N never
  re-ships pages 1..N-1.

Scale notes: collapse/expand use the same two-pass per-(segment,
group) de-skew as operators/grouping.py — a dominant collapse value
shards across segments, and the only global windows run over
segments x bounded candidates.  Stats and pivot are single partial-agg
shuffles.  Scores are rounded to 4 decimals before ranking (the
engine's established float32-vs-SQL tie policy) and ties break by
doc_id, so every output here is total-ordered and SQL-replayable.
"""

from __future__ import annotations

import base64
import json

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "collapse_topk",
    "expand_hits",
    "field_stats",
    "pivot_facets",
    "terms_enum",
    "significant_terms",
    "elevate_topk",
    "heatmap_facet",
    "realtime_get",
    "luke_report",
    "cursor_page",
    "encode_cursor",
    "decode_cursor",
]


def _scored_with_meta(searcher, query, collapse_field: str, extra: list[str]):
    meta_cols = ["doc_id", "segment_id", collapse_field] + [
        c for c in extra if c not in ("doc_id", "segment_id", collapse_field)
    ]
    meta = searcher._docmeta().select(*meta_cols)
    return (
        searcher.score_all_df(query)
        .join(meta, "doc_id")
        .withColumn("r", F.round(F.col("score").cast("double"), 4))
        .drop("score")
    )


def _head_order(head_by: str):
    """Group-head selector ordering (CollapsingQParserPlugin
    GroupHeadSelectorType SCORE | MIN/MAX field).  Ties break by
    doc_id asc (first segment-order doc wins, like the collector's
    docID-order scan keeping the first competitive doc)."""
    if head_by == "score":
        return [F.col("r").desc(), F.col("doc_id").asc()]
    kind, _, field = head_by.partition(":")
    if kind == "max":
        return [F.col(field).desc(), F.col("doc_id").asc()]
    if kind == "min":
        return [F.col(field).asc(), F.col("doc_id").asc()]
    raise ValueError(f"unknown group-head selector: {head_by!r}")


def collapse_topk(
    searcher,
    query,
    collapse_field: str,
    k: int = 10,
    head_by: str = "score",
) -> DataFrame:
    """CollapsingQParserPlugin analog: reduce the hit set to one group
    head per ``collapse_field`` value, then return the top ``k`` heads
    in the QUERY order (score desc, doc asc) — collapsing filters the
    result set, it never re-sorts it (CollapsingQParserPlugin.java:122).

    ``head_by``: "score" (default selector) or "max:<col>" / "min:<col>"
    (GroupHeadSelectorType.MIN_MAX over a numeric docvalues column).
    Returns (rank, <collapse_field>, doc_id, r).

    Null policy: rows with a NULL collapse value are dropped
    (NullPolicy.IGNORE, the reference default,
    CollapsingQParserPlugin.java:173).
    """
    from pyspark.sql import Window

    extra = [head_by.partition(":")[2]] if ":" in head_by else []
    hits = _scored_with_meta(searcher, query, collapse_field, extra).filter(
        F.col(collapse_field).isNotNull()
    )
    order = _head_order(head_by)
    # pass 1: per-(segment, group) head — the global head is the best
    # of the per-segment heads under the same total order, so a 90%-
    # share collapse value never serializes into one task
    per_seg = Window.partitionBy("segment_id", collapse_field).orderBy(*order)
    cand = (
        hits.withColumn("sr", F.row_number().over(per_seg))
        .filter(F.col("sr") == 1)
        .drop("sr", "segment_id")
    )
    in_group = Window.partitionBy(collapse_field).orderBy(*order)
    heads = (
        cand.withColumn("gr", F.row_number().over(in_group))
        .filter(F.col("gr") == 1)
        .drop("gr")
    )
    page = heads.orderBy(F.col("r").desc(), F.col("doc_id").asc()).limit(k)
    w = Window.orderBy(F.col("r").desc(), F.col("doc_id").asc())
    return (
        page.withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", collapse_field, "doc_id", "r")
        .orderBy("rank")
    )


def expand_hits(
    searcher,
    query,
    collapse_field: str,
    k: int = 10,
    expand_rows: int = 5,
    head_by: str = "score",
) -> DataFrame:
    """ExpandComponent analog: for each collapsed head on the page
    (``collapse_topk`` with the same arguments), the top
    ``expand_rows`` OTHER members of its group by (score desc, doc asc)
    — expand.sort's default (ExpandComponent.java:101-171).
    Returns (group_rank, <collapse_field>, doc_rank, doc_id, r)."""
    from pyspark.sql import Window

    extra = [head_by.partition(":")[2]] if ":" in head_by else []
    page = collapse_topk(searcher, query, collapse_field, k, head_by).select(
        F.col("rank").alias("group_rank"),
        collapse_field,
        F.col("doc_id").alias("head_doc_id"),
    )
    hits = _scored_with_meta(searcher, query, collapse_field, extra)
    # per-segment candidates: a doc in a group's global top
    # (expand_rows + 1) is inside its own segment's top
    # (expand_rows + 1) for that group (containment), and the head is
    # at most one of those rows
    per_seg = Window.partitionBy("segment_id", collapse_field).orderBy(
        F.col("r").desc(), F.col("doc_id").asc()
    )
    cand = (
        hits.withColumn("sr", F.row_number().over(per_seg))
        .filter(F.col("sr") <= expand_rows + 1)
        .drop("sr", "segment_id")
    )
    joined = cand.join(F.broadcast(page), collapse_field).filter(
        F.col("doc_id") != F.col("head_doc_id")
    )
    in_group = Window.partitionBy(collapse_field).orderBy(
        F.col("r").desc(), F.col("doc_id").asc()
    )
    return (
        joined.withColumn("doc_rank", F.row_number().over(in_group).cast("int"))
        .filter(F.col("doc_rank") <= expand_rows)
        .select("group_rank", collapse_field, "doc_rank", "doc_id", "r")
        .orderBy("group_rank", "doc_rank")
    )


def field_stats(searcher, query, field: str) -> DataFrame:
    """StatsComponent analog: one row of numeric aggregates over
    ``field`` for the documents matching ``query``.

    Columns mirror StatsValuesFactory.java:436-606 — count (non-null),
    missing, min, max, sum, sum_sq (sumOfSquares), mean, stddev —
    plus median (the percentiles surface, exact at these scales).
    stddev uses the reference's corrected sample form
    (StatsValuesFactory.java:606) written as the SAME closed formula
    over exact integer-valued sums, so the SQL oracle replays it
    bit-for-bit; mean/stddev/median are rounded to 6 decimals (the
    engine's float-vs-SQL policy).  One partial-agg shuffle, no window.
    """
    hits = searcher.matches_df(query)
    meta = searcher._docmeta().select(
        "doc_id", field
    )
    x = F.col(field).cast("double")
    agg = (
        hits.join(meta, "doc_id")
        .agg(
            F.count(F.col(field)).cast("long").alias("count"),
            F.sum(F.when(F.col(field).isNull(), 1).otherwise(0))
            .cast("long").alias("missing"),
            F.min(x).alias("min"),
            F.max(x).alias("max"),
            F.sum(x).alias("sum"),
            F.sum(x * x).alias("sum_sq"),
            F.expr(f"percentile({field}, 0.5)").alias("_med"),
        )
    )
    n = F.col("count").cast("double")
    stddev = F.when(
        F.col("count") > 1,
        F.sqrt(
            (n * F.col("sum_sq") - F.col("sum") * F.col("sum"))
            / (n * (n - F.lit(1.0)))
        ),
    )
    return agg.select(
        "count", "missing", "min", "max", "sum", "sum_sq",
        F.round(F.col("sum") / n, 6).alias("mean"),
        F.round(stddev, 6).alias("stddev"),
        F.round(F.col("_med"), 6).alias("median"),
    )


def pivot_facets(
    searcher,
    query,
    fields: list[str],
    explode_fields: tuple = (),
) -> DataFrame:
    """facet.pivot analog (PivotFacetProcessor.java): nested value
    counts for ``fields = [a, b, ...]`` over the query's hit set,
    every level at once.

    Emitted long-form: (level, f1, f2, ..., count) where a level-L row
    carries non-null values for the first L fields and NULLs after —
    exactly Solr's nested pivot tree flattened.  Counts are DISTINCT
    documents (facet semantics: a doc counts once per value, so a
    multi-valued subfield never double-counts its parent).  Spark-first
    plan: ONE ``rollup(a, b, ...)`` aggregation — Catalyst expands the
    grouping sets in a single pass; no per-level re-scan of the hit
    set.  Columns named in ``explode_fields`` are ARRAY-typed
    (multi-valued SORTED_SET) and facet per value."""
    hits = searcher.matches_df(query)
    meta = searcher._docmeta().select(
        "doc_id", *fields
    )
    for c in explode_fields:
        meta = meta.withColumn(c, F.explode(c))
    joined = hits.join(meta, "doc_id")
    out = joined.rollup(*fields).agg(
        F.countDistinct("doc_id").alias("count"),
        *[F.grouping(c).alias(f"_g_{c}") for c in fields],
    )
    level = sum(
        (F.lit(1) - F.col(f"_g_{c}") for c in fields), F.lit(0)
    ).cast("int")
    # the rollup's grand-total row (all fields grouped away) is not
    # part of Solr's pivot response; drop it
    return (
        out.withColumn("level", level)
        .filter(F.col("level") > 0)
        .select("level", *fields, "count")
        .orderBy("level", *[F.col(c).asc_nulls_first() for c in fields])
    )


def terms_enum(
    searcher,
    prefix: str | None = None,
    limit: int = 10,
    min_df: int = 1,
    max_df: int | None = None,
    sort: str = "count",
) -> DataFrame:
    """TermsComponent analog (TermsComponent.java:181-336): enumerate
    the term dictionary — terms.prefix restricts the scan (pushed down
    to the termdict parquet's term-range-partitioned files),
    terms.limit / freqmin / freqmax bound the result,
    terms.sort=count orders by docFreq desc (index order = term asc
    for terms.sort=index).  Returns (term, df, ttf)."""
    td = searcher.termdict.select("term", "df", "ttf")
    if prefix:
        td = td.filter(F.col("term").startswith(prefix))
    if min_df > 1:
        td = td.filter(F.col("df") >= min_df)
    if max_df is not None:
        td = td.filter(F.col("df") <= max_df)
    order = (
        [F.col("df").desc(), F.col("term").asc()]
        if sort == "count"
        else [F.col("term").asc()]
    )
    return td.orderBy(*order).limit(limit).select(
        "term", F.col("df").cast("long").alias("df"),
        F.col("ttf").cast("long").alias("ttf"),
    )


def significant_terms(
    searcher,
    query,
    k: int = 20,
    min_df: int = 1,
    max_df: int | None = None,
    min_term_length: int = 1,
) -> DataFrame:
    """SignificantTermsQParserPlugin analog (solr/core/src/java/org/
    apache/solr/search/SignificantTermsQParserPlugin.java:103-232):
    terms over-represented in the query's hit set vs the whole index.

    For every term within the [minDocFreq, maxDocFreq] bounds and at
    least ``min_term_length`` chars, foreground ``tf`` = number of HIT
    docs containing it (the reference walks each term's postings
    against the result bitset, :191-206); terms with tf = 0 drop;
    score = ln(tf) * (ln((numDocs+1)/(docFreq+1)) + 1.0) (:212); top-k
    by score (ties: term asc; rounded to 6 decimals — the float-vs-SQL
    policy).  Returns (rank, term, tf, df, score).

    Spark-first plan, same work-shape as the reference's single
    termsEnum pass but distributed: the df/length bounds prune on the
    TERMDICT first (so losers' postings are never decoded), the
    surviving segment posting rows decode Arrow-batched into (term,
    doc_id) pairs, the hit set joins declaratively (Catalyst
    broadcasts it when small), and one groupBy(term) yields tf.  No
    driver materialization anywhere."""
    import numpy as np
    import pyarrow as pa

    from ..functions.codec import decode_term_postings
    from .search import posting_rows
    from .segments import SENTINEL_TERM

    td = searcher.termdict.filter(F.length("term") >= min_term_length)
    td = td.filter(F.col("df") >= min_df)
    if max_df is not None:
        td = td.filter(F.col("df") <= max_df)
    cand = td.select("term", F.col("df").cast("long").alias("df"))

    seg_size = searcher.cfg.segment_size
    seg = (
        searcher.segments.filter(F.col("term") != SENTINEL_TERM)
        .join(cand.select("term"), "term")
    )

    def run(batches):
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            terms_out, docs_out = [], []
            for seg_id, term, tp in zip(tbl["segment_id"].to_pylist(),
                                        tbl["term"].to_pylist(), posting_rows(tbl)):
                docs, _, _ = decode_term_postings(tp)
                terms_out.append(np.full(len(docs), term, dtype=object))
                docs_out.append(docs.astype(np.int64) + seg_id * seg_size)
            if terms_out:
                yield pa.RecordBatch.from_pydict({
                    "term": pa.array(np.concatenate(terms_out), pa.string()),
                    "doc_id": np.concatenate(docs_out),
                })

    pairs = seg.mapInArrow(run, schema="term string, doc_id bigint")
    hits = searcher.matches_df(query)
    fg = pairs.join(hits, "doc_id").groupBy("term").agg(
        F.count("*").cast("long").alias("tf")
    )
    nd = searcher.stats.num_docs
    scored = fg.join(cand, "term").withColumn(
        "score",
        F.round(
            F.log(F.col("tf").cast("double"))
            * (F.log(F.lit(float(nd + 1)) / (F.col("df") + F.lit(1.0)))
               + F.lit(1.0)),
            6,
        ),
    )
    from pyspark.sql import Window

    top = scored.orderBy(
        F.col("score").desc(), F.col("term").asc()
    ).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "term", "tf", "df", "score")
        .orderBy("rank")
    )


def elevate_topk(
    searcher,
    query,
    elevated_ids: list[int],
    k: int = 10,
    excluded_ids: tuple = (),
) -> DataFrame:
    """QueryElevationComponent analog (solr/core/src/java/org/apache/
    solr/handler/component/QueryElevationComponent.java:110): the
    configured elevated docs are pinned to the top of the page IN THE
    CONFIGURED ORDER (the ElevationComparator sort prefix,
    :465 setSort), whether or not they match the query (the component
    ORs the elevated ids into the main query); excluded ids are
    removed; the rest of the page follows in normal (score desc, doc
    asc) order.  Returns (rank, doc_id, elevated).  Elevated ids are
    assumed to exist in the index (the component validates its
    elevate.xml against the uniqueKey field at config-load time).

    Plan shape: the organic tail is a distributed TakeOrdered over the
    hit set minus the pinned/excluded ids (a tiny broadcast NOT IN);
    the pinned prefix is a k-bounded literal frame unioned on the
    driver — no shuffle is introduced beyond the base top-k."""
    from pyspark.sql import Window

    spark = searcher.spark
    elev = [int(d) for d in elevated_ids if d not in set(excluded_ids)][:k]
    hits = (
        searcher.score_all_df(query)
        .withColumn("r", F.round(F.col("score").cast("double"), 4))
    )
    drop = list(set(elev) | set(int(x) for x in excluded_ids))
    organic = (
        hits.filter(~F.col("doc_id").isin(drop))
        .orderBy(F.col("r").desc(), F.col("doc_id").asc())
        .limit(max(0, k - len(elev)))
    )
    w = Window.orderBy(F.col("r").desc(), F.col("doc_id").asc())
    organic = organic.select(
        (F.row_number().over(w) + F.lit(len(elev))).cast("int").alias("rank"),
        "doc_id", F.lit(False).alias("elevated"),
    )
    pinned = spark.createDataFrame(
        [(i + 1, d, True) for i, d in enumerate(elev)],
        schema="rank int, doc_id bigint, elevated boolean",
    )
    return pinned.unionByName(organic).orderBy("rank")


def heatmap_facet(
    searcher,
    query,
    lat_col: str,
    lon_col: str,
    bbox: tuple = (-90.0, 90.0, -180.0, 180.0),
    rows: int = 8,
    columns: int = 16,
) -> DataFrame:
    """FacetHeatmap analog (solr/core/src/java/org/apache/solr/search/
    facet/FacetHeatmap.java:76-196): 2-D grid counts of the hit set's
    geo points over ``bbox = (min_lat, max_lat, min_lon, max_lon)``
    at a fixed grid (the gridLevel -> rows x columns resolution).
    Returns (row, col, count) for non-empty cells — the sparse form of
    the reference's counts_ints2D payload.  Pure JVM codegen: two
    floor divisions + one groupBy; points outside the bbox are
    clipped out like the docValues facet's bounds intersection."""
    min_lat, max_lat, min_lon, max_lon = (float(v) for v in bbox)
    d_lat = (max_lat - min_lat) / rows
    d_lon = (max_lon - min_lon) / columns
    hits = searcher.matches_df(query)
    meta = searcher._docmeta().select(
        "doc_id", lat_col, lon_col
    )
    pts = hits.join(meta, "doc_id").filter(
        (F.col(lat_col) >= min_lat) & (F.col(lat_col) < max_lat)
        & (F.col(lon_col) >= min_lon) & (F.col(lon_col) < max_lon)
    )
    cell_r = F.floor((F.col(lat_col) - F.lit(min_lat)) / F.lit(d_lat))
    cell_c = F.floor((F.col(lon_col) - F.lit(min_lon)) / F.lit(d_lon))
    return (
        pts.select(
            cell_r.cast("int").alias("row"), cell_c.cast("int").alias("col")
        )
        .groupBy("row", "col")
        .agg(F.count("*").alias("count"))
        .orderBy("row", "col")
    )


def realtime_get(searcher, doc_ids: list[int], fl: list[str] | None = None):
    """RealTimeGetComponent analog (solr/core/src/java/org/apache/solr/
    handler/component/RealTimeGetComponent.java): fetch stored fields
    for explicit ids without running a query.  The docmeta table is
    doc-sorted, so the ``doc_id IN (...)`` predicate reaches parquet
    row-group pruning and reads only the touched groups — the
    same point-lookup shape as the reference's id->tlog/index lookup.
    Visibility is the last commit (the streaming indexer commits per
    micro-batch; there is no uncommitted-tlog tier here, which is the
    documented snapshot semantics of DirectoryReader.open)."""
    meta = searcher._docmeta()
    if fl:
        meta = meta.select("doc_id", *[c for c in fl if c != "doc_id"])
    return meta.filter(F.col("doc_id").isin([int(d) for d in doc_ids]))


def luke_report(searcher, top_terms: int = 10) -> dict:
    """Luke / admin handler analog (solr/core/src/java/org/apache/solr/
    handler/admin/LukeRequestHandler.java): index introspection —
    collection stats, segment count, docmeta field inventory, and the
    top terms by docFreq.  Everything comes from footer metadata and
    two tiny pushed-down scans (termdict top-k, docmeta schema); no
    postings are touched."""
    import math as _math

    st = searcher.stats
    n_segs = max(1, _math.ceil(st.num_docs / searcher.cfg.segment_size))
    top = [
        {"term": r["term"], "df": int(r["df"]), "ttf": int(r["ttf"])}
        for r in searcher.termdict.orderBy(
            F.col("df").desc(), F.col("term").asc()
        ).limit(top_terms).collect()
    ]
    meta_schema = searcher._docmeta().schema
    return {
        "num_docs": int(st.num_docs),
        "doc_count": int(st.doc_count),
        "sum_ttf": int(st.sum_ttf),
        "num_segments": int(n_segs),
        "fields": {f.name: f.dataType.simpleString() for f in meta_schema},
        "top_terms": top,
    }


def encode_cursor(sort_values: list, doc_id: int) -> str:
    """Serialize a cursorMark totem: the last row's sort values plus
    the uniqueKey tie-break (CursorMark.java:48-90 requires the sort
    to embed the uniqueKey so the ordering is total)."""
    return base64.urlsafe_b64encode(
        json.dumps(sort_values + [doc_id]).encode()
    ).decode()


def decode_cursor(cursor: str | None) -> tuple | None:
    """The reference's '*' totem (CURSOR_MARK_START) means page one."""
    if cursor is None or cursor == "*":
        return None
    return tuple(json.loads(base64.urlsafe_b64decode(cursor.encode())))


def cursor_page(
    searcher,
    query,
    sort: list,
    k: int,
    cursor: str | None = None,
):
    """One cursorMark page: ``(rows, next_cursor)``.

    ``rows`` is the page's collected Row list (rank, doc_id,
    <sort fields...>) — a page is bounded by k, exactly what the
    reference's QueryComponent materializes per request.
    ``next_cursor`` replays into the next call; when the page comes
    back short the cursor has drained (the reference signals this by
    returning the same totem).  Each page is an independent
    searchAfter(FieldDoc) top-k job: page N's scan prunes on the
    after-tuple predicate instead of re-collecting pages 1..N-1."""
    after = decode_cursor(cursor)
    rows = searcher.search_sorted(query, sort, k=k, after=after).collect()
    if not rows:
        return rows, cursor
    last = rows[-1]
    nxt = encode_cursor(
        [last[s.field] for s in sort], last["doc_id"]
    )
    return rows, nxt
