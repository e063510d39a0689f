"""Plan audit: print the physical-plan evidence lines for the
headline paths — parquet pushdown (PushedFilters / ReadSchema),
whole-stage codegen spans, and join strategies — so BENCH.md's scale
claims stay tied to actual `.explain("formatted")` output.

Usage: python tools/explain_audit.py [sf_dir]
"""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as e  # noqa: E402
from lucene_solr_8_7_0_spark.plans import queries as Q  # noqa: E402
from lucene_solr_8_7_0_spark.session import get_spark  # noqa: E402

INTERESTING = re.compile(
    r"PushedFilters: \[[^\]]*[a-z][^\]]*\]|ReadSchema:|"
    r"WholeStageCodegen|BroadcastHashJoin|SortMergeJoin|"
    r"TakeOrderedAndProject|HashAggregate|Exchange |MapInArrow"
)


def audit(name, df, max_lines=12):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    print(f"\n=== {name} ===")
    hits = [
        ln.strip() for ln in plan.splitlines() if INTERESTING.search(ln)
    ]
    for ln in hits[:max_lines]:
        print("   ", ln[:160])
    if len(hits) > max_lines:
        print(f"    ... (+{len(hits) - max_lines} more)")


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(cores=4, shuffle_partitions=8, app_name="explain_audit")
    s = e._searcher(spark, sf)

    audit("term matches (Spark placement: segment windows -> MapInArrow)",
          s.matches_df(Q.TermQuery("data")))
    audit("bm25 topk (per-segment kernel)",
          s.search_df(Q.term_or(["data", "join"], 1), k=10))
    from lucene_solr_8_7_0_spark.operators.components import (
        collapse_topk, field_stats, pivot_facets, terms_enum,
    )
    audit("collapse (two-pass windows)",
          collapse_topk(s, Q.TermQuery("data"), "lang", k=4))
    audit("field stats (partial agg)",
          field_stats(s, Q.TermQuery("data"), "n_chars"))
    audit("pivot rollup",
          pivot_facets(s, Q.TermQuery("data"), ["lang", "tags"],
                       explode_fields=("tags",)))
    audit("terms enum (prefix pushdown)", terms_enum(s, prefix="re"))
    from lucene_solr_8_7_0_spark.operators.streams import (
        rollup_stream, search_stream,
    )
    st = search_stream(s, Q.TermQuery("data"), ["lang", "n_chars"],
                       [("n_chars", "desc")])
    audit("stream rollup", rollup_stream(st, ["lang"], {"n": "count(*)"}))
    # round-5 eighth-wave surfaces
    from lucene_solr_8_7_0_spark.operators.suggest import (
        suggest_word_breaks,
    )
    audit("word break (broadcast suffix join)",
          suggest_word_breaks(s, "datajoin", k=10))
    from lucene_solr_8_7_0_spark.operators.rangefacet import (
        range_facet_date,
    )
    import os as _os

    events = spark.read.parquet(_os.path.join(sf, "events.parquet"))
    audit("date range facet (one arithmetic groupBy)",
          range_facet_date(events, "ts", "2024-01-03T12:00:00Z/DAY+2DAYS",
                           "2024-01-26T00:00:00Z", "+3DAYS"))
    audit("dv-updates overlay (broadcast merge-on-read)",
          s._docmeta())
    from lucene_solr_8_7_0_spark.operators.dedup import _cc_large_star

    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "u bigint, v bigint"
    )
    audit("cc large-star round (groupBy + join, no cartesian)",
          _cc_large_star(edges))
    audit("span containment (term-pruned postings scan)",
          s.matches_df(Q.SpanContainingQuery(
              Q.SpanNearQuery(("data", "join"), slop=5), "table")))
    spark.stop()


if __name__ == "__main__":
    main()
