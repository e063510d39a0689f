"""Dump `.explain("formatted")` for the headline query paths to
plans/<tag>/<name>.txt (judge-checkable plan evidence).

Usage: python tools/dump_plans.py <out_dir_tag> [index_dir]
"""

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lucene_solr_8_7_0_spark.operators.search import IndexSearcher  # noqa: E402
from lucene_solr_8_7_0_spark.plans import queries as Q  # noqa: E402
from lucene_solr_8_7_0_spark.session import get_spark  # noqa: E402

TAG = sys.argv[1]
IDX = sys.argv[2] if len(sys.argv) > 2 else "/tmp/prof_idx_200000"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "plans", TAG)
os.makedirs(OUT, exist_ok=True)


def dump(name, df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    with open(os.path.join(OUT, f"{name}.txt"), "w") as f:
        f.write(buf.getvalue())
    print("wrote", name)


def main():
    spark = get_spark(cores=32, shuffle_partitions=128,
                      app_name=f"dump_plans_{TAG}")
    spark.sparkContext.setLogLevel("ERROR")
    s = IndexSearcher(spark, IDX)
    from bench import headline_queries
    qs = headline_queries(s)

    def run_df(q, k=10):
        # the path is chosen at plan time: build it under the searcher's
        # own scan-split conf, as search() does
        with s._scan_conf_guard():
            return s._run_prepared(s._prepare(q), k, "top_scores", 1000)

    for name in ["q1_term_hot", "q4_and_mid", "q5_or_hot_wand", "q9_phrase",
                 "q10_prefix"]:
        dump(name, run_df(qs[name]))
    # a point filter: its docset is a kernel mask, still one stage
    b = Q.Builder()
    b.add(Q.TermQuery("data"), Q.Occur.MUST)
    b.add(Q.PointRangeQuery("length", None, 100), Q.Occur.FILTER)
    dump("point_filter_union", run_df(b.build()))
    spark.stop()


if __name__ == "__main__":
    main()
