"""Per-phase query-latency profiler (guide §1: measure first).

Builds (or resumes) a bench-identical index from the cached bench
corpus, then breaks each headline query's wall into driver phases:

  prepare   IndexSearcher._prepare: rewrite (may probe the termdict for
            multi-term queries), term stats, compile, access plan
  plan      _run_prepared DataFrame construction (Catalyst analysis,
            plus one docset job per uncached point clause)
  exec      .toPandas() (the main scan -> kernel -> collect job)
  merge     driver-side TopDocs.merge

Usage: python tools/profile_query.py [n_files] [reps]
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lucene_solr_8_7_0_spark.config import EngineConfig  # noqa: E402
from lucene_solr_8_7_0_spark.operators.build import build_index  # noqa: E402
from lucene_solr_8_7_0_spark.operators.search import IndexSearcher  # noqa: E402
from lucene_solr_8_7_0_spark.plans import queries as Q  # noqa: E402
from lucene_solr_8_7_0_spark.session import get_spark  # noqa: E402
from lucene_solr_8_7_0_spark.sources.corpus import corpus_df  # noqa: E402

N_FILES = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 3
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def phases(searcher, query, k=10):
    t = {}
    t0 = time.time()
    p = searcher._prepare(query)
    t["prepare"] = time.time() - t0
    with searcher._scan_conf_guard():  # the split conf search() runs under
        t0 = time.time()
        df = searcher._run_prepared(p, k, "top_scores", 1000)
        t["plan"] = time.time() - t0
        t0 = time.time()
        pdf = df.toPandas()
        t["exec"] = time.time() - t0
    t0 = time.time()
    searcher._merge(pdf, k)
    t["merge"] = time.time() - t0
    t["total"] = sum(t.values())
    return t


def main():
    spark = get_spark(cores=CPUS, shuffle_partitions=4 * CPUS,
                      app_name="profile_query")
    spark.sparkContext.setLogLevel("ERROR")
    corpus_dir = os.path.join("/tmp", f"bench_corpus_{N_FILES}")
    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        corpus_df(spark, N_FILES, seed=42).write.mode("overwrite").parquet(
            corpus_dir
        )
    docs = spark.read.parquet(corpus_dir)
    idx_dir = f"/tmp/prof_idx_{N_FILES}"
    cfg = EngineConfig(segment_size=max(1024, N_FILES // (4 * CPUS)))
    t0 = time.time()
    res = build_index(spark, docs, idx_dir, cfg, resume=True)
    print(f"build: {time.time() - t0:.2f}s (stages run={res.stages_run})")
    # manifest stage walls
    man = spark.read.parquet(os.path.join(idx_dir, "manifest")).collect()
    for r in sorted(man, key=lambda r: r["ts"]):
        print(f"  stage {r['stage']}: {r['wall_s']:.2f}s {r['detail']}")
    import glob
    for t in ("segments", "termdict", "docmeta"):
        fs = glob.glob(os.path.join(idx_dir, t, "*.parquet"))
        sz = sum(os.path.getsize(f) for f in fs) / 1e6
        print(f"  table {t}: {len(fs)} files, {sz:.1f} MB")

    searcher = IndexSearcher(spark, idx_dir)
    from bench import headline_queries
    qs = headline_queries(searcher)
    searcher.search(Q.TermQuery("warmup_zzz"), k=10)
    for name, q in qs.items():
        best = None
        for _ in range(REPS):
            t = phases(searcher, q)
            if best is None or t["total"] < best["total"]:
                best = t
        print(
            f"{name}: total={best['total']:.3f} "
            + " ".join(f"{k}={v:.3f}" for k, v in best.items() if k != "total")
        )
    spark.stop()


if __name__ == "__main__":
    main()
