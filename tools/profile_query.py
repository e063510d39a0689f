"""Per-phase query-latency profiler (guide §1: measure first).

Builds (or resumes) a bench-identical index from the cached bench
corpus, opens a searcher, reports the driver's row source (the resident
tables' load ms and bytes, or the parquet files above the driver-bytes
cap), then breaks the wall of each headline query, and of a
phrase-wildcard, a complex-phrase and a regexp query, into driver
phases:

  prepare   IndexSearcher._prepare: rewrite (multi-term queries read
            the termdict; phrase-wildcard and complex-phrase queries
            expand their pattern slots there), term stats, compile,
            access plan
  stats     the term-stats lookup inside prepare (IndexSearcher._term_stats)
  masks     IndexSearcher._kernel_inputs: point-filter docsets (a Spark
            job per uncached clause) and the live-docs mask
  place     IndexSearcher._choose_placement (printed with its reason)
  read      driver placement: the postings lookup (score_files)
  postings  driver placement: grouping by segment + posting maps
            (score_files)
  kernel    driver placement: score_segment per segment, decode
            included (score_files)
  exec      spark placement: the MapInArrow job over segment windows,
            collected
  merge     driver-side TopDocs.merge

read, postings and kernel come from score_files' in-process timestamps,
taken through the searcher's own driver placement
(IndexSearcher._score_driver); ``lookup`` is read + stats, the reads
the resident tables serve.  total sums every phase but stats (already
in prepare).

Usage: python tools/profile_query.py [n_files] [reps] [segment_size]
  (``320 20 20`` is the perfbench query_stream shape: 16 segments)
"""

import os
import sys
import tempfile
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
SEGMENT_SIZE = int(sys.argv[3]) if len(sys.argv) > 3 else 0
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
TMP = tempfile.gettempdir()


def phases(searcher, query, k=10):
    """({phase: seconds}, (placement, reason)) of one top-k search."""
    t = {"stats": 0.0}
    term_stats = searcher._term_stats

    def timed_stats(terms):
        t0 = time.perf_counter()
        try:
            return term_stats(terms)
        finally:
            t["stats"] += time.perf_counter() - t0

    searcher._term_stats = timed_stats
    t0 = time.perf_counter()
    try:
        p = searcher._prepare(query)
    finally:
        del searcher._term_stats
    t["prepare"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    spec, masks = searcher._kernel_inputs(p, k, "top_scores", 1000)
    t["masks"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    placement = searcher._choose_placement(p)
    t["place"] = time.perf_counter() - t0
    if placement[0] == "driver":
        res = searcher._score_driver(spec, masks, timings=t)
    else:
        t0 = time.perf_counter()
        res = searcher._spark_rows(spec, masks).toArrow()
        t["exec"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    searcher._merge(res, k)
    t["merge"] = time.perf_counter() - t0
    t["total"] = sum(v for k, v in t.items() if k != "stats")
    t["lookup"] = t["stats"] + t.get("read", 0.0)
    return t, placement


def main():
    spark = get_spark(cores=CPUS, shuffle_partitions=4 * CPUS,
                      app_name="profile_query")
    spark.sparkContext.setLogLevel("ERROR")
    corpus_dir = os.path.join(TMP, f"bench_corpus_{N_FILES}")
    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        corpus_df(spark, N_FILES, seed=42).write.mode("overwrite").parquet(
            corpus_dir
        )
    docs = spark.read.parquet(corpus_dir)
    cfg = EngineConfig(
        segment_size=SEGMENT_SIZE or max(1024, N_FILES // (4 * CPUS)))
    idx_dir = os.path.join(TMP, f"prof_idx_{N_FILES}_{cfg.segment_size}")
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
    qs["phrase_wildcard"] = Q.PhraseWildcardQuery(
        ("public", Q.PrefixQuery("st")))
    qs["complex_phrase"] = Q.ComplexPhraseQuery(
        (("public",), (Q.PrefixQuery("st"), "void")))
    qs["regexp"] = Q.RegexpQuery("st.*c")
    t0 = time.perf_counter()
    source = searcher._tables()
    load_ms = (time.perf_counter() - t0) * 1000
    if source is searcher._resident:
        print(f"resident tables: load {load_ms:.1f} ms, "
              f"{source.nbytes / 1e6:.2f} MB held")
    else:
        print(f"driver reads the segments files "
              f"({searcher._snapshot.nbytes('segments') / 1e6:.1f} MB on disk)")
    searcher.search(Q.TermQuery("warmup_zzz"), k=10)
    for name, q in qs.items():
        best = None
        for _ in range(REPS):
            t, placement = phases(searcher, q)
            if best is None or t["total"] < best["total"]:
                best = t
        print(
            f"{name}: total={best['total'] * 1000:.2f}ms "
            f"placement={placement[0]} "
            + " ".join(f"{k}={v * 1000:.2f}" for k, v in best.items()
                       if k != "total")
            + f"  ({placement[1]})"
        )
    spark.stop()


if __name__ == "__main__":
    main()
