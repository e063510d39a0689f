"""Per-layer commit profiler: the walls and Spark job counts of one
``update_documents`` commit, the reopen after it and the first search
of the reopened searcher, in each placement.

Builds a base index of ``n_files`` generated files (the ``nrt_update``
shape by default: 320 files, ``segment_size`` 20, 16 segments), then
``reps`` times replaces ``share`` of them with fresh content (a
comma-separated list profiles several shares on one base), with the
commit placement pinned to the driver and to Spark in turn.  Every
commit starts from the same base.  Layers:

  driver  collect    the one JVM-only Spark action (merge._collect_delta)
          encode     segments.encode_segment over the delta's segments
          segments   read the base's segments, re-encode a shared
                     segment, sort and write one file (minus encode)
          docmeta    base files copied, the delta's rows written
          stats      stats + colstats (stats.merge_stats_tables)
          termdict   base termdict + delta rows, summed and written
          deletes    victims lookup + the del-generation write
  spark   doc ids    docids.doc_id_mapping
          build      build_index of the delta
          merge      merge_indexes
          deletes    the victims join + write (delete_documents)
  both    reopen     IndexSearcher over the new snapshot (lazy: no
                     table is read yet)
          first search  the first search after the reopen, a term
                     query: it builds the searcher's resident tables,
                     from the tables a driver commit handed off or
                     from the files (operators/snapshot)
          other      the commit's wall minus its layers
          total      commit + reopen + first search

Walls are medians over ``reps`` in ms, without the profiler's own
job-id reads; jobs count new Spark job ids seen by ``statusTracker``
(no job group is set, so jobs the build submits from its own threads
count too).

Usage: python tools/profile_commit.py [n_files] [share] [reps] [segment_size]
       python tools/profile_commit.py --help
"""

import os
import shutil
import sys
import tempfile
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from lucene_solr_8_7_0_spark.config import EngineConfig  # noqa: E402
from lucene_solr_8_7_0_spark.operators import (  # noqa: E402
    build, deletes, docids, merge, segments, stats,
)
from lucene_solr_8_7_0_spark.operators.search import IndexSearcher  # noqa: E402
from lucene_solr_8_7_0_spark.plans import queries as Q  # noqa: E402
from lucene_solr_8_7_0_spark.session import get_spark  # noqa: E402
from lucene_solr_8_7_0_spark.sources.corpus import generate_corpus_pdf  # noqa: E402

if {"-h", "--help"} & set(sys.argv[1:]):
    print(__doc__)
    sys.exit(0)
N_FILES = int(sys.argv[1]) if len(sys.argv) > 1 else 320
SHARES = [float(x) for x in (sys.argv[2] if len(sys.argv) > 2 else "0.01").split(",")]
REPS = int(sys.argv[3]) if len(sys.argv) > 3 else 5
SEGMENT = int(sys.argv[4]) if len(sys.argv) > 4 else 20

# (module, function, layer) wrapped with a timer; nested layers are
# reported separately (encode inside segments, deletes write inside
# delete_documents)
LAYERS = [
    (merge, "_collect_delta", "collect"),
    (segments, "encode_segment", "encode"),
    (merge, "_driver_segments", "segments"),
    (merge, "_driver_docmeta", "docmeta"),
    (stats, "merge_stats_tables", "stats"),
    (merge, "_driver_termdict", "termdict"),
    (merge, "_driver_victims", "victims"),
    (deletes, "write_deletes", "deletes write"),
    (docids, "doc_id_mapping", "doc ids"),
    (build, "build_index", "build"),
    (merge, "merge_indexes", "merge"),
    (deletes, "delete_documents", "deletes"),
]
REPORT = {
    "driver": ["collect", "encode", "segments", "docmeta", "stats",
               "termdict", "deletes"],
    "spark": ["collect", "doc ids", "build", "merge", "deletes"],
}


def job_ids(sc) -> set:
    return set(sc.statusTracker().getJobIdsForGroup(None))


def probed_job_ids(sc, walls: dict) -> set:
    """job_ids, its own wall added to ``walls["probe"]``: every wall
    that encloses a wrapper's job-id reads is reported without them
    (each read lists every job of the session, several ms late in a
    run)."""
    t0 = time.perf_counter()
    try:
        return job_ids(sc)
    finally:
        walls["probe"] += time.perf_counter() - t0


@contextmanager
def timed_layers(sc, walls: dict, jobs: dict, placement: str):
    """Wrap the LAYERS functions so each call adds its wall (s) and its
    new Spark jobs to ``walls``/``jobs`` under its layer name.  In the
    Spark placement encode_segment runs inside Spark tasks, which must
    not capture the wrapper, so it stays unwrapped."""
    saved = []
    for mod, name, layer in LAYERS:
        if placement == "spark" and layer == "encode":
            continue
        fn = getattr(mod, name)
        saved.append((mod, name, fn))

        def timed(*a, _fn=fn, _layer=layer, **k):
            before = probed_job_ids(sc, walls)
            p0, t0 = walls["probe"], time.perf_counter()
            try:
                return _fn(*a, **k)
            finally:
                wall = time.perf_counter() - t0 - (walls["probe"] - p0)
                walls[_layer] = walls.get(_layer, 0.0) + wall
                jobs[_layer] = jobs.get(_layer, 0) + len(
                    probed_job_ids(sc, walls) - before)

        setattr(mod, name, timed)
    try:
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)


def one_commit(spark, base, pdf, rng, rep, out, placement,
               share) -> tuple[dict, dict]:
    n = len(pdf)
    batch = max(1, int(round(n * share)))
    victims = rng.choice(n, size=batch, replace=False)
    fresh = generate_corpus_pdf(np.arange(n + rep * batch, n + (rep + 1) * batch),
                                batch, seed=rep + 1)
    rows = pdf.iloc[victims].drop(columns=["sha256"]).reset_index(drop=True)
    rows["content"] = fresh["content"].to_numpy()
    new_docs = spark.createDataFrame(rows)
    walls, jobs = {"probe": 0.0}, {}
    sc = spark.sparkContext
    orig = merge._choose_commit_placement
    merge._choose_commit_placement = lambda *a: (placement, "forced")
    try:
        before = job_ids(sc)
        with timed_layers(sc, walls, jobs, placement):
            p0, t0 = walls["probe"], time.perf_counter()
            deletes.update_documents(spark, base, new_docs, out)
            walls["commit"] = time.perf_counter() - t0 - (walls["probe"] - p0)
            t0 = time.perf_counter()
            searcher = IndexSearcher(spark, out)
            walls["reopen"] = time.perf_counter() - t0
            j0, t0 = job_ids(sc), time.perf_counter()
            searcher.search(Q.TermQuery("public"), k=10)
            walls["first search"] = time.perf_counter() - t0
            jobs["first search"] = len(job_ids(sc) - j0)
        jobs["total"] = len(job_ids(sc) - before)
    finally:
        merge._choose_commit_placement = orig
    if placement == "driver":
        walls["segments"] -= walls.get("encode", 0.0)
        walls["deletes"] = walls.get("victims", 0.0) + walls.get("deletes write", 0.0)
    walls["other"] = walls["commit"] - sum(walls.get(k, 0.0) for k in REPORT[placement])
    walls["total"] = walls["commit"] + walls["reopen"] + walls["first search"]
    return walls, jobs


def main() -> None:
    spark = get_spark(cores=2, shuffle_partitions=8, app_name="profile-commit")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="profile_commit_")
    try:
        pdf = generate_corpus_pdf(np.arange(N_FILES), N_FILES, seed=1)
        src = os.path.join(root, "corpus")
        os.makedirs(src)
        for i, chunk in enumerate(np.array_split(np.arange(N_FILES), 2)):
            pq.write_table(pa.Table.from_pandas(pdf.iloc[chunk], preserve_index=False),
                           os.path.join(src, f"part-{i:05d}.parquet"))
        base = os.path.join(root, "base")
        build.build_index(spark, spark.read.parquet(src), base,
                          EngineConfig(segment_size=SEGMENT), resume=False)
        seg_mb = sum(os.path.getsize(os.path.join(base, "segments", f))
                     for f in os.listdir(os.path.join(base, "segments"))) / 2**20
        print(f"base: {N_FILES} files, segment_size {SEGMENT}, segments "
              f"{seg_mb:.1f} MB; {REPS} reps; cores {os.cpu_count()}")
        rng = np.random.default_rng(0)
        for share in SHARES:
            results = {"driver": [], "spark": []}
            for rep in range(REPS):
                order = ["driver", "spark"] if rep % 2 == 0 else ["spark", "driver"]
                for placement in order:
                    out = os.path.join(root, f"out_{placement}_{rep}")
                    results[placement].append(one_commit(
                        spark, base, pdf, rng, rep, out, placement, share))
                    shutil.rmtree(out, ignore_errors=True)
            print(f"\ndelta: {max(1, int(round(N_FILES * share)))} files replaced")
            for placement, runs in results.items():
                print(f"{placement}: layer  ms (median)  jobs (median)")
                for layer in REPORT[placement] + ["other", "reopen",
                                                  "first search", "total"]:
                    ms = np.median([w.get(layer, 0.0) for w, _ in runs]) * 1000
                    nj = np.median([j.get(layer, 0) for _, j in runs])
                    print(f"  {layer:<12} {ms:9.1f}  {nj:5.0f}")
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
