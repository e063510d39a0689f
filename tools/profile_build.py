"""Build-stage profiler: warm-up build then a timed build, stage walls
from the manifest (guide §1: measure first).

Usage: python tools/profile_build.py [n_files]
"""

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lucene_solr_8_7_0_spark.config import EngineConfig  # noqa: E402
from lucene_solr_8_7_0_spark.operators.build import build_index  # noqa: E402
from lucene_solr_8_7_0_spark.session import get_spark  # noqa: E402
from lucene_solr_8_7_0_spark.sources.corpus import corpus_df  # noqa: E402

N_FILES = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main():
    spark = get_spark(cores=CPUS, shuffle_partitions=4 * CPUS,
                      app_name="profile_build")
    spark.sparkContext.setLogLevel("ERROR")
    corpus_dir = os.path.join("/tmp", f"bench_corpus_{N_FILES}")
    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        corpus_df(spark, N_FILES, seed=42).write.mode("overwrite").parquet(
            corpus_dir
        )
    docs = spark.read.parquet(corpus_dir)
    cfg = EngineConfig(segment_size=max(1024, N_FILES // (4 * CPUS)))
    # small warmup like bench.py
    warm = tempfile.mkdtemp(prefix="pb_warm_")
    build_index(spark, docs.limit(256), warm,
                EngineConfig(segment_size=128), resume=False)
    shutil.rmtree(warm, ignore_errors=True)
    for rep in range(2):
        d = tempfile.mkdtemp(prefix=f"pb_idx{rep}_")
        t0 = time.time()
        build_index(spark, docs, d, cfg, resume=False)
        wall = time.time() - t0
        man = spark.read.parquet(os.path.join(d, "manifest")).collect()
        print(f"build rep{rep}: {wall:.2f}s")
        for r in sorted(man, key=lambda r: r["ts"]):
            print(f"  stage {r['stage']}: {r['wall_s']:.2f}s")
        shutil.rmtree(d, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
