"""Near-real-time indexing via Structured Streaming.

The reference's NRT story is snapshot refresh: new docs accumulate in
in-memory segments, a commit publishes them, and
DirectoryReader.openIfChanged exposes the new point-in-time view
(SURVEY.md §2.10 note — Lucene has no stream processing; NRT is
micro-batched refresh).  The Spark-native equivalent is exactly a
Structured Streaming sink: each micro-batch is an IndexWriter
addDocuments + commit, producing a new immutable snapshot directory
that searchers open independently (snapshot isolation).

``StreamingIndexer`` wraps readStream -> foreachBatch(add_documents):
the first micro-batch builds the base snapshot, and every later one
commits ``gen_<n+1>`` = ``gen_<n>`` + the batch (with ``gen_<n>``'s
deletes and doc-values updates).  A small batch commits on the driver
in one JVM-only Spark action; a large one runs the Spark chain
(operators/merge.add_documents).

    indexer = StreamingIndexer(spark, base_index_dir, snapshots_dir, cfg)
    q = indexer.start(stream_df)     # stream of input_hint rows
    ...
    searcher = IndexSearcher(spark, indexer.current_snapshot())
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from ..config import EngineConfig
from ..operators.build import build_index, load_config
from ..operators.merge import add_documents


class StreamingIndexer:
    def __init__(
        self,
        spark: SparkSession,
        snapshots_dir: str,
        cfg: EngineConfig | None = None,
    ):
        self.spark = spark
        self.snapshots_dir = snapshots_dir
        os.makedirs(snapshots_dir, exist_ok=True)
        self.cfg = cfg or EngineConfig()

    # -- commit-point management (SegmentInfos analog) --------------------

    def _gen_path(self, gen: int) -> str:
        return os.path.join(self.snapshots_dir, f"gen_{gen:06d}")

    def latest_gen(self) -> int:
        gens = [
            int(d.split("_")[1])
            for d in os.listdir(self.snapshots_dir)
            if d.startswith("gen_")
            and os.path.exists(os.path.join(self.snapshots_dir, d, "_COMMIT"))
        ]
        return max(gens, default=-1)

    def current_snapshot(self) -> str | None:
        g = self.latest_gen()
        return self._gen_path(g) if g >= 0 else None

    def _commit(self, path: str, meta: dict) -> None:
        with open(os.path.join(path, "_COMMIT"), "w") as f:
            json.dump(meta, f)

    # -- micro-batch ingest ------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cur = self.current_snapshot()
        gen = self.latest_gen() + 1
        out = self._gen_path(gen)
        if cur is None:
            build_index(self.spark, batch_df, out, self.cfg, resume=False)
        else:
            add_documents(self.spark, cur, batch_df, out, load_config(cur))
        self._commit(out, {"batch_id": batch_id, "gen": gen})

    def start(self, stream_df: DataFrame, **trigger_kwargs):
        """Attach the indexer to a streaming DataFrame of corpus rows."""
        return (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option(
                "checkpointLocation",
                os.path.join(self.snapshots_dir, "_stream_checkpoint"),
            )
            .trigger(**(trigger_kwargs or {"availableNow": True}))
            .start()
        )
