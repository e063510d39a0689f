"""Segment merge + incremental/streaming indexing tests.

Key property: an index built incrementally (base + delta merge, or via
Structured Streaming micro-batches) answers every query identically to
an index built over the full corpus at once.
"""

import glob
import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lucene_solr_8_7_0_spark.config import EngineConfig
from lucene_solr_8_7_0_spark.operators import merge as merge_mod
from lucene_solr_8_7_0_spark.operators.build import build_index, load_config
from lucene_solr_8_7_0_spark.operators.merge import add_documents, merge_indexes
from lucene_solr_8_7_0_spark.operators.segments import SENTINEL_TERM
from lucene_solr_8_7_0_spark.operators.stats import (
    collection_stats, read_stats_row, term_dict,
)
from lucene_solr_8_7_0_spark.operators.search import IndexSearcher
from lucene_solr_8_7_0_spark.plans import queries as Q
from lucene_solr_8_7_0_spark.sources.corpus import corpus_df

N = 260
CFG = EngineConfig(segment_size=64)  # 260 docs -> 5 segments, boundary mid-segment


def _queries():
    return [
        Q.TermQuery("public"),
        Q.term_and(["public", "return"]),
        Q.term_or(["public", "return", "import"], 1),
        Q.PhraseQuery(("public", "return")),
        Q.MatchAllDocsQuery(),
    ]


def _results(searcher, q):
    td = searcher.search(q, k=10, score_mode="complete")
    return td.doc_ids.tolist(), td.scores.tolist(), td.total_hits


def _assert_stats_match_tables(spark, index_dir):
    """Differential: a merge sums its inputs' stats/termdict tables;
    the result must equal re-aggregating the merged segments and
    docmeta from scratch, exactly."""
    segs = spark.read.parquet(f"{index_dir}/segments")
    want_td = (
        term_dict(segs.filter(F.col("term") != SENTINEL_TERM), CFG)
        .toPandas().sort_values("term", ignore_index=True)
    )
    got_td = (
        pq.read_table(f"{index_dir}/termdict").to_pandas()[["term", "df", "ttf"]]
        .sort_values("term", ignore_index=True)
    )
    assert got_td.equals(want_td)
    want_stats = collection_stats(
        spark.read.parquet(f"{index_dir}/docmeta")
    ).collect()[0].asDict()
    assert read_stats_row(f"{index_dir}/stats") == want_stats


def _assert_segments_whole_per_file(index_dir):
    seen = set()
    for f in sorted(glob.glob(f"{index_dir}/segments/*.parquet")):
        ids = set(pq.read_table(f, columns=["segment_id"]).column(0).to_pylist())
        assert not ids & seen, f"segments {sorted(ids & seen)} straddle files"
        seen |= ids


@pytest.fixture(scope="module")
def full_and_split(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("merge")
    docs = corpus_df(spark, N, seed=42)
    # the full index, built in one shot
    full_dir = str(root / "full")
    from lucene_solr_8_7_0_spark.operators.docids import assign_doc_ids

    with_ids = assign_doc_ids(docs, ["repo", "path"])
    with_ids.write.mode("overwrite").parquet(str(root / "corpus"))
    corpus = spark.read.parquet(str(root / "corpus"))
    build_index(spark, corpus, full_dir, CFG, resume=False, precomputed_ids=True)
    return root, corpus, full_dir


def test_tiered_merge_rounds_equal_full_build(spark, full_and_split):
    """20 delta indexes merged with fan-in 4 (log-fan-in rounds,
    TieredMergePolicy analog) answer identically to the one-shot build."""
    from lucene_solr_8_7_0_spark.operators.merge import merge_indexes_tiered

    root, corpus, full_dir = full_and_split
    deltas = []
    for i in range(20):
        lo, hi = i * 13, min((i + 1) * 13, N)
        part = corpus.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        d = str(root / f"delta{i:02d}")
        build_index(spark, part, d, CFG, resume=False, precomputed_ids=True)
        deltas.append(d)
    out = str(root / "tiered")
    rounds = merge_indexes_tiered(
        spark, deltas, out, CFG, max_fan_in=4, work_dir=str(root / "tw")
    )
    assert len(rounds) >= 3  # 20 -> 5 -> 2 -> 1 (or similar), not one shot
    s_full = IndexSearcher(spark, full_dir)
    s_tiered = IndexSearcher(spark, out)
    assert s_tiered.stats.num_docs == N
    for q in _queries():
        assert _results(s_full, q) == _results(s_tiered, q), str(q)
    _assert_stats_match_tables(spark, out)
    _assert_segments_whole_per_file(out)


def test_two_pass_shared_threshold_identical(spark, full_and_split):
    """Cross-segment min-competitive sharing returns identical results
    (MaxScoreAccumulator analog; strict-floor pruning is lossless)."""
    _, _, full_dir = full_and_split
    s = IndexSearcher(spark, full_dir)
    for q in [
        Q.TermQuery("public"),
        Q.term_or(["public", "return", "import"], 1),
        Q.term_and(["public", "return"]),
    ]:
        for k in (1, 3, 10):
            a = s.search(q, k=k, total_hits_threshold=1)
            b = s.search(q, k=k, total_hits_threshold=1, two_pass_threshold=True)
            assert a.doc_ids.tolist() == b.doc_ids.tolist(), (str(q), k)
            np.testing.assert_array_equal(a.scores, b.scores)


def test_incremental_merge_equals_full_build(spark, full_and_split):
    root, corpus, full_dir = full_and_split
    # split at a non-segment-aligned point: doc ids 0..149 | 150..259
    part_a = corpus.filter(F.col("doc_id") < 150)
    part_b = corpus.filter(F.col("doc_id") >= 150)
    a_dir, b_dir, merged_dir = (str(root / x) for x in ("a", "b", "m"))
    build_index(spark, part_a, a_dir, CFG, resume=False, precomputed_ids=True)
    build_index(spark, part_b, b_dir, CFG, resume=False, precomputed_ids=True)
    merge_indexes(spark, [a_dir, b_dir], merged_dir, CFG)

    s_full = IndexSearcher(spark, full_dir)
    s_merged = IndexSearcher(spark, merged_dir)
    assert s_full.stats.num_docs == s_merged.stats.num_docs == N
    assert s_full.stats.sum_ttf == s_merged.stats.sum_ttf
    for q in _queries():
        assert _results(s_full, q) == _results(s_merged, q), str(q)
    # boundary segment (150 // 64 == 2) was re-encoded: postings identical
    seg_full = (
        spark.read.parquet(f"{full_dir}/segments")
        .filter("segment_id = 2")
        .select("term", "df", "ttf", "block_last_docs")
        .toPandas()
        .sort_values("term", ignore_index=True)
    )
    seg_merged = (
        spark.read.parquet(f"{merged_dir}/segments")
        .filter("segment_id = 2")
        .select("term", "df", "ttf", "block_last_docs")
        .toPandas()
        .sort_values("term", ignore_index=True)
    )
    assert seg_full["term"].tolist() == seg_merged["term"].tolist()
    assert seg_full["df"].tolist() == seg_merged["df"].tolist()
    assert seg_full["ttf"].tolist() == seg_merged["ttf"].tolist()


def test_add_documents(spark, full_and_split, tmp_path_factory):
    root, corpus, full_dir = full_and_split
    out = str(tmp_path_factory.mktemp("adddocs") / "out")
    base_dir = str(root / "a")  # index over doc_ids < 150 from previous test
    if not os.path.exists(os.path.join(base_dir, "segments", "_SUCCESS")):
        pytest.skip("base index not built")
    # the delta: same content rows as doc ids 150.. but WITHOUT ids —
    # add_documents must number them after the base index's max
    delta_rows = (
        corpus.filter(F.col("doc_id") >= 150)
        .drop("doc_id")
        .select("repo", "path", "commit", "lang", "content", "sha256")
    )
    add_documents(spark, base_dir, delta_rows, out)
    s_full = IndexSearcher(spark, full_dir)
    s_inc = IndexSearcher(spark, out)
    assert s_inc.stats.num_docs == N
    for q in _queries():
        full_r = _results(s_full, q)
        inc_r = _results(s_inc, q)
        # doc ids may differ only if delta sort order differs from the
        # global sort; here the delta rows sort after... verify hits and
        # scores sets match exactly
        assert full_r[2] == inc_r[2], str(q)
        assert sorted(full_r[1]) == pytest.approx(sorted(inc_r[1])), str(q)


def test_streaming_indexer(spark, tmp_path_factory):
    from lucene_solr_8_7_0_spark.streaming.indexer import StreamingIndexer

    root = tmp_path_factory.mktemp("stream")
    docs = corpus_df(spark, 120, seed=9)
    src_dir = str(root / "src")
    # two file-source micro-batches
    docs.filter(F.xxhash64("path") % 2 == 0).write.parquet(src_dir + "/b0")
    docs.filter(F.xxhash64("path") % 2 != 0).write.parquet(src_dir + "/b1")
    schema = spark.read.parquet(src_dir + "/b0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4")
        .parquet(src_dir + "/*")
    )
    cfg = EngineConfig(segment_size=64)
    indexer = StreamingIndexer(spark, str(root / "snaps"), cfg)
    q = indexer.start(stream)
    q.awaitTermination(300)
    snap = indexer.current_snapshot()
    assert snap is not None
    s = IndexSearcher(spark, snap)
    assert s.stats.num_docs == 120
    td = s.search(Q.TermQuery("public"), k=5)
    assert td.total_hits > 0


def test_deletes_live_docs(spark, full_and_split, tmp_path_factory):
    """LiveDocs semantics: deleted docs vanish from every query shape
    while surviving docs keep BITWISE-identical scores (stats still
    count deleted docs until a merge, exactly like the reference)."""
    import shutil
    from lucene_solr_8_7_0_spark.operators import deletes as dl

    root, corpus, full_dir = full_and_split
    d = str(tmp_path_factory.mktemp("delidx"))
    shutil.copytree(full_dir, d, dirs_exist_ok=True)
    s = IndexSearcher(spark, d)
    q = Q.term_or(["public", "return"], 1)
    before = s.search(q, k=10, score_mode="complete")
    victims = [int(before.doc_ids[0]), int(before.doc_ids[2])]
    n = dl.delete_documents(
        spark, d, spark.createDataFrame([(v,) for v in victims], "doc_id long")
    )
    assert n == 2
    after = s.search(q, k=10, score_mode="complete")
    assert not set(victims) & set(after.doc_ids.tolist())
    assert after.total_hits == before.total_hits - 2
    # surviving docs score identically (idf/norms unchanged pre-merge)
    keep = {int(x): float(sc) for x, sc in zip(before.doc_ids, before.scores)}
    for x, sc in zip(after.doc_ids, after.scores):
        if int(x) in keep:
            assert float(sc) == keep[int(x)]
    # every query surface respects the mask
    assert not set(victims) & set(
        s.matches_df(Q.TermQuery("public")).toPandas()["doc_id"]
    )
    td_all = s.search(Q.MatchAllDocsQuery(), k=5, score_mode="complete")
    assert td_all.total_hits == N - 2
    assert s.count(q) == before.total_hits - 2
    # delete-by-query composes
    dl.delete_by_query(spark, d, s, Q.TermQuery("interface"))
    rest = s.matches_df(Q.TermQuery("interface")).count()
    assert rest == 0


def test_update_documents(spark, full_and_split, tmp_path_factory):
    """updateDocument analog: same (repo, path) keys are replaced —
    old content unfindable, new content searchable, one live doc per
    key."""
    import shutil
    import pandas as pd
    from lucene_solr_8_7_0_spark.operators import deletes as dl

    root, corpus, full_dir = full_and_split
    base = str(tmp_path_factory.mktemp("updbase"))
    shutil.copytree(full_dir, base, dirs_exist_ok=True)
    meta = spark.read.parquet(f"{base}/docmeta").orderBy("doc_id").limit(2).toPandas()
    new_rows = [
        (r["repo"], r["path"], "c2", "java", "zzqqx unique replacement text")
        for _, r in meta.iterrows()
    ]
    new_docs = spark.createDataFrame(
        pd.DataFrame(new_rows, columns=["repo", "path", "commit", "lang", "content"])
    )
    out = str(tmp_path_factory.mktemp("updout"))
    dl.update_documents(spark, base, new_docs, out)
    s = IndexSearcher(spark, out)
    hits = s.matches_df(Q.TermQuery("zzqqx")).toPandas()["doc_id"].tolist()
    assert len(hits) == 2 and all(h >= N for h in hits)  # re-added at the end
    # old ids for those keys are masked
    old_ids = set(meta["doc_id"])
    assert not old_ids & set(
        s.matches_df(Q.MatchAllDocsQuery()).toPandas()["doc_id"]
    )
    assert s.search(Q.MatchAllDocsQuery(), k=1, score_mode="complete").total_hits == N



def test_merge_mixed_position_availability(spark, tmp_path_factory):
    """Position availability is PER TERM across a merge (round-4 fix):
    in a boundary segment mixing a positions-less source, terms whose
    every source row carries positions still answer phrase queries;
    only terms touching the positions-less source lose them (and fail
    loudly, like a Lucene field indexed without positions)."""
    import pytest

    root = tmp_path_factory.mktemp("mixedpos")

    def mini(doc_rows, out, positions=True):
        df = spark.createDataFrame(
            [(int(i), "r", f"p{i:04d}", "c", "en", txt) for i, txt in doc_rows],
            "doc_id bigint, repo string, path string, commit string, "
            "lang string, content string",
        )
        cfg = EngineConfig(segment_size=64, index_positions=positions)
        build_index(spark, df, str(root / out), cfg, resume=False,
                    precomputed_ids=True)
        return str(root / out)

    # all three indexes share segment 0 (disjoint doc ranges 0-9/10-19/20-29)
    a = mini([(i, "alpha beta delta") for i in range(0, 10)], "a")
    b = mini([(i, "alpha beta") for i in range(10, 20)], "b")
    c = mini([(i, "delta zeta") for i in range(20, 30)], "c", positions=False)
    merged = str(root / "merged")
    merge_indexes(spark, [a, b, c], merged)
    _assert_stats_match_tables(spark, merged)
    s = IndexSearcher(spark, merged)
    # alpha+beta merged from positions-bearing sources only: phrase works
    got = sorted(
        s.matches_df(Q.PhraseQuery(("alpha", "beta"))).toPandas()["doc_id"]
    )
    assert got == list(range(20))
    # delta touched the positions-less source: per Lucene, loud failure
    with pytest.raises(Exception, match="requires positions"):
        s.matches_df(Q.PhraseQuery(("delta", "zeta"))).toPandas()


@pytest.mark.parametrize("cut", [128, 150], ids=["segment_boundary", "mid_segment"])
def test_merge_stats_equal_reaggregation(spark, full_and_split, cut):
    """A merge's stats, termdict and colstats come from its inputs' own
    tables; they equal the re-aggregation of the merged snapshot (and
    the one-shot build) exactly, whether or not a segment is shared."""
    root, corpus, full_dir = full_and_split
    a_dir, b_dir, m_dir = (str(root / f"{x}_cut{cut}") for x in ("a", "b", "m"))
    build_index(spark, corpus.filter(F.col("doc_id") < cut), a_dir, CFG,
                resume=False, precomputed_ids=True)
    build_index(spark, corpus.filter(F.col("doc_id") >= cut), b_dir, CFG,
                resume=False, precomputed_ids=True)
    shared = merge_mod.shared_segment_ranges([a_dir, b_dir])
    assert (shared == []) == (cut % CFG.segment_size == 0)
    merge_indexes(spark, [a_dir, b_dir], m_dir, CFG)
    _assert_stats_match_tables(spark, m_dir)
    _assert_segments_whole_per_file(m_dir)
    assert read_stats_row(f"{m_dir}/stats") == read_stats_row(f"{full_dir}/stats")
    # colstats: the log2-bucket length histogram of the merged docmeta
    lengths = pq.read_table(f"{m_dir}/docmeta", columns=["length"]).column(0)
    lengths = lengths.to_numpy()
    buckets = np.where(
        lengths <= 0, 0, np.floor(np.log2(np.maximum(lengths, 1))).astype(int) + 1
    )
    ids, counts = np.unique(buckets, return_counts=True)
    want = [
        ("length", 0.0 if i == 0 else float(1 << (i - 1)),
         1.0 if i == 0 else float(1 << i), int(c))
        for i, c in zip(ids, counts)
    ]
    got = pq.read_table(f"{m_dir}/colstats").to_pandas()
    assert list(got.itertuples(index=False, name=None)) == want
    s = IndexSearcher(spark, m_dir)
    assert s._segments_alignment()[0]  # one-stage path still holds
    s_full = IndexSearcher(spark, full_dir)
    for q in _queries():
        assert _results(s_full, q) == _results(s, q), str(q)


def test_boundary_commit_skips_python_merge(spark, full_and_split,
                                            tmp_path_factory, monkeypatch):
    """A delta that starts on a segment boundary shares no segment with
    the base, so the commit never reaches merge_segment_rows (the
    Python stage): every segment row is copied by the JVM."""
    root, corpus, full_dir = full_and_split
    base = str(root / "base_boundary")
    build_index(spark, corpus.filter(F.col("doc_id") < 128), base, CFG,
                resume=False, precomputed_ids=True)

    def boom(*a, **k):
        raise AssertionError("merge_segment_rows called on a boundary merge")

    monkeypatch.setattr(merge_mod, "merge_segment_rows", boom)
    out = str(tmp_path_factory.mktemp("boundary") / "out")
    delta = corpus.filter(F.col("doc_id") >= 128).drop("doc_id")
    add_documents(spark, base, delta, out)
    _assert_stats_match_tables(spark, out)
    _assert_segments_whole_per_file(out)
    s_full, s = IndexSearcher(spark, full_dir), IndexSearcher(spark, out)
    for q in _queries():
        assert _results(s_full, q) == _results(s, q), str(q)


def test_updates_keep_config_and_clean_up(spark, tmp_path, monkeypatch):
    """Every merged snapshot carries the base's full engine config, so a
    SECOND update analyzes its delta like the base did (html_strip,
    index_sort, ...); and add_documents removes the delta index it
    created."""
    import tempfile

    import pandas as pd
    from lucene_solr_8_7_0_spark.operators import deletes as dl

    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    cfg = EngineConfig(segment_size=16, html_strip=True,
                       index_sort=(("lang", True),))
    rows = [("r", f"p{i:03d}", "c", ("en", "de")[i % 2],
             f"<b>alpha</b> doc{i} words") for i in range(40)]
    cols = ["repo", "path", "commit", "lang", "content"]
    base = str(tmp_path / "base")
    build_index(spark, spark.createDataFrame(pd.DataFrame(rows, columns=cols)),
                base, cfg)
    snaps = [base]
    for n, (i, tag) in enumerate([(3, "zqone"), (7, "zqtwo")]):
        new = pd.DataFrame(
            [("r", f"p{i:03d}", "c2", "en", f"<{tag}>bravo{n}</{tag}>")],
            columns=cols,
        )
        out = str(tmp_path / f"snap{n}")
        dl.update_documents(spark, snaps[-1], spark.createDataFrame(new), out)
        snaps.append(out)
    assert load_config(snaps[2]) == load_config(base) == cfg
    s = IndexSearcher(spark, snaps[2])
    assert s.count(Q.TermQuery("bravo1")) == 1
    assert s.count(Q.TermQuery("zqtwo")) == 0
    assert not glob.glob(str(scratch / "delta_idx_*"))
