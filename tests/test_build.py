"""End-to-end index build tests on the synthetic corpus."""

import numpy as np
import pandas as pd
import pytest

from lucene_solr_8_7_0_spark.config import EngineConfig
from lucene_solr_8_7_0_spark.functions.analysis import analyze_batch
from lucene_solr_8_7_0_spark.functions.codec import TermPostings, decode_term_postings
from lucene_solr_8_7_0_spark.operators.build import build_index
from lucene_solr_8_7_0_spark.operators.docids import assign_doc_ids
from lucene_solr_8_7_0_spark.sources.corpus import corpus_df, generate_corpus_pdf

N_FILES = 300


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    cfg = EngineConfig(segment_size=64)
    docs = corpus_df(spark, N_FILES, seed=42)
    res = build_index(spark, docs, d, cfg)
    return d, cfg, res


def test_corpus_deterministic_across_partitioning(spark):
    a = corpus_df(spark, 50, seed=42, partitions=1).toPandas()
    b = corpus_df(spark, 50, seed=42, partitions=7).toPandas()
    a = a.sort_values("path", ignore_index=True)
    b = b.sort_values("path", ignore_index=True)
    pd.testing.assert_frame_equal(a, b)


def test_doc_ids_deterministic_across_parallelism(spark):
    docs = corpus_df(spark, 200, seed=1)
    a = assign_doc_ids(docs, num_partitions=2).select("repo", "path", "doc_id").toPandas()
    b = assign_doc_ids(docs, num_partitions=13).select("repo", "path", "doc_id").toPandas()
    a = a.sort_values("doc_id", ignore_index=True)
    b = b.sort_values("doc_id", ignore_index=True)
    pd.testing.assert_frame_equal(a, b)
    # dense 0..n-1, ordered by (repo, path)
    assert a["doc_id"].tolist() == list(range(len(a)))
    key = list(zip(a["repo"], a["path"]))
    assert key == sorted(key)


def test_build_tables_exist_and_consistent(spark, built):
    d, cfg, res = built
    assert res.num_docs == N_FILES
    docmeta = spark.read.parquet(f"{d}/docmeta").toPandas()
    assert len(docmeta) == N_FILES
    # sha256 invariant: engine-computed (F.sha2 in the mapping stage)
    # vs the generator-recorded hashlib value on the source rows
    src = corpus_df(spark, N_FILES, seed=42).select("path", "sha256").toPandas()
    joined = docmeta.merge(src, on="path", suffixes=("_idx", "_src"))
    assert len(joined) == N_FILES
    assert (joined["sha256_idx"] == joined["sha256_src"]).all()
    # the docs table is an identity MAPPING — content is never copied
    # (the source table remains the stored-fields store)
    docs_tbl = spark.read.parquet(f"{d}/docs")
    assert "content" not in docs_tbl.columns
    assert (
        docs_tbl.select("doc_id", "sha256")
        .toPandas()
        .merge(docmeta, on="doc_id", suffixes=("_map", "_meta"))
        .pipe(lambda j: (j["sha256_map"] == j["sha256_meta"]).all())
    )
    # empty + single-token edge docs present
    assert (docmeta["length"] == 0).any()
    assert (docmeta["length"] == 1).any()
    # norm byte matches SmallFloat of length
    from lucene_solr_8_7_0_spark.functions.smallfloat import int_to_byte4_np

    np.testing.assert_array_equal(
        docmeta["norm"].to_numpy(),
        int_to_byte4_np(docmeta["length"].to_numpy()),
    )


def test_segments_roundtrip_vs_direct_inversion(spark, built):
    """Decode every posting list and compare against a from-scratch
    pandas inversion of the same corpus (CheckHits-style oracle)."""
    d, cfg, res = built
    mapping = spark.read.parquet(f"{d}/docs").select("doc_id", "path")
    docs = (
        corpus_df(spark, N_FILES, seed=42)
        .join(mapping, "path")
        .select("doc_id", "content")
        .toPandas()
        .sort_values("doc_id")
    )
    tb = analyze_batch(docs["content"].reset_index(drop=True), cfg.analyzer)
    doc_ids = docs["doc_id"].to_numpy()[tb.doc_idx]
    expected = (
        pd.DataFrame({"term": tb.terms.to_numpy(), "doc_id": doc_ids})
        .groupby(["term", "doc_id"])
        .size()
        .reset_index(name="freq")
    )
    seg = spark.read.parquet(f"{d}/segments").toPandas()
    seg = seg[seg["term"] > "\x01"]  # skip sentinel norms rows
    got_rows = []
    for _, r in seg.iterrows():
        tp = TermPostings(
            df=r["df"], ttf=r["ttf"],
            singleton_doc=r["singleton_doc"], singleton_freq=r["singleton_freq"],
            doc_blocks=bytes(r["doc_blocks"]),
            doc_block_offsets=np.asarray(r["doc_block_offsets"], dtype=np.int32),
            freq_blocks=bytes(r["freq_blocks"]),
            freq_block_offsets=np.asarray(r["freq_block_offsets"], dtype=np.int32),
            pos_blocks=bytes(r["pos_blocks"]),
            pos_block_offsets=np.asarray(r["pos_block_offsets"], dtype=np.int32),
            block_last_docs=np.asarray(r["block_last_docs"], dtype=np.int32),
            impacts_flat=np.asarray(r["impacts_flat"], dtype=np.int32),
            impacts_offsets=np.asarray(r["impacts_offsets"], dtype=np.int32),
        )
        docs_l, freqs, _ = decode_term_postings(tp)
        base = r["segment_id"] * cfg.segment_size
        for dl, f in zip(docs_l, freqs):
            got_rows.append((r["term"], base + dl, f))
    got = pd.DataFrame(got_rows, columns=["term", "doc_id", "freq"]).sort_values(
        ["term", "doc_id"], ignore_index=True
    )
    expected = expected.sort_values(["term", "doc_id"], ignore_index=True)
    pd.testing.assert_frame_equal(
        got.astype({"doc_id": "int64", "freq": "int64"}),
        expected.astype({"doc_id": "int64", "freq": "int64"}),
    )


def test_termdict_matches_segments(spark, built):
    d, cfg, res = built
    seg = spark.read.parquet(f"{d}/segments").toPandas()
    seg = seg[seg["term"] > "\x01"]  # skip sentinel norms rows
    td = spark.read.parquet(f"{d}/termdict").toPandas()
    exp = seg.groupby("term").agg(df=("df", "sum"), ttf=("ttf", "sum")).reset_index()
    got = td.sort_values("term", ignore_index=True)
    exp = exp.sort_values("term", ignore_index=True)
    pd.testing.assert_frame_equal(
        got.astype({"df": "int64", "ttf": "int64"}),
        exp.astype({"df": "int64", "ttf": "int64"}),
    )


def test_stats_semantics(spark, built):
    d, cfg, res = built
    stats = spark.read.parquet(f"{d}/stats").collect()[0]
    docmeta = spark.read.parquet(f"{d}/docmeta").toPandas()
    assert stats["num_docs"] == N_FILES
    assert stats["doc_count"] == (docmeta["length"] > 0).sum()
    assert stats["sum_ttf"] == docmeta["length"].sum()


def test_resume_skips_completed_stages(spark, built):
    d, cfg, res = built
    docs = corpus_df(spark, N_FILES, seed=42)
    res2 = build_index(spark, docs, d, cfg, resume=True)
    assert res2.stages_run == []
    assert set(res2.stages_skipped) == {
        "docs", "docmeta", "stats", "colstats", "segments", "termdict"
    }


def test_jvm_tokenizer_parity_with_python(spark):
    """jvm_token_array must be token-identical to analyze_batch on
    golden cases (unicode, CJK, joiners, overlong) for both analyzers."""
    import pandas as pd
    from pyspark.sql import functions as F
    from lucene_solr_8_7_0_spark.functions.analysis import (
        analyze_batch,
        jvm_token_array,
    )

    golden = [
        "Lucene 8.7.0 search-engine", "216.239.63.104 IP",
        "4,600 dogs,chase,cats", "O'Reilly can't won't",
        "foo_bar BAZ_1 x-y", "我是中 mixed 中文 text",
        "naïve café résumé", "a.b c.d 1.2", "don’t 21.35",
        "under_score__double", "", "UPPER lower MiXeD",
        "semi;colon 1;2", "colon:sep a:b 1:2", "x" * 300 + " ok",
        "Ω≈ç√ unicode ∂elta", None,
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(golden)), "content": golden})
    )
    for analyzer in ("simple", "standard"):
        got = (
            df.select(
                "i",
                F.coalesce(jvm_token_array("content", analyzer), F.array()).alias("t"),
            )
            .orderBy("i")
            .toPandas()
        )
        for i, s in enumerate(golden):
            jvm = [
                x.lower() for x in got.loc[i, "t"] if len(x) <= 255
            ]
            py = analyze_batch(pd.Series([s]), analyzer).terms.tolist()
            assert jvm == py, (analyzer, s, jvm[:5], py[:5])


def test_jvm_build_equals_python_build(spark, tmp_path_factory, monkeypatch):
    """Full-index equality: the JVM tokenizer front-end produces
    byte-identical segments, docmeta, stats and termdict tables to the
    Python Arrow-UDF front-end (same postings, norms, impacts,
    positions) — for both analyzers, with stopwords, and with
    ``max_token_length=4`` so the JVM wire carries non-empty holes and
    one document loses every token.  The Python side is forced by
    substituting the build's tokenizer-selection predicate."""
    from pyspark.sql import functions as F

    from lucene_solr_8_7_0_spark.operators import invert

    texts = [
        "The quick brown fox jumps over the lazy dog",
        "naïve café 中文 text with Ω unicode",
        "a.b.c 1.2.3 O'Reilly foo_bar",
        "", "the the the",
        "repeat repeat repeat token stream " * 8,
        "overlong tokens everywhere",
    ]
    rows = [("r", f"{i:03d}", "c", "t", t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    )
    use_jvm = invert.use_jvm_tokenizer
    cases = [
        (analyzer, stop, 255)
        for analyzer in ("standard", "simple")
        for stop in ((), ("the",))
    ] + [("standard", (), 4), ("simple", ("the",), 4)]
    for analyzer, stop, max_len in cases:
        cfg = EngineConfig(
            analyzer=analyzer, segment_size=4, stopwords=stop,
            max_token_length=max_len,
        )
        assert use_jvm(cfg)
        if max_len == 4:
            holes = (
                invert.invert_doc_arrays(docs.withColumn("doc_id", F.lit(0)), cfg)
                .filter(F.size("holes") > 0).count()
            )
            assert holes > 0
        dirs = {}
        for front in ("jvm", "python"):
            monkeypatch.setattr(
                invert, "use_jvm_tokenizer",
                use_jvm if front == "jvm" else (lambda cfg: False),
            )
            d = str(tmp_path_factory.mktemp(f"be_{front}_{analyzer}"))
            build_index(spark, docs, d, cfg, resume=False)
            dirs[front] = d
        if max_len == 4:
            # "overlong tokens everywhere": every token is dropped
            meta = spark.read.parquet(f"{dirs['jvm']}/docmeta").toPandas()
            assert meta.loc[meta.path == "006", "length"].tolist() == [0]
        for table in ("segments", "docmeta", "stats", "termdict"):
            cols = spark.read.parquet(f"{dirs['jvm']}/{table}").columns
            keys = [c for c in ("segment_id", "term", "doc_id") if c in cols]
            a, b = (
                spark.read.parquet(f"{dirs[front]}/{table}")
                .toPandas().sort_values(keys, ignore_index=True)
                for front in ("jvm", "python")
            )
            pd.testing.assert_frame_equal(a, b, obj=str((analyzer, stop, max_len, table)))


def test_empty_corpus_build_and_search(spark, tmpdir_path):
    """An EMPTY source table builds a valid (empty) index and every
    query path degrades to zero hits instead of erroring."""
    from lucene_solr_8_7_0_spark.operators.search import IndexSearcher
    from lucene_solr_8_7_0_spark.plans import queries as Q

    docs = spark.createDataFrame(
        [], schema="repo string, path string, commit string, lang string, "
                   "content string"
    )
    res = build_index(spark, docs, tmpdir_path,
                      EngineConfig(segment_size=64), resume=False)
    assert res.num_docs == 0 and res.num_terms == 0
    s = IndexSearcher(spark, tmpdir_path)
    assert s.search(Q.TermQuery("x"), k=5).total_hits == 0
    assert s.matches_df(Q.PrefixQuery("a")).count() == 0
    assert s.count(Q.MatchAllDocsQuery()) == 0
    assert s.search(Q.PhraseQuery(("a", "b")), k=3).total_hits == 0


def test_build_jobs_stay_in_callers_job_group(spark, tmp_path):
    """Every job a build launches, including those of its own threads
    (the overlapped docs write, the concurrent docmeta/termdict
    stages), belongs to the job group the caller set."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("build_group", "build_index")
    try:
        build_index(spark, corpus_df(spark, 120, seed=4), str(tmp_path / "idx"),
                    EngineConfig(segment_size=32))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(tracker.getJobIdsForGroup("build_group")) > 0
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
