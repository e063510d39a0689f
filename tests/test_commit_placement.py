"""Commit placement (operators/merge.add_documents): a small commit runs
on the driver — one JVM-only collect, then in-process encode, merge and
writes — and any commit can run as the Spark chain (``build_index`` of
the delta, then ``merge_indexes``).  Both placements must write the
same snapshot, table by table, and answer every search bitwise the
same."""

import glob
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

from lucene_solr_8_7_0_spark.config import EngineConfig
from lucene_solr_8_7_0_spark.operators import deletes as dl
from lucene_solr_8_7_0_spark.operators import merge as merge_mod
from lucene_solr_8_7_0_spark.operators.build import build_index
from lucene_solr_8_7_0_spark.operators.checkindex import check_index
from lucene_solr_8_7_0_spark.operators.dvupdates import (
    read_dv_generation, update_numeric_docvalue,
)
from lucene_solr_8_7_0_spark.operators.search import IndexSearcher, QueryCache
from lucene_solr_8_7_0_spark.operators.segments import (
    SENTINEL_TERM, segment_arrow_schema,
)
from lucene_solr_8_7_0_spark.operators.stats import read_stats_row
from lucene_solr_8_7_0_spark.plans import queries as Q
from lucene_solr_8_7_0_spark.sources.corpus import generate_corpus_pdf

N = 60


def _rows(ids, seed=3) -> pd.DataFrame:
    pdf = generate_corpus_pdf(np.asarray(ids), N, seed=seed)
    return pdf.drop(columns=["sha256"])


def force(monkeypatch, placement):
    """Pin the commit placement rule to ``placement``."""
    monkeypatch.setattr(merge_mod, "_choose_commit_placement",
                        lambda *a: (placement, "forced"))


def _table(d, name):
    return pads.dataset(sorted(glob.glob(f"{d}/{name}/*.parquet")),
                        format="parquet").to_table()


def _snapshot(d) -> dict:
    """Every table of a snapshot, in a layout-free form."""
    segs = _table(d, "segments").cast(segment_arrow_schema()).sort_by(
        [("segment_id", "ascending"), ("term", "ascending")])
    meta = _table(d, "docmeta").sort_by("doc_id")
    td = _table(d, "termdict").sort_by("term")
    dels = (sorted(set(_table(d, "deletes")["doc_id"].to_pylist()))
            if os.path.exists(f"{d}/deletes") else None)
    with open(f"{d}/engine_config.json") as f:
        config = json.load(f)
    return {
        "segments": segs.to_pydict(),
        "docmeta": {c: meta[c].to_pylist() for c in sorted(meta.column_names)},
        "termdict": td.select(["term", "df", "ttf"]).to_pydict(),
        "stats": read_stats_row(f"{d}/stats"),
        "colstats": pq.read_table(f"{d}/colstats").to_pydict(),
        "deletes": dels,
        "generations": (dl.read_generation(d), read_dv_generation(d)),
        "config": config,
    }


def _bits(td):
    return (td.doc_ids.tolist(),
            td.scores.astype(np.float32).view(np.uint32).tolist(),
            td.total_hits)


def _answers(s, positions=True):
    qs = [Q.TermQuery("public"), Q.term_and(["public", "return"]),
          Q.term_or(["public", "return", "import"], 1),
          Q.MatchAllDocsQuery(), Q.PrefixQuery("get")]
    if positions:
        qs.append(Q.PhraseQuery(("public", "static")))
    return [_bits(s.search(q, k=10, score_mode="complete")) for q in qs]


def _base_rows(shape):
    base = _rows(range(N))
    if shape == "html_strip":
        base["content"] = "<p>" + base["content"] + "</p><!-- x -->"
    if shape == "extra_columns":
        base["lat"] = np.linspace(-40.0, 40.0, N)
        base["lon"] = np.linspace(100.0, 150.0, N)
    return base


def _delta_rows(shape, base):
    """3 replacements of base keys plus 2 new files, fresh content."""
    fresh = _rows(range(N, N + 5), seed=4)
    delta = pd.concat([base.iloc[[4, 17, 41]], fresh.iloc[:2]],
                      ignore_index=True)[list(fresh.columns)]
    delta["content"] = fresh["content"].to_numpy()
    if shape == "html_strip":
        delta["content"] = "<b>" + delta["content"] + "</b>&amp;"
    if shape == "extra_columns":
        # the extra columns in the other order: they must land by name
        delta["lon"] = [101.5, 102.5, 103.5, 104.5, 105.5]
        delta["lat"] = [-1.5, -2.5, -3.5, -4.5, -5.5]
    return delta


SHAPES = {
    "segment_boundary": EngineConfig(segment_size=20),
    "mid_segment": EngineConfig(segment_size=16),
    "english_synonyms": EngineConfig(
        segment_size=16, analyzer="english",
        index_synonyms=(("public", ("open", "visible")),),
    ),
    "no_positions": EngineConfig(segment_size=16, index_positions=False),
    "html_strip": EngineConfig(segment_size=16, html_strip=True),
    "extra_columns": EngineConfig(segment_size=16),
    "deletes_and_dvupdates": EngineConfig(segment_size=16),
}


@pytest.mark.parametrize("shape", list(SHAPES))
def test_driver_commit_equals_spark_commit(spark, tmp_path, monkeypatch, shape):
    cfg = SHAPES[shape]
    base_pdf = _base_rows(shape)
    base = str(tmp_path / "base")
    build_index(spark, spark.createDataFrame(base_pdf), base, cfg)
    if shape == "deletes_and_dvupdates":
        s = IndexSearcher(spark, base, query_cache=QueryCache())
        dl.delete_documents(spark, base, spark.createDataFrame(
            [(3,), (17,), (30,)], "doc_id long"))
        assert update_numeric_docvalue(s, "public", "length", 5000.0) > 0
    new_docs = spark.createDataFrame(_delta_rows(shape, base_pdf))
    snaps, answers = {}, {}
    for placement in ("driver", "spark"):
        force(monkeypatch, placement)
        out = str(tmp_path / placement)
        info = dl.update_documents(spark, base, new_docs, out)
        assert (info.placement, info.added, info.deleted) == (placement, 5, 3)
        assert check_index(spark, out).count() == 0
        snaps[placement] = _snapshot(out)
        answers[placement] = _answers(
            IndexSearcher(spark, out, query_cache=QueryCache()),
            cfg.index_positions,
        )
    driver, in_spark = snaps["driver"], snaps["spark"]
    for table in driver:
        assert driver[table] == in_spark[table], table
    assert answers["driver"] == answers["spark"]
    meta = driver["docmeta"]
    assert meta["doc_id"] == list(range(N + 5))
    if shape == "mid_segment":
        assert N % cfg.segment_size  # the delta shares segment 3
    if shape == "extra_columns":
        new = {p: (la, lo) for p, la, lo
               in zip(meta["path"][N:], meta["lat"][N:], meta["lon"][N:])}
        want = _delta_rows(shape, base_pdf)
        assert new == {p: (la, lo) for p, la, lo
                       in zip(want["path"], want["lat"], want["lon"])}
    if shape == "deletes_and_dvupdates":
        assert driver["generations"] == (2, 1)
        assert {3, 17, 30} <= set(driver["deletes"])


def test_driver_commit_launches_one_jvm_job(spark, tmp_path, monkeypatch):
    """On the nrt shape (a 1% update on a segment boundary) the rule
    picks the driver, and the commit plus a reopen launch one Spark
    job: the collect, whose plan runs no Python."""
    cfg = EngineConfig(segment_size=20)
    base_pdf = _base_rows("segment_boundary")
    base = str(tmp_path / "base")
    build_index(spark, spark.createDataFrame(base_pdf), base, cfg)
    new_docs = spark.createDataFrame(_delta_rows("segment_boundary", base_pdf))
    frame = type(new_docs)
    plans, to_arrow = [], frame.toArrow

    def spy(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return to_arrow(df)

    monkeypatch.setattr(frame, "toArrow", spy)
    sc = spark.sparkContext
    sc.setJobGroup("driver_commit", "update + reopen")
    try:
        info = dl.update_documents(spark, base, new_docs, str(tmp_path / "out"))
        IndexSearcher(spark, str(tmp_path / "out"), query_cache=QueryCache())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert info.placement == "driver", info
    assert len(sc.statusTracker().getJobIdsForGroup("driver_commit")) == 1
    assert len(plans) == 1
    assert not any(w in plans[0] for w in ("Python", "Arrow", "InPandas"))


@pytest.mark.parametrize("placement", ["driver", "spark"])
def test_add_documents_carries_deletes_and_dvupdates(spark, tmp_path,
                                                     monkeypatch, placement):
    """A plain add_documents keeps the base's deleted docs deleted and
    its doc-values updates applied, with both generations."""
    cfg = EngineConfig(segment_size=16)
    base_pdf = _base_rows("mid_segment")
    base = str(tmp_path / "base")
    build_index(spark, spark.createDataFrame(base_pdf), base, cfg)
    s = IndexSearcher(spark, base, query_cache=QueryCache())
    dl.delete_documents(spark, base, spark.createDataFrame(
        [(0,), (1,)], "doc_id long"))
    updated = update_numeric_docvalue(s, "public", "length", 5000.0)
    force(monkeypatch, placement)
    out = str(tmp_path / "out")
    fresh = _rows(range(N, N + 2), seed=4)
    info = merge_mod.add_documents(spark, base, spark.createDataFrame(fresh), out)
    assert (info.placement, info.added, info.deleted) == (placement, 2, 0)
    assert (dl.read_generation(out), read_dv_generation(out)) == (1, 1)
    s2 = IndexSearcher(spark, out, query_cache=QueryCache())
    assert s2.count(Q.MatchAllDocsQuery()) == N + 2 - 2
    hits = s2.matches_df(Q.PointRangeQuery("length", 4000, 6000)).count()
    assert hits == updated


@pytest.mark.parametrize("placement", ["driver", "spark"])
def test_commits_release_persisted_frames(spark, tmp_path, monkeypatch,
                                          placement):
    cfg = EngineConfig(segment_size=20)
    base_pdf = _base_rows("segment_boundary")
    snap = str(tmp_path / "s0")
    build_index(spark, spark.createDataFrame(base_pdf), snap, cfg)
    force(monkeypatch, placement)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for i in range(3):
        delta = _delta_rows("segment_boundary", base_pdf).iloc[:3]
        delta["content"] = delta["content"] + f" round{i}"
        out = str(tmp_path / f"s{i + 1}")
        dl.update_documents(spark, snap, spark.createDataFrame(delta), out)
        snap = out
    assert jsc.getPersistentRDDs().size() == before


def test_placement_rule_reads_only_what_it_needs():
    """The rule collects the delta only when the config and the base's
    segments bytes leave the driver possible."""
    calls = []

    def rows(n):
        return lambda: calls.append(n) or n

    rule, cut = merge_mod._choose_commit_placement, merge_mod._DRIVER_MAX_DOCS
    cap = merge_mod.DRIVER_MAX_SEGMENTS_BYTES
    offsets = EngineConfig(index_offsets=True)
    assert rule(offsets, 0, rows(1))[0] == "spark"
    assert rule(EngineConfig(), cap + 1, rows(1))[0] == "spark"
    assert calls == []
    assert rule(EngineConfig(), cap, rows(cut))[0] == "driver"
    assert rule(EngineConfig(), 0, rows(cut + 1))[0] == "spark"
    assert calls == [cut, cut + 1]


def test_index_offsets_commit_runs_in_spark(spark, tmp_path):
    cfg = EngineConfig(segment_size=16, index_offsets=True)
    base_pdf = _base_rows("mid_segment")
    base = str(tmp_path / "base")
    build_index(spark, spark.createDataFrame(base_pdf), base, cfg)
    out = str(tmp_path / "out")
    info = merge_mod.add_documents(
        spark, base, spark.createDataFrame(_rows(range(N, N + 2), seed=4)), out)
    assert info.placement == "spark" and "index_offsets" in info.reason
    assert os.path.exists(f"{out}/termvectors/_SUCCESS")


@pytest.mark.parametrize("placement", ["driver", "spark"])
def test_commit_rejects_missing_docmeta_column(spark, tmp_path, monkeypatch,
                                               placement):
    """A delta without a docmeta column the base has fails the commit
    in both placements, not a silent fill."""
    base_pdf = _base_rows("extra_columns")
    base = str(tmp_path / "base")
    build_index(spark, spark.createDataFrame(base_pdf), base,
                EngineConfig(segment_size=16))
    delta = _delta_rows("extra_columns", base_pdf).drop(columns=["lon"])
    force(monkeypatch, placement)
    with pytest.raises(Exception, match="lon"):
        merge_mod.add_documents(spark, base, spark.createDataFrame(delta),
                                str(tmp_path / "out"))


def test_merge_segment_fails_loudly(spark, tmp_path):
    """The shared-segment re-encode raises on a segment without its
    sentinel row and on inputs that overlap in doc ids."""
    base = str(tmp_path / "base")
    build_index(spark, spark.createDataFrame(_base_rows("mid_segment")), base,
                EngineConfig(segment_size=16))
    rows = _table(base, "segments").cast(segment_arrow_schema())
    seg = rows.filter(pc.equal(rows["segment_id"], 1))
    with pytest.raises(ValueError, match="no sentinel row"):
        merge_mod.merge_segment(1, seg.filter(pc.not_equal(seg["term"], SENTINEL_TERM)))
    with pytest.raises(ValueError, match="overlap in doc ids"):
        merge_mod.merge_segment(1, pa.concat_tables([seg, seg]))


def test_analysis_columns_built_once_per_key(spark, monkeypatch):
    """The JVM analysis Columns are built once per key: the five config
    fields the expression reads and the live py4j JVM view.  Equal keys
    share the Column objects; a change to any one of them builds new
    ones."""
    from py4j.java_gateway import java_import
    from pyspark import SparkContext

    from lucene_solr_8_7_0_spark.operators import invert

    def cols(cfg, content_col="content"):
        return invert.doc_array_columns(cfg, content_col)

    base = EngineConfig(stopwords=("the", "a"))
    first = cols(base)
    assert cols(EngineConfig(stopwords=("the", "a"))) is first
    assert [c is d for c, d in zip(cols(base), first)] == [True, True]
    variants = [
        cols(EngineConfig(analyzer="simple", stopwords=("the", "a"))),
        cols(EngineConfig(max_token_length=7, stopwords=("the", "a"))),
        cols(EngineConfig(stopwords=("the",))),
        cols(EngineConfig(html_strip=True, stopwords=("the", "a"))),
        cols(base, "body"),
    ]
    # another JVM view, importing what pyspark's own view imports
    view = spark.sparkContext._gateway.new_jvm_view()
    for name in ("org.apache.spark.api.python.*",
                 "org.apache.spark.sql.functions",
                 "org.apache.spark.sql.classic.*",
                 "org.apache.spark.sql.api.python.*"):
        java_import(view, name)
    monkeypatch.setattr(SparkContext, "_jvm", view)
    variants.append(cols(base))
    monkeypatch.undo()
    assert cols(base) is first
    for v in variants:
        assert v[0] is not first[0] and v[1] is not first[1]
    for i, v in enumerate(variants):
        assert all(v[0] is not w[0] for w in variants[i + 1:])


def test_driver_commit_py4j_commands(spark, tmp_path):
    """After the first, a driver commit sends at most 110 commands to
    the JVM (about 415 while the analysis Columns were rebuilt on every
    commit)."""
    from py4j import protocol

    cfg = EngineConfig(segment_size=20)
    base_pdf = _base_rows("segment_boundary")
    base = str(tmp_path / "base")
    build_index(spark, spark.createDataFrame(base_pdf), base, cfg)
    delta = _delta_rows("segment_boundary", base_pdf)
    info = dl.update_documents(spark, base, spark.createDataFrame(delta),
                               str(tmp_path / "first"))
    assert info.placement == "driver"
    new_docs = spark.createDataFrame(delta)
    client = spark.sparkContext._gateway._gateway_client
    sent, send = [], client.send_command
    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

    def counted(command, *a, **kw):
        if not command.startswith(release):
            sent.append(command)
        return send(command, *a, **kw)

    client.send_command = counted
    try:
        info = dl.update_documents(spark, base, new_docs, str(tmp_path / "second"))
    finally:
        del client.send_command
    assert info.placement == "driver"
    assert 0 < len(sent) <= 110, len(sent)


RESTART_SCRIPT = """
import os, sys
repo, tests, root = sys.argv[1:4]
sys.path[:0] = [repo, tests]
import test_commit_placement as t
from lucene_solr_8_7_0_spark.session import get_spark

def session():
    return get_spark(cores=1, shuffle_partitions=2, app_name="restart")

spark = session()
spark.sparkContext.setLogLevel("ERROR")
cfg = t.SHAPES["mid_segment"]
base_pdf = t._base_rows("mid_segment")
base = os.path.join(root, "base")
t.build_index(spark, spark.createDataFrame(base_pdf), base, cfg)
delta = t._delta_rows("mid_segment", base_pdf)
info = t.dl.update_documents(spark, base, spark.createDataFrame(delta),
                             os.path.join(root, "before"))
assert info.placement == "driver", info
spark.stop()
spark = session()
snaps = {}
for placement in ("driver", "spark"):
    t.merge_mod._choose_commit_placement = lambda *a, p=placement: (p, "forced")
    out = os.path.join(root, placement)
    info = t.dl.update_documents(spark, base, spark.createDataFrame(delta), out)
    assert (info.placement, info.added, info.deleted) == (placement, 5, 3), info
    snaps[placement] = (t._snapshot(out), t._answers(
        t.IndexSearcher(spark, out, query_cache=t.QueryCache())))
assert snaps["driver"] == snaps["spark"]
spark.stop()
print("restart ok")
"""


def test_driver_commit_after_session_restart(tmp_path):
    """The analysis Columns cached in one session serve a driver commit
    in the next (spark.stop(), then a new session), which still equals
    the Spark placement.  Runs in its own process, whose session it may
    stop."""
    import subprocess
    import sys

    tests = os.path.dirname(os.path.abspath(__file__))
    script = tmp_path / "restart.py"
    script.write_text(RESTART_SCRIPT)
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g"}
    done = subprocess.run(
        [sys.executable, str(script), os.path.dirname(tests), tests,
         str(tmp_path)],
        capture_output=True, text=True, timeout=900, env=env)
    assert done.returncode == 0, done.stderr[-3000:]
    assert "restart ok" in done.stdout
