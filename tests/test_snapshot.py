"""The searcher's file snapshot and its two row sources
(operators/snapshot): the resident term-sorted tables answer every read
exactly like the parquet reads; a file removed, rewritten or added under
a live searcher fails loudly; the driver-bytes rule picks the source; a
driver-placed search makes no py4j call and builds no pyarrow dataset;
the searcher's Spark DataFrames and parallelism are read lazily, once."""

import glob
import os
import re
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import SparkContext
from pyspark.sql import DataFrame

from lucene_solr_8_7_0_spark.config import EngineConfig
from lucene_solr_8_7_0_spark.operators import search as srch
from lucene_solr_8_7_0_spark.operators import snapshot as snap
from lucene_solr_8_7_0_spark.operators.build import build_index
from lucene_solr_8_7_0_spark.operators.search import IndexSearcher, QueryCache
from lucene_solr_8_7_0_spark.operators.segments import SENTINEL_TERM
from lucene_solr_8_7_0_spark.plans import queries as Q
from lucene_solr_8_7_0_spark.sources.corpus import corpus_df

N = 160
CFG = EngineConfig(segment_size=32)  # 160 docs -> 5 segments


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("snapidx"))
    build_index(spark, corpus_df(spark, N, seed=7), d, CFG)
    return d


@pytest.fixture()
def copy_dir(index_dir, tmp_path):
    d = str(tmp_path / "idx")
    shutil.copytree(index_dir, d)
    return d


def _open(spark, d):
    return IndexSearcher(spark, d, query_cache=QueryCache())


def _bits(td):
    return (td.doc_ids.tolist(), td.scores.view(np.uint32).tolist(),
            td.total_hits, td.relation)


def _sorted_rows(tbl: pa.Table) -> list:
    return sorted(tbl.to_pylist(), key=lambda r: (r["term"], r.get("segment_id")))


MULTI_TERM = [
    Q.PrefixQuery("ge"), Q.PrefixQuery(""), Q.PrefixQuery("zzzz"),
    Q.WildcardQuery("re*n"), Q.WildcardQuery("*t?c"),
    Q.RegexpQuery("pub.*"), Q.RegexpQuery(r"st\w*c"), Q.FuzzyQuery("publik"),
    Q.FuzzyQuery("retrun", 2, 1), Q.TermRangeQuery("pa", "pu"),
    Q.TermRangeQuery("public", "return", False, False),
    Q.TermRangeQuery(None, "b"), Q.TermRangeQuery("x", None),
    Q.TermInSetQuery(("public", "static", "zz_absent")), Q.TermInSetQuery(()),
]


def test_resident_reads_equal_parquet_reads(spark, index_dir):
    """Every read of the resident tables returns the rows the parquet
    read returns: term stats, termdict probes (exactly the terms
    expand_terms finds, in term order) and segments rows, with
    multi-term unions and segment windows."""
    from lucene_solr_8_7_0_spark.plans.rewrite import expand_terms

    s = _open(spark, index_dir)
    files = snap.ParquetTables(s._snapshot)
    res = snap.ResidentTables.load(s._snapshot)
    terms = ["public", "return", "zz_absent", SENTINEL_TERM]
    assert res.term_stats(terms) == files.term_stats(terms)
    assert res.term_stats([]) == files.term_stats([]) == {}
    vocab = sorted(res.termdict["term"].to_pylist())
    for q in MULTI_TERM:
        for limit in (None, 3):
            a = res.termdict_rows(q, ["term", "df", "ttf"], limit)
            b = files.termdict_rows(q, ["term", "df", "ttf"], limit)
            assert a.to_pylist() == b.to_pylist(), q
            want = sorted(expand_terms(q, vocab))[:limit]
            assert a["term"].to_pylist() == want, q
    cols = srch._POSTINGS_COLS + srch._POS_COLS
    for mt in [()] + [(q,) for q in MULTI_TERM] + [tuple(MULTI_TERM[:4])]:
        # a multi-term query reaches segment_rows as its listed terms
        read = terms + [t for q in mt
                        for t in res.termdict_rows(q, ["term"])["term"].to_pylist()]
        for window in (None, (0, 1), (2, None), (None, 3), (9, 10)):
            a = res.segment_rows(read, cols, window)
            b = files.segment_rows(read, cols, window)
            assert a.schema.names == b.schema.names
            assert _sorted_rows(a) == _sorted_rows(b), (mt, window)


UNICODE_DOCS = [
    "caf\u00e9 public static", "cafe public return", "cafx na\u00efve public",
    "x\u0663 caf\u00e9 static", "x3 naive return", "caf\u00e9 caf\u00e9 void",
]


def test_regexp_reads_follow_python_re(spark, tmp_path):
    """A regexp that RE2 reads unlike Python ``re`` (``\\w`` is Unicode
    in ``re``) answers by ``re`` on an index with non-ASCII terms: both
    row sources' termdict and segments reads equal expand_terms over the
    vocabulary, and the search equals the oracle's."""
    from lucene_solr_8_7_0_spark.functions.oracle import (
        build_oracle_index, oracle_search)
    from lucene_solr_8_7_0_spark.plans.rewrite import expand_terms, rewrite

    cfg = EngineConfig(segment_size=2)
    docs = spark.createDataFrame(
        [("r", f"p{i}", "c", "java", text)
         for i, text in enumerate(UNICODE_DOCS)],
        schema="repo string, path string, commit string, lang string, "
               "content string")
    d = str(tmp_path / "unicode")
    build_index(spark, docs, d, cfg, resume=False)
    s = _open(spark, d)
    files = snap.ParquetTables(s._snapshot)
    res = snap.ResidentTables.load(s._snapshot)
    vocab = sorted(res.termdict["term"].to_pylist())
    q = Q.RegexpQuery(r"caf\w")
    want = expand_terms(q, vocab)
    assert want == ["cafe", "cafx", "caf\u00e9"]
    for source in (res, files):
        listed = source.termdict_rows(q, ["term"])["term"].to_pylist()
        assert listed == want
        rows = source.segment_rows(listed, ["segment_id", "term"])
        assert sorted(set(rows["term"].to_pylist())) == want
    ids = pq.read_table(f"{d}/docs", columns=["path", "doc_id"]).to_pydict()
    doc_id = dict(zip(ids["path"], ids["doc_id"]))
    oi = build_oracle_index(pd.DataFrame({
        "doc_id": [doc_id[f"p{i}"] for i in range(len(UNICODE_DOCS))],
        "content": UNICODE_DOCS}), cfg)
    exp = oracle_search(
        oi, rewrite(q, lambda mq: expand_terms(mq, vocab)), k=10)
    td = s.search(q, k=10)
    assert td.doc_ids.tolist() == exp.doc_ids.tolist()
    np.testing.assert_array_equal(td.scores, exp.scores)
    assert len(td.doc_ids) == 5


def test_driver_bytes_rule_picks_the_source(spark, index_dir, monkeypatch):
    """The driver holds the tables exactly when the snapshot's segments
    bytes on disk are at most DRIVER_MAX_SEGMENTS_BYTES."""
    s = _open(spark, index_dir)
    size = sum(os.path.getsize(f)
               for f in glob.glob(f"{index_dir}/segments/*.parquet"))
    assert s._snapshot.nbytes("segments") == size
    monkeypatch.setattr(srch, "DRIVER_MAX_SEGMENTS_BYTES", size - 1)
    assert isinstance(s._tables(), srch.ParquetTables) and s._resident is None
    monkeypatch.setattr(srch, "DRIVER_MAX_SEGMENTS_BYTES", size)
    assert isinstance(s._tables(), srch.ResidentTables)
    assert s._tables() is s._resident  # loaded once


def test_segments_file_removed_under_live_searcher(spark, copy_dir, monkeypatch):
    """A removed segments file fails the resident load, the driver's
    parquet reads, the Spark placement and the tasks of a lazy Spark
    DataFrame built before the removal, each naming the file."""
    fresh, loaded = _open(spark, copy_dir), _open(spark, copy_dir)
    q = Q.TermQuery("public")
    lazy = loaded.matches_df(q)  # loads the resident tables
    gone = sorted(glob.glob(f"{copy_dir}/segments/*.parquet"))[0]
    os.remove(gone)
    removed = f"segments file {re.escape(gone)} was removed"
    with pytest.raises(ValueError, match=removed):
        fresh.search(q)
    assert fresh._resident is None
    with pytest.raises(Exception, match=removed):
        lazy.count()
    with pytest.raises(ValueError, match=removed):
        loaded.matches_df(q)
    monkeypatch.setattr(srch, "DRIVER_MAX_SEGMENTS_BYTES", 0)
    for s in (fresh, loaded):
        with pytest.raises(ValueError, match=removed):
            s.search(q)


def test_file_added_or_rewritten_under_live_searcher(spark, copy_dir):
    s = _open(spark, copy_dir)
    td = sorted(glob.glob(f"{copy_dir}/termdict/*.parquet"))
    extra = td[0].replace(".parquet", "-copy.parquet")
    shutil.copyfile(td[0], extra)
    with pytest.raises(ValueError,
                       match=f"termdict file {re.escape(extra)} was added"):
        s.search(Q.TermQuery("public"))
    os.remove(extra)
    with open(td[-1], "ab") as f:
        f.write(b"\0")
    with pytest.raises(ValueError,
                       match=f"termdict file {re.escape(td[-1])} changed"):
        s.search(Q.TermQuery("public"))


def test_index_rebuilt_in_place_while_open(spark, copy_dir):
    """A rebuild into the searcher's directory replaces its files: the
    open searcher raises instead of mixing snapshots, a new one reads
    the rebuilt index."""
    s = _open(spark, copy_dir)
    build_index(spark, corpus_df(spark, N // 2, seed=8), copy_dir, CFG,
                resume=False)
    with pytest.raises(ValueError, match="file .* after the searcher opened"):
        s.search(Q.TermQuery("public"))
    with pytest.raises(ValueError, match="after the searcher opened"):
        s.count(Q.MatchAllDocsQuery())
    fresh = _open(spark, copy_dir)
    assert fresh.count(Q.MatchAllDocsQuery()) == N // 2


def test_resident_tables_keep_answering_their_snapshot(spark, copy_dir):
    """Once loaded, the resident tables are the snapshot: a later file
    change does not change a driver search's answer."""
    s = _open(spark, copy_dir)
    q = Q.term_or(["public", "return"], 1)
    want = _bits(s.search(q))
    for f in glob.glob(f"{copy_dir}/segments/*.parquet"):
        os.remove(f)
    assert _bits(s.search(q)) == want


def test_empty_index_through_resident_path(spark, tmp_path):
    docs = spark.createDataFrame(
        [], schema="repo string, path string, commit string, lang string, "
                   "content string")
    d = str(tmp_path / "empty")
    build_index(spark, docs, d, CFG, resume=False)
    s = _open(spark, d)
    for q in (Q.TermQuery("x"), Q.MatchAllDocsQuery(), Q.PrefixQuery("a"),
              Q.PhraseQuery(("a", "b")), Q.FuzzyQuery("abcd")):
        td = s.search(q, k=5)
        assert td.total_hits == 0 and len(td.doc_ids) == 0
        assert s._last_placement is None or s._last_placement[0] == "driver"
    assert isinstance(s._resident, srch.ResidentTables)
    assert s._resident.segments.num_rows == 0
    assert s.count(Q.MatchAllDocsQuery()) == 0
    assert s.explain(Q.TermQuery("x"), 0)["matches"] is False


def test_open_creates_no_dataframe(spark, index_dir):
    """The Spark DataFrames and the parallelism are created on first
    use, once per searcher."""
    s = _open(spark, index_dir)
    assert not {"segments", "termdict", "_parallelism"} & set(vars(s))
    assert isinstance(s.termdict, DataFrame) and s.termdict is s.termdict
    assert isinstance(s.segments, DataFrame) and s.segments is s.segments
    assert s.termdict.count() > 0


def test_parallelism_read_once_per_searcher(spark, index_dir, monkeypatch):
    calls = []
    real = SparkContext.defaultParallelism

    def counted(sc):
        calls.append(1)
        return real.fget(sc)

    monkeypatch.setattr(SparkContext, "defaultParallelism", property(counted))
    s = _open(spark, index_dir)
    qs = [Q.TermQuery("public"), Q.term_and(["public", "return"]),
          Q.PrefixQuery("ge")]
    for q in qs:
        s.search(q)
        s.count(q)
    s.matches_df(qs[0]).count()
    assert len(calls) == 1


def test_driver_search_makes_no_py4j_call(spark, index_dir, monkeypatch):
    """After the resident load, driver-placed top-k searches build no
    pyarrow dataset and send no command to the JVM, nor do the
    rewrite-time term expansions of phrase-wildcard, complex-phrase and
    fuzzy-like-this."""
    from lucene_solr_8_7_0_spark.operators.fuzzylikethis import (
        fuzzy_like_this_terms)

    s = _open(spark, index_dir)
    qs = [Q.TermQuery("public"), Q.term_and(["public", "return"]),
          Q.term_or(["public", "return", "static"], 2),
          Q.PhraseQuery(("public", "static")), Q.PrefixQuery("ge"),
          Q.WildcardQuery("re*n"), Q.FuzzyQuery("publik"),
          Q.PhraseWildcardQuery(("public", Q.PrefixQuery("st"))),
          Q.PhraseWildcardQuery(("public", Q.FuzzyQuery("statc"))),
          Q.ComplexPhraseQuery((("public",), (Q.PrefixQuery("st"), "void")))]
    s.search(qs[0])  # the resident load, and the parallelism read
    from py4j import protocol

    client = spark.sparkContext._gateway._gateway_client
    sent, send = [], client.send_command
    # py4j releasing Java objects whose Python proxies were collected
    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

    def counted(command, *a, **kw):
        if not command.startswith(release):
            sent.append(command)
        return send(command, *a, **kw)

    monkeypatch.setattr(client, "send_command", counted)
    monkeypatch.setattr(snap.pads, "dataset", lambda *a, **kw: 1 / 0)
    for q in qs:
        td = s.search(q)
        assert s._last_placement[0] == "driver"
        s.search(q, k=3, two_pass_threshold=True)
        if len(td.doc_ids):
            s.search_after(q, (float(td.scores[-1]), int(td.doc_ids[-1])))
        s.count(q)
    assert sent == []
    assert fuzzy_like_this_terms(s, "publik statik")
    assert sent == []
    assert spark.sparkContext.getConf() and sent  # the wrapper sees calls


def test_resident_load_once_under_threads(spark, index_dir, monkeypatch):
    """Concurrent first searches load the resident tables once, and all
    answer like one search alone."""
    import sys
    import threading

    loads, load = [], snap.ResidentTables.load
    monkeypatch.setattr(snap.ResidentTables, "load",
                        lambda snapshot: loads.append(1) or load(snapshot))
    q = Q.term_or(["public", "return", "static"], 1)
    want = _bits(_open(spark, index_dir).search(q))
    assert len(loads) == 1
    s, got = _open(spark, index_dir), []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=lambda: got.append(_bits(s.search(q))))
                   for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert got == [want] * 8 and len(loads) == 2


@pytest.fixture()
def committed(spark, index_dir, tmp_path):
    """A driver-placed commit of 3 new docs onto the module's index: the
    new snapshot's directory, with its tables handed off and no searcher
    opened since."""
    from lucene_solr_8_7_0_spark.operators import merge
    from lucene_solr_8_7_0_spark.sources.corpus import generate_corpus_pdf

    new = generate_corpus_pdf(np.arange(N, N + 3), N, seed=8)
    new_docs = spark.createDataFrame(new.drop(columns=["sha256"]))
    out = str(tmp_path / "committed")
    info = merge.add_documents(spark, index_dir, new_docs, out)
    assert info.placement == "driver", info
    assert snap._handoff is not None and snap._handoff[0] == out
    return out


def test_commit_hands_its_tables_to_the_next_searcher(spark, committed,
                                                      monkeypatch):
    """The searcher opened after a driver commit builds its resident
    tables from the commit's tables, reading no segments or termdict
    file, and they equal (types included) a load of the files; its
    answers equal a searcher's that read the files.  The slot is empty
    once the searcher opens, and the searcher drops the commit's tables
    once its resident tables are built."""
    real = snap.ParquetTables._dataset

    def no_read(*a, **kw):
        raise AssertionError("read a parquet file")

    monkeypatch.setattr(snap.ParquetTables, "_dataset", no_read)
    s = _open(spark, committed)
    assert snap._handoff is None and s._handoff is not None
    qs = [Q.TermQuery("public"), Q.term_or(["public", "return"], 1),
          Q.PrefixQuery("ge"), Q.PhraseQuery(("public", "static"))]
    got = [_bits(s.search(q)) for q in qs]
    assert s._handoff is None and isinstance(s._resident, srch.ResidentTables)
    monkeypatch.setattr(snap.ParquetTables, "_dataset", real)
    loaded = snap.ResidentTables.load(s._snapshot)
    for table in ("segments", "termdict"):
        a, b = getattr(s._resident, table), getattr(loaded, table)
        assert a.schema == b.schema and a.equals(b), table
    files = _open(spark, committed)
    assert files._handoff is None
    assert [_bits(files.search(q)) for q in qs] == got


@pytest.mark.parametrize("table", ["segments", "termdict"])
def test_file_rewritten_after_commit_is_read(spark, committed, monkeypatch,
                                             table):
    """A segments or termdict file rewritten between the commit and the
    reopen fails the handoff: the searcher reads the files."""
    f = sorted(glob.glob(f"{committed}/{table}/*.parquet"))[0]
    size = os.path.getsize(f)
    rows = pq.read_table(f)
    pq.write_table(rows.slice(0, rows.num_rows - 1), f)
    assert os.path.getsize(f) != size
    loads, load = [], snap.ResidentTables.load
    monkeypatch.setattr(snap.ResidentTables, "load",
                        lambda snapshot: loads.append(1) or load(snapshot))
    s = _open(spark, committed)
    assert s._handoff is None and snap._handoff is None
    res = s._tables()
    assert loads == [1]
    on_disk = sum(pq.read_metadata(p).num_rows
                  for p in glob.glob(f"{committed}/{table}/*.parquet"))
    assert getattr(res, table).num_rows == on_disk


def test_searcher_on_another_directory_empties_the_slot(spark, committed,
                                                        index_dir):
    other = _open(spark, index_dir)
    assert other._handoff is None and snap._handoff is None
    s = _open(spark, committed)
    assert s._handoff is None
    s.search(Q.TermQuery("public"))
    assert isinstance(s._resident, srch.ResidentTables)


@pytest.mark.parametrize("table", ["segments", "termdict", "docmeta"])
def test_truncated_file_fails_loudly(spark, committed, table):
    """A committed snapshot's segments, termdict or docmeta file cut to
    half its size fails CheckIndex and the searcher, each naming the
    file; the searcher never answers.  The file is cut before the
    reopen, so the commit's handoff cannot mask it."""
    from lucene_solr_8_7_0_spark.operators.checkindex import assert_healthy

    f = sorted(glob.glob(f"{committed}/{table}/*.parquet"))[0]
    with open(f, "r+b") as fh:
        fh.truncate(os.path.getsize(f) // 2)
    with pytest.raises(Exception, match=re.escape(f)):
        assert_healthy(spark, committed)
    with pytest.raises(ValueError, match=re.escape(f)):
        _open(spark, committed).search(Q.TermQuery("public"))


REGEXP_ALPHABET = ["a", "b", "c", "é", "ï", "٣", "ß", "3"]
REGEXP_PIECES = REGEXP_ALPHABET + [".", ".*", r"\w", r"\d", "[aé]",
                                   "(b|c)", "b?", "c+", "a{0,2}", r"\W"]


def _random_regexp(rng) -> str:
    pieces = [str(rng.choice(REGEXP_ALPHABET))
              for _ in range(int(rng.integers(0, 3)))]
    pieces += [str(rng.choice(REGEXP_PIECES)) for _ in range(int(rng.integers(0, 4)))]
    pattern = "".join(pieces)
    roll = rng.random()
    if roll < 0.1:
        pattern = "(?i)" + pattern
    elif roll < 0.2:
        pattern += "|" + str(rng.choice(REGEXP_ALPHABET)) + ".*"
    elif roll < 0.25:
        pattern = "^" + pattern
    return pattern


def test_regexp_literal_prefix_narrowing(tmp_path, monkeypatch):
    """A regexp read is narrowed to the run of its literal prefix (none
    under IGNORECASE or a non-literal start) and stays exact: over
    randomized patterns on a vocabulary with non-ASCII terms, both row
    sources' termdict and segments reads equal expand_terms; and the
    predicate runs only on the prefix's run."""
    from lucene_solr_8_7_0_spark.operators.segments import segment_arrow_schema
    from lucene_solr_8_7_0_spark.plans import rewrite as rw

    rng = np.random.default_rng(13)
    vocab = sorted({"".join(rng.choice(REGEXP_ALPHABET, int(rng.integers(1, 6))))
                    for _ in range(600)})
    n = len(vocab)
    td = pa.table({"term": vocab, "df": np.ones(n, np.int64),
                   "ttf": np.ones(n, np.int64)})
    schema = segment_arrow_schema()
    segs = pa.table({f.name: pa.nulls(n, f.type) for f in schema}).set_column(
        1, "term", pa.array(vocab)).set_column(
        0, "segment_id", pa.array(np.arange(n, dtype=np.int32) % 3))
    for name, tbl in (("segments", segs), ("termdict", td)):
        os.makedirs(tmp_path / name)
        pq.write_table(tbl, tmp_path / name / "part-0.parquet",
                       row_group_size=64)
    files = snap.ParquetTables(snap.FileSnapshot.record(str(tmp_path)))
    res = snap.ResidentTables.from_tables(segs, td)
    checked = 0
    for _ in range(400):
        pattern = _random_regexp(rng)
        try:
            re.compile(pattern)
        except re.error:
            continue
        q = Q.RegexpQuery(pattern)
        want = rw.expand_terms(q, vocab)
        for source in (res, files):
            listed = source.termdict_rows(q, ["term"])["term"].to_pylist()
            assert listed == want, pattern
            rows = source.segment_rows(listed, ["segment_id", "term"])
            assert sorted(set(rows["term"].to_pylist())) == want, pattern
        checked += 1
    assert checked > 300
    assert rw.term_key_range(Q.RegexpQuery("ab.*"))[:4] == ("ab", True, "ac", False)
    assert rw.term_key_range(Q.RegexpQuery("(?i)ab.*"))[0] is None
    assert rw.term_key_range(Q.RegexpQuery("[ab]b.*"))[0] is None
    seen, pred = [], rw.term_predicate
    monkeypatch.setattr(rw, "term_predicate",
                        lambda q: (lambda t: seen.append(t) or pred(q)(t)))
    res.termdict_rows(Q.RegexpQuery("ab.*c"), ["term"])
    assert seen and all(t.startswith("ab") for t in seen)
