"""The column-wise posting map (search.posting_rows /
rows_to_posting_map) against the row-wise reference it replaced, and
score_files' Arrow result.

``_reference_map`` is the pandas ``itertuples`` implementation the
engine used before the Arrow one; the Arrow version must build the same
TermPostings field by field (values, Python scalar types and array
dtypes) on every read shape the engine produces: pulsing singletons,
multi-block terms, position-less reads, chunked (multi-file) columns
and sliced tables."""

import glob
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

from lucene_solr_8_7_0_spark.config import EngineConfig
from lucene_solr_8_7_0_spark.functions.codec import TermPostings
from lucene_solr_8_7_0_spark.operators import search as srch
from lucene_solr_8_7_0_spark.operators.build import build_index
from lucene_solr_8_7_0_spark.operators.search import IndexSearcher, QueryCache
from lucene_solr_8_7_0_spark.operators.snapshot import ParquetTables
from lucene_solr_8_7_0_spark.plans import queries as Q
from lucene_solr_8_7_0_spark.sources.corpus import corpus_df


def _reference_map(pdf: pd.DataFrame) -> dict[str, TermPostings]:
    out: dict[str, TermPostings] = {}
    has_pos = "pos_blocks" in pdf.columns
    for r in pdf.itertuples(index=False):
        out[r.term] = TermPostings(
            df=int(r.df),
            ttf=int(r.ttf),
            singleton_doc=int(r.singleton_doc),
            singleton_freq=int(r.singleton_freq),
            doc_blocks=bytes(r.doc_blocks),
            doc_block_offsets=np.asarray(r.doc_block_offsets, dtype=np.int32),
            freq_blocks=bytes(r.freq_blocks),
            freq_block_offsets=np.asarray(r.freq_block_offsets, dtype=np.int32),
            pos_blocks=bytes(r.pos_blocks) if has_pos else b"",
            pos_block_offsets=(
                np.asarray(r.pos_block_offsets, dtype=np.int32)
                if has_pos
                else np.empty(0, np.int32)
            ),
            block_last_docs=np.asarray(r.block_last_docs, dtype=np.int32),
            impacts_flat=np.asarray(r.impacts_flat, dtype=np.int32),
            impacts_offsets=np.asarray(r.impacts_offsets, dtype=np.int32),
        )
    return out


def _assert_same_postings(got: TermPostings, want: TermPostings) -> None:
    for name, a, b in zip(TermPostings._fields, got, want):
        assert type(a) is type(b), name
        if isinstance(a, np.ndarray):
            assert a.dtype == b.dtype and np.array_equal(a, b), name
        else:
            assert a == b, name


def _assert_matches_reference(tbl: pa.Table) -> None:
    """Every row of ``tbl`` converts as the reference converts it, and
    the per-segment maps have the reference's keys in its order."""
    pdf = tbl.to_pandas()
    want = {}
    for seg, g in pdf.groupby("segment_id", sort=False):
        ref = _reference_map(g)
        sub = tbl.filter(pc.equal(tbl["segment_id"], seg))
        got_map = srch.rows_to_posting_map(sub)
        assert list(got_map) == list(ref)
        want.update({(int(seg), t): tp for t, tp in ref.items()})
    got = srch.posting_rows(tbl)
    keys = zip(tbl["segment_id"].to_pylist(), tbl["term"].to_pylist())
    assert len(got) == len(want) == tbl.num_rows
    for key, tp in zip(keys, got):
        _assert_same_postings(tp, want[key])


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    """600 docs in segments of 256: common terms span several blocks."""
    d = str(tmp_path_factory.mktemp("pmap_pos"))
    build_index(spark, corpus_df(spark, 600, seed=5), d,
                EngineConfig(segment_size=256))
    return d


@pytest.fixture(scope="module")
def nopos_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pmap_nopos"))
    build_index(spark, corpus_df(spark, 200, seed=6), d,
                EngineConfig(segment_size=64, index_positions=False))
    return d


def _segments(index_dir: str, columns=None) -> pa.Table:
    files = sorted(glob.glob(f"{index_dir}/segments/*.parquet"))
    return pads.dataset(files, format="parquet").to_table(columns=columns)


def test_posting_map_matches_reference_multi_block_terms(pos_index):
    tbl = _segments(pos_index)
    # the shapes this test is about are really present
    assert any(len(o) > 2 for o in tbl["doc_block_offsets"].to_pylist())
    assert any(len(o) > 1 for o in tbl["pos_block_offsets"].to_pylist())
    _assert_matches_reference(tbl)


def test_posting_map_matches_reference_singletons_without_positions(nopos_index):
    tbl = _segments(nopos_index)
    # df == 1 terms are pulsed (singleton_doc) in a position-less index
    assert any(s >= 0 for s in tbl["singleton_doc"].to_pylist())
    _assert_matches_reference(tbl)
    # a read that leaves the position columns out (non-phrase queries)
    tbl = _segments(nopos_index, columns=srch._POSTINGS_COLS)
    assert "pos_blocks" not in tbl.column_names
    _assert_matches_reference(tbl)


def test_posting_map_matches_reference_chunked_and_sliced(pos_index, tmp_path):
    whole = _segments(pos_index)
    half = whole.num_rows // 2
    files = [str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")]
    pq.write_table(whole.slice(0, half), files[0])
    pq.write_table(whole.slice(half), files[1])
    two = pads.dataset(files, format="parquet").to_table()
    assert two["doc_blocks"].num_chunks >= 2
    _assert_matches_reference(two)
    # a slice with a non-zero offset, across the chunk boundary
    sliced = two.slice(half - 7, 40)
    assert sliced["doc_blocks"].chunks[0].offset > 0
    _assert_matches_reference(sliced)
    _assert_matches_reference(whole.slice(3, 25).combine_chunks())


def test_posting_map_null_blobs_are_empty(nopos_index):
    """A null binary or list cell converts to an empty value; a null in
    an int column is an error."""
    tbl = _segments(nopos_index).slice(0, 4)
    n = tbl.num_rows
    tbl = tbl.set_column(
        tbl.schema.get_field_index("pos_blocks"), "pos_blocks",
        pa.nulls(n, pa.binary()),
    ).set_column(
        tbl.schema.get_field_index("pos_block_offsets"), "pos_block_offsets",
        pa.nulls(n, pa.list_(pa.int32())),
    )
    for tp in srch.posting_rows(tbl):
        assert tp.pos_blocks == b""
        assert tp.pos_block_offsets.dtype == np.int32
        assert len(tp.pos_block_offsets) == 0
    bad = tbl.set_column(tbl.schema.get_field_index("df"), "df",
                         pa.nulls(n, pa.int32()))
    with pytest.raises(ValueError, match="null"):
        srch.posting_rows(bad)


def test_score_files_returns_result_arrow_table(spark, pos_index):
    s = IndexSearcher(spark, pos_index, query_cache=QueryCache())
    source = ParquetTables(s._snapshot)
    td = pads.dataset(s._snapshot.paths("termdict"), format="parquet").to_table(
        columns=["term", "df"])
    term = td["term"][int(np.argmax(td["df"].to_numpy()))].as_py()
    spec, masks = s._kernel_inputs(
        s._prepare(Q.TermQuery(term)), 10, "top_scores", 1000)
    t = {}
    hits = srch.score_files(spec, masks, source, timings=t)
    assert isinstance(hits, pa.Table)
    assert hits.schema.equals(srch._RESULT_ARROW)
    assert set(t) == {"read", "postings", "kernel"}
    assert hits.num_rows > 0 and (hits["doc_id"].to_numpy() >= 0).any()
    # a window past the last segment: nothing read, no hits, same schema
    empty = srch.score_files(spec, masks, source, segments=(100, 101))
    assert isinstance(empty, pa.Table)
    assert empty.num_rows == 0 and empty.schema.equals(srch._RESULT_ARROW)
    assert s._merge(empty, 10).total_hits == 0


def test_checkindex_reports_decode_failure_on_its_row(spark, pos_index, tmp_path):
    """checkindex converts a whole batch at once but still reports a
    posting list that fails to decode against its own (segment, term)."""
    from lucene_solr_8_7_0_spark.operators.checkindex import check_index

    d = str(tmp_path / "idx")
    shutil.copytree(pos_index, d)
    seg_dir = f"{d}/segments"
    tbl = _segments(pos_index)
    multi = [i for i, o in enumerate(tbl["doc_block_offsets"].to_pylist())
             if len(o) > 2]
    bad = multi[len(multi) // 2]
    blobs = tbl["doc_blocks"].to_pylist()
    blobs[bad] = blobs[bad][:3]  # truncated: its blocks cannot decode
    shutil.rmtree(seg_dir)
    os.makedirs(seg_dir)
    pq.write_table(tbl.set_column(tbl.schema.get_field_index("doc_blocks"),
                                  "doc_blocks", pa.array(blobs, pa.binary())),
                   f"{seg_dir}/part-00000.parquet")
    rep = check_index(spark, d).filter("check = 'postings_decode'").collect()
    want = (tbl["segment_id"][bad].as_py(), tbl["term"][bad].as_py())
    assert [(r["segment_id"], r["term"]) for r in rep] == [want]
