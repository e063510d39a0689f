"""Physical plan quality: the things the postings read and
`.explain("formatted")` must show.

* term predicates reach the kernel's parquet read (pyarrow filter
  pushdown) — the FST term-index analog is parquet row-group pruning on
  the sorted term column,
* non-phrase queries never read pos_blocks (column pruning = the .pos
  file staying cold),
* the Spark placement is one MapInArrow stage over segment windows,
* the rewrite fixpoint produces the shapes Lucene's
  TestBooleanRewrites pins.
"""

import contextlib
import io

import pytest

from lucene_solr_8_7_0_spark.plans import queries as Q
from lucene_solr_8_7_0_spark.plans.rewrite import rewrite


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    from lucene_solr_8_7_0_spark.config import EngineConfig
    from lucene_solr_8_7_0_spark.operators.build import build_index
    from lucene_solr_8_7_0_spark.operators.search import IndexSearcher
    from lucene_solr_8_7_0_spark.sources.corpus import corpus_df

    d = str(tmp_path_factory.mktemp("idx"))
    build_index(spark, corpus_df(spark, 150, seed=42), d, EngineConfig(segment_size=64))
    return IndexSearcher(spark, d)


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _read(engine, q):
    """(columns, parquet filter) of the kernel's read of ``q``."""
    from lucene_solr_8_7_0_spark.operators.search import postings_read
    from lucene_solr_8_7_0_spark.operators.snapshot import rows_filter

    spec, _ = engine._kernel_inputs(engine._prepare(q), 10, "top_scores", 0)
    terms, cols = postings_read(spec)
    return cols, rows_filter(terms)


def test_term_filter_pushed_to_parquet_scan(engine):
    import pyarrow.dataset as pads

    from lucene_solr_8_7_0_spark.operators.segments import SENTINEL_TERM

    cols, cond = _read(engine, Q.term_and(["public", "return"]))
    # the IN (public, return, sentinel) predicate is the read's filter
    assert "is_in(term" in str(cond), str(cond)
    rows = pads.dataset(engine._snapshot.paths("segments"), format="parquet").to_table(
        columns=["term"], filter=cond
    )
    assert set(rows.column("term").to_pylist()) == {"public", "return", SENTINEL_TERM}
    plan = _explain(engine.matches_df(Q.term_and(["public", "return"])))
    assert "MapInArrow" in plan and "Exchange" not in plan, plan[:2000]


def test_pos_blocks_pruned_for_non_phrase(engine):
    cols, _ = _read(engine, Q.TermQuery("public"))
    assert "pos_blocks" not in cols
    cols_phrase, _ = _read(engine, Q.PhraseQuery(("public", "return")))
    assert "pos_blocks" in cols_phrase


def test_rewrite_shapes():
    # TestBooleanRewrites-pinned behaviors
    t = Q.TermQuery("a")
    # single SHOULD unwraps
    assert rewrite(Q.term_or(["a"])) == t
    # empty -> MatchNoDocs
    assert isinstance(rewrite(Q.Builder().build()), Q.MatchNoDocsQuery)
    # MUST + MUST_NOT of same term -> MatchNoDocs
    b = Q.Builder()
    b.add(t, Q.Occur.MUST)
    b.add(t, Q.Occur.MUST_NOT)
    assert isinstance(rewrite(b.build()), Q.MatchNoDocsQuery)
    # duplicate SHOULD merges with summed boost
    b = Q.Builder()
    b.add(t, Q.Occur.SHOULD)
    b.add(t, Q.Occur.SHOULD)
    b.add(Q.TermQuery("b"), Q.Occur.SHOULD)
    r = rewrite(b.build())
    assert isinstance(r, Q.BooleanQuery)
    boosted = [c.query for c in r.clauses if isinstance(c.query, Q.BoostQuery)]
    assert boosted and boosted[0].boost == 2.0
    # FILTER duplicated with SHOULD promotes to MUST (msm=0)
    b = Q.Builder()
    b.add(t, Q.Occur.FILTER)
    b.add(t, Q.Occur.SHOULD)
    b.add(Q.TermQuery("b"), Q.Occur.SHOULD)
    r = rewrite(b.build())
    groups = r.grouped()
    assert t in groups[Q.Occur.MUST]
    assert t not in groups[Q.Occur.FILTER]
    # nested boost collapse
    assert rewrite(Q.BoostQuery(Q.BoostQuery(t, 2.0), 3.0)) == Q.BoostQuery(t, 6.0)
    # pure negation matches nothing
    b = Q.Builder()
    b.add(t, Q.Occur.MUST_NOT)
    assert isinstance(rewrite(b.build()), Q.MatchNoDocsQuery)
    # MUST_NOT MatchAll kills the query
    b = Q.Builder()
    b.add(t, Q.Occur.MUST)
    b.add(Q.MatchAllDocsQuery(), Q.Occur.MUST_NOT)
    assert isinstance(rewrite(b.build()), Q.MatchNoDocsQuery)


def test_too_many_clauses():
    b = Q.Builder()
    for i in range(1025):
        b.add(Q.TermQuery(f"t{i}"), Q.Occur.SHOULD)
    with pytest.raises(ValueError):
        b.build()


def test_edit_distance_matches_plain_dp():
    """The bit-parallel Levenshtein FuzzyQuery matches by equals the
    plain dynamic programme, over random strings with non-ASCII and
    astral characters and past one machine word."""
    import random

    from lucene_solr_8_7_0_spark.plans.rewrite import (
        _edit_distance, _within_edits)

    def plain(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = random.Random(5)
    for n in range(3000):
        alphabet = "ab\u00e9\u0663\U0010ffff" if n % 2 else "abcdefgh"
        size = 9 if n % 10 else 80
        a, b = ("".join(rng.choice(alphabet)
                        for _ in range(rng.randint(0, size)))
                for _ in range(2))
        d = plain(a, b)
        assert _edit_distance(a, b) == d, (a, b)
        assert _within_edits(a, b, 2) == (d <= 2), (a, b)


def test_term_read_filter_superset_of_predicate():
    """The pyarrow read filter of every multi-term query keeps at least
    the terms its exact predicate accepts (exactly those for prefixes,
    ranges and sets), including prefixes ending next to the surrogate
    block or at the last code point, and regexps that RE2 reads unlike
    Python ``re`` (Unicode ``\\w`` and ``\\d``, ``{,n}``)."""
    import pyarrow as pa

    from lucene_solr_8_7_0_spark.plans.rewrite import expand_terms, term_read_filter

    vocab = sorted({
        "get", "getx", "geu", "ge", "g", "gf", "t0100", "t0999", "t1999",
        "ab", "abc", "abd", "ae", "\u00e9t\u00e9", "\u00e9tu",
        "g\ud7ffx", "g\ud7ff", "g\ue000", "a\U0010ffff", "a\U0010ffffz", "b",
        "caf\u00e9", "cafe", "x\u0663", "x3", "a", "aa",
    })
    tbl = pa.table({"term": vocab})
    cases = [
        (Q.PrefixQuery("ge"), True), (Q.PrefixQuery("g\ud7ff"), True),
        (Q.PrefixQuery("a\U0010ffff"), True), (Q.PrefixQuery("\u00e9t"), True),
        (Q.TermRangeQuery("ab", "ae", True, False), True),
        (Q.TermInSetQuery(("abc", "zz", "get")), True),
        (Q.WildcardQuery("g*t?"), False), (Q.WildcardQuery("*999"), False),
        (Q.RegexpQuery("t0[1]00"), False), (Q.RegexpQuery("(a)\\1b?"), False),
        (Q.RegexpQuery(r"caf\w"), False), (Q.RegexpQuery(r"x\d"), False),
        (Q.RegexpQuery("a{,2}"), False),
        (Q.FuzzyQuery("abd", max_edits=1), False),
        (Q.FuzzyQuery("getx", max_edits=1, prefix_length=2), False),
    ]
    for q, exact in cases:
        kept = set(tbl.filter(term_read_filter(q)).column("term").to_pylist())
        want = set(expand_terms(q, vocab))
        assert want <= kept, (q, want - kept)
        if exact:
            assert kept == want, (q, kept ^ want)
