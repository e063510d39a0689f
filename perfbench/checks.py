"""Output checks: cheap invariants on every op, a bitwise comparison of
sampled top-k results against the exhaustive oracle
(``functions.oracle``), and a comparison of built term statistics with
the oracle's analyzer.  The ``check_*``/``compare_*`` functions return
``None`` when the output is right and a one-line description of the
first fault otherwise."""

from __future__ import annotations

import numpy as np
import pandas as pd


def check_topk(doc_ids, scores, k: int, num_docs: int) -> str | None:
    """Invariants every top-k result must hold: at most k hits, scores
    finite and non-increasing, doc ids unique and in [0, num_docs)."""
    ids = np.asarray(doc_ids)
    sc = np.asarray(scores)
    if len(ids) != len(sc):
        return f"{len(ids)} doc ids but {len(sc)} scores"
    if len(ids) > k:
        return f"{len(ids)} hits for k={k}"
    if len(ids) == 0:
        return None
    if not np.all(np.isfinite(sc)):
        return "non-finite score"
    if np.any(np.diff(sc.astype(np.float64)) > 0):
        return "scores increase"
    if len(np.unique(ids)) != len(ids):
        return "duplicate doc id"
    if ids.min() < 0 or ids.max() >= num_docs:
        return f"doc id outside [0, {num_docs})"
    return None


def compare_topk(got_ids, got_scores, exp_ids, exp_scores) -> str | None:
    """Bitwise equality of doc ids and float32 scores, rank by rank."""
    got_ids = np.asarray(got_ids, dtype=np.int64)
    exp_ids = np.asarray(exp_ids, dtype=np.int64)
    if got_ids.tolist() != exp_ids.tolist():
        return f"doc ids {got_ids.tolist()} != oracle {exp_ids.tolist()}"
    got = np.asarray(got_scores, dtype=np.float32).view(np.uint32)
    exp = np.asarray(exp_scores, dtype=np.float32).view(np.uint32)
    bad = np.nonzero(got != exp)[0]
    if len(bad):
        r = int(bad[0])
        return (f"score at rank {r + 1}: {got.view(np.float32)[r]!r} != "
                f"oracle {exp.view(np.float32)[r]!r}")
    return None


def oracle_topk(oi, query, k: int, deleted: np.ndarray | None = None):
    """The oracle's top-k for ``query`` with deleted docs masked out.

    Deleted docs still count in collection statistics until a merge
    expunges them (Lucene semantics, ``operators/deletes``), so the
    oracle index holds them and only the hit list drops them.  Multi-
    term queries are rewritten against the oracle's own term set."""
    from lucene_solr_8_7_0_spark.functions.oracle import oracle_search
    from lucene_solr_8_7_0_spark.plans.rewrite import expand_terms, rewrite

    terms = sorted(oi.term_df)
    q = rewrite(query, lambda p: expand_terms(p, terms))
    n_del = 0 if deleted is None else len(deleted)
    top = oracle_search(oi, q, k=k + n_del)
    ids, scores = top.doc_ids, top.scores
    if n_del:
        live = ~np.isin(ids, deleted)
        ids, scores = ids[live], scores[live]
    return ids[:k], scores[:k]


def expected_term_stats(contents) -> tuple[pd.DataFrame, dict]:
    """What a build of ``contents`` must write, derived with the
    oracle's analyzer (``functions.analysis``) instead of the build's:
    -> (termdict rows (term, df, ttf) sorted by term, collection stats)."""
    from lucene_solr_8_7_0_spark.config import EngineConfig
    from lucene_solr_8_7_0_spark.functions.analysis import analyze_batch

    cfg = EngineConfig()
    tb = analyze_batch(
        contents, cfg.analyzer, cfg.max_token_length, tuple(cfg.stopwords),
        cfg.ascii_folding, cfg.html_strip, tuple(cfg.index_synonyms),
        cfg.max_doc_tokens,
    )
    tf = (pd.DataFrame({"term": tb.terms.to_numpy(), "doc": tb.doc_idx})
          .groupby(["term", "doc"]).size())
    td = (tf.groupby(level="term").agg(df="size", ttf="sum")
          .reset_index().sort_values("term", ignore_index=True))
    lengths = np.asarray(tb.doc_lengths)
    stats = {"num_docs": len(contents), "doc_count": int((lengths > 0).sum()),
             "sum_ttf": int(lengths.sum())}
    return td, stats


def compare_build(termdict: pd.DataFrame, stats: dict,
                  exp_td: pd.DataFrame, exp_stats: dict) -> str | None:
    """A build's termdict and collection stats against the expected."""
    for k, v in exp_stats.items():
        if int(stats[k]) != v:
            return f"{k} {stats[k]} != expected {v}"
    got = termdict[["term", "df", "ttf"]].sort_values("term", ignore_index=True)
    if len(got) != len(exp_td):
        return f"{len(got)} terms != expected {len(exp_td)}"
    for col in ("term", "df", "ttf"):
        bad = np.nonzero(got[col].to_numpy() != exp_td[col].to_numpy())[0]
        if len(bad):
            i = int(bad[0])
            return (f"termdict row {i}: {got.iloc[i].tolist()} != "
                    f"expected {exp_td.iloc[i].tolist()}")
    return None


def sample_indices(n: int, m: int, seed: int) -> list[int]:
    """A seeded, sorted sample of ``m`` of ``n`` positions."""
    rng = np.random.default_rng(seed)
    return sorted(int(i) for i in rng.choice(n, size=min(n, m), replace=False))
