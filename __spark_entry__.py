"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship: build the full inverted index over the
                 sf0.001 ``documents`` table and run a BM25 OR query
                 through the block-max WAND path.
queries()     -> one entry per implemented operator family
                 (SURVEY.md §2 + the training-data pipeline ops); each
                 runs the engine's real code path over the given
                 sf_dir.
oracle_sql()  -> DuckDB-equivalent ANSI SQL for ALL 50 queries —
                 including the near-dup ops (minhash verifies against
                 the all-pairs exact-Jaccard set, simhash against a
                 full fingerprint + hamming replay, IVF via the
                 full-probe == brute-force identity) and, since round
                 5, the intrinsically approximate ANN paths: LSH and
                 partial-probe IVF emit deterministic (query_id,
                 recall@5) rows against the exact brute-force top-5,
                 which the oracle replays in SQL, so a silent recall
                 regression trips the driver hash.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

import lucene_solr_8_7_0_spark as engine_pkg
from lucene_solr_8_7_0_spark.config import EngineConfig
from lucene_solr_8_7_0_spark.operators import ann, dedup, textstats
from lucene_solr_8_7_0_spark.operators.build import build_index
from lucene_solr_8_7_0_spark.operators.search import IndexSearcher
from lucene_solr_8_7_0_spark.operators.stats import salted_agg
from lucene_solr_8_7_0_spark.plans import queries as Q

TOKEN_RE_SQL = "[a-z0-9_]+"
_SEARCHERS: dict[str, IndexSearcher] = {}


@functools.cache
def _engine_fingerprint() -> str:
    """md5 of the engine package's source (every ``*.py`` under
    ``lucene_solr_8_7_0_spark``, path and bytes), once per process."""
    root = os.path.dirname(os.path.abspath(engine_pkg.__file__))
    h = hashlib.md5()
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _snapshot_key(sf_dir: str, tag: str) -> str:
    """Key of a cached ``/tmp/lucene_ps_*`` snapshot: the data path, the
    snapshot's tag and the engine's source, so a changed engine builds
    its own snapshots instead of reusing an older engine's."""
    return hashlib.md5(
        f"{sf_dir}:{tag}:{_engine_fingerprint()}".encode()
    ).hexdigest()[:10]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> the engine's input_hint schema.  path encodes the
    original doc_id so engine results map back exactly, and repo is a
    constant so the engine's (repo, path) doc numbering coincides with
    the original doc_id order — score ties must break identically in
    the engine (internal doc id) and the SQL oracle (doc_id).

    ``tags`` is a deterministic synthetic MULTI-VALUED column (the
    SORTED_SET docvalues surface): every doc carries two labels derived
    from its id, SQL-replayable on the oracle side."""
    d = F.col("doc_id")
    return _docs(spark, sf_dir).select(
        F.lit("corpus").alias("repo"),
        F.format_string("%010d", "doc_id").alias("path"),
        F.sha2(F.col("text"), 256).substr(1, 40).alias("commit"),
        F.col("lang"),
        F.array(
            F.concat(F.lit("t"), (d % 3).cast("string")),
            F.concat(F.lit("u"), (d % 5).cast("string")),
        ).alias("tags"),
        # hierarchical facet field (FacetLabel paths): each doc carries
        # two LEAF category paths in two dimensions — lang/t<i>/u<j>
        # and topic/k<m> — deterministic and SQL-replayable
        F.array(
            F.concat(F.col("lang"), F.lit("/t"), (d % 3).cast("string"),
                     F.lit("/u"), (d % 5).cast("string")),
            F.concat(F.lit("topic/k"), (d % 7).cast("string")),
        ).alias("taxo"),
        # numeric docvalues column (char length) — the index-time sort
        # field of the sorted index and a second point-range dimension;
        # SQL-replayable as length(text)
        F.length("text").cast("long").alias("n_chars"),
        # deterministic geo point columns (the LatLonPoint surface):
        # a synthetic but SQL-replayable lat/lon per doc
        ((d * 37 % 1800) / 10.0 - 90.0).alias("lat"),
        ((d * 73 % 3600) / 10.0 - 180.0).alias("lon"),
        # per-doc minimumNumberMatch (the CoveringQuery LongValuesSource)
        (d % 3).cast("long").alias("mm"),
        # NULLABLE numeric docvalues column (every 4th doc has no
        # value) — the DocValuesFieldExistsQuery surface needs real
        # value absence; SQL-replayable as CASE WHEN doc_id % 4 <> 0
        F.when(d % 4 != 0, (d % 100).cast("long")).alias("stars"),
        # association facet field (IntAssociationFacetField): each doc
        # carries (category, int value) pairs over the tag categories —
        # deterministic and SQL-replayable
        F.array(
            F.struct(
                F.concat(F.lit("t"), (d % 3).cast("string")).alias("cat"),
                (d % 7 + 1).cast("long").alias("val"),
            ),
            F.struct(
                F.concat(F.lit("u"), (d % 5).cast("string")).alias("cat"),
                (d % 11 + 1).cast("long").alias("val"),
            ),
        ).alias("assoc"),
        F.col("text").alias("content"),
    )


def _searcher(spark: SparkSession, sf_dir: str) -> IndexSearcher:
    """Build (or resume) the engine index for this sf_dir; cached."""
    # v11: + assoc association-facet column + nullable stars column
    key = _snapshot_key(sf_dir, "v11")
    if key in _SEARCHERS:
        return _SEARCHERS[key]
    d = f"/tmp/lucene_ps_index_{key}"
    cfg = EngineConfig(analyzer="simple", segment_size=256, index_positions=True,
                       index_offsets=True)
    build_index(spark, _adapted(spark, sf_dir), d, cfg, resume=True)
    s = IndexSearcher(spark, d)
    _SEARCHERS[key] = s
    return s


def _sorted_searcher(spark: SparkSession, sf_dir: str) -> IndexSearcher:
    """A SECOND index over the same corpus, built with an index-time
    sort (IndexWriterConfig.setIndexSort analog): doc ids assigned by
    (n_chars desc, repo, path), enabling early-terminated sorted top-k
    (TopFieldCollector.canEarlyTerminate)."""
    key = _snapshot_key(sf_dir, "v9sorted")
    if key in _SEARCHERS:
        return _SEARCHERS[key]
    d = f"/tmp/lucene_ps_index_{key}"
    cfg = EngineConfig(analyzer="simple", segment_size=256,
                       index_sort=(("n_chars", True),))
    build_index(spark, _adapted(spark, sf_dir), d, cfg, resume=True)
    s = IndexSearcher(spark, d)
    _SEARCHERS[key] = s
    return s


def _orig_ids(searcher: IndexSearcher, df: DataFrame) -> DataFrame:
    """engine doc_id -> original documents.doc_id (parsed from path)."""
    spark = searcher.spark
    meta = spark.read.parquet(searcher.docmeta_path).select(
        "doc_id", F.col("path").cast("long").alias("orig_doc_id")
    )
    return df.join(meta, "doc_id").drop("doc_id").withColumnRenamed(
        "orig_doc_id", "doc_id"
    )


def _term_fingerprint(docs: DataFrame, cfg: EngineConfig,
                      variant: str) -> DataFrame:
    """(variant, doc_id, val): md5 of each doc's sorted distinct terms
    under ``cfg``'s Python analysis chain (operators/invert.invert);
    a doc with no surviving term has no row."""
    from lucene_solr_8_7_0_spark.operators.invert import invert

    return invert(docs, cfg).filter(F.size("terms") > 0).select(
        F.lit(variant).alias("variant"), "doc_id",
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct("terms")))
        ).alias("val"),
    )


# ---------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full index build + block-max WAND BM25 top-10."""
    s = _searcher(spark, "/root/testdata/sf0.001")
    q = Q.term_or(["data", "join", "vector"], 1)
    return s.search_df(q, k=10, total_hits_threshold=10)


# ---------------------------------------------------------------- queries

def _q_term_freqs(spark, sf_dir):
    """Postings statistics, tagged union: "tf" is the inversion
    operator (analysis chain + hash group-by, per-(doc, term) freqs);
    "df" is the salted two-level global term-stats aggregation (the
    Zipf-skew handling path, formerly the doc_freqs row); "terms_comp"
    is the Solr TermsComponent analog (TermsComponent.java:181-336) —
    a prefix-pushed termdict enumeration sorted by docFreq;
    "significant" is SignificantTermsQParserPlugin (:103-232) — top-20
    terms over-represented in the 'vector' hit set by
    ln(tf) x (ln((N+1)/(df+1)) + 1), df >= 5, term length >= 3."""
    from lucene_solr_8_7_0_spark.operators.invert import invert

    cfg = EngineConfig(analyzer="simple", index_positions=False)
    docs = _docs(spark, sf_dir).select("doc_id", F.col("text").alias("content"))
    postings = (
        invert(docs, cfg)
        .select("doc_id", F.explode("terms").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("freq"))
    )
    tf = postings.filter(F.col("freq") >= 2).select(
        F.lit("tf").alias("variant"), "doc_id", "term",
        F.col("freq").cast("long").alias("v1"),
        F.lit(None).cast("long").alias("v2"),
    )
    per_doc = postings.select(
        "term", F.lit(1).alias("one"), F.col("freq").cast("long").alias("freq"),
        "doc_id",
    )
    df = salted_agg(
        per_doc, key="term", sums={"df": "one", "cf": "freq"},
        buckets=16, salt_src="doc_id",
    ).select(
        F.lit("df").alias("variant"),
        F.lit(None).cast("long").alias("doc_id"),
        "term",
        F.col("df").cast("long").alias("v1"),
        F.col("cf").cast("long").alias("v2"),
    )
    from lucene_solr_8_7_0_spark.operators.components import (
        significant_terms, terms_enum,
    )

    s = _searcher(spark, sf_dir)
    tc = terms_enum(s, prefix="re", limit=15).select(
        F.lit("terms_comp").alias("variant"),
        F.lit(None).cast("long").alias("doc_id"),
        "term",
        F.col("df").alias("v1"),
        F.col("ttf").alias("v2"),
    )
    sig = significant_terms(
        s, Q.TermQuery("vector"), k=20, min_df=5, min_term_length=3
    ).select(
        F.lit("significant").alias("variant"),
        F.lit(None).cast("long").alias("doc_id"),
        "term",
        F.col("tf").alias("v1"),
        F.col("df").alias("v2"),
    )
    return tf.unionByName(df).unionByName(tc).unionByName(sig)


# ---- standard (UAX#29) analyzer under the oracle ----
# The corpus text is plain lowercase ASCII, which cannot distinguish
# the standard tokenizer from the simple one — so the contract
# AUGMENTS every doc with a deterministic, SQL-expressible suffix full
# of word-break edge cases (dotted numbers varying per doc, MidNum
# commas, apostrophes, underscores, hyphens).  Spark and DuckDB both
# compute the same augmentation; DuckDB then replays the tokenizer via
# SQL_STANDARD_TOKEN_PATTERN (the RE2 instantiation of the grammar,
# property-tested identical to the engine's).


def _aug_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.col("doc_id")
    return _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.concat(
            F.col("text"),
            F.lit(" v"), (d % 7).cast("string"),
            F.lit("."), (d % 13).cast("string"),
            F.when(d % 3 == 0, F.lit(" O'Reilly 4,600 216.239.63.104"))
            .otherwise(F.lit(" can't x_y2 ab-cd 21.35")),
        ).alias("text"),
    )


_AUG_SQL = (
    "SELECT doc_id, text || ' v' || CAST(doc_id % 7 AS VARCHAR) || '.' "
    "|| CAST(doc_id % 13 AS VARCHAR) || CASE WHEN doc_id % 3 = 0 THEN "
    "' O''Reilly 4,600 216.239.63.104' ELSE ' can''t x_y2 ab-cd 21.35' END "
    "AS text FROM documents"
)


def _std_toks_sql() -> str:
    from lucene_solr_8_7_0_spark.functions.analysis import (
        SQL_STANDARD_TOKEN_PATTERN,
    )

    pat = SQL_STANDARD_TOKEN_PATTERN.replace("'", "''")
    return (
        f"SELECT doc_id, lower(tok) AS tok FROM ("
        f"SELECT doc_id, unnest(regexp_extract_all(text, '{pat}')) AS tok "
        f"FROM ({_AUG_SQL}))"
    )


def _searcher_std(spark: SparkSession, sf_dir: str) -> IndexSearcher:
    """Full index build + search under the standard analyzer."""
    key = _snapshot_key(sf_dir, "std:v1")
    if key in _SEARCHERS:
        return _SEARCHERS[key]
    d = f"/tmp/lucene_ps_stdidx_{key}"
    adapted = _aug_docs(spark, sf_dir).select(
        F.lit("corpus").alias("repo"),
        F.format_string("%010d", "doc_id").alias("path"),
        F.sha2(F.col("text"), 256).substr(1, 40).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )
    cfg = EngineConfig(analyzer="standard", segment_size=256, index_positions=True)
    build_index(spark, adapted, d, cfg, resume=True)
    s = IndexSearcher(spark, d)
    _SEARCHERS[key] = s
    return s


def _q_std_bool_and(spark, sf_dir):
    """Standard (UAX#29) analyzer end-to-end, tagged union:

    - and: apostrophe token AND a corpus term through the full
      build + boolean kernel path on the std-analyzer index.
    - fingerprint: whole-tokenization parity (formerly the
      std_fingerprint row) — md5 of each doc's sorted distinct
      standard-analyzer terms; ANY token difference vs the DuckDB
      regex replay flips the hash."""
    s = _searcher_std(spark, sf_dir)
    hits = _orig_ids(
        s, s.matches_df(Q.term_and(["o'reilly", "data"]))
    ).select(
        F.lit("and").alias("variant"), "doc_id",
        F.lit(None).cast("string").alias("val"),
    )
    cfg = EngineConfig(analyzer="standard", index_positions=False)
    docs = _aug_docs(spark, sf_dir).select("doc_id", F.col("text").alias("content"))
    return hits.unionByName(_term_fingerprint(docs, cfg, "fingerprint"))


def _q_bool_family(spark, sf_dir):
    """The Boolean occur family + the sandbox CoveringQuery as ONE
    tagged hit-set union:

    - and / and_not / msm2: the former bool_and / bool_and_not /
      bool_or_msm2 stable rows (ConjunctionDISI, ReqExclScorer,
      MinShouldMatchSumScorer), unchanged semantics.
    - covering: CoveringQuery (sandbox/search/CoveringQuery.java) —
      four term clauses with the per-document minimumNumberMatch read
      from the ``mm`` docmeta column (values < 1 clamp to 1).
    """
    from lucene_solr_8_7_0_spark.operators.covering import (
        covering_score_all,
    )

    s = _searcher(spark, sf_dir)
    b = Q.Builder()
    b.add(Q.TermQuery("data"), Q.Occur.MUST)
    b.add(Q.TermQuery("join"), Q.Occur.MUST_NOT)
    base = _variant_union(s, {
        "and": Q.term_and(["data", "join"]),
        "and_not": b.build(),
        "msm2": Q.term_or(["data", "join", "vector"], 2),
    })
    cov = covering_score_all(
        s, [Q.TermQuery(t) for t in ("data", "join", "vector", "table")],
        "mm",
    )
    covering = _orig_ids(s, cov).select(
        F.lit("covering").alias("variant"), "doc_id"
    )
    return base.unionByName(covering)


def _q_classify(spark, sf_dir):
    """lucene/classification over the index as training set, tagged:

    - nb: SimpleNaiveBayesClassifier — add-1-smoothed class posteriors
      from class-conditional document frequencies, softmax-normalized
      (SimpleNaiveBayesClassifier.java:205-305).
    - knn: KNearestNeighborClassifier — MoreLikeThis term selection
      with score/bestScore boosts, BM25 top-10, vote
      sum(score/maxScore)/sumdoc (KNearestNeighborClassifier.java:
      159-235).

    Inputs: every document with doc_id % 41 == 3 (deterministic,
    SQL-replayable); both classifiers run as ONE batched job graph.
    """
    from lucene_solr_8_7_0_spark.operators.classify import (
        knn_classify, naive_bayes_classify,
    )

    s = _searcher(spark, sf_dir)
    inputs = _docs(spark, sf_dir).filter(F.col("doc_id") % 41 == 3).select(
        F.col("doc_id").alias("input_id"), "text"
    )
    nb = naive_bayes_classify(s, inputs, "lang").select(
        F.lit("nb").alias("variant"),
        F.col("input_id").alias("doc_id"), "label", "score",
    )
    kn = knn_classify(s, inputs, "lang", k=10).select(
        F.lit("knn").alias("variant"),
        F.col("input_id").alias("doc_id"), "label", "score",
    )
    return nb.unionByName(kn)


def _q_freetext_suggest(spark, sf_dir):
    """FreeTextSuggester: bigram stupid-backoff next-token prediction
    for the key 'data s' (context 'data', prefix 's') over the corpus
    LM (suggest/analyzing/FreeTextSuggester.java, ALPHA=0.4)."""
    from lucene_solr_8_7_0_spark.operators.suggest import (
        build_freetext_model, suggest_freetext,
    )

    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir).select(F.col("text").alias("content"))
    model = build_freetext_model(docs, s.cfg, grams=2)
    return suggest_freetext(model, "data s", s.cfg, k=10)


def _q_parsed_query(spark, sf_dir):
    """Parser surfaces, tagged union:
    - classic: queryparser/classic syntax with grouping, keyword field,
      numeric range, prefix negation -> IR -> kernel
      (plans/queryparser.py; QueryParser.jj grammar).
    - simple: queryparser/simple dialect (SimpleQueryParser.java — the
      never-throws end-user syntax): '+' infix AND binding tighter
      than '|' OR, '-' negation, '( )' grouping
      (plans/simpleparser.py).
    Both verified against equivalent SQL oracles."""
    from lucene_solr_8_7_0_spark.cli import parse_query_string
    from lucene_solr_8_7_0_spark.plans.simpleparser import SimpleQueryParser

    s = _searcher(spark, sf_dir)
    q = parse_query_string(
        '+data +(join vector) -sca* +length:[30 TO 200] +lang:de'
    )
    classic = _orig_ids(s, s.matches_df(q)).select(
        F.lit("classic").alias("variant"), "doc_id"
    )
    sq = SimpleQueryParser(analyzer="simple").parse(
        "data + (join | vector) -scalar"
    )
    simple = _orig_ids(s, s.matches_df(sq)).select(
        F.lit("simple").alias("variant"), "doc_id"
    )
    # complex_phrase: ComplexPhraseQueryParser — a group slot and a
    # prefix slot inside a quoted proximity phrase, expanded against
    # the term dictionary and run as an ordered span-near
    from lucene_solr_8_7_0_spark.plans.queryparser import (
        ComplexPhraseQueryParser,
    )

    cp = ComplexPhraseQueryParser(analyzer="simple").parse(
        '"(big small) jo*"~2'
    )
    cpx = _orig_ids(s, s.matches_df(cp)).select(
        F.lit("complex_phrase").alias("variant"), "doc_id"
    )
    # surround: the queryparser/surround dialect — boolean composition
    # around an ordered 2W distance op, NOT exclusion
    from lucene_solr_8_7_0_spark.plans.surroundparser import parse_surround

    sr = parse_surround("data AND (big 2W table) NOT scalar")
    srd = _orig_ids(s, s.matches_df(sr)).select(
        F.lit("surround").alias("variant"), "doc_id"
    )
    return (classic.unionByName(simple).unionByName(cpx)
            .unionByName(srd))


def _q_merged_bool_and(spark, sf_dir):
    """The merge path under the oracle: build a base index over the
    first half of the corpus, add_documents the second half (delta
    build + SegmentMerger-style boundary re-encode), then run bool_and
    on the merged snapshot — must hash-match the single-build oracle."""
    from lucene_solr_8_7_0_spark.operators.merge import add_documents

    key = _snapshot_key(sf_dir, "merged:v1")
    d = f"/tmp/lucene_ps_merged_{key}"
    if key not in _SEARCHERS:
        cfg = EngineConfig(analyzer="simple", segment_size=256, index_positions=True)
        if not os.path.exists(os.path.join(d, "engine_config.json")):
            adapted = _adapted(spark, sf_dir)
            n = adapted.count()
            cut = F.format_string("%010d", F.lit(n // 2))
            base_dir = d + "_base"
            build_index(
                spark, adapted.filter(F.col("path") < cut), base_dir, cfg,
                resume=False,
            )
            # second half numbers after the existing max -> ids identical
            # to a full single-shot build (paths are the global sort key)
            add_documents(
                spark, base_dir, adapted.filter(F.col("path") >= cut), d, cfg
            )
        _SEARCHERS[key] = IndexSearcher(spark, d)
    s = _SEARCHERS[key]
    return _orig_ids(s, s.matches_df(Q.term_and(["data", "join"]))).select("doc_id")


def _q_streaming_bool_and(spark, sf_dir):
    """Structured-Streaming NRT path under the oracle: the corpus
    arrives as a file stream in 4 micro-batches (maxFilesPerTrigger=1),
    each committed via add_documents into a new snapshot; bool_and on
    the final snapshot must hash-match the batch-build oracle (the
    snapshot-refresh NRT story, SURVEY §2.10)."""
    import shutil

    from lucene_solr_8_7_0_spark.streaming.indexer import StreamingIndexer

    key = _snapshot_key(sf_dir, "stream:v1")
    d = f"/tmp/lucene_ps_stream_{key}"
    if key not in _SEARCHERS:
        cfg = EngineConfig(analyzer="simple", segment_size=256, index_positions=True)
        indexer = StreamingIndexer(spark, d, cfg)
        if indexer.current_snapshot() is None:
            src = d + "_src"
            shutil.rmtree(src, ignore_errors=True)
            adapted = _adapted(spark, sf_dir)
            adapted.repartitionByRange(4, "path").write.mode("overwrite").parquet(src)
            stream = (
                spark.readStream.schema(adapted.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = indexer.start(stream)
            q.awaitTermination()
        _SEARCHERS[key] = IndexSearcher(spark, indexer.current_snapshot())
    s = _SEARCHERS[key]
    nrt = _orig_ids(s, s.matches_df(Q.term_and(["data", "join"]))).select(
        F.lit("nrt").alias("variant"), "doc_id"
    )
    # "perc_*": the MemoryIndex/percolator path (MemoryIndex.java:86-119
    # "prospective search") — a registered query set evaluated against
    # the SAME rows batch-side via per-partition transient mini-indexes,
    # no committed index involved; variant tag = perc_<query_id>
    from lucene_solr_8_7_0_spark.streaming.percolator import Percolator

    bq = Q.Builder()
    bq.add(Q.TermQuery("data"), Q.Occur.MUST)
    bq.add(Q.TermQuery("join"), Q.Occur.MUST)
    bq.add(Q.TermQuery("vector"), Q.Occur.MUST_NOT)
    perc = Percolator(
        {"and_not": bq.build(), "phrase": Q.PhraseQuery(("big", "data"))},
        EngineConfig(analyzer="simple", index_positions=True),
        id_cols=("path",),
    )
    hits = perc.percolate(_adapted(spark, sf_dir)).select(
        F.concat(F.lit("perc_"), F.col("query_id")).alias("variant"),
        F.col("path").cast("long").alias("doc_id"),
    )
    return nrt.unionByName(hits)


def _q_deleted_match(spark, sf_dir):
    """Live-docs: delete every 7th doc, re-run a term query — deleted
    docs must vanish from the hit set (stats untouched until merge)."""
    import shutil

    from lucene_solr_8_7_0_spark.operators import deletes as dl

    s0 = _searcher(spark, sf_dir)
    key = _snapshot_key(sf_dir, "deleted:v1")
    d = f"/tmp/lucene_ps_del_{key}"
    if key not in _SEARCHERS:
        if not os.path.exists(os.path.join(d, "engine_config.json")):
            shutil.copytree(s0.index_dir, d, dirs_exist_ok=True)
            victims = spark.read.parquet(os.path.join(d, "docmeta")).filter(
                F.col("doc_id") % 7 == 0
            ).select("doc_id")
            dl.delete_documents(spark, d, victims)
        _SEARCHERS[key] = IndexSearcher(spark, d)
    s = _SEARCHERS[key]
    return _orig_ids(s, s.matches_df(Q.TermQuery("data"))).select("doc_id")


def _q_lang_filter(spark, sf_dir):
    """Doc-values filter clauses composed with a term query, tagged:

    - eq: keyword (StringField) equality, lang:de AND data.
    - exists: DocValuesFieldExistsQuery on the NULLABLE stars column
      (every 4th doc has no value) AND data.
    - str_range: SortedSetDocValuesRangeQuery — bytes range
      lang:[de TO en] AND data.

    Every docset rides the same pseudo-postings plumbing as point
    ranges."""
    s = _searcher(spark, sf_dir)

    def conj(clause):
        b = Q.Builder()
        b.add(Q.TermQuery("data"), Q.Occur.MUST)
        b.add(clause, Q.Occur.FILTER)
        return b.build()

    return _variant_union(s, {
        "eq": conj(Q.FieldTermQuery("lang", "de")),
        "exists": conj(Q.FieldExistsQuery("stars")),
        "str_range": conj(Q.FieldRangeQuery("lang", "de", "en")),
    })


def _q_phrase_slop(spark, sf_dir):
    """Sloppy phrase: "data join"~2 (greedy SloppyPhraseMatcher port)."""
    s = _searcher(spark, sf_dir)
    return _orig_ids(
        s, s.matches_df(Q.PhraseQuery(("data", "join"), slop=2))
    ).select("doc_id")


def _ranked_topk(spark, s, query, k=10, similarity=None):
    """Rank by (score rounded to 4 decimals desc, doc asc).

    The engine scores in float32 (Lucene semantics), the SQL oracle in
    float64; on near-ties an ulp can swap neighbours between the two.
    Rounding makes near-ties exact ties on BOTH sides, and ties then
    break identically by doc id — so the comparison tests the
    pipeline, not the float width.  The UNROUNDED float32 rank
    identity vs Lucene semantics is asserted by tests/test_search.py."""
    from pyspark.sql import Window

    scored = s.score_all_df(query, similarity=similarity)
    meta = spark.read.parquet(s.docmeta_path).select(
        "doc_id", F.col("path").cast("long").alias("orig")
    )
    # orderBy + limit compiles to TakeOrderedAndProject: per-partition
    # partial top-k merged on the driver — no single-partition global
    # window (that was a scale bottleneck flagged in round 1).  The
    # row_number window then runs over only k rows.
    topk = (
        scored.join(meta, "doc_id")
        .select(F.round(F.col("score").cast("double"), 4).alias("r"), "orig")
        .orderBy(F.col("r").desc(), F.col("orig").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("r").desc(), F.col("orig").asc())
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("rank", F.col("orig").alias("doc_id"))
        .orderBy("rank")
    )


def _q_bm25_topk(spark, sf_dir):
    """Full engine path: stats -> weights -> segments scan -> score ->
    rank.  Output (rank, doc_id) of the top 10."""
    s = _searcher(spark, sf_dir)
    return _ranked_topk(spark, s, Q.term_or(["data", "join", "vector"], 1))


def _q_bm25_and_topk(spark, sf_dir):
    s = _searcher(spark, sf_dir)
    return _ranked_topk(spark, s, Q.term_and(["data", "join"]))


def _q_sort_by_field(spark, sf_dir):
    """TopFieldCollector analog, three tagged variants:

    - full: hit set of a term query, field-sorted top-15 by
      (length desc, doc asc) via TakeOrdered on the UNSORTED index.
    - indexed: the same shape on an INDEX-SORTED index
      (setIndexSort n_chars desc) — search_sorted detects the prefix
      match (canEarlyTerminate) and scans only a leading segment
      window, early-terminating exactly like the reference.
    - indexed_all: match-all sorted top-15 on the sorted index — the
      pure pruning case (first window only).
    """
    s = _searcher(spark, sf_dir)
    full = _orig_ids(s, s.search_sorted(
        Q.TermQuery("data"), [Q.SortField("length", reverse=True)], k=15
    )).select(F.lit("full").alias("variant"), "rank", "doc_id",
              F.col("length").cast("long").alias("sortval"))
    ss = _sorted_searcher(spark, sf_dir)
    nsort = [Q.SortField("n_chars", reverse=True)]
    indexed = _orig_ids(ss, ss.search_sorted(
        Q.TermQuery("data"), nsort, k=15
    )).select(F.lit("indexed").alias("variant"), "rank", "doc_id",
              F.col("n_chars").cast("long").alias("sortval"))
    indexed_all = _orig_ids(ss, ss.search_sorted(
        Q.MatchAllDocsQuery(), nsort, k=15
    )).select(F.lit("indexed_all").alias("variant"), "rank", "doc_id",
              F.col("n_chars").cast("long").alias("sortval"))
    # - cursor: cursorMark deep paging (CursorMark.java:48-90) — pages
    #   2 and 3 (k=15) of (n_chars asc, doc asc) over the same hit set;
    #   each page is an independent searchAfter(FieldDoc) job, so page
    #   N never re-collects pages 1..N-1.  rank continues across pages.
    from lucene_solr_8_7_0_spark.operators.components import cursor_page

    csort = [Q.SortField("n_chars", reverse=False)]
    cur_rows, cursor = [], None
    for page_no in range(3):
        rows, cursor = cursor_page(s, Q.TermQuery("data"), csort, 15, cursor)
        if page_no >= 1:
            cur_rows.extend(
                (15 * page_no + r["rank"], int(r["doc_id"]),
                 int(r["n_chars"]))
                for r in rows
            )
    cur_df = spark.createDataFrame(
        cur_rows, schema="rank int, doc_id bigint, sortval long"
    )
    cursor_v = _orig_ids(s, cur_df).select(
        F.lit("cursor").alias("variant"), "rank", "doc_id", "sortval"
    )
    return (
        full.unionByName(indexed).unionByName(indexed_all)
        .unionByName(cursor_v)
    )


def _q_parsed_synonym_topk(spark, sf_dir):
    """Query-time synonyms through the PARSER, tagged union:

    - blended: 'data' with single-token synonym 'join' parses to the
      blended-stats SynonymQuery (SynonymGraphFilter single-token
      position).
    - graph: 'data' with MULTI-WORD synonym 'fast scan' parses to the
      graph side-path shape (QueryBuilder.analyzeGraphBoolean +
      newGraphSynonymQuery): SHOULD(TermQuery(data),
      PhraseQuery(fast scan)) — term BM25 + exact-phrase BM25 summed.
    """
    from lucene_solr_8_7_0_spark.plans.queryparser import QueryParser

    s = _searcher(spark, sf_dir)
    q1 = QueryParser(synonyms={"data": ["join"]}).parse("data")
    blended = _ranked_topk(spark, s, q1).select(
        F.lit("blended").alias("variant"), "rank", "doc_id"
    )
    q2 = QueryParser(synonyms={"data": ["fast scan"]}).parse("data")
    graph = _ranked_topk(spark, s, q2).select(
        F.lit("graph").alias("variant"), "rank", "doc_id"
    )
    return blended.unionByName(graph)


def _q_dismax_topk(spark, sf_dir):
    """DisjunctionMaxQuery: score = max + tie * (sum - max)."""
    s = _searcher(spark, sf_dir)
    return _ranked_topk(
        spark, s,
        Q.DisjunctionMaxQuery(
            (Q.TermQuery("data"), Q.TermQuery("join")), tie_breaker=0.1
        ),
    )


def _q_phrase_topk(spark, sf_dir):
    """Scored exact phrase: summed-idf pseudo-term over phrase freq
    (BM25Similarity.idfExplain over the term array)."""
    s = _searcher(spark, sf_dir)
    return _ranked_topk(spark, s, Q.PhraseQuery(("data", "join")), k=10)


def _q_bm25_msm2_topk(spark, sf_dir):
    """Scored disjunction with minimumShouldMatch=2."""
    s = _searcher(spark, sf_dir)
    return _ranked_topk(spark, s, Q.term_or(["data", "join", "vector"], 2))


def _q_boost_topk(spark, sf_dir):
    """BoostQuery scoring: one clause boosted 2x re-ranks the sum."""
    s = _searcher(spark, sf_dir)
    b = Q.Builder()
    b.add(Q.BoostQuery(Q.TermQuery("data"), 2.0), Q.Occur.SHOULD)
    b.add(Q.TermQuery("join"), Q.Occur.SHOULD)
    return _ranked_topk(spark, s, b.set_minimum_number_should_match(1).build())


# ---- analysis/common chains (shingle, english/Porter) ----
# The corpus vocabulary carries no inflections, so the english-chain
# docs are AUGMENTED with a deterministic, SQL-expressible suffix of
# inflected forms (joining/joined/queries/... per doc_id) — same
# pattern as the std-analyzer augmentation above.

_ENG_AUG_FORMS = ("joining tables", "joined queries", "merges sorting",
                  "filtering hashes")


def _eng_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.col("doc_id")
    case = F.when(d % 4 == 0, F.lit(" " + _ENG_AUG_FORMS[0]))
    for i in (1, 2):
        case = case.when(d % 4 == i, F.lit(" " + _ENG_AUG_FORMS[i]))
    case = case.otherwise(F.lit(" " + _ENG_AUG_FORMS[3]))
    return _docs(spark, sf_dir).select(
        "doc_id", F.concat(F.col("text"), case).alias("text")
    )


_ENG_AUG_SQL = (
    "SELECT doc_id, text || CASE CAST(doc_id % 4 AS INT) "
    + " ".join(
        f"WHEN {i} THEN ' {f}'" for i, f in enumerate(_ENG_AUG_FORMS[:3])
    )
    + f" ELSE ' {_ENG_AUG_FORMS[3]}' END AS text FROM documents"
)


# HTMLStripCharFilter fixture: markup appended to every doc.  The
# stripped text contributes exactly the tokens kept/tagged/end/done;
# any strip failure leaks tag/attribute/script/style/entity tokens
# (div, d1, zapc, zaps, var, td, red, lt, gt, ...) into the
# fingerprint.  No single quotes or braces (the oracle embeds this in
# an f-string SQL literal).
_HTML_AUG = (
    ' <div id="d1">kept</div> <b>tagged</b> <!-- zapc -->'
    ' <script type="t">var zaps = 1;</script>'
    ' <style>td .red</style> &lt;end&gt; done'
)

# WordDelimiterGraphFilter fixture: compounds exercising every default
# split rule (case change, acronym tail, letter-digit both ways); no
# apostrophes (SQL literal).
_WD_AUG = " PowerShot500 dataJoin HTTPServer j2se XL42"


def _porter_case_sql() -> str:
    """tok -> stem as a SQL CASE over the corpus + augmentation
    vocabulary.  Like the std-analyzer oracle reusing the engine's
    generated token regex, the stem TABLE is generated from the
    engine's Porter implementation — whose algorithmic correctness is
    pinned separately by the published golden pairs
    (tests/test_porter_shingle.py); the SQL replays the CHAIN
    (tokenize, stop, stem application, fingerprint) independently."""
    from lucene_solr_8_7_0_spark.functions.porter import porter_stem

    vocab = (
        "batch small scan agg data customer big hash slow join row filter "
        "merge table stream dup key fast line the vector value column query "
        "group spark part order window sort a "
        "joining tables joined queries merges sorting filtering hashes"
    ).split()
    whens = " ".join(
        f"WHEN '{w}' THEN '{porter_stem(w)}'" for w in sorted(set(vocab))
    )
    return f"CASE tok {whens} ELSE tok END"


def _stoplist_sql() -> str:
    from lucene_solr_8_7_0_spark.functions.porter import ENGLISH_STOP_WORDS

    return ", ".join(f"'{w}'" for w in sorted(ENGLISH_STOP_WORDS))


def _searcher_eng(spark: SparkSession, sf_dir: str) -> IndexSearcher:
    """EnglishAnalyzer chain index (standard tokenize -> lower -> stop
    -> Porter; python tokenize backend selected automatically)."""
    key = _snapshot_key(sf_dir, "eng:v1")
    if key in _SEARCHERS:
        return _SEARCHERS[key]
    d = f"/tmp/lucene_ps_engidx_{key}"
    adapted = _eng_docs(spark, sf_dir).select(
        F.lit("corpus").alias("repo"),
        F.format_string("%010d", "doc_id").alias("path"),
        F.sha2(F.col("text"), 256).substr(1, 40).alias("commit"),
        F.lit("en").alias("lang"),
        F.col("text").alias("content"),
    )
    cfg = EngineConfig(analyzer="english", segment_size=256,
                       index_positions=True)
    build_index(spark, adapted, d, cfg, resume=True)
    s = IndexSearcher(spark, d)
    _SEARCHERS[key] = s
    return s


def _searcher_shingle(spark: SparkSession, sf_dir: str) -> IndexSearcher:
    """2-gram shingle index (ShingleFilter outputUnigrams=false) —
    shingling runs JVM-side (zip_with over the token array)."""
    key = _snapshot_key(sf_dir, "shingle:v1")
    if key in _SEARCHERS:
        return _SEARCHERS[key]
    d = f"/tmp/lucene_ps_shidx_{key}"
    cfg = EngineConfig(analyzer="shingle", segment_size=256,
                       index_positions=False)
    build_index(spark, _adapted(spark, sf_dir), d, cfg, resume=True)
    s = IndexSearcher(spark, d)
    _SEARCHERS[key] = s
    return s


def _q_analysis_chain(spark, sf_dir):
    """analysis/common chains, tagged union:

    - shingle: TermQuery('big data') on the 2-gram shingle index —
      hit set == the adjacent-pair SQL replay (ShingleFilter.java:44).
    - porter_match: TermQuery('join') on the english-chain index
      matches every inflection (join/joining/joined) via Porter
      stemming (PorterStemFilter.java:57).
    - porter_fp: whole-chain parity — md5 of each doc's sorted
      distinct english-chain terms (tokenize + stop + stem); any
      chain difference vs the SQL replay flips the hash.
    - fold_fp: WhitespaceAnalyzer + ASCIIFoldingFilter parity — docs
      augmented with accented words, folded engine-side
      (functions/analysis.ascii_fold) and replayed by DuckDB's own
      independent strip_accents().
    - gram_fp: EdgeNGramTokenFilter parity (ngram/
      EdgeNGramTokenFilter.java) — the edge_ngram:2:4 chain's distinct
      gram set per doc, replayed by DuckDB substr() prefixes."""
    sh = _searcher_shingle(spark, sf_dir)
    shingle = _orig_ids(sh, sh.matches_df(Q.TermQuery("big data"))).select(
        F.lit("shingle").alias("variant"), "doc_id",
        F.lit(None).cast("string").alias("val"),
    )
    se = _searcher_eng(spark, sf_dir)
    pm = _orig_ids(se, se.matches_df(Q.TermQuery("join"))).select(
        F.lit("porter_match").alias("variant"), "doc_id",
        F.lit(None).cast("string").alias("val"),
    )
    cfg = EngineConfig(analyzer="english", index_positions=False)
    docs = _eng_docs(spark, sf_dir).select(
        "doc_id", F.col("text").alias("content")
    )
    fp = _term_fingerprint(docs, cfg, "porter_fp")
    fold_cfg = EngineConfig(analyzer="whitespace", ascii_folding=True,
                            index_positions=False)
    fold_docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" Café naïve jalapeño")).alias("content"),
    )
    fold = _term_fingerprint(fold_docs, fold_cfg, "fold_fp")
    gram_cfg = EngineConfig(analyzer="edge_ngram:2:4", index_positions=False)
    gram_docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("text").alias("content")
    )
    gram = _term_fingerprint(gram_docs, gram_cfg, "gram_fp")
    # html_fp: HTMLStripCharFilter parity — docs wrapped in markup
    # (tags, comment, script/style blocks, entities), stripped by the
    # engine's char-filter pipeline, replayed by an independent DuckDB
    # regexp/replace chain; any tag/entity token leaking through flips
    # the per-doc fingerprint
    html_cfg = EngineConfig(analyzer="simple", html_strip=True,
                            index_positions=False)
    html_docs = _docs(spark, sf_dir).select(
        "doc_id", F.concat(F.col("text"), F.lit(_HTML_AUG)).alias("content")
    )
    html = _term_fingerprint(html_docs, html_cfg, "html_fp")
    # wdgf_fp: WordDelimiterGraphFilter parity — camel/alnum compounds
    # appended, split by the engine's boundary-insertion chain,
    # replayed by an independent RE2 capture-replace chain in DuckDB
    wd_cfg = EngineConfig(analyzer="word_delimiter", index_positions=False)
    wd_docs = _docs(spark, sf_dir).select(
        "doc_id", F.concat(F.col("text"), F.lit(_WD_AUG)).alias("content")
    )
    wd = _term_fingerprint(wd_docs, wd_cfg, "wdgf_fp")
    # syn_fp: index-time SynonymGraphFilter parity — every 'data'
    # occurrence also emits 'datum' at the same position; the
    # fingerprint flips if injection is missing or leaks elsewhere
    syn_cfg = EngineConfig(analyzer="simple", index_positions=False,
                           index_synonyms=(("data", ("datum",)),))
    syn_docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("text").alias("content")
    )
    syn = _term_fingerprint(syn_docs, syn_cfg, "syn_fp")
    return (shingle.unionByName(pm).unionByName(fp).unionByName(fold)
            .unionByName(gram).unionByName(html).unionByName(wd)
            .unionByName(syn))


def _q_queries_module_topk(spark, sf_dir):
    """lucene/queries module surfaces, tagged union:

    - common_terms: CommonTermsQuery (CommonTermsQuery.java:62) —
      terms split by ACTUAL index docFreq at rewrite time vs
      ceil(mtf x maxDoc); 'dup' (df 25/500) lands in the required
      low-freq group, 'data'/'vector' (df ~390) in the optional
      high-freq group.  The oracle recomputes the dfs and replays the
      SAME classification in SQL, so a split change trips the hash.
    - rescore: QueryRescorer (QueryRescorer.java:32) — BM25 OR
      first pass, top-20 window, phrase "big data" second pass,
      combine = first + 2 x second, re-ranked top-10.
    - elevate: QueryElevationComponent
      (QueryElevationComponent.java:110) — docs 42 and 7 pinned in
      that order, doc 3 excluded, organic BM25 tail for the same OR
      query fills the page.
    """
    from lucene_solr_8_7_0_spark.operators.components import elevate_topk
    from lucene_solr_8_7_0_spark.operators.rescorer import rescore_topk

    s = _searcher(spark, sf_dir)
    ct = _ranked_topk(
        spark, s,
        Q.CommonTermsQuery(("dup", "data", "vector"), max_term_frequency=0.5),
        k=10,
    ).select(F.lit("common_terms").alias("variant"), "rank", "doc_id")
    rs = _orig_ids(s, rescore_topk(
        s, Q.term_or(["data", "join"], 1), Q.PhraseQuery(("big", "data")),
        window=20, k=10, weight=2.0,
    )).select(F.lit("rescore").alias("variant"), "rank", "doc_id")
    # elevation config names ORIGINAL ids; map to engine ids first
    meta = spark.read.parquet(s.docmeta_path).select(
        "doc_id", F.col("path").cast("long").alias("orig")
    )
    m = {
        r["orig"]: r["doc_id"]
        for r in meta.filter(F.col("orig").isin([42, 7, 3])).collect()
    }
    ev = _orig_ids(s, elevate_topk(
        s, Q.term_or(["data", "join"], 1), [m[42], m[7]], k=10,
        excluded_ids=(m[3],),
    )).select(F.lit("elevate").alias("variant"), "rank", "doc_id")
    # ltr_linear / ltr_trees: solr/contrib/ltr — re-rank the same
    # BM25 OR window (20) by a LinearModel dot product and by a
    # MultipleAdditiveTrees ensemble over (original score, field
    # length); integer-feature splits keep the SQL replay exact
    from lucene_solr_8_7_0_spark.operators.ltr import (
        FieldLengthFeature,
        LinearModel,
        MultipleAdditiveTreesModel,
        OriginalScoreFeature,
        ltr_rerank,
    )

    feats = (OriginalScoreFeature(), FieldLengthFeature())
    lin = _orig_ids(s, ltr_rerank(
        s, Q.term_or(["data", "join"], 1), feats,
        LinearModel(weights=(1.0, -0.005)), rerank_docs=20, k=10,
    )).select(F.lit("ltr_linear").alias("variant"), "rank", "doc_id")
    trees = MultipleAdditiveTreesModel(trees=(
        (1.0, ("split", 1, 90.0, ("leaf", 0.3),
               ("split", 1, 150.0, ("leaf", 0.1), ("leaf", -0.2)))),
        (2.0, ("split", 1, 120.0, ("leaf", 0.05), ("leaf", -0.05))),
    ))
    tr = _orig_ids(s, ltr_rerank(
        s, Q.term_or(["data", "join"], 1), feats, trees,
        rerank_docs=20, k=10,
    )).select(F.lit("ltr_trees").alias("variant"), "rank", "doc_id")
    return (ct.unionByName(rs).unionByName(ev).unionByName(lin)
            .unionByName(tr))


def _q_ngram_jaccard(spark, sf_dir):
    """Exact token-trigram Jaccard join (dedup verify path) + benchmark
    decontamination, tagged union:

    - jaccard: the original trigram-Jaccard pairs.
    - decontam: 13-gram overlap against a synthetic benchmark set
      (400-char substrings of every 7th document, the deterministic
      stand-in for a held-out eval set) — one hash join on the gram
      hash flags every training doc sharing a 13-gram with it."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2).select(
        F.lit("jaccard").alias("variant"),
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b"),
        F.round("jaccard", 6).alias("val"),
    )
    full = _docs(spark, sf_dir)
    bench = full.filter(
        (F.col("doc_id") % 7 == 0) & (F.col("doc_id") < 70)
    ).select("doc_id", F.substring("text", 51, 400).alias("text"))
    cont = dedup.ngram_overlap_contamination(full, bench, n=13).select(
        F.lit("decontam").alias("variant"),
        F.col("doc_id").alias("a"), F.col("bench_id").alias("b"),
        F.col("n_shared").cast("double").alias("val"),
    )
    return pairs.unionByName(cont)


def _q_facet_lang(spark, sf_dir):
    """Faceting over the hit set of a term query, tagged union:

    - value: flat per-lang counts (the FacetComponent field facet).
    - pivot: facet.pivot=lang,tags nested level-2 counts
      (PivotFacetProcessor.java) — ONE rollup aggregation, distinct
      docs per (lang, tag) so the multi-valued tags column never
      double-counts.
    """
    from lucene_solr_8_7_0_spark.operators.components import pivot_facets
    from lucene_solr_8_7_0_spark.operators.facets import facet_counts

    s = _searcher(spark, sf_dir)
    q = Q.TermQuery("data")
    # engine docmeta has lang copied from the source table
    flat = facet_counts(s, q, "lang").select(
        F.lit("value").alias("variant"), "lang",
        F.lit(None).cast("string").alias("tag"), "count",
    )
    piv = pivot_facets(s, q, ["lang", "tags"], explode_fields=("tags",))
    piv = piv.filter(F.col("level") == 2).select(
        F.lit("pivot").alias("variant"), "lang",
        F.col("tags").alias("tag"), "count",
    )
    # date_range / num_range: Solr facet.range with gaps over the
    # events table — date-math start (/DAY rounding + offset), +3DAYS
    # buckets with before/after/between, and a numeric gap facet; one
    # arithmetic bucket index + one groupBy each
    from lucene_solr_8_7_0_spark.operators.rangefacet import (
        range_facet,
        range_facet_date,
    )

    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    dr = range_facet_date(
        events, "ts", "2024-01-03T12:00:00Z/DAY+2DAYS",
        "2024-01-26T00:00:00Z", "+3DAYS",
    ).select(
        F.lit("date_range").alias("variant"),
        F.col("bucket").alias("lang"),
        F.lit(None).cast("string").alias("tag"), "count",
    )
    nr = range_facet(events, "value", 0, 20, 5).select(
        F.lit("num_range").alias("variant"),
        F.col("bucket").alias("lang"),
        F.lit(None).cast("string").alias("tag"), "count",
    )
    # props_bucket: faceting a JSON-encoded field (the Solr JSON Facet
    # API over semi-structured props) — extract $.k, bucket by tens;
    # one codegen'd json path + one groupBy
    pb = (
        events.select(
            (
                F.floor(
                    F.get_json_object("props", "$.k").cast("int") / 10
                ) * 10
            ).cast("int").alias("kb")
        )
        .filter(F.col("kb").isNotNull())
        .groupBy("kb")
        .agg(F.count(F.lit(1)).alias("count"))
        .select(
            F.lit("props_bucket").alias("variant"),
            F.col("kb").cast("string").alias("lang"),
            F.lit(None).cast("string").alias("tag"), "count",
        )
    )
    # interval: Solr facet.interval — arbitrary OVERLAPPING intervals
    # with open/closed bounds, each a conditional count in ONE
    # aggregate over one scan
    from lucene_solr_8_7_0_spark.operators.rangefacet import interval_facet

    iv = interval_facet(
        events, "value", ["[0,5]", "(5,15)", "[10,*]"]
    ).select(
        F.lit("interval").alias("variant"),
        F.col("bucket").alias("lang"),
        F.lit(None).cast("string").alias("tag"), "count",
    )
    # query: Solr facet.query — named, overlapping query slices of the
    # base hit set, each one semi-join count over the SAME base frame
    from lucene_solr_8_7_0_spark.operators.facets import query_facets

    qf = query_facets(s, q, {
        "with_join": Q.TermQuery("join"),
        "near_big": Q.SpanNearQuery(("big", "data"), slop=2),
        "short": Q.PointRangeQuery("length", None, 80),
    }).select(
        F.lit("query").alias("variant"),
        F.col("name").alias("lang"),
        F.lit(None).cast("string").alias("tag"), "count",
    )
    return (flat.unionByName(piv).unionByName(dr).unionByName(nr)
            .unionByName(pb).unionByName(iv).unionByName(qf))


def _q_dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(_docs(spark, sf_dir)).select(
        "keep_doc_id", "dup_count"
    )


def _q_term_vector(spark, sf_dir):
    """Term vector of doc 42 read back from the index postings (the
    getTermVector surface — no stored .tvd duplication, no
    re-analysis); term + freq + exact position list, all replayed by
    the oracle from the raw text."""
    from lucene_solr_8_7_0_spark.operators.termvectors import term_vector

    return term_vector(_searcher(spark, sf_dir), 42).select(
        "term", "freq",
        # string-serialize the position list: identical text on both
        # sides regardless of how each runtime renders array columns
        F.concat_ws(",", F.col("positions")).alias("positions"),
    )


def _q_check_index(spark, sf_dir):
    """CheckIndex over the contract index: the integrity report MUST be
    empty — postings decode, df/ttf/doc-order/skip-data invariants,
    termdict-vs-segment sums, stats and norm/length cross-checks."""
    from lucene_solr_8_7_0_spark.operators.checkindex import check_index

    s = _searcher(spark, sf_dir)
    return check_index(spark, s.index_dir)


def _q_mlt_terms(spark, sf_dir):
    """MoreLikeThis term selection for doc 42: tf*idf-ranked
    interesting terms with the reference's noise gates (minTermFreq=2,
    minDocFreq=5, maxQueryTerms=25) — tf comes from the INDEX's
    postings (no re-analysis), stats from the termdict."""
    from lucene_solr_8_7_0_spark.operators.morelikethis import (
        interesting_terms,
    )

    # engine doc numbering coincides with documents.doc_id (see
    # _adapted): doc 42 is the same row on both sides
    return interesting_terms(_searcher(spark, sf_dir), 42)


def _q_group_topk(spark, sf_dir):
    """Grouping-family surface, tagged union:

    - grouped: lucene/grouping two-pass (FirstPass + TopGroups
      collectors) — top-3 lang groups for 'data', 2 docs per group.
    - collapsed: CollapsingQParserPlugin analog
      (CollapsingQParserPlugin.java:122) — one head per lang chosen by
      the MAX(n_chars) GroupHeadSelector (tie: lowest doc), page of 4
      heads in query order (score desc, doc asc); doc_rank is NULL.
    - expanded: ExpandComponent analog (ExpandComponent.java:101-171)
      — for each collapsed head, the top-2 OTHER group members by
      (score desc, doc asc).
    """
    from lucene_solr_8_7_0_spark.operators.components import (
        collapse_topk, expand_hits,
    )
    from lucene_solr_8_7_0_spark.operators.grouping import group_topk

    s = _searcher(spark, sf_dir)
    q = Q.TermQuery("data")
    out = group_topk(s, q, "lang", k_groups=3, per_group=2)
    grouped = _orig_ids(s, out).select(
        F.lit("grouped").alias("variant"),
        "group_rank", "lang", "doc_rank", "doc_id",
    )
    col = collapse_topk(s, q, "lang", k=4, head_by="max:n_chars")
    collapsed = _orig_ids(s, col).select(
        F.lit("collapsed").alias("variant"),
        F.col("rank").alias("group_rank"), "lang",
        F.lit(None).cast("int").alias("doc_rank"), "doc_id",
    )
    exp = expand_hits(s, q, "lang", k=4, expand_rows=2, head_by="max:n_chars")
    expanded = _orig_ids(s, exp).select(
        F.lit("expanded").alias("variant"),
        "group_rank", "lang", "doc_rank", "doc_id",
    )
    # diversified: DiversifiedTopDocsCollector — top-4 with at most one
    # doc per lang (misc/search/DiversifiedTopDocsCollector.java)
    from lucene_solr_8_7_0_spark.operators.grouping import diversified_topk

    div = diversified_topk(s, q, "lang", k=4, max_per_key=1)
    diversified = _orig_ids(s, div).select(
        F.lit("diversified").alias("variant"),
        F.col("rank").alias("group_rank"), "lang",
        F.lit(None).cast("int").alias("doc_rank"), "doc_id",
    )
    return (
        grouped.unionByName(collapsed).unionByName(expanded)
        .unionByName(diversified)
    )


def _q_join_query(spark, sf_dir):
    """Join module surface, tagged union (round 5 adds block join):

    - fk: JoinUtil.createJoinQuery ScoreMode.None (JoinUtil.java) —
      docs matching 'data' whose lang equals the lang of SOME doc
      matching 'vector'.
    - to_parent: ToParentBlockJoinQuery analog — parents filter
      lang='de' over the index doc order (children precede their
      parent; a child's parent is the next parent-marked doc), parents
      with >= 1 child matching 'data', plus the child count
      (ScoreMode.Total under constant child scores).
    - to_child: ToChildBlockJoinQuery analog — the children of every
      parent-marked doc matching 'data'.

    path encodes doc_id zero-padded, so internal doc order ==
    documents.doc_id order and the oracle replays parent assignment
    with one window min over following rows."""
    from lucene_solr_8_7_0_spark.operators.joinq import (
        join_query_docs,
        to_child_block_join,
        to_parent_block_join,
    )

    s = _searcher(spark, sf_dir)
    is_parent = F.col("lang") == "de"
    null_l = F.lit(None).cast("long")
    fk = _orig_ids(
        s,
        join_query_docs(
            s, Q.TermQuery("vector"), "lang", to_query=Q.TermQuery("data")
        ),
    ).select(
        F.lit("fk").alias("variant"), "doc_id",
        null_l.alias("n_children"), null_l.alias("parent_doc"),
    )
    tp = _orig_ids(
        s, to_parent_block_join(s, Q.TermQuery("data"), is_parent)
    ).select(
        F.lit("to_parent").alias("variant"), "doc_id",
        F.col("n_children"), null_l.alias("parent_doc"),
    )
    meta = spark.read.parquet(s.docmeta_path).select(
        "doc_id", F.col("path").cast("long").alias("_orig")
    )
    tc = (
        to_child_block_join(s, Q.TermQuery("data"), is_parent)
        .join(meta, "doc_id")
        .drop("doc_id")
        .withColumnRenamed("_orig", "doc_id")
        .join(meta.withColumnRenamed("doc_id", "parent_doc"), "parent_doc")
        .drop("parent_doc")
        .withColumnRenamed("_orig", "parent_doc")
        .select(
            F.lit("to_child").alias("variant"), "doc_id",
            null_l.alias("n_children"), F.col("parent_doc").cast("long"),
        )
    )
    # scored_max / scored_total: JoinUtil ScoreMode — the join value
    # (lang) carries the max / sum of the from-side ('vector') BM25
    # scores (rounded to 4 pre-aggregation for the float64 replay);
    # rank of the to-side ('data') docs rides the n_children column
    from lucene_solr_8_7_0_spark.operators.joinq import join_query_scored
    from pyspark.sql import Window

    scored = [fk.unionByName(tp).unionByName(tc)]
    for mode, name in (("max", "scored_max"), ("total", "scored_total")):
        sj = join_query_scored(
            s, Q.TermQuery("vector"), "lang", score_mode=mode,
            to_query=Q.TermQuery("data"), round_scores=4,
        ).select("doc_id", F.round("jscore", 4).alias("_r"))
        w = Window.orderBy(F.col("_r").desc(), F.col("doc_id").asc())
        top = (
            sj.orderBy(F.col("_r").desc(), F.col("doc_id").asc()).limit(10)
            .withColumn("rank", F.row_number().over(w).cast("long"))
        )
        scored.append(
            _orig_ids(s, top).select(
                F.lit(name).alias("variant"), "doc_id",
                F.col("rank").alias("n_children"),
                null_l.alias("parent_doc"),
            )
        )
    out = scored[0]
    for df_ in scored[1:]:
        out = out.unionByName(df_)
    return out


def _q_highlight_topk(spark, sf_dir):
    """Highlighting surface, STORED-OFFSETS tier (round 4): BM25 top-10
    for data OR join, then best-window snippets sliced from the
    ORIGINAL text by the index's termvectors offsets — exact verbatim
    substrings with <b> markup around the match spans.  Window choice,
    offsets, AND markup all replayed by the SQL oracle (DuckDB
    reconstructs char offsets from the token/separator split)."""
    from lucene_solr_8_7_0_spark.operators.highlight import (
        highlight_offsets_df,
    )

    s = _searcher(spark, sf_dir)
    topk = _ranked_topk(spark, s, Q.term_or(["data", "join"], 1))
    docs = _docs(spark, sf_dir).join(topk, "doc_id")
    hl = highlight_offsets_df(s, docs, ["data", "join"], window=8)
    return (
        topk.join(hl, "doc_id")
        .select("rank", "doc_id", "n_matches", "n_distinct",
                "window_start", "snippet")
        .orderBy("rank")
    )


def _q_winnow_fingerprint(spark, sf_dir):
    """Winnowing (SIGMOD'03) rolling-hash fingerprints under a full SQL
    oracle: the polynomial base-31 k-gram hash over ASCII text and the
    sliding window-min are replayed exactly in DuckDB (values stay far
    below 2^63, so no modular arithmetic is needed)."""
    out = textstats.winnowing_fingerprint(_docs(spark, sf_dir))
    return out.select(
        "doc_id", F.explode("fingerprints").alias("fingerprint")
    )


def _q_ann_cosine_topk(spark, sf_dir):
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_pdf = (
        emb.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .toPandas()
    )
    return ann.brute_force_topk(emb, queries_pdf, k=5).select(
        "query_id", "rank", "neighbor_id"
    )


def _q_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN (scale path) under a FULL SQL oracle: the
    contract run uses ``deterministic_planes`` (integer hyperplanes
    from a Knuth mod-mul hash) with floor(x*2^20) quantized
    projections, so every signature bit is an exact-integer comparison
    that DuckDB replays bit-for-bit — the oracle recomputes the
    signatures, the multiprobe bucket expansion, the candidate join,
    and the exact cosine re-rank.  A recall regression (changed
    bucketing, probe set, or re-rank) trips the hash.  Gaussian-plane
    recall quality stays pytest-asserted separately."""
    import numpy as np

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_pdf = (
        emb.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .toPandas()
    )
    planes = ann.deterministic_planes(n_tables=8, n_planes=8, dim=64)
    lsh = ann.lsh_topk(
        emb, queries_pdf, k=5, n_planes=8, dim=64, multiprobe=1,
        n_tables=8, planes=planes, quantize=True,
    ).select(
        F.lit("lsh").alias("variant"), "query_id", "rank", "neighbor_id"
    )
    # "pq": product-quantization ADC top-5 on the SAME fixed-point
    # grid (floor(x*2^20)): centroid c of every subspace = the
    # quantized subvector of vec_id 200+c, so assignment and the ADC
    # sums are exact integer arithmetic the oracle replays bit-for-bit
    from lucene_solr_8_7_0_spark.operators import pqann

    books = pqann.pq_codebook_from_ids(emb, ids=range(200, 216), m=8)
    pq = pqann.pq_topk(emb, queries_pdf, books, k=5).select(
        F.lit("pq").alias("variant"), "query_id", "rank", "neighbor_id"
    )
    return lsh.unionByName(pq)


def _q_ann_ivf_topk(spark, sf_dir):
    """IVF partial-probe ANN (scale path) under a FULL SQL oracle: the
    contract run uses a fixed data-sampled codebook (the normalized
    embeddings of vec_ids 100..131 — IVF-flat with k-medoid-style
    seed centroids), so assignment, probe selection (top-8 of 32
    clusters), the cluster-key shuffle join, and the exact re-rank are
    all deterministic and replayed exactly by DuckDB.  The genuinely
    approximate part — candidates restricted to probed clusters — is
    inside the hash check.  Lloyd-trained centroids + recall stay
    pytest-asserted; full-probe==exact stays ann_ivf_fullprobe."""
    import numpy as np

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_pdf = (
        emb.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .toPandas()
    )
    cent_pdf = (
        emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 132))
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    cent = np.asarray(
        [np.asarray(v, np.float64) for v in cent_pdf["embedding"]]
    )
    cent = cent / np.linalg.norm(cent, axis=1, keepdims=True)
    return ann.ivf_topk(
        emb, queries_pdf, k=5, n_probe=8, centroids=cent
    ).select("query_id", "rank", "neighbor_id")


def _q_ann_ivf_fullprobe(spark, sf_dir):
    """IVF with n_probe == n_centroids: provably identical to exact
    brute force (every cluster probed), so the SAME SQL oracle as
    ann_cosine_topk hash-checks the whole IVF machinery — training,
    assignment, cluster-key shuffle, per-probe scoring, merge.  The
    approximate path (partial probe) stays as ann_ivf_topk."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_pdf = (
        emb.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .toPandas()
    )
    return ann.ivf_topk(
        emb, queries_pdf, k=5, n_centroids=16, n_probe=16, seed=42
    ).select("query_id", "rank", "neighbor_id")


def _q_minhash_near_dups(spark, sf_dir):
    """MinHash LSH + exact-Jaccard verify, under a FULL SQL oracle:
    the oracle computes the all-pairs exact shingle Jaccard >= 0.5 set,
    so the hash check asserts BOTH exactness (every reported jaccard
    equals the SQL value) and recall 1.0 on this corpus (its true pairs
    are far above the threshold, where the 16-band LSH miss probability
    is negligible — and the run is seeded/deterministic)."""
    pairs = dedup.minhash_dedup(_docs(spark, sf_dir), threshold=0.5)
    p = pairs.select(
        F.lit("pairs").alias("variant"),
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b"),
        F.round("jaccard", 6).alias("val"),
    )
    # "clusters": the pair -> cluster step (large-star/small-star
    # connected components) — transitive closure with the component
    # MIN as the deterministic representative; the oracle replays it
    # as a recursive reachability CTE over the same verified pairs
    cl = dedup.cluster_duplicates(pairs).select(
        F.lit("clusters").alias("variant"),
        F.col("doc_id").alias("a"), F.col("cluster_id").alias("b"),
        F.lit(None).cast("double").alias("val"),
    )
    return p.unionByName(cl)


def _q_simhash_near_dups(spark, sf_dir):
    """SimHash near-dups under a FULL SQL oracle: the md5 token-hash
    variant is bit-replayable in DuckDB, which recomputes every
    fingerprint AND the all-pairs hamming <= 8 set — the multi-index
    blocking is recall-complete by pigeonhole, so the sets must be
    identical (the xxhash64 fast path is pytest-verified against exact
    all-pairs separately)."""
    fps = dedup.simhash(_docs(spark, sf_dir), bits=60, hash_fn="md5")
    return dedup.simhash_near_dups(
        fps, max_hamming=8, max_bucket_size=1000
    ).select("doc_a", "doc_b", "hamming")


def _q_media_stats(spark, sf_dir):
    """Multimodal plumbing under the oracle: text bytes as an opaque
    binary media column -> JVM-side type sniff + size stats."""
    from lucene_solr_8_7_0_spark.operators import multimodal as mm

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("text").cast("binary").alias("media")
    )
    out = mm.media_stats(mm.sniff_media_type(docs))
    return out.select(
        "doc_id",
        F.col("media_bytes").cast("int").alias("media_bytes"),
        "media_type",
    )


_LANG_MARKS = {
    1: "der die das und ist",
    2: "le la les et est",
    3: "el los que y por",
}


def _q_lang_id(spark, sf_dir):
    """Language-ID argmax over ALL four stopword lists, made
    discriminative by appending deterministic language markers to a
    third of the docs (doc_id % 4 picks de/fr/es; the marker repeats 5x
    so it outvotes the corpus's English stopwords) — the oracle
    replicates the per-language hit counts AND the tie-broken argmax,
    so de/fr/es paths are hash-checked, not just en/unknown."""
    d = F.col("doc_id")
    aug = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            *[
                F.when(d % 4 == k, F.lit((" " + mark) * 5)).otherwise(F.lit(""))
                for k, mark in sorted(_LANG_MARKS.items())
            ],
        ).alias("text"),
    )
    return textstats.language_id(aug).select(
        "doc_id", "n_tokens", "hits_de", "hits_en", "hits_es", "hits_fr",
        "lang_guess",
    )


# ---- round-4 merged/new contract queries -------------------------------
# The driver records CORRECTNESS rows for at most the first 50 entries
# of queries(); round 3 had 63 and silently lost 13 operators' hard
# signal.  Round 4 consolidates related operators into tagged UNION
# queries (one oracle per variant, UNION ALL on the SQL side) so every
# operator family fits inside the 50-row window, with the families that
# have never had a driver row ordered FIRST.


def _variant_union(s, variants: dict):
    """UNION of per-variant hit sets as (variant, doc_id) rows."""
    out = None
    for name, q in sorted(variants.items()):
        d = _orig_ids(s, s.matches_df(q)).select(
            F.lit(name).alias("variant"), "doc_id"
        )
        out = d if out is None else out.unionByName(d)
    return out


def _q_span_family(spark, sf_dir):
    """The whole span family under ONE oracle: ordered/unordered/k-term
    SpanNear plus SpanOr-in-near (position-list union) and
    SpanNot-in-near (pre/post exclusion window), each variant tagged."""
    s = _searcher(spark, sf_dir)
    return _variant_union(s, {
        "ordered": Q.SpanNearQuery(("data", "join"), slop=3),
        "unordered": Q.SpanNearQuery(("data", "join"), slop=3, in_order=False),
        "k3": Q.SpanNearQuery(("data", "join", "table"), slop=6),
        "or_in_near": Q.SpanNearQuery(
            (Q.SpanOrQuery(("data", "big")), "join"), slop=2
        ),
        "not_in_near": Q.SpanNearQuery(
            (Q.SpanNotQuery("data", "big", pre=2, post=2), "join"), slop=3
        ),
        # containment pair (SpanContainingQuery/SpanWithinQuery), both
        # under a position range so the emitted-side difference is
        # observable: the range filters BIG spans for "containing" but
        # LITTLE spans for "within" (ContainSpans)
        "containing": Q.SpanPositionRangeQuery(
            Q.SpanContainingQuery(
                Q.SpanNearQuery(("data", "join"), slop=5), "table"
            ), 0, 40
        ),
        "within": Q.SpanPositionRangeQuery(
            Q.SpanWithinQuery(
                Q.SpanNearQuery(("data", "join"), slop=5), "table"
            ), 0, 40
        ),
    })


def _q_multiterm_match(spark, sf_dir):
    """Every multi-term rewrite family (prefix/wildcard/regexp/fuzzy/
    term-range/term-set) as one tagged union — each variant exercises
    the same distributed constant-score expansion path it always did."""
    s = _searcher(spark, sf_dir)
    return _variant_union(s, {
        "prefix": Q.PrefixQuery("va"),
        "wildcard": Q.WildcardQuery("*or*"),
        "regexp": Q.RegexpQuery("(sc|st|sp)[a-z]+"),
        "fuzzy": Q.FuzzyQuery("spark", max_edits=2),
        "term_range": Q.TermRangeQuery("data", "dz"),
        "term_set": Q.TermInSetQuery(("data", "join", "vector")),
    })


def _q_range_filter(spark, sf_dir):
    """Point-range filtering, BOTH access paths tagged: "index" is the
    plain pushed-down range scan; "dv" wraps the range in
    IndexOrDocValuesQuery so the engine cost-chooses the per-candidate
    verify path — results must be identical semantics either way."""
    s = _searcher(spark, sf_dir)
    b1 = Q.Builder()
    b1.add(Q.TermQuery("data"), Q.Occur.MUST)
    b1.add(Q.PointRangeQuery("length", 60, 120), Q.Occur.FILTER)
    b2 = Q.Builder()
    b2.add(Q.TermQuery("vector"), Q.Occur.MUST)
    b2.add(
        Q.IndexOrDocValuesQuery(Q.PointRangeQuery("length", 20, None)),
        Q.Occur.FILTER,
    )
    # "multidim": an n-dimensional box (PointRangeQuery numDims>1 /
    # IntPoint.newRangeQuery(String, int[], int[])) over TWO docmeta
    # point columns — one pushed-down docmeta scan with the ANDed
    # per-dim predicate (the single BKD visit's per-dim loop,
    # PointRangeQuery.java:118)
    b3 = Q.Builder()
    b3.add(Q.TermQuery("data"), Q.Occur.MUST)
    b3.add(
        Q.multi_dim_range(("length", 60, 120), ("n_chars", 350, 450)),
        Q.Occur.FILTER,
    )
    # "geo_box": LatLonPoint.newBoxQuery analog — a 2-dim (lat, lon)
    # box rides the same multi-dim pushed-down scan
    b4 = Q.Builder()
    b4.add(Q.MatchAllDocsQuery(), Q.Occur.MUST)
    b4.add(
        Q.multi_dim_range(("lat", -30.0, 40.0), ("lon", -10.0, 60.0)),
        Q.Occur.FILTER,
    )
    # "geo_dist": LatLonPoint.newDistanceQuery — lat-band pushdown +
    # exact haversine verify, one docmeta scan; the 2,030 km radius
    # sits in a ±36 km distance gap of this corpus, so float64 trig
    # differences between engines cannot flip a membership
    b5 = Q.Builder()
    b5.add(Q.MatchAllDocsQuery(), Q.Occur.MUST)
    b5.add(
        Q.LatLonDistanceQuery("lat", "lon", 10.0, 20.0, 2.03e6),
        Q.Occur.FILTER,
    )
    # "geo_poly": LatLonPoint.newPolygonQuery — bbox pushdown + an
    # unrolled crossing-number ray cast in the same scan stage; the
    # vertices sit at .05/.15/.25/.35 offsets off the corpus's
    # 0.1-degree lat/lon grid so no point lies on an edge, and the
    # oracle replays the literally identical float64 expression
    b6 = Q.Builder()
    b6.add(Q.MatchAllDocsQuery(), Q.Occur.MUST)
    b6.add(
        Q.LatLonPolygonQuery("lat", "lon", _GEO_POLY_VERTICES),
        Q.Occur.FILTER,
    )
    # "frange": Solr {!frange} — a ValueSource function of two docmeta
    # columns (mean token length = chars/tokens) range-tested per row
    # in the same codegen'd scan; float64 division is bit-identical
    # across engines, so the oracle replays the same ratio test
    b7 = Q.Builder()
    b7.add(Q.MatchAllDocsQuery(), Q.Occur.MUST)
    b7.add(
        Q.FunctionRangeQuery("div(n_chars, length)", 4.6, 5.0,
                             include_upper=False),
        Q.Occur.FILTER,
    )
    base = _variant_union(
        s, {"index": b1.build(), "dv": b2.build(), "multidim": b3.build(),
            "geo_box": b4.build(), "geo_dist": b5.build(),
            "geo_poly": b6.build(), "frange": b7.build()}
    )
    # "dv_update": IndexWriter.updateNumericDocValue — a dedicated
    # index copy gets TWO length updates for docs matching 'dup'
    # (5000 then 7000; latest generation must win), then the same
    # pushed-down range scan finds exactly those docs at the updated
    # value — no reindex, base docmeta untouched
    from lucene_solr_8_7_0_spark.operators.dvupdates import (
        read_dv_generation,
        update_numeric_docvalue,
    )

    key = _snapshot_key(sf_dir, "dvupd:v1")
    d = f"/tmp/lucene_ps_dvupd_{key}"
    if key not in _SEARCHERS:
        cfg = EngineConfig(analyzer="simple", segment_size=256,
                           index_positions=True)
        if not os.path.exists(os.path.join(d, "engine_config.json")):
            build_index(spark, _adapted(spark, sf_dir), d, cfg, resume=False)
        sd = IndexSearcher(spark, d)
        if read_dv_generation(d) < 1:
            update_numeric_docvalue(sd, "dup", "length", 5000.0)
        if read_dv_generation(d) < 2:
            update_numeric_docvalue(sd, "dup", "length", 7000.0)
        _SEARCHERS[key] = IndexSearcher(spark, d)
    sd = _SEARCHERS[key]
    b8 = Q.Builder()
    b8.add(Q.MatchAllDocsQuery(), Q.Occur.MUST)
    b8.add(Q.PointRangeQuery("length", 6500, 7500), Q.Occur.FILTER)
    dvu = _orig_ids(sd, sd.matches_df(b8.build())).select(
        F.lit("dv_update").alias("variant"), "doc_id"
    )
    return base.unionByName(dvu)


#: the geo_poly contract polygon — a simple pentagon over the synthetic
#: lat/lon grid; shared by the engine query and the SQL oracle so both
#: sides evaluate term-for-term identical float64 constants
_GEO_POLY_VERTICES = (
    (5.05, -20.15),
    (45.25, 0.05),
    (30.15, 50.35),
    (-10.05, 40.25),
    (-25.35, 5.15),
)


def _geo_poly_sql(lat: str = "lat", lon: str = "lon") -> str:
    """SQL predicate for point-in-_GEO_POLY_VERTICES — the SAME
    unrolled crossing-number expression IndexSearcher._dv_cond builds
    for LatLonPolygonQuery (bbox AND XOR-chain of per-edge crossing
    tests), with every derived constant precomputed in Python float64
    so DuckDB and Spark consume identical literals."""
    verts = _GEO_POLY_VERTICES
    lats = [v[0] for v in verts]
    lons = [v[1] for v in verts]
    box = (
        f"{lat} >= {min(lats)!r} AND {lat} <= {max(lats)!r} "
        f"AND {lon} >= {min(lons)!r} AND {lon} <= {max(lons)!r}"
    )
    n = len(verts)
    edges = []
    for i in range(n):
        yi, xi = (float(c) for c in verts[i])
        yj, xj = (float(c) for c in verts[(i + 1) % n])
        if yi == yj:
            continue  # horizontal edge never crosses the ray
        edges.append(
            f"(({yi!r} > {lat}) <> ({yj!r} > {lat}) AND "
            f"{lon} < {xj - xi!r} * ({lat} - {yi!r}) / {yj - yi!r}"
            f" + {xi!r})"
        )
    # XOR chain (odd crossings = inside), folded left with explicit
    # parens — DuckDB's grammar rejects a bare a <> b <> c chain
    inside = edges[0]
    for e in edges[1:]:
        inside = f"({inside} <> {e})"
    return f"({box}) AND ({inside})"


def _q_multi_phrase(spark, sf_dir):
    """MultiPhraseQuery, plain alternatives + multi-term repeat +
    PhraseWildcardQuery (sandbox): the "wildcard" variant's s* slot
    expands against the term dictionary (6 terms in this corpus, well
    under the 32 budget) before riding the same multi-phrase kernel."""
    s = _searcher(spark, sf_dir)
    return _variant_union(s, {
        "alt": Q.MultiPhraseQuery((("data", "big"), ("join",))),
        "rpt": Q.MultiPhraseQuery((("data", "join"), ("join",))),
        "wildcard": Q.PhraseWildcardQuery((Q.PrefixQuery("s"), "join")),
        # explicit slot positions: data <any one token> join
        # (PhraseQuery.Builder.add(term, position))
        "gapped": Q.PhraseQuery(("data", "join"), slot_positions=(0, 2)),
        # TermAutomatonQuery: big -> (join | table), rewritten to the
        # SHOULD union of its accepted path phrases
        "automaton": Q.TermAutomatonQuery(
            3, ((0, 1, "big"), (1, 2, "join"), (1, 2, "table")), (2,)
        ),
    })


def _q_suggest(spark, sf_dir):
    """Suggest module: prefix completion + DirectSpellChecker fuzzy
    "did you mean" + SpellCheckCollator verified collation, tagged."""
    from lucene_solr_8_7_0_spark.operators.suggest import (
        collate_spellcheck,
        suggest_fuzzy,
        suggest_infix,
        suggest_prefix,
        suggest_word_breaks,
        suggest_word_combinations,
    )

    s = _searcher(spark, sf_dir)
    pre = suggest_prefix(s, "s", k=10).select(
        F.lit("prefix").alias("variant"), "rank", "term", "df"
    )
    inf = suggest_infix(s, "or", k=10).select(
        F.lit("infix").alias("variant"), "rank", "term", "df"
    )
    fuz = suggest_fuzzy(s, "sta", k=10).select(
        F.lit("fuzzy").alias("variant"), "rank", "term", "df"
    )
    # "collate": 'vectr' is misspelled -> fuzzy candidates tried in
    # rank order, each verified by running the corrected conjunction;
    # hit counts ride the df column
    col = collate_spellcheck(
        s, ["vectr", "join"], k=5, max_collations=3, max_tries=10
    ).select(
        F.lit("collate").alias("variant"), "rank",
        F.col("collation").alias("term"), F.col("hits").alias("df"),
    )
    # "wordbreak"/"wordcombine": WordBreakSpellChecker — run-together
    # word split into two dictionary words / adjacent fragments whose
    # concatenation is a dictionary word (at least one fragment absent)
    brk = suggest_word_breaks(s, "datajoin", k=10).select(
        F.lit("wordbreak").alias("variant"), "rank", "term", "df"
    )
    cmb = suggest_word_combinations(s, ["dat", "a", "joi", "n"], k=10).select(
        F.lit("wordcombine").alias("variant"), "rank", "term", "df"
    )
    # "flt": FuzzyLikeThisQuery variant selection — per-term fuzzy
    # variants boosted 1 - ed/minlen, squared, times ClassicSimilarity
    # idf of the source term's df (or the integer-average variant df)
    from lucene_solr_8_7_0_spark.operators.fuzzylikethis import (
        fuzzy_like_this_terms,
    )

    flt_rows = [
        (i + 1, v, d)
        for i, (_src, v, d, _sc) in enumerate(
            fuzzy_like_this_terms(s, "vectr datq", max_num_terms=10)
        )
    ]
    flt = spark.createDataFrame(
        flt_rows, "rank int, term string, df bigint"
    ).select(F.lit("flt").alias("variant"), "rank", "term", "df")
    return (
        pre.unionByName(inf).unionByName(fuz).unionByName(col)
        .unionByName(brk).unionByName(cmb).unionByName(flt)
    )


def _q_tfidf_topk(spark, sf_dir):
    """Pluggable-Similarity ranking, tagged: "classic" =
    ClassicSimilarity TF-IDF (sqrt(tf) x (ln((N+1)/(df+1)) + 1) x
    1/sqrt(quantized_len)); "lmdirichlet" = LMDirichletSimilarity
    (mu=2000, collection model P=(ttf+1)/(sum_ttf+1), clamped at 0) —
    both per-query similarity overrides over the same BM25-built
    index."""
    s = _searcher(spark, sf_dir)
    q = Q.term_or(["data", "join"], 1)
    cl = _ranked_topk(spark, s, q, similarity="classic").select(
        F.lit("classic").alias("variant"), "rank", "doc_id"
    )
    lm = _ranked_topk(spark, s, q, similarity="lmdirichlet").select(
        F.lit("lmdirichlet").alias("variant"), "rank", "doc_id"
    )
    return cl.unionByName(lm)


def _q_boosted_by_field_topk(spark, sf_dir):
    """FunctionScoreQuery boost-by-field: BM25 x (0.5 x ln(1+length)),
    distributed TakeOrdered top-10."""
    from lucene_solr_8_7_0_spark.operators.functionscore import (
        function_score_topk,
    )

    s = _searcher(spark, sf_dir)
    q = Q.term_or(["data", "join"], 1)
    out = function_score_topk(
        s, q, "length", k=10, combine="multiply", weight=0.5,
    )
    func = _orig_ids(s, out).select(
        F.lit("func").alias("variant"), "rank", "doc_id", "fscore"
    )
    # expr: the SAME blend plus a ternary step, written in the
    # lucene/expressions Javascript dialect and compiled to one
    # whole-stage-codegen Column (plans/exprparser.py)
    from lucene_solr_8_7_0_spark.operators.functionscore import (
        expression_score_topk,
    )

    ex = expression_score_topk(
        s, q,
        "_score * (0.5 * ln(1 + length)) + (n_chars > 200 ? 0.1 : 0)",
        k=10,
    )
    expr = _orig_ids(s, ex).select(
        F.lit("expr").alias("variant"), "rank", "doc_id", "fscore"
    )
    return func.unionByName(expr)


def _q_facet_tags(spark, sf_dir):
    """Faceting over non-postings fields, tagged union:

    - flat: multi-valued (SORTED_SET) per-VALUE counts of the tags
      array over the hit set of a term query.
    - taxo_root / taxo_en / taxo_en_t1: hierarchical taxonomy counts
      (FastTaxonomyFacetCounts.getTopChildren) at the root, under
      ('en',), and under ('en','t1') of the leaf-path taxo field.
    - drill: DrillDownQuery — hit-set size restricted to docs under
      ('topic', 'k3').
    """
    from lucene_solr_8_7_0_spark.operators.facets import (
        facet_counts, taxonomy_counts, taxonomy_drilldown,
    )

    s = _searcher(spark, sf_dir)
    q = Q.TermQuery("data")
    flat = facet_counts(s, q, "tags").select(
        F.lit("flat").alias("variant"),
        F.col("tags").alias("label"), "count",
    )
    def taxo(tag, path):
        return taxonomy_counts(s, q, "taxo", path).select(
            F.lit(tag).alias("variant"),
            F.col("child").alias("label"), "count",
        )
    drill = taxonomy_drilldown(s, q, "taxo", ("topic", "k3")).agg(
        F.count("*").alias("count")
    ).select(
        F.lit("drill").alias("variant"),
        F.lit("topic/k3").alias("label"), "count",
    )
    # DrillSideways: per-dim sibling counts with that dim's filter
    # relaxed (facet/DrillSideways.java) — dims (en, t1) and (topic, k3)
    from lucene_solr_8_7_0_spark.operators.facets import drill_sideways

    sw = drill_sideways(
        s, q, "taxo", {"lang": ("en", "t1"), "topic": ("topic", "k3")}
    ).select(
        F.concat(F.lit("sideways_"), F.regexp_replace("dim", r"^\$", ""))
        .alias("variant"),
        "label", "count",
    )
    # association facets (TaxonomyFacetSumIntAssociations): per
    # category, the SUM of stored int association values over the hits
    from lucene_solr_8_7_0_spark.operators.facets import association_sums

    assoc = association_sums(s, q, "assoc").select(
        F.lit("assoc_sum").alias("variant"), "label",
        F.col("sum_val").alias("count"),
    )
    # dtype parity with the oracle: DuckDB's `sum(val)` in the assoc_sum
    # branch is HUGEINT, so the UNION ALL promotes the oracle's whole
    # `count` column, which reaches the comparison as float64 — the
    # engine's bigint column hashed differently (the one red driver row
    # in CORRECTNESS_r05).  The oracle text is frozen, so the engine
    # side casts to double: identical values, identical dtype.
    return (
        flat.unionByName(taxo("taxo_root", ()))
        .unionByName(taxo("taxo_en", ("en",)))
        .unionByName(taxo("taxo_en_t1", ("en", "t1")))
        .unionByName(drill)
        .unionByName(sw)
        .unionByName(assoc)
        .withColumn("count", F.col("count").cast("double"))
    )


def _q_intervals_topk(spark, sf_dir):
    """Minimal-interval family (queries/intervals), three tagged
    variants, each a top-10 by saturation score over the sloppy
    frequency of MINIMAL intervals:

    - ``maxgaps``: maxgaps(3, ordered(data, join)) — the oracle
      reconstructs the minimal 2-term ordered set (per distinct end,
      the largest start), filters gaps <= 3, freq = sum 1/(w - 1).
    - ``before``: Intervals.before(data, join) == containedBy(data,
      extend(PRECEDING(join), MAX, 0)) — a data position matches iff
      it lies strictly before the LAST join position; freq = count.
    - ``atleast``: Intervals.atLeast(2, data, join, table)
      (MinimumShouldMatchIntervalsSource) — the oracle enumerates all
      cross-term pair windows, minimalizes (no proper superset kept),
      freq = sum 1/max(w - 1, 1)."""
    from lucene_solr_8_7_0_spark.plans.queries import (
        IAtLeast,
        IMaxGaps,
        IOrdered,
        intervals_before,
    )

    s = _searcher(spark, sf_dir)
    variants = [
        ("maxgaps", Q.IntervalQuery(IMaxGaps(3, IOrdered(("data", "join"))))),
        ("before", Q.IntervalQuery(intervals_before("data", "join"))),
        ("atleast", Q.IntervalQuery(IAtLeast(2, ("data", "join", "table")))),
    ]
    out = None
    for tag, q in variants:
        df = _ranked_topk(spark, s, q).select(
            F.lit(tag).alias("variant"), "rank", "doc_id"
        )
        out = df if out is None else out.unionAll(df)
    return out


def _q_token_stats(spark, sf_dir):
    """Per-doc text-analysis pipeline row (the former token_stats +
    quality_stats rows merged, freeing a contract slot for
    field_stats): analyzer/whitespace/BPE-ish token counts + quality
    scoring + stopword ratio + content fingerprint, one row per doc."""
    tc = textstats.token_counts(_docs(spark, sf_dir))
    bpe = textstats.bpe_token_counts(_docs(spark, sf_dir))
    q = textstats.quality_stats(_docs(spark, sf_dir)).drop(
        "n_tokens", "n_unique_tokens"
    )
    sw = textstats.stopword_stats(
        _docs(spark, sf_dir), stopwords=["the", "a", "data", "fast"]
    ).select("doc_id", "stopword_hits")
    fp = textstats.content_fingerprint(_docs(spark, sf_dir))
    return (
        tc.join(bpe, "doc_id").join(q, "doc_id").join(sw, "doc_id")
        .join(fp, "doc_id")
    )


def _q_field_stats(spark, sf_dir):
    """Solr StatsComponent analog (StatsValuesFactory.java:436-606):
    numeric aggregates over n_chars for the 'data' hit set — count/
    missing/min/max/sum/sumOfSquares/mean/stddev (corrected sample
    form, :606) + exact median (the percentiles surface)."""
    from lucene_solr_8_7_0_spark.operators.components import field_stats

    s = _searcher(spark, sf_dir)
    return field_stats(s, Q.TermQuery("data"), "n_chars")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # EXACTLY 50 entries (the driver records correctness rows for the
    # first 50).  Families that had no driver row in round 3 come
    # first; long-stable redundant queries were folded into tagged
    # unions (span_family, multiterm_match, multi_phrase, range_filter,
    # suggest, token_stats) with UNION-ALL oracles.  Round 5 merged the
    # former quality_stats row into token_stats (one per-doc pipeline
    # row) to free the slot for field_stats (Solr StatsComponent); the
    # Solr component surfaces ride existing unions — collapse/expand in
    # group_topk, facet.pivot in facet_lang, TermsComponent in
    # term_freqs, cursorMark in sort_by_field.
    return {
        # -- never-driver-green in r3 + new r4 surfaces (priority) --
        "span_family": _q_span_family,
        "suggest": _q_suggest,
        "group_topk": _q_group_topk,
        "join_query": _q_join_query,
        "tfidf_topk": _q_tfidf_topk,
        "boosted_by_field_topk": _q_boosted_by_field_topk,
        "facet_tags": _q_facet_tags,
        "highlight_topk": _q_highlight_topk,
        "intervals_topk": _q_intervals_topk,
        "ann_cosine_topk": _q_ann_cosine_topk,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "ann_ivf_fullprobe": _q_ann_ivf_fullprobe,
        "queries_module_topk": _q_queries_module_topk,
        "analysis_chain": _q_analysis_chain,
        "minhash_near_dups": _q_minhash_near_dups,
        "simhash_near_dups": _q_simhash_near_dups,
        "lang_id": _q_lang_id,
        "media_stats": _q_media_stats,
        # -- driver-green in r3 (stable) --
        "token_stats": _q_token_stats,
        "term_freqs": _q_term_freqs,
        "std_bool_and": _q_std_bool_and,
        "bool_family": _q_bool_family,
        "classify": _q_classify,
        "freetext_suggest": _q_freetext_suggest,
        "phrase_slop": _q_phrase_slop,
        "range_filter": _q_range_filter,
        "lang_filter": _q_lang_filter,
        "parsed_query": _q_parsed_query,
        "deleted_match": _q_deleted_match,
        "merged_bool_and": _q_merged_bool_and,
        "streaming_bool_and": _q_streaming_bool_and,
        "multi_phrase": _q_multi_phrase,
        "multiterm_match": _q_multiterm_match,
        "sort_by_field": _q_sort_by_field,
        "facet_lang": _q_facet_lang,
        "bm25_topk": _q_bm25_topk,
        "bm25_and_topk": _q_bm25_and_topk,
        "parsed_synonym_topk": _q_parsed_synonym_topk,
        "dismax_topk": _q_dismax_topk,
        "phrase_topk": _q_phrase_topk,
        "bm25_msm2_topk": _q_bm25_msm2_topk,
        "boost_topk": _q_boost_topk,
        "ngram_jaccard": _q_ngram_jaccard,
        "dedup_exact": _q_dedup_exact,
        "field_stats": _q_field_stats,
        "winnow_fingerprint": _q_winnow_fingerprint,
        "mlt_terms": _q_mlt_terms,
        "term_vector": _q_term_vector,
        "check_index": _q_check_index,
    }


# ---------------------------------------------------------------- oracles

_TOKS = (
    "SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok "
    "FROM documents"
)

# BM25 with Lucene's norm quantization, in SQL:
#   quantized_len = byte4ToInt(intToByte4(len)): exact below 40, else
#   keep the top 4 bits of (len - 24) and add 24 back.
_BM25_CTE = f"""
WITH toks AS ({_TOKS}),
lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
cs AS (SELECT count(*) AS doc_count, sum(len) AS sum_ttf FROM lens),
quant AS (
  SELECT doc_id, len,
    CASE WHEN len < 40 THEN len
         ELSE 24 + (((len - 24) >> (CAST(floor(log2(len - 24)) AS INT) - 3))
                     << (CAST(floor(log2(len - 24)) AS INT) - 3))
    END AS dlen
  FROM lens),
tf AS (SELECT doc_id, tok, count(*) AS freq FROM toks
       WHERE tok IN ({{terms}}) GROUP BY doc_id, tok),
df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1 + (cs.doc_count - df.df + 0.5) / (df.df + 0.5))
             * (1 - 1 / (1 + tf.freq * (1 / (1.2 * (0.25 + 0.75 * q.dlen
                 / (cs.sum_ttf / CAST(cs.doc_count AS DOUBLE)))))))) AS score,
         count(*) AS n_match
  FROM tf JOIN df USING (tok) JOIN quant q ON tf.doc_id = q.doc_id CROSS JOIN cs
  GROUP BY tf.doc_id)
"""


# per-(doc, term) BM25 scores (same quantized-norm model as _BM25_CTE)
# for oracles that combine per-term scores non-additively (DisMax)
_BM25_PER_TERM_CTE = f"""
WITH toks AS ({_TOKS}),
lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
cs AS (SELECT count(*) AS doc_count, sum(len) AS sum_ttf FROM lens),
quant AS (
  SELECT doc_id, len,
    CASE WHEN len < 40 THEN len
         ELSE 24 + (((len - 24) >> (CAST(floor(log2(len - 24)) AS INT) - 3))
                     << (CAST(floor(log2(len - 24)) AS INT) - 3))
    END AS dlen
  FROM lens),
tf AS (SELECT doc_id, tok, count(*) AS freq FROM toks
       WHERE tok IN ({{terms}}) GROUP BY doc_id, tok),
df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
scored_t AS (
  SELECT tf.doc_id, tf.tok,
         ln(1 + (cs.doc_count - df.df + 0.5) / (df.df + 0.5))
         * (1 - 1 / (1 + tf.freq * (1 / (1.2 * (0.25 + 0.75 * q.dlen
             / (cs.sum_ttf / CAST(cs.doc_count AS DOUBLE))))))) AS s
  FROM tf JOIN df USING (tok) JOIN quant q ON tf.doc_id = q.doc_id CROSS JOIN cs)
"""


def oracle_sql() -> dict[str, str]:
    return {
        "intervals_topk": """
            WITH pos AS (
              SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok,
                     generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9_]+'), 1) AS p
              FROM documents),
            cand AS (
              SELECT a.doc_id, a.p AS s, min(b.p) AS e
              FROM pos a JOIN pos b
                ON b.doc_id = a.doc_id AND b.tok = 'join' AND b.p > a.p
              WHERE a.tok = 'data'
              GROUP BY a.doc_id, a.p),
            mini AS (
              SELECT doc_id, max(s) AS s, e FROM cand GROUP BY doc_id, e),
            kept AS (
              SELECT doc_id, s, e FROM mini WHERE (e - s + 1) - 2 <= 3),
            mg_scored AS (
              SELECT doc_id,
                     1.0 - 1.0 / (1.0 + sum(1.0 / greatest((e - s + 1) - 2 + 1, 1))) AS score
              FROM kept GROUP BY doc_id),
            jmax AS (
              SELECT doc_id, max(p) AS mx FROM pos WHERE tok = 'join'
              GROUP BY doc_id),
            bf_scored AS (
              SELECT a.doc_id, 1.0 - 1.0 / (1.0 + count(*)) AS score
              FROM pos a JOIN jmax USING (doc_id)
              WHERE a.tok = 'data' AND a.p < mx
              GROUP BY a.doc_id),
            pcand AS (
              SELECT DISTINCT a.doc_id, least(a.p, b.p) AS s,
                     greatest(a.p, b.p) AS e
              FROM pos a JOIN pos b
                ON b.doc_id = a.doc_id AND a.tok < b.tok
              WHERE a.tok IN ('data', 'join', 'table')
                AND b.tok IN ('data', 'join', 'table')),
            pmini AS (
              SELECT doc_id, s, e FROM pcand c
              WHERE NOT EXISTS (
                SELECT 1 FROM pcand c2
                WHERE c2.doc_id = c.doc_id AND c2.s >= c.s AND c2.e <= c.e
                  AND (c2.s > c.s OR c2.e < c.e))),
            al_scored AS (
              SELECT doc_id,
                     1.0 - 1.0 / (1.0 + sum(1.0 / greatest((e - s + 1) - 1, 1))) AS score
              FROM pmini GROUP BY doc_id)
            SELECT 'maxgaps' AS variant, rank, doc_id FROM (
              SELECT CAST(row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS INT) AS rank,
                     doc_id
              FROM mg_scored ORDER BY round(score, 4) DESC, doc_id LIMIT 10)
            UNION ALL
            SELECT 'before', rank, doc_id FROM (
              SELECT CAST(row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS INT) AS rank,
                     doc_id
              FROM bf_scored ORDER BY round(score, 4) DESC, doc_id LIMIT 10)
            UNION ALL
            SELECT 'atleast', rank, doc_id FROM (
              SELECT CAST(row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS INT) AS rank,
                     doc_id
              FROM al_scored ORDER BY round(score, 4) DESC, doc_id LIMIT 10)""",
        "span_family": """WITH pos AS (
              SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok,
                     generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9_]+'), 1) AS p
              FROM documents)
            SELECT 'ordered' AS variant, doc_id FROM (
              SELECT DISTINCT a.doc_id FROM pos a JOIN pos b USING (doc_id)
              WHERE a.tok = 'data' AND b.tok = 'join'
                AND b.p > a.p AND b.p - a.p - 1 <= 3)
            UNION ALL
            SELECT 'unordered', doc_id FROM (
              SELECT DISTINCT a.doc_id FROM pos a JOIN pos b USING (doc_id)
              WHERE a.tok = 'data' AND b.tok = 'join'
                AND abs(b.p - a.p) - 1 <= 3)
            UNION ALL
            SELECT 'k3', doc_id FROM (
              SELECT DISTINCT a.doc_id
              FROM pos a JOIN pos b USING (doc_id) JOIN pos c USING (doc_id)
              WHERE a.tok = 'data' AND b.tok = 'join' AND c.tok = 'table'
                AND b.p > a.p AND c.p > b.p AND c.p - a.p - 2 <= 6)
            UNION ALL
            SELECT 'or_in_near', doc_id FROM (
              SELECT DISTINCT a.doc_id FROM pos a JOIN pos b USING (doc_id)
              WHERE a.tok IN ('data', 'big') AND b.tok = 'join'
                AND b.p > a.p AND b.p - a.p - 1 <= 2)
            UNION ALL
            SELECT 'not_in_near', doc_id FROM (
              SELECT DISTINCT i.doc_id FROM (
                SELECT doc_id, p FROM pos
                WHERE tok = 'data' AND NOT EXISTS (
                  SELECT 1 FROM pos e
                  WHERE e.doc_id = pos.doc_id AND e.tok = 'big'
                    AND e.p BETWEEN pos.p - 2 AND pos.p + 2)) i
              JOIN pos b ON b.doc_id = i.doc_id
              WHERE b.tok = 'join' AND b.p > i.p AND b.p - i.p - 1 <= 3)
            UNION ALL
            -- containing: big spans (data..join, slop 5) inside the
            -- first 40 positions (p is 1-based here; engine range
            -- [0,40) == p in [1,40]) that cover a 'table' occurrence
            SELECT 'containing', doc_id FROM (
              SELECT DISTINCT a.doc_id
              FROM pos a JOIN pos b USING (doc_id) JOIN pos c USING (doc_id)
              WHERE a.tok = 'data' AND b.tok = 'join' AND c.tok = 'table'
                AND b.p > a.p AND b.p - a.p - 1 <= 5
                AND b.p <= 40
                AND c.p BETWEEN a.p AND b.p)
            UNION ALL
            -- within: 'table' occurrences in the first 40 positions
            -- covered by ANY valid big span (big may extend past 40)
            SELECT 'within', doc_id FROM (
              SELECT DISTINCT a.doc_id
              FROM pos a JOIN pos b USING (doc_id) JOIN pos c USING (doc_id)
              WHERE a.tok = 'data' AND b.tok = 'join' AND c.tok = 'table'
                AND b.p > a.p AND b.p - a.p - 1 <= 5
                AND c.p <= 40
                AND c.p BETWEEN a.p AND b.p)""",
        "suggest": f"""
            WITH td AS (SELECT tok AS term, count(DISTINCT doc_id) AS df
                        FROM ({_TOKS}) GROUP BY tok)
            SELECT 'prefix' AS variant, rank, term, df FROM (
              SELECT CAST(row_number() OVER (ORDER BY df DESC, term) AS INT) AS rank,
                     term, df
              FROM td WHERE term LIKE 's%'
              ORDER BY df DESC, term LIMIT 10)
            UNION ALL
            SELECT 'infix', rank, term, df FROM (
              SELECT CAST(row_number() OVER (ORDER BY df DESC, term) AS INT) AS rank,
                     term, df
              FROM td WHERE term LIKE '%or%'
              ORDER BY df DESC, term LIMIT 10)
            UNION ALL
            SELECT 'fuzzy', rank, term, df FROM (
              SELECT CAST(row_number() OVER (ORDER BY levenshtein(term, 'sta'), df DESC, term) AS INT) AS rank,
                     term, df
              FROM td
              WHERE term != 'sta' AND levenshtein(term, 'sta') <= 2
              ORDER BY levenshtein(term, 'sta'), df DESC, term LIMIT 10)
            UNION ALL
            SELECT 'collate', rank, term, df FROM (
              SELECT CAST(row_number() OVER (ORDER BY r) AS INT) AS rank,
                     term || ' join' AS term, hits AS df
              FROM (
                SELECT c.r, c.term,
                       (SELECT count(DISTINCT a.doc_id) FROM ({_TOKS}) a
                        WHERE a.tok = c.term AND a.doc_id IN
                          (SELECT doc_id FROM ({_TOKS}) WHERE tok = 'join')
                       ) AS hits
                FROM (
                  SELECT term,
                         CAST(row_number() OVER (ORDER BY levenshtein(term, 'vectr'), df DESC, term) AS INT) AS r
                  FROM td
                  WHERE term != 'vectr' AND levenshtein(term, 'vectr') <= 2
                  ORDER BY r LIMIT 5) c)
              WHERE hits > 0 ORDER BY r LIMIT 3)
            UNION ALL
            SELECT 'wordbreak', rank, term, df FROM (
              SELECT CAST(row_number() OVER (
                       ORDER BY greatest(a.df, b.df) DESC, length(a.term)
                     ) AS INT) AS rank,
                     a.term || ' ' || b.term AS term,
                     greatest(a.df, b.df) AS df
              FROM td a JOIN td b
                ON substr('datajoin', 1, length(a.term)) = a.term
               AND b.term = substr('datajoin', length(a.term) + 1)
              WHERE length(a.term) < 8
                AND NOT EXISTS (SELECT 1 FROM td w WHERE w.term = 'datajoin')
              ORDER BY greatest(a.df, b.df) DESC, length(a.term) LIMIT 10)
            UNION ALL
            SELECT 'wordcombine', rank, term, df FROM (
              SELECT CAST(row_number() OVER (ORDER BY td.df DESC, p.pos) AS INT) AS rank,
                     p.combined AS term, td.df
              FROM (VALUES (0, 'dat', 'a', 'data'), (1, 'a', 'joi', 'ajoi'),
                           (2, 'joi', 'n', 'join')) AS p(pos, l, r, combined)
              JOIN td ON td.term = p.combined
              WHERE coalesce((SELECT df FROM td x WHERE x.term = p.l), 0) = 0
                 OR coalesce((SELECT df FROM td y WHERE y.term = p.r), 0) = 0
              ORDER BY td.df DESC, p.pos LIMIT 10)
            UNION ALL
            SELECT 'flt', rank, term, df FROM (
              WITH nd AS (SELECT count(*) AS n FROM documents),
              vars AS (
                SELECT s.src, t.term AS v, t.df,
                       CASE WHEN t.term = s.src THEN 1.0
                            ELSE 1.0 - levenshtein(t.term, s.src)
                                 / CAST(least(length(t.term), length(s.src)) AS DOUBLE)
                       END AS boost
                FROM (SELECT unnest(['vectr', 'datq']) AS src) s
                JOIN td t ON abs(length(t.term) - length(s.src)) <= 2
                         AND levenshtein(t.term, s.src) <= 2),
              dfs AS (
                SELECT src,
                       coalesce(max(CASE WHEN v = src THEN df END),
                                CAST(floor(sum(df) / count(*)) AS BIGINT)) AS df_src
                FROM vars GROUP BY src),
              scored AS (
                SELECT vars.v, vars.df,
                       round(boost * boost
                             * (ln((nd.n + 1.0) / (dfs.df_src + 1.0)) + 1.0),
                             6) AS score
                FROM vars JOIN dfs USING (src) CROSS JOIN nd)
              SELECT CAST(row_number() OVER (ORDER BY score DESC, v) AS INT) AS rank,
                     v AS term, df
              FROM scored ORDER BY score DESC, v LIMIT 10)""",
        "tfidf_topk": f"""
            WITH toks AS ({_TOKS}),
            lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
            cs AS (SELECT count(*) AS doc_count, sum(len) AS sum_ttf FROM lens),
            quant AS (
              SELECT doc_id, len,
                CASE WHEN len < 40 THEN len
                     ELSE 24 + (((len - 24) >> (CAST(floor(log2(len - 24)) AS INT) - 3))
                                 << (CAST(floor(log2(len - 24)) AS INT) - 3))
                END AS dlen
              FROM lens),
            tf AS (SELECT doc_id, tok, count(*) AS freq FROM toks
                   WHERE tok IN ('data','join') GROUP BY doc_id, tok),
            df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks
                   WHERE tok IN ('data','join') GROUP BY tok),
            ttf AS (SELECT tok, count(*) AS ttf FROM toks
                    WHERE tok IN ('data','join') GROUP BY tok),
            cls AS (
              SELECT tf.doc_id,
                     sum(sqrt(tf.freq)
                         * (ln((cs.doc_count + 1.0) / (df.df + 1.0)) + 1.0)
                         * (1.0 / sqrt(q.dlen))) AS score
              FROM tf JOIN df USING (tok) JOIN quant q ON tf.doc_id = q.doc_id
                   CROSS JOIN cs
              GROUP BY tf.doc_id),
            lm AS (
              SELECT tf.doc_id,
                     sum(greatest(0.0,
                         ln(1 + tf.freq / (2000.0 * ((ttf.ttf + 1.0) / (cs.sum_ttf + 1.0))))
                         + ln(2000.0 / (q.dlen + 2000.0)))) AS score
              FROM tf JOIN ttf USING (tok) JOIN quant q ON tf.doc_id = q.doc_id
                   CROSS JOIN cs
              GROUP BY tf.doc_id)
            SELECT 'classic' AS variant, rank, doc_id FROM (
              SELECT CAST(row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS INT) AS rank,
                     doc_id
              FROM cls ORDER BY round(score, 4) DESC, doc_id LIMIT 10)
            UNION ALL
            SELECT 'lmdirichlet', rank, doc_id FROM (
              SELECT CAST(row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS INT) AS rank,
                     doc_id
              FROM lm ORDER BY round(score, 4) DESC, doc_id LIMIT 10)""",
        "boosted_by_field_topk": _BM25_CTE.format(terms="'data','join'")
        + """,
            exact AS (SELECT doc_id, count(*) AS elen FROM toks GROUP BY doc_id),
            blended AS (
              SELECT s.doc_id,
                     round(s.score * (0.5 * ln(1 + x.elen)), 4) AS fscore
              FROM scored s JOIN exact x USING (doc_id)),
            eblend AS (
              -- the lucene/expressions variant: same blend + ternary
              SELECT s.doc_id,
                     round(s.score * (0.5 * ln(1 + x.elen))
                           + (CASE WHEN length(d.text) > 200
                                   THEN 0.1 ELSE 0 END), 4) AS fscore
              FROM scored s JOIN exact x USING (doc_id)
              JOIN documents d USING (doc_id))
            SELECT 'func' AS variant, rank, doc_id, fscore FROM (
              SELECT CAST(row_number() OVER (ORDER BY fscore DESC, doc_id) AS INT) AS rank,
                     doc_id, fscore
              FROM blended ORDER BY fscore DESC, doc_id LIMIT 10)
            UNION ALL
            SELECT 'expr', rank, doc_id, fscore FROM (
              SELECT CAST(row_number() OVER (ORDER BY fscore DESC, doc_id) AS INT) AS rank,
                     doc_id, fscore
              FROM eblend ORDER BY fscore DESC, doc_id LIMIT 10)""",
        "facet_tags": f"""
            WITH hits AS (SELECT DISTINCT doc_id FROM ({_TOKS}) WHERE tok = 'data'),
            vals AS (
              SELECT doc_id, 't' || CAST(doc_id % 3 AS VARCHAR) AS tag FROM hits
              UNION ALL
              SELECT doc_id, 'u' || CAST(doc_id % 5 AS VARCHAR) AS tag FROM hits),
            paths AS (
              SELECT h.doc_id, d.lang || '/t' || CAST(h.doc_id % 3 AS VARCHAR)
                     || '/u' || CAST(h.doc_id % 5 AS VARCHAR) AS p
              FROM hits h JOIN documents d USING (doc_id)
              UNION ALL
              SELECT doc_id, 'topic/k' || CAST(doc_id % 7 AS VARCHAR) FROM hits)
            SELECT 'flat' AS variant, tag AS label, count(*) AS count
            FROM vals GROUP BY tag
            UNION ALL
            SELECT 'taxo_root', c, count(*)
            FROM (SELECT DISTINCT doc_id, string_split(p, '/')[1] AS c
                  FROM paths) t
            GROUP BY c
            UNION ALL
            SELECT 'taxo_en', c, count(*)
            FROM (SELECT DISTINCT doc_id, string_split(p, '/')[2] AS c FROM paths
                  WHERE string_split(p, '/')[1] = 'en'
                    AND len(string_split(p, '/')) > 1) t
            GROUP BY c
            UNION ALL
            SELECT 'taxo_en_t1', c, count(*)
            FROM (SELECT DISTINCT doc_id, string_split(p, '/')[3] AS c FROM paths
                  WHERE string_split(p, '/')[1] = 'en'
                    AND string_split(p, '/')[2] = 't1'
                    AND len(string_split(p, '/')) > 2) t
            GROUP BY c
            UNION ALL
            SELECT 'drill', 'topic/k3', count(*)
            FROM hits WHERE doc_id % 7 = 3
            UNION ALL
            -- DrillSideways: dim 'lang' drilled to (en, t1), dim
            -- 'topic' drilled to (topic, k3); each dim counts with the
            -- OTHER dim's filter applied (near-miss set); labels are
            -- the drilled path's siblings (children of its parent)
            SELECT 'sideways_lang', 't' || CAST(h.doc_id % 3 AS VARCHAR),
                   count(*)
            FROM hits h JOIN documents d USING (doc_id)
            WHERE h.doc_id % 7 = 3 AND d.lang = 'en'
            GROUP BY h.doc_id % 3
            UNION ALL
            SELECT 'sideways_topic', 'k' || CAST(h.doc_id % 7 AS VARCHAR),
                   count(*)
            FROM hits h JOIN documents d USING (doc_id)
            WHERE d.lang = 'en' AND h.doc_id % 3 = 1
            GROUP BY h.doc_id % 7
            UNION ALL
            SELECT 'sideways_hits', '$total', count(*)
            FROM hits h JOIN documents d USING (doc_id)
            WHERE d.lang = 'en' AND h.doc_id % 3 = 1 AND h.doc_id % 7 = 3
            UNION ALL
            SELECT 'assoc_sum', cat, sum(val) FROM (
              SELECT 't' || CAST(doc_id % 3 AS VARCHAR) AS cat,
                     doc_id % 7 + 1 AS val FROM hits
              UNION ALL
              SELECT 'u' || CAST(doc_id % 5 AS VARCHAR),
                     doc_id % 11 + 1 FROM hits)
            GROUP BY cat""",
        "highlight_topk": _BM25_CTE.format(terms="'data','join'")
        + """,
            top10 AS (
              SELECT CAST(row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS INT) AS rank,
                     doc_id
              FROM scored ORDER BY round(score, 4) DESC, doc_id LIMIT 10),
            tl AS (SELECT d.doc_id, d.text,
                          regexp_extract_all(lower(d.text), '[a-z0-9_]+') AS toks,
                          regexp_split_to_array(lower(d.text), '[a-z0-9_]+') AS seps
                   FROM documents d JOIN top10 USING (doc_id)),
            tok AS (SELECT doc_id, i, toks[i] AS tok,
                           length(toks[i]) AS tlen, length(seps[i]) AS slen
                    FROM tl, unnest(generate_series(1, len(toks))) AS g(i)),
            offs AS (SELECT doc_id, i, tok,
                            CAST(sum(slen + tlen) OVER (PARTITION BY doc_id ORDER BY i) - tlen AS BIGINT) AS strt,
                            CAST(sum(slen + tlen) OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) AS e
                     FROM tok),
            hitsp AS (SELECT doc_id, tok, i - 1 AS p FROM offs
                      WHERE tok IN ('data','join')),
            cand AS (SELECT DISTINCT h.doc_id, greatest(h.p - t.off, 0) AS c
                     FROM hitsp h, (SELECT unnest(generate_series(0, 7)) AS off) t),
            sc AS (SELECT c.doc_id, c.c, count(*) AS m, count(DISTINCT h.tok) AS d
                   FROM cand c JOIN hitsp h
                     ON h.doc_id = c.doc_id AND h.p >= c.c AND h.p < c.c + 8
                   GROUP BY 1, 2),
            best AS (SELECT doc_id, c, m, d,
                            row_number() OVER (PARTITION BY doc_id
                                ORDER BY d DESC, m DESC, c ASC) AS rn
                     FROM sc),
            win AS (SELECT o.doc_id, o.i, o.tok, o.strt, o.e,
                           lag(o.e) OVER (PARTITION BY o.doc_id ORDER BY o.i) AS prev_e
                    FROM offs o JOIN best b
                      ON b.doc_id = o.doc_id AND b.rn = 1
                    WHERE o.i - 1 >= b.c AND o.i - 1 < b.c + 8),
            snip AS (SELECT w.doc_id,
                            string_agg(
                              CASE WHEN w.prev_e IS NULL THEN ''
                                   ELSE substr(t.text, CAST(w.prev_e + 1 AS INT),
                                               CAST(w.strt - w.prev_e AS INT)) END
                              || CASE WHEN w.tok IN ('data','join')
                                      THEN '<b>' || substr(t.text, CAST(w.strt + 1 AS INT),
                                                           CAST(w.e - w.strt AS INT)) || '</b>'
                                      ELSE substr(t.text, CAST(w.strt + 1 AS INT),
                                                  CAST(w.e - w.strt AS INT)) END,
                              '' ORDER BY w.i) AS snippet
                     FROM win w JOIN tl t USING (doc_id) GROUP BY w.doc_id)
            SELECT t10.rank, t10.doc_id,
                   CAST(b.m AS INT) AS n_matches,
                   CAST(b.d AS INT) AS n_distinct,
                   CAST(b.c AS INT) AS window_start,
                   s.snippet
            FROM top10 t10
            JOIN best b ON b.doc_id = t10.doc_id AND b.rn = 1
            JOIN snip s ON s.doc_id = t10.doc_id
            ORDER BY t10.rank""",
        "token_stats": f"""
            SELECT d.doc_id,
                   CAST(coalesce(t.n, 0) AS INT) AS n_tokens,
                   CAST(coalesce(t.u, 0) AS INT) AS n_unique_tokens,
                   CAST(length(list_filter(regexp_split_to_array(d.text, '\s+'),
                        x -> x != '')) AS INT) AS n_ws_tokens,
                   CAST(length(regexp_extract_all(lower(d.text),
                        '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9]+|\s+')) AS INT)
                        AS n_bpe_tokens,
                   CAST(length(d.text) AS INT) AS n_chars,
                   CAST(length(d.text) - length(replace(d.text, chr(10), '')) + 1 AS INT) AS n_lines,
                   CAST(length(regexp_replace(d.text, '[^A-Za-z]', '', 'g')) AS INT) AS n_alpha,
                   CAST(length(regexp_replace(d.text, '[^0-9]', '', 'g')) AS INT) AS n_digit,
                   CAST(length(regexp_replace(d.text, '[^ \t]', '', 'g')) AS INT) AS n_space,
                   CAST(coalesce(list_max(list_transform(string_split(d.text, chr(10)), l -> length(l))), 0) AS INT) AS max_line_len,
                   CAST(coalesce(s.h, 0) AS INT) AS stopword_hits,
                   md5(array_to_string(list_sort(list_distinct(
                       regexp_extract_all(lower(d.text), '[a-z0-9_]+'))), ' ')) AS fingerprint
            FROM documents d LEFT JOIN (
              SELECT doc_id, count(*) AS n, count(DISTINCT tok) AS u
              FROM ({_TOKS}) GROUP BY doc_id) t USING (doc_id)
            LEFT JOIN (
              SELECT doc_id,
                     sum(CASE WHEN tok IN ('the','a','data','fast') THEN 1 ELSE 0 END) AS h
              FROM ({_TOKS}) GROUP BY doc_id) s USING (doc_id)""",
        "multiterm_match": f"""
            WITH toks AS ({_TOKS})
            SELECT 'prefix' AS variant, doc_id FROM (
              SELECT DISTINCT doc_id FROM toks WHERE tok LIKE 'va%')
            UNION ALL
            SELECT 'wildcard', doc_id FROM (
              SELECT DISTINCT doc_id FROM toks
              WHERE regexp_matches(tok, '^.*or.*$'))
            UNION ALL
            SELECT 'regexp', doc_id FROM (
              SELECT DISTINCT doc_id FROM toks
              WHERE regexp_matches(tok, '^(?:(sc|st|sp)[a-z]+)$'))
            UNION ALL
            SELECT 'fuzzy', doc_id FROM (
              SELECT DISTINCT doc_id FROM toks
              WHERE levenshtein(tok, 'spark') <= 2)
            UNION ALL
            SELECT 'term_range', doc_id FROM (
              SELECT DISTINCT doc_id FROM toks
              WHERE tok BETWEEN 'data' AND 'dz')
            UNION ALL
            SELECT 'term_set', doc_id FROM (
              SELECT DISTINCT doc_id FROM toks
              WHERE tok IN ('data', 'join', 'vector'))""",
        "range_filter": f"""
            WITH toks AS ({_TOKS})
            SELECT 'index' AS variant, doc_id FROM (
              SELECT doc_id FROM toks GROUP BY doc_id
              HAVING sum(CASE WHEN tok = 'data' THEN 1 ELSE 0 END) > 0
                 AND count(*) BETWEEN 60 AND 120)
            UNION ALL
            SELECT 'dv', doc_id FROM (
              SELECT doc_id FROM toks GROUP BY doc_id
              HAVING sum(CASE WHEN tok = 'vector' THEN 1 ELSE 0 END) > 0
                 AND count(*) >= 20)
            UNION ALL
            -- dv_update: after length := 5000 then := 7000 for docs
            -- with 'dup', range [6500, 7500] selects exactly those
            -- docs (latest generation wins; organic lengths are far
            -- below the window)
            SELECT 'dv_update', doc_id FROM (
              SELECT doc_id FROM toks GROUP BY doc_id
              HAVING sum(CASE WHEN tok = 'dup' THEN 1 ELSE 0 END) > 0)
            UNION ALL
            SELECT 'multidim', t.doc_id FROM (
              SELECT doc_id FROM toks GROUP BY doc_id
              HAVING sum(CASE WHEN tok = 'data' THEN 1 ELSE 0 END) > 0
                 AND count(*) BETWEEN 60 AND 120) t
            JOIN documents d ON d.doc_id = t.doc_id
            WHERE length(d.text) BETWEEN 350 AND 450
            UNION ALL
            SELECT 'geo_box', doc_id FROM (
              SELECT doc_id,
                     (doc_id * 37 % 1800) / 10.0 - 90.0 AS lat,
                     (doc_id * 73 % 3600) / 10.0 - 180.0 AS lon
              FROM documents)
            WHERE lat BETWEEN -30.0 AND 40.0 AND lon BETWEEN -10.0 AND 60.0
            UNION ALL
            SELECT 'geo_dist', doc_id FROM (
              SELECT doc_id,
                     (doc_id * 37 % 1800) / 10.0 - 90.0 AS lat,
                     (doc_id * 73 % 3600) / 10.0 - 180.0 AS lon
              FROM documents)
            WHERE 2.0 * 6371008.7714 * asin(sqrt(
                    pow(sin(radians(lat - 10.0) / 2), 2)
                    + cos(radians(10.0)) * cos(radians(lat))
                      * pow(sin(radians(lon - 20.0) / 2), 2)
                  )) <= 2030000.0
            UNION ALL
            SELECT 'geo_poly', doc_id FROM (
              SELECT doc_id,
                     (doc_id * 37 % 1800) / 10.0 - 90.0 AS lat,
                     (doc_id * 73 % 3600) / 10.0 - 180.0 AS lon
              FROM documents)
            WHERE {_geo_poly_sql("lat", "lon")}
            UNION ALL
            SELECT 'frange', doc_id FROM (
              SELECT d.doc_id,
                     CAST(length(d.text) AS DOUBLE)
                       / CAST(t.len AS DOUBLE) AS ratio
              FROM documents d
              JOIN (SELECT doc_id, count(*) AS len FROM ({_TOKS})
                    GROUP BY doc_id) t USING (doc_id))
            WHERE ratio >= 4.6 AND ratio < 5.0""",
        "multi_phrase": r"""
            SELECT 'alt' AS variant, doc_id FROM documents
            WHERE regexp_matches(lower(text),
                  '(^|[^a-z0-9_])(data|big)[^a-z0-9_]+join($|[^a-z0-9_])')
            UNION ALL
            SELECT 'rpt', doc_id FROM documents
            WHERE regexp_matches(lower(text),
                  '(^|[^a-z0-9_])(data|join)[^a-z0-9_]+join($|[^a-z0-9_])')
            UNION ALL
            SELECT 'wildcard', doc_id FROM documents
            WHERE regexp_matches(lower(text),
                  '(^|[^a-z0-9_])s[a-z0-9_]*[^a-z0-9_]+join($|[^a-z0-9_])')
            UNION ALL
            SELECT 'gapped', doc_id FROM documents
            WHERE regexp_matches(lower(text),
                  '(^|[^a-z0-9_])data[^a-z0-9_]+[a-z0-9_]+[^a-z0-9_]+join($|[^a-z0-9_])')
            UNION ALL
            SELECT 'automaton', doc_id FROM documents
            WHERE regexp_matches(lower(text),
                  '(^|[^a-z0-9_])big[^a-z0-9_]+(join|table)($|[^a-z0-9_])')""",
        "field_stats": f"""
            WITH hits AS (SELECT DISTINCT doc_id FROM ({_TOKS})
                          WHERE tok = 'data'),
            x AS (SELECT CAST(length(d.text) AS DOUBLE) AS v
                  FROM documents d JOIN hits USING (doc_id))
            SELECT CAST(count(*) AS BIGINT) AS count,
                   CAST(0 AS BIGINT) AS missing,
                   min(v) AS min, max(v) AS max,
                   sum(v) AS sum, sum(v * v) AS sum_sq,
                   round(sum(v) / count(*), 6) AS mean,
                   round(sqrt((count(*) * sum(v * v) - sum(v) * sum(v))
                         / (count(*) * (count(*) - 1.0))), 6) AS stddev,
                   round(quantile_cont(v, 0.5), 6) AS median
            FROM x""",
        "term_freqs": f"""
            SELECT 'tf' AS variant, doc_id, tok AS term,
                   CAST(count(*) AS BIGINT) AS v1, CAST(NULL AS BIGINT) AS v2
            FROM ({_TOKS}) GROUP BY doc_id, tok HAVING count(*) >= 2
            UNION ALL
            SELECT 'df', CAST(NULL AS BIGINT), tok,
                   count(DISTINCT doc_id), CAST(count(*) AS BIGINT)
            FROM ({_TOKS}) GROUP BY tok
            UNION ALL
            SELECT 'terms_comp', CAST(NULL AS BIGINT), term, v1, v2
            FROM (
              SELECT tok AS term,
                     CAST(count(DISTINCT doc_id) AS BIGINT) AS v1,
                     CAST(count(*) AS BIGINT) AS v2
              FROM ({_TOKS}) WHERE tok LIKE 're%' GROUP BY tok
              ORDER BY v1 DESC, term ASC LIMIT 15)
            UNION ALL
            SELECT 'significant', CAST(NULL AS BIGINT), term, tf, df
            FROM (
              SELECT f.term, f.tf, g.df,
                     ln(f.tf) * (ln((nd.n + 1.0) / (g.df + 1.0)) + 1.0) AS score
              FROM (
                SELECT tok AS term,
                       CAST(count(DISTINCT doc_id) AS BIGINT) AS tf
                FROM ({_TOKS})
                WHERE doc_id IN (SELECT DISTINCT doc_id FROM ({_TOKS})
                                 WHERE tok = 'vector')
                GROUP BY tok) f
              JOIN (
                SELECT tok AS term,
                       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                FROM ({_TOKS}) GROUP BY tok) g USING (term)
              CROSS JOIN (SELECT count(*) AS n FROM documents) nd
              WHERE g.df >= 5 AND length(f.term) >= 3
              ORDER BY round(score, 6) DESC, term LIMIT 20)""",
        "std_bool_and": f"""
            SELECT 'and' AS variant, doc_id, CAST(NULL AS VARCHAR) AS val
            FROM ({_std_toks_sql()}) GROUP BY doc_id
            HAVING count(DISTINCT CASE WHEN tok IN ('o''reilly','data') THEN tok END) = 2
            UNION ALL
            SELECT 'fingerprint', doc_id,
                   md5(array_to_string(list_sort(list_distinct(array_agg(tok))), ' '))
            FROM ({_std_toks_sql()}) GROUP BY doc_id""",
        "analysis_chain": f"""
            WITH sh AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS tok,
                     generate_subscripts(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'), 1) AS p
              FROM documents),
            etoks AS (
              SELECT doc_id, {_porter_case_sql()} AS stem
              FROM (SELECT doc_id,
                           unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS tok
                    FROM ({_ENG_AUG_SQL}))
              WHERE tok NOT IN ({_stoplist_sql()}))
            SELECT 'shingle' AS variant, a.doc_id, CAST(NULL AS VARCHAR) AS val
            FROM sh a JOIN sh b USING (doc_id)
            WHERE a.tok = 'big' AND b.tok = 'data' AND b.p = a.p + 1
            GROUP BY a.doc_id
            UNION ALL
            SELECT 'porter_match', doc_id, CAST(NULL AS VARCHAR)
            FROM etoks WHERE stem = 'join' GROUP BY doc_id
            UNION ALL
            SELECT 'porter_fp', doc_id,
                   md5(array_to_string(list_sort(list_distinct(array_agg(stem))), ' '))
            FROM etoks GROUP BY doc_id
            UNION ALL
            SELECT 'fold_fp', doc_id,
                   md5(array_to_string(list_sort(list_distinct(
                       array_agg(strip_accents(tok)))), ' '))
            FROM (SELECT doc_id,
                         unnest(list_filter(regexp_split_to_array(
                             text || ' Café naïve jalapeño', '\\s+'),
                             x -> x != '')) AS tok
                  FROM documents)
            GROUP BY doc_id
            UNION ALL
            SELECT 'gram_fp', doc_id,
                   md5(array_to_string(list_sort(list_distinct(
                       array_agg(substr(tok, 1, n)))), ' '))
            FROM (SELECT doc_id,
                         unnest(regexp_extract_all(lower(text),
                             '[a-z0-9_]+')) AS tok
                  FROM documents) t,
                 (SELECT unnest(generate_series(2, 4)) AS n) g
            WHERE length(tok) >= n
            GROUP BY doc_id
            UNION ALL
            -- html_fp: strip comments, script/style blocks, tags, then
            -- decode named entities (&amp; LAST = single-decode), then
            -- simple-tokenize — an independent RE2 instantiation of
            -- the engine's char-filter pipeline
            SELECT 'html_fp', doc_id,
                   md5(array_to_string(list_sort(list_distinct(
                       array_agg(tok))), ' '))
            FROM (SELECT doc_id, unnest(regexp_extract_all(lower(
                    replace(replace(replace(replace(replace(replace(
                      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                        text || '{_HTML_AUG.replace("'", "''")}',
                        '(?s)<!--.*?-->', ' ', 'g'),
                        '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g'),
                        '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g'),
                        '(?s)<[/!?]?[a-zA-Z][^>]*>', ' ', 'g'),
                      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                      '&apos;', ''''), '&nbsp;', ' '), '&amp;', '&')),
                    '[a-z0-9_]+')) AS tok
                  FROM documents)
            GROUP BY doc_id
            UNION ALL
            -- wdgf_fp: possessive strip then boundary insertion at
            -- case-change / acronym / letter-digit seams, then
            -- [a-z0-9]+ tokenize — same ordered steps as the engine
            SELECT 'wdgf_fp', doc_id,
                   md5(array_to_string(list_sort(list_distinct(
                       array_agg(tok))), ' '))
            FROM (SELECT doc_id, unnest(regexp_extract_all(lower(
                    regexp_replace(regexp_replace(regexp_replace(
                    regexp_replace(regexp_replace(
                      text || '{_WD_AUG}',
                      '''[sS]\\b', '', 'g'),
                      '([a-z0-9])([A-Z])', '\\1 \\2', 'g'),
                      '([A-Z])([A-Z][a-z])', '\\1 \\2', 'g'),
                      '([A-Za-z])([0-9])', '\\1 \\2', 'g'),
                      '([0-9])([A-Za-z])', '\\1 \\2', 'g')),
                    '[a-z0-9]+')) AS tok
                  FROM documents)
            GROUP BY doc_id
            UNION ALL
            -- syn_fp: index-time synonym injection — docs containing
            -- 'data' also index 'datum'
            SELECT 'syn_fp', doc_id,
                   md5(array_to_string(list_sort(list_distinct(
                       array_agg(tok))), ' '))
            FROM (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok
              FROM documents
              UNION ALL
              SELECT DISTINCT doc_id, 'datum'
              FROM (SELECT doc_id,
                           unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok
                    FROM documents)
              WHERE tok = 'data')
            GROUP BY doc_id""",
        "queries_module_topk": f"""
            WITH toks AS ({_TOKS}),
            lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
            cs AS (SELECT count(*) AS doc_count, sum(len) AS sum_ttf FROM lens),
            nd AS (SELECT count(*) AS n FROM documents),
            quant AS (
              SELECT doc_id, len,
                CASE WHEN len < 40 THEN len
                     ELSE 24 + (((len - 24) >> (CAST(floor(log2(len - 24)) AS INT) - 3))
                                 << (CAST(floor(log2(len - 24)) AS INT) - 3))
                END AS dlen
              FROM lens),
            -- common_terms: per-term BM25 + the df classification
            ctf AS (SELECT doc_id, tok, count(*) AS freq FROM toks
                    WHERE tok IN ('dup','data','vector') GROUP BY doc_id, tok),
            cdf AS (SELECT tok, count(*) AS df FROM ctf GROUP BY tok),
            cls AS (SELECT tok, CASE WHEN df > CAST(ceil(0.5 * nd.n) AS BIGINT)
                                     THEN 1 ELSE 0 END AS hi
                    FROM cdf CROSS JOIN nd),
            cscored AS (
              SELECT ctf.doc_id, ctf.tok,
                     ln(1 + (cs.doc_count - cdf.df + 0.5) / (cdf.df + 0.5))
                     * (1 - 1 / (1 + ctf.freq * (1 / (1.2 * (0.25 + 0.75 * q.dlen
                         / (cs.sum_ttf / CAST(cs.doc_count AS DOUBLE))))))) AS s
              FROM ctf JOIN cdf USING (tok) JOIN quant q ON ctf.doc_id = q.doc_id
                   CROSS JOIN cs),
            cper AS (
              SELECT st.doc_id, sum(st.s) AS score,
                     sum(CASE WHEN c.hi = 0 THEN 1 ELSE 0 END) AS n_low
              FROM cscored st JOIN cls c ON st.tok = c.tok GROUP BY st.doc_id),
            -- rescore: BM25 OR first pass, window 20, phrase second pass
            rtf AS (SELECT doc_id, tok, count(*) AS freq FROM toks
                    WHERE tok IN ('data','join') GROUP BY doc_id, tok),
            rdf AS (SELECT tok, count(*) AS df FROM rtf GROUP BY tok),
            s1 AS (
              SELECT rtf.doc_id,
                     round(sum(ln(1 + (cs.doc_count - rdf.df + 0.5) / (rdf.df + 0.5))
                         * (1 - 1 / (1 + rtf.freq * (1 / (1.2 * (0.25 + 0.75 * q.dlen
                             / (cs.sum_ttf / CAST(cs.doc_count AS DOUBLE)))))))), 4) AS s1
              FROM rtf JOIN rdf USING (tok) JOIN quant q ON rtf.doc_id = q.doc_id
                   CROSS JOIN cs GROUP BY rtf.doc_id),
            cand AS (SELECT doc_id, s1 FROM s1 ORDER BY s1 DESC, doc_id LIMIT 20),
            pos AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS tok,
                     generate_subscripts(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'), 1) AS p
              FROM documents),
            pf AS (SELECT a.doc_id, count(*) AS freq
                   FROM pos a JOIN pos b USING (doc_id)
                   WHERE a.tok = 'big' AND b.tok = 'data' AND b.p = a.p + 1
                   GROUP BY a.doc_id),
            pdf AS (SELECT tok, count(DISTINCT doc_id) AS df FROM pos
                    WHERE tok IN ('big','data') GROUP BY tok),
            idfsum AS (SELECT sum(ln(1 + (cs.doc_count - df + 0.5) / (df + 0.5))) AS w
                       FROM pdf CROSS JOIN cs),
            s2 AS (
              SELECT pf.doc_id,
                     i.w * (1 - 1 / (1 + pf.freq * (1 / (1.2 * (0.25 + 0.75 * q.dlen
                         / (cs.sum_ttf / CAST(cs.doc_count AS DOUBLE))))))) AS s2
              FROM pf JOIN quant q ON pf.doc_id = q.doc_id
                   CROSS JOIN idfsum i CROSS JOIN cs),
            comb AS (
              SELECT c.doc_id, round(c.s1 + 2.0 * coalesce(s2.s2, 0), 4) AS r
              FROM cand c LEFT JOIN s2 ON c.doc_id = s2.doc_id)
            SELECT * FROM (
              SELECT 'common_terms' AS variant,
                     CAST(row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS INT) AS rank,
                     doc_id
              FROM cper WHERE n_low = (SELECT count(*) FROM cls WHERE hi = 0)
              ORDER BY round(score, 4) DESC, doc_id LIMIT 10)""" + """
            UNION ALL
            SELECT * FROM (
              SELECT 'rescore' AS variant,
                     CAST(row_number() OVER (ORDER BY r DESC, doc_id) AS INT) AS rank,
                     doc_id
              FROM comb ORDER BY r DESC, doc_id LIMIT 10)
            UNION ALL
            SELECT 'elevate' AS variant, rank, doc_id FROM (
              SELECT 1 AS rank, CAST(42 AS BIGINT) AS doc_id
              UNION ALL SELECT 2, CAST(7 AS BIGINT)
              UNION ALL
              SELECT * FROM (
                SELECT CAST(row_number() OVER (ORDER BY round(s1, 4) DESC, doc_id) + 2 AS INT),
                       doc_id
                FROM s1 WHERE doc_id NOT IN (42, 7, 3)
                ORDER BY round(s1, 4) DESC, doc_id LIMIT 8))
            UNION ALL
            -- ltr_linear: score = 1.0*s1 - 0.005*length over the
            -- same window-20 candidates
            SELECT * FROM (
              SELECT 'ltr_linear' AS variant,
                     CAST(row_number() OVER (ORDER BY m DESC, doc_id) AS INT) AS rank,
                     doc_id
              FROM (SELECT c.doc_id,
                           round(1.0 * c.s1 - 0.005 * l.len, 6) AS m
                    FROM cand c JOIN lens l USING (doc_id))
              ORDER BY m DESC, doc_id LIMIT 10)
            UNION ALL
            -- ltr_trees: additive trees on the length feature with
            -- the reference's 1e-6 split slack
            SELECT * FROM (
              SELECT 'ltr_trees' AS variant,
                     CAST(row_number() OVER (ORDER BY m DESC, doc_id) AS INT) AS rank,
                     doc_id
              FROM (SELECT c.doc_id,
                           round(1.0 * (CASE WHEN l.len <= 90.000001 THEN 0.3
                                             WHEN l.len <= 150.000001 THEN 0.1
                                             ELSE -0.2 END)
                                 + 2.0 * (CASE WHEN l.len <= 120.000001 THEN 0.05
                                               ELSE -0.05 END), 6) AS m
                    FROM cand c JOIN lens l USING (doc_id))
              ORDER BY m DESC, doc_id LIMIT 10)""",
        "bool_family": f"""
            SELECT 'and' AS variant, doc_id FROM ({_TOKS}) GROUP BY doc_id
            HAVING count(DISTINCT CASE WHEN tok IN ('data','join') THEN tok END) = 2
            UNION ALL
            SELECT 'and_not', doc_id FROM ({_TOKS}) GROUP BY doc_id
            HAVING sum(CASE WHEN tok = 'data' THEN 1 ELSE 0 END) > 0
               AND sum(CASE WHEN tok = 'join' THEN 1 ELSE 0 END) = 0
            UNION ALL
            SELECT 'msm2', doc_id FROM ({_TOKS}) GROUP BY doc_id
            HAVING count(DISTINCT CASE WHEN tok IN ('data','join','vector') THEN tok END) >= 2
            UNION ALL
            -- CoveringQuery: per-doc minimumNumberMatch = max(1, doc_id % 3)
            SELECT 'covering', doc_id FROM ({_TOKS}) GROUP BY doc_id
            HAVING count(DISTINCT CASE WHEN tok IN ('data','join','vector','table') THEN tok END)
                   >= greatest(doc_id % 3, 1)""",
        "classify": f"""
            WITH toks AS ({_TOKS}),
            lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
            cs AS (SELECT count(*) AS doc_count, sum(len) AS sum_ttf FROM lens),
            nn AS (SELECT count(*) AS num_docs FROM documents),
            cls AS (SELECT lang AS c, count(*) AS df_c FROM documents
                    WHERE lang IS NOT NULL GROUP BY lang),
            nl AS (SELECT sum(df_c) AS dwc FROM cls),
            dtok AS (SELECT DISTINCT doc_id, tok FROM toks),
            sdf AS (SELECT count(*) AS sum_df FROM dtok),
            inputs AS (SELECT doc_id AS input_id FROM documents
                       WHERE doc_id % 41 = 3),
            itf AS (SELECT t.doc_id AS input_id, t.tok, count(*) AS tf
                    FROM toks t JOIN inputs i ON t.doc_id = i.input_id
                    GROUP BY t.doc_id, t.tok),
            wc AS (SELECT dt.tok, d.lang AS c, count(*) AS hits
                   FROM dtok dt JOIN documents d USING (doc_id)
                   WHERE d.lang IS NOT NULL GROUP BY dt.tok, d.lang),
            nbraw AS (
              SELECT g.input_id, g.c,
                     ln(CAST(g.df_c AS DOUBLE)) - ln(CAST(nl.dwc AS DOUBLE))
                     + sum(g.tf * ln((g.hits + 1.0) /
                         ((s.sum_df / CAST(cs.doc_count AS DOUBLE)) * g.df_c
                          + nl.dwc))) AS raw
              FROM (SELECT itf.input_id, c.c, c.df_c, itf.tf,
                           COALESCE(wc.hits, 0) AS hits
                    FROM itf CROSS JOIN cls c
                    LEFT JOIN wc ON wc.tok = itf.tok AND wc.c = c.c) g
              CROSS JOIN nl CROSS JOIN sdf s CROSS JOIN cs
              GROUP BY g.input_id, g.c, g.df_c, nl.dwc, s.sum_df, cs.doc_count),
            nbm AS (SELECT input_id, c, raw,
                           max(raw) OVER (PARTITION BY input_id) AS mx
                    FROM nbraw),
            nbp AS (SELECT input_id, c,
                           exp(raw - mx) / sum(exp(raw - mx))
                               OVER (PARTITION BY input_id) AS p
                    FROM nbm),
            nbpick AS (SELECT input_id, c, p,
                              row_number() OVER (PARTITION BY input_id
                                  ORDER BY p DESC, c) AS rn
                       FROM nbp),
            quant AS (
              SELECT doc_id, len,
                CASE WHEN len < 40 THEN len
                     ELSE 24 + (((len - 24) >> (CAST(floor(log2(len - 24)) AS INT) - 3))
                                 << (CAST(floor(log2(len - 24)) AS INT) - 3))
                END AS dlen
              FROM lens),
            tdf AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks
                    GROUP BY tok),
            mltc AS (SELECT itf.input_id, itf.tok, itf.tf, tdf.df,
                            itf.tf * (ln(CAST(n.num_docs AS DOUBLE)
                                         / (tdf.df + 1)) + 1.0) AS mscore
                     FROM itf JOIN tdf USING (tok) CROSS JOIN nn n
                     WHERE itf.tf >= 2 AND tdf.df >= 5),
            mlsel AS (SELECT *, row_number() OVER (PARTITION BY input_id
                          ORDER BY round(mscore, 9) DESC, tok) AS rn
                      FROM mltc),
            msel AS (SELECT input_id, tok,
                            mscore / min(mscore) OVER (PARTITION BY input_id)
                                AS boost
                     FROM mlsel WHERE rn <= 25),
            ptf AS (SELECT doc_id, tok, count(*) AS freq FROM toks
                    GROUP BY doc_id, tok),
            kscore AS (
              SELECT m.input_id, p.doc_id,
                     round(sum(m.boost
                       * ln(1 + (cs.doc_count - t.df + 0.5) / (t.df + 0.5))
                       * (1 - 1 / (1 + p.freq * (1 / (1.2 * (0.25 + 0.75
                           * q.dlen / (cs.sum_ttf
                               / CAST(cs.doc_count AS DOUBLE)))))))), 4)
                         AS score
              FROM msel m JOIN ptf p USING (tok) JOIN tdf t USING (tok)
              JOIN quant q ON p.doc_id = q.doc_id CROSS JOIN cs
              GROUP BY m.input_id, p.doc_id),
            ktop AS (SELECT *, row_number() OVER (PARTITION BY input_id
                         ORDER BY score DESC, doc_id) AS rn
                     FROM kscore),
            k10 AS (SELECT input_id, doc_id, score,
                           max(score) OVER (PARTITION BY input_id) AS mx
                    FROM ktop WHERE rn <= 10),
            votes AS (SELECT k.input_id, d.lang AS c,
                             sum(k.score / k.mx) AS bsum, count(*) AS cnt
                      FROM k10 k JOIN documents d USING (doc_id)
                      WHERE d.lang IS NOT NULL GROUP BY k.input_id, d.lang),
            vsum AS (SELECT input_id, c, bsum,
                            sum(cnt) OVER (PARTITION BY input_id) AS sumdoc
                     FROM votes),
            vpick AS (SELECT input_id, c, bsum / sumdoc AS vote,
                             row_number() OVER (PARTITION BY input_id
                                 ORDER BY round(bsum / sumdoc, 9) DESC, c)
                                 AS rn
                      FROM vsum)
            SELECT 'nb' AS variant, input_id AS doc_id, c AS label,
                   round(p, 6) AS score
            FROM nbpick WHERE rn = 1
            UNION ALL
            SELECT 'knn', input_id, c, round(vote, 6)
            FROM vpick WHERE rn = 1""",
        "freetext_suggest": f"""
            WITH pos AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS tok,
                     generate_subscripts(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'), 1) AS p
              FROM documents),
            uni AS (SELECT tok, count(*) AS cnt FROM pos GROUP BY tok),
            tot AS (SELECT sum(cnt) AS t FROM uni),
            big AS (SELECT a.tok AS ctx, b.tok AS token, count(*) AS cnt
                    FROM pos a JOIN pos b
                      ON a.doc_id = b.doc_id AND b.p = a.p + 1
                    GROUP BY a.tok, b.tok),
            l2 AS (SELECT token,
                          CAST(cnt AS DOUBLE)
                          / (SELECT cnt FROM uni WHERE tok = 'data') AS score
                   FROM big WHERE ctx = 'data' AND token LIKE 's%'),
            l1 AS (SELECT u.tok AS token, 0.4 * u.cnt / t.t AS score
                   FROM uni u CROSS JOIN tot t
                   WHERE u.tok LIKE 's%'
                     AND u.tok NOT IN (SELECT token FROM l2)),
            allc AS (SELECT * FROM l2 UNION ALL SELECT * FROM l1)
            SELECT CAST(row_number() OVER
                       (ORDER BY round(score, 9) DESC, token) AS INT) AS rank,
                   token, round(score, 9) AS score
            FROM allc ORDER BY round(score, 9) DESC, token LIMIT 10""",
        "phrase_slop": f"""
            SELECT DISTINCT a.doc_id FROM (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS tok,
                     generate_subscripts(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'), 1) AS p
              FROM documents) a
            JOIN (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS tok,
                     generate_subscripts(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'), 1) AS p
              FROM documents) b USING (doc_id)
            WHERE a.tok = 'data' AND b.tok = 'join' AND abs(a.p - (b.p - 1)) <= 2""",
        "parsed_query": f"""
            SELECT 'classic' AS variant, t.doc_id FROM ({_TOKS}) t
            JOIN documents d ON t.doc_id = d.doc_id
            WHERE d.lang = 'de'
            GROUP BY t.doc_id
            HAVING sum(CASE WHEN tok = 'data' THEN 1 ELSE 0 END) > 0
               AND (sum(CASE WHEN tok = 'join' THEN 1 ELSE 0 END) > 0
                    OR sum(CASE WHEN tok = 'vector' THEN 1 ELSE 0 END) > 0)
               AND sum(CASE WHEN tok LIKE 'sca%' THEN 1 ELSE 0 END) = 0
               AND count(*) BETWEEN 30 AND 200
            UNION ALL
            -- simple dialect: data + (join | vector) -scalar
            SELECT 'simple', doc_id FROM ({_TOKS})
            GROUP BY doc_id
            HAVING sum(CASE WHEN tok = 'data' THEN 1 ELSE 0 END) > 0
               AND (sum(CASE WHEN tok = 'join' THEN 1 ELSE 0 END) > 0
                    OR sum(CASE WHEN tok = 'vector' THEN 1 ELSE 0 END) > 0)
               AND sum(CASE WHEN tok = 'scalar' THEN 1 ELSE 0 END) = 0
            UNION ALL
            -- complex phrase "(big small) jo*"~2: ordered span-near of
            -- a two-term group and a dictionary-expanded prefix slot
            SELECT 'complex_phrase', doc_id FROM (
              SELECT DISTINCT a.doc_id
              FROM (SELECT doc_id,
                           unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok,
                           generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9_]+'), 1) AS p
                    FROM documents) a
              JOIN (SELECT doc_id,
                           unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok,
                           generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9_]+'), 1) AS p
                    FROM documents) b USING (doc_id)
              WHERE a.tok IN ('big', 'small') AND b.tok LIKE 'jo%'
                AND b.p > a.p AND b.p - a.p - 1 <= 2)
            UNION ALL
            -- surround: data AND (big 2W table) NOT scalar
            SELECT 'surround', doc_id FROM (
              SELECT doc_id FROM ({_TOKS}) GROUP BY doc_id
              HAVING sum(CASE WHEN tok = 'data' THEN 1 ELSE 0 END) > 0
                 AND sum(CASE WHEN tok = 'scalar' THEN 1 ELSE 0 END) = 0) g
            JOIN (
              SELECT DISTINCT a.doc_id
              FROM (SELECT doc_id,
                           unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok,
                           generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9_]+'), 1) AS p
                    FROM documents) a
              JOIN (SELECT doc_id,
                           unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok,
                           generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9_]+'), 1) AS p
                    FROM documents) b USING (doc_id)
              WHERE a.tok = 'big' AND b.tok = 'table'
                AND b.p > a.p AND b.p - a.p - 1 <= 1) w USING (doc_id)""",
        "lang_filter": f"""
            WITH datahits AS (
              SELECT DISTINCT doc_id FROM ({_TOKS}) WHERE tok = 'data')
            SELECT 'eq' AS variant, h.doc_id FROM datahits h
            JOIN documents d USING (doc_id) WHERE d.lang = 'de'
            UNION ALL
            SELECT 'exists', doc_id FROM datahits WHERE doc_id % 4 <> 0
            UNION ALL
            SELECT 'str_range', h.doc_id FROM datahits h
            JOIN documents d USING (doc_id)
            WHERE d.lang >= 'de' AND d.lang <= 'en'""",
        "deleted_match": f"""
            SELECT DISTINCT doc_id FROM ({_TOKS})
            WHERE tok = 'data' AND doc_id % 7 != 0""",
        "merged_bool_and": f"""
            SELECT doc_id FROM ({_TOKS}) GROUP BY doc_id
            HAVING count(DISTINCT CASE WHEN tok IN ('data','join') THEN tok END) = 2""",
        "streaming_bool_and": f"""
            SELECT 'nrt' AS variant, doc_id FROM ({_TOKS}) GROUP BY doc_id
            HAVING count(DISTINCT CASE WHEN tok IN ('data','join') THEN tok END) = 2
            UNION ALL
            SELECT 'perc_and_not', doc_id FROM ({_TOKS}) GROUP BY doc_id
            HAVING count(DISTINCT CASE WHEN tok IN ('data','join') THEN tok END) = 2
               AND sum(CASE WHEN tok = 'vector' THEN 1 ELSE 0 END) = 0
            UNION ALL
            SELECT 'perc_phrase', doc_id FROM documents
            WHERE regexp_matches(lower(text),
                  '(^|[^a-z0-9_])big[^a-z0-9_]+data($|[^a-z0-9_])')""",
        "bm25_topk": _BM25_CTE.format(terms="'data','join','vector'")
        + """
            SELECT CAST(row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS INT) AS rank,
                   doc_id
            FROM scored ORDER BY round(score, 4) DESC, doc_id LIMIT 10""",
        "bm25_and_topk": _BM25_CTE.format(terms="'data','join'")
        + """
            SELECT CAST(row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS INT) AS rank,
                   doc_id
            FROM scored WHERE n_match = 2 ORDER BY round(score, 4) DESC, doc_id LIMIT 10""",
        "sort_by_field": f"""
            WITH toks AS ({_TOKS}),
            lens AS (SELECT doc_id, count(*) AS length FROM toks GROUP BY doc_id),
            hits AS (SELECT DISTINCT doc_id FROM toks WHERE tok = 'data'),
            full_v AS (
              SELECT 'full' AS variant,
                     CAST(row_number() OVER (ORDER BY length DESC, doc_id) AS INT) AS rank,
                     doc_id, CAST(length AS BIGINT) AS sortval
              FROM lens JOIN hits USING (doc_id)
              ORDER BY length DESC, doc_id LIMIT 15),
            idx AS (
              SELECT 'indexed' AS variant,
                     CAST(row_number() OVER (ORDER BY length(text) DESC, doc_id) AS INT) AS rank,
                     doc_id, CAST(length(text) AS BIGINT) AS sortval
              FROM documents WHERE doc_id IN (SELECT doc_id FROM hits)
              ORDER BY length(text) DESC, doc_id LIMIT 15),
            idxall AS (
              SELECT 'indexed_all' AS variant,
                     CAST(row_number() OVER (ORDER BY length(text) DESC, doc_id) AS INT) AS rank,
                     doc_id, CAST(length(text) AS BIGINT) AS sortval
              FROM documents ORDER BY length(text) DESC, doc_id LIMIT 15),
            cur AS (
              SELECT 'cursor' AS variant,
                     CAST(row_number() OVER (ORDER BY length(text) ASC, doc_id) AS INT) AS rank,
                     doc_id, CAST(length(text) AS BIGINT) AS sortval
              FROM documents WHERE doc_id IN (SELECT doc_id FROM hits)
              ORDER BY length(text) ASC, doc_id
              LIMIT 30 OFFSET 15)
            SELECT * FROM full_v UNION ALL SELECT * FROM idx
            UNION ALL SELECT * FROM idxall
            UNION ALL SELECT * FROM cur""",
        "parsed_synonym_topk": f"""
            WITH pos AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS tok,
                     generate_subscripts(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'), 1) AS p
              FROM documents),
            lens AS (SELECT doc_id, count(*) AS len FROM pos GROUP BY doc_id),
            cs AS (SELECT count(*) AS doc_count, sum(len) AS sum_ttf FROM lens),
            quant AS (
              SELECT doc_id, len,
                CASE WHEN len < 40 THEN len
                     ELSE 24 + (((len - 24) >> (CAST(floor(log2(len - 24)) AS INT) - 3))
                                 << (CAST(floor(log2(len - 24)) AS INT) - 3))
                END AS dlen
              FROM lens),
            nrm AS (SELECT q.doc_id,
                           1 / (1.2 * (0.25 + 0.75 * q.dlen
                               / (cs.sum_ttf / CAST(cs.doc_count AS DOUBLE)))) AS ninv
                    FROM quant q CROSS JOIN cs),
            -- blended: SynonymQuery(data, join) — summed freq, max df
            tfb AS (SELECT doc_id, count(*) AS freq FROM pos
                    WHERE tok IN ('data','join') GROUP BY doc_id),
            dfb AS (SELECT max(cnt) AS df FROM (
                      SELECT tok, count(DISTINCT doc_id) AS cnt FROM pos
                      WHERE tok IN ('data','join') GROUP BY tok) z),
            bscore AS (
              SELECT t.doc_id,
                     ln(1 + (cs.doc_count - d.df + 0.5) / (d.df + 0.5))
                     * (1 - 1 / (1 + t.freq * n.ninv)) AS score
              FROM tfb t CROSS JOIN dfb d
              JOIN nrm n ON t.doc_id = n.doc_id CROSS JOIN cs),
            -- graph: SHOULD(TermQuery(data), PhraseQuery(fast scan))
            tterm AS (SELECT doc_id, count(*) AS freq FROM pos
                      WHERE tok = 'data' GROUP BY doc_id),
            tdf AS (SELECT count(DISTINCT doc_id) AS df FROM pos
                    WHERE tok = 'data'),
            tscore AS (
              SELECT t.doc_id,
                     ln(1 + (cs.doc_count - d.df + 0.5) / (d.df + 0.5))
                     * (1 - 1 / (1 + t.freq * n.ninv)) AS s
              FROM tterm t CROSS JOIN tdf d
              JOIN nrm n ON t.doc_id = n.doc_id CROSS JOIN cs),
            pf AS (SELECT a.doc_id, count(*) AS freq
                   FROM pos a JOIN pos b USING (doc_id)
                   WHERE a.tok = 'fast' AND b.tok = 'scan' AND b.p = a.p + 1
                   GROUP BY a.doc_id),
            pdf AS (SELECT tok, count(DISTINCT doc_id) AS df FROM pos
                    WHERE tok IN ('fast','scan') GROUP BY tok),
            pidf AS (SELECT sum(ln(1 + (cs.doc_count - df + 0.5) / (df + 0.5))) AS w
                     FROM pdf CROSS JOIN cs),
            pscore AS (
              SELECT pf.doc_id, i.w * (1 - 1 / (1 + pf.freq * n.ninv)) AS s
              FROM pf JOIN nrm n ON pf.doc_id = n.doc_id CROSS JOIN pidf i),
            gscore AS (
              SELECT COALESCE(t.doc_id, p.doc_id) AS doc_id,
                     COALESCE(t.s, 0) + COALESCE(p.s, 0) AS score
              FROM tscore t FULL OUTER JOIN pscore p ON t.doc_id = p.doc_id)
            SELECT 'blended' AS variant, rank, doc_id FROM (
              SELECT CAST(row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS INT) AS rank,
                     doc_id
              FROM bscore ORDER BY round(score, 4) DESC, doc_id LIMIT 10)
            UNION ALL
            SELECT 'graph', rank, doc_id FROM (
              SELECT CAST(row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS INT) AS rank,
                     doc_id
              FROM gscore ORDER BY round(score, 4) DESC, doc_id LIMIT 10)""",
        "dismax_topk": _BM25_PER_TERM_CTE.format(terms="'data','join'")
        + """,
            agg AS (SELECT doc_id, max(s) AS mx, sum(s) AS sm
                    FROM scored_t GROUP BY doc_id)
            SELECT CAST(row_number() OVER (ORDER BY round(mx + 0.1 * (sm - mx), 4) DESC, doc_id) AS INT) AS rank,
                   doc_id
            FROM agg
            ORDER BY round(mx + 0.1 * (sm - mx), 4) DESC, doc_id LIMIT 10""",
        "phrase_topk": f"""
            WITH pos AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS tok,
                     generate_subscripts(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'), 1) AS p
              FROM documents),
            lens AS (SELECT doc_id, count(*) AS len FROM pos GROUP BY doc_id),
            cs AS (SELECT count(*) AS doc_count, sum(len) AS sum_ttf FROM lens),
            quant AS (
              SELECT doc_id, len,
                CASE WHEN len < 40 THEN len
                     ELSE 24 + (((len - 24) >> (CAST(floor(log2(len - 24)) AS INT) - 3))
                                 << (CAST(floor(log2(len - 24)) AS INT) - 3))
                END AS dlen
              FROM lens),
            pf AS (SELECT a.doc_id, count(*) AS freq
                   FROM pos a JOIN pos b USING (doc_id)
                   WHERE a.tok = 'data' AND b.tok = 'join' AND b.p = a.p + 1
                   GROUP BY a.doc_id),
            tdf AS (SELECT tok, count(DISTINCT doc_id) AS df FROM pos
                    WHERE tok IN ('data','join') GROUP BY tok),
            idfsum AS (SELECT sum(ln(1 + (cs.doc_count - df + 0.5) / (df + 0.5))) AS w
                       FROM tdf CROSS JOIN cs),
            scored AS (
              SELECT pf.doc_id,
                     i.w * (1 - 1 / (1 + pf.freq * (1 / (1.2 * (0.25 + 0.75 * q.dlen
                         / (cs.sum_ttf / CAST(cs.doc_count AS DOUBLE))))))) AS score
              FROM pf JOIN quant q ON pf.doc_id = q.doc_id
                   CROSS JOIN idfsum i CROSS JOIN cs)
            SELECT CAST(row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS INT) AS rank,
                   doc_id
            FROM scored ORDER BY round(score, 4) DESC, doc_id LIMIT 10""",
        "bm25_msm2_topk": _BM25_CTE.format(terms="'data','join','vector'")
        + """
            SELECT CAST(row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS INT) AS rank,
                   doc_id
            FROM scored WHERE n_match >= 2
            ORDER BY round(score, 4) DESC, doc_id LIMIT 10""",
        "boost_topk": _BM25_PER_TERM_CTE.format(terms="'data','join'")
        + """,
            agg AS (SELECT doc_id,
                           sum(CASE WHEN tok = 'data' THEN 2 * s ELSE s END) AS score
                    FROM scored_t GROUP BY doc_id)
            SELECT CAST(row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS INT) AS rank,
                   doc_id
            FROM agg ORDER BY round(score, 4) DESC, doc_id LIMIT 10""",
        "ngram_jaccard": """
            WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS l
                          FROM documents WHERE doc_id < 200),
            grams AS (
              SELECT DISTINCT doc_id, g FROM (
                SELECT doc_id, unnest(CASE WHEN len(l) >= 3
                  THEN list_transform(generate_series(1, len(l)-2),
                                      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])
                  ELSE [] END) AS g
                FROM toks) z),
            sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
                      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
                      GROUP BY 1, 2)
            SELECT 'jaccard' AS variant, doc_a AS a, doc_b AS b,
                   round(ni / (za.n + zb.n - ni), 6) AS val
            FROM inter JOIN sizes za ON doc_a = za.doc_id
                       JOIN sizes zb ON doc_b = zb.doc_id
            WHERE ni / (za.n + zb.n - ni) >= 0.2
            UNION ALL
            -- decontam: distinct 13-grams of ALL training docs vs the
            -- synthetic benchmark (400-char substrings of every 7th
            -- doc); short texts emit one truncated gram, matching the
            -- engine's shingle kernel
            SELECT 'decontam', t.doc_id, b.bench_id,
                   CAST(count(*) AS DOUBLE)
            FROM (
              SELECT DISTINCT doc_id, g FROM (
                SELECT doc_id, unnest(list_transform(
                  generate_series(1, greatest(len(l) - 13, 0) + 1),
                  i -> array_to_string(l[i:least(i + 12, len(l))], ' '))) AS g
                FROM (SELECT doc_id,
                             regexp_extract_all(lower(text), '[a-z0-9_]+') AS l
                      FROM documents)) z) t
            JOIN (
              SELECT DISTINCT bench_id, g FROM (
                SELECT bench_id, unnest(list_transform(
                  generate_series(1, greatest(len(l) - 13, 0) + 1),
                  i -> array_to_string(l[i:least(i + 12, len(l))], ' '))) AS g
                FROM (SELECT doc_id AS bench_id,
                             regexp_extract_all(lower(substr(text, 51, 400)),
                                                '[a-z0-9_]+') AS l
                      FROM documents
                      WHERE doc_id % 7 = 0 AND doc_id < 70)) z) b
              ON t.g = b.g
            GROUP BY 1, 2, 3""",
        "simhash_near_dups": """
            WITH tf AS (
              SELECT doc_id, tok, count(*) AS tf FROM (
                SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok
                FROM documents) z GROUP BY doc_id, tok),
            th AS (SELECT doc_id,
                          CAST(('0x' || substr(md5(tok), 1, 15)) AS UBIGINT) AS h,
                          tf
                   FROM tf),
            bitsum AS (
              SELECT doc_id, b,
                     sum(CASE WHEN (h >> b) & 1 = 1 THEN tf ELSE -tf END) AS s
              FROM th CROSS JOIN generate_series(0, 59) AS t(b)
              GROUP BY doc_id, b),
            fp AS (
              SELECT doc_id,
                     sum(CASE WHEN s > 0 THEN CAST(1 AS UBIGINT) << b
                         ELSE CAST(0 AS UBIGINT) END) AS f
              FROM bitsum GROUP BY doc_id)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
            FROM fp a JOIN fp b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.f, b.f)) <= 8""",
        "minhash_near_dups": """
            WITH RECURSIVE toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS l
                          FROM documents),
            grams AS (
              SELECT DISTINCT doc_id, g FROM (
                SELECT doc_id,
                       unnest(list_transform(
                         generate_series(1, greatest(len(l) - 3, 0) + 1),
                         i -> array_to_string(l[i:least(i + 2, len(l))], ' '))) AS g
                FROM toks) z),
            sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
                      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
                      GROUP BY 1, 2),
            prs AS (
              SELECT doc_a, doc_b, round(ni / (za.n + zb.n - ni), 6) AS jaccard
              FROM inter JOIN sizes za ON doc_a = za.doc_id
                         JOIN sizes zb ON doc_b = zb.doc_id
              WHERE ni / (za.n + zb.n - ni) >= 0.5),
            sym AS (SELECT doc_a AS x, doc_b AS y FROM prs
                    UNION SELECT doc_b, doc_a FROM prs),
            reach(x, y) AS (
              SELECT x, y FROM sym
              UNION
              SELECT r.x, s.y FROM reach r JOIN sym s ON r.y = s.x
              WHERE s.y != r.x)
            SELECT 'pairs' AS variant, doc_a AS a, doc_b AS b,
                   jaccard AS val
            FROM prs
            UNION ALL
            SELECT 'clusters', x, least(x, min(y)), CAST(NULL AS DOUBLE)
            FROM reach GROUP BY x""",
        "facet_lang": f"""
            WITH hits AS (SELECT DISTINCT doc_id FROM ({_TOKS})
                          WHERE tok = 'data')
            SELECT 'value' AS variant, lang, CAST(NULL AS VARCHAR) AS tag,
                   count(*) AS count
            FROM documents JOIN hits USING (doc_id)
            GROUP BY lang
            UNION ALL
            SELECT 'pivot', lang, tag, count(DISTINCT doc_id)
            FROM (
              SELECT d.doc_id, d.lang,
                     unnest(['t' || CAST(d.doc_id % 3 AS VARCHAR),
                             'u' || CAST(d.doc_id % 5 AS VARCHAR)]) AS tag
              FROM documents d JOIN hits USING (doc_id))
            GROUP BY lang, tag
            UNION ALL
            -- facet.range over events.ts: start = Jan 3 /DAY + 2 days
            -- = Jan 5; +3DAYS buckets to Jan 26 (7 buckets), LOWER
            -- include rule, labels = bucket-start ISO instants
            SELECT 'date_range', bucket, CAST(NULL AS VARCHAR), count(*)
            FROM (
              SELECT CASE
                WHEN ts <  TIMESTAMP '2024-01-05' THEN 'before'
                WHEN ts >= TIMESTAMP '2024-01-26' THEN 'after'
                ELSE strftime(TIMESTAMP '2024-01-05'
                       + to_days(3 * CAST(floor(
                           date_diff('second', TIMESTAMP '2024-01-05', ts)
                           / 259200.0) AS INT)),
                       '%Y-%m-%dT%H:%M:%SZ')
              END AS bucket FROM events)
            GROUP BY bucket
            UNION ALL
            SELECT 'date_range', 'between', CAST(NULL AS VARCHAR), count(*)
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-26'
            UNION ALL
            -- facet.range over events.value: [0,20) in steps of 5
            SELECT 'num_range', bucket, CAST(NULL AS VARCHAR), count(*)
            FROM (
              SELECT CASE
                WHEN value < 0 THEN 'before'
                WHEN value >= 20 THEN 'after'
                ELSE CAST(5 * CAST(floor(value / 5.0) AS INT) AS VARCHAR)
              END AS bucket FROM events WHERE value IS NOT NULL)
            GROUP BY bucket
            UNION ALL
            SELECT 'num_range', 'between', CAST(NULL AS VARCHAR), count(*)
            FROM events WHERE value >= 0 AND value < 20
            UNION ALL
            -- JSON-field facet: $.k bucketed by tens
            SELECT 'props_bucket',
                   CAST(CAST(floor(CAST(json_extract_string(props, '$.k') AS INT)
                        / 10) * 10 AS INT) AS VARCHAR),
                   CAST(NULL AS VARCHAR), count(*)
            FROM events
            WHERE json_extract_string(props, '$.k') IS NOT NULL
            GROUP BY 2
            UNION ALL
            -- facet.interval: overlapping open/closed intervals
            SELECT 'interval', '[0,5]', CAST(NULL AS VARCHAR), count(*)
            FROM events WHERE value >= 0 AND value <= 5
            UNION ALL
            SELECT 'interval', '(5,15)', CAST(NULL AS VARCHAR), count(*)
            FROM events WHERE value > 5 AND value < 15
            UNION ALL
            SELECT 'interval', '[10,*]', CAST(NULL AS VARCHAR), count(*)
            FROM events WHERE value >= 10
            UNION ALL
            -- facet.query: named overlapping slices of the 'data' hits
            SELECT 'query', 'with_join', CAST(NULL AS VARCHAR), count(*)
            FROM (SELECT doc_id FROM ({_TOKS}) GROUP BY doc_id
                  HAVING count(DISTINCT CASE WHEN tok IN ('data', 'join')
                               THEN tok END) = 2)
            UNION ALL
            SELECT 'query', 'near_big', CAST(NULL AS VARCHAR), count(*)
            FROM (SELECT DISTINCT h.doc_id FROM hits h JOIN (
                    SELECT DISTINCT a.doc_id
                    FROM (SELECT doc_id,
                                 unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok,
                                 generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9_]+'), 1) AS p
                          FROM documents) a
                    JOIN (SELECT doc_id,
                                 unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok,
                                 generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9_]+'), 1) AS p
                          FROM documents) b USING (doc_id)
                    WHERE a.tok = 'big' AND b.tok = 'data'
                      AND b.p > a.p AND b.p - a.p - 1 <= 2) w
                  USING (doc_id))
            UNION ALL
            SELECT 'query', 'short', CAST(NULL AS VARCHAR), count(*)
            FROM (SELECT t.doc_id FROM ({_TOKS}) t
                  JOIN hits USING (doc_id)
                  GROUP BY t.doc_id HAVING count(*) <= 80)""",
        "dedup_exact": """
            SELECT min(doc_id) AS keep_doc_id, count(*) AS dup_count
            FROM documents GROUP BY text HAVING count(*) > 1""",
        "term_vector": f"""
            SELECT tok AS term, CAST(count(*) AS INT) AS freq,
                   array_to_string(list_sort(array_agg(p)), ',') AS positions
            FROM (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS tok,
                     generate_subscripts(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'), 1) - 1 AS p
              FROM documents WHERE doc_id = 42)
            GROUP BY tok""",
        "check_index": """
            SELECT CAST(NULL AS VARCHAR) AS "check",
                   CAST(NULL AS INT) AS segment_id,
                   CAST(NULL AS VARCHAR) AS term,
                   CAST(NULL AS VARCHAR) AS detail
            WHERE 1 = 0""",
        "mlt_terms": f"""
            WITH toks AS ({_TOKS}),
            n AS (SELECT count(*) AS nd FROM documents),
            dtf AS (SELECT tok AS term, count(*) AS tf FROM toks
                    WHERE doc_id = 42 GROUP BY tok HAVING count(*) >= 2),
            tdf AS (SELECT tok AS term, count(DISTINCT doc_id) AS df
                    FROM toks GROUP BY tok),
            sel AS (SELECT d.term, CAST(d.tf AS INT) AS tf, t.df,
                           d.tf * (ln(n.nd / (t.df + 1.0)) + 1.0) AS score
                    FROM dtf d JOIN tdf t USING (term) CROSS JOIN n
                    WHERE t.df >= 5)
            SELECT CAST(row_number() OVER (ORDER BY round(score, 9) DESC, term) AS INT) AS rank,
                   term, tf, df, round(score, 6) AS score
            FROM sel ORDER BY round(score, 9) DESC, term LIMIT 25""",
        "group_topk": _BM25_CTE.format(terms="'data'")
        + """,
            gh AS (SELECT s.doc_id, d.lang, length(d.text) AS nch,
                          round(s.score, 4) AS r
                   FROM scored s JOIN documents d USING (doc_id)),
            ranked AS (SELECT doc_id, lang, r,
                              CAST(row_number() OVER (PARTITION BY lang
                                  ORDER BY r DESC, doc_id) AS INT) AS doc_rank
                       FROM gh),
            heads AS (SELECT lang, r AS head_r FROM ranked WHERE doc_rank = 1),
            tg AS (SELECT lang,
                          CAST(row_number() OVER (ORDER BY head_r DESC, lang) AS INT) AS group_rank
                   FROM heads ORDER BY head_r DESC, lang LIMIT 3),
            cheads AS (SELECT doc_id, lang, r FROM (
                         SELECT doc_id, lang, r,
                                row_number() OVER (PARTITION BY lang
                                    ORDER BY nch DESC, doc_id) AS hr
                         FROM gh) WHERE hr = 1),
            cpage AS (SELECT CAST(row_number() OVER
                               (ORDER BY r DESC, doc_id) AS INT) AS group_rank,
                             lang, doc_id
                      FROM cheads ORDER BY r DESC, doc_id LIMIT 4),
            expcand AS (SELECT gh.lang, gh.doc_id,
                               CAST(row_number() OVER (PARTITION BY gh.lang
                                   ORDER BY gh.r DESC, gh.doc_id) AS INT) AS doc_rank
                        FROM gh JOIN cpage p2
                          ON gh.lang = p2.lang AND gh.doc_id != p2.doc_id)
            SELECT 'grouped' AS variant, tg.group_rank, ranked.lang,
                   ranked.doc_rank, ranked.doc_id
            FROM ranked JOIN tg USING (lang) WHERE doc_rank <= 2
            UNION ALL
            SELECT 'collapsed', group_rank, lang, CAST(NULL AS INT), doc_id
            FROM cpage
            UNION ALL
            SELECT 'expanded', p.group_rank, e.lang, e.doc_rank, e.doc_id
            FROM expcand e JOIN cpage p ON e.lang = p.lang
            WHERE e.doc_rank <= 2
            UNION ALL
            -- DiversifiedTopDocsCollector: top-4, at most 1 doc per lang
            SELECT 'diversified', group_rank, lang, CAST(NULL AS INT), doc_id
            FROM (SELECT CAST(row_number() OVER
                             (ORDER BY r DESC, doc_id) AS INT) AS group_rank,
                         lang, doc_id
                  FROM ranked WHERE doc_rank <= 1
                  ORDER BY r DESC, doc_id LIMIT 4)""",
        "join_query": f"""
            WITH pmap AS (
              SELECT doc_id, (lang = 'de') AS is_parent,
                     min(CASE WHEN lang = 'de' THEN doc_id END) OVER
                       (ORDER BY doc_id ROWS BETWEEN CURRENT ROW
                        AND UNBOUNDED FOLLOWING) AS parent_doc
              FROM documents),
            child_hits AS (
              SELECT DISTINCT doc_id FROM ({_TOKS}) WHERE tok = 'data'),
            fk AS (
              SELECT DISTINCT t.doc_id
              FROM ({_TOKS}) t JOIN documents d ON t.doc_id = d.doc_id
              WHERE t.tok = 'data' AND d.lang IN (
                SELECT DISTINCT d2.lang
                FROM ({_TOKS}) t2 JOIN documents d2 ON t2.doc_id = d2.doc_id
                WHERE t2.tok = 'vector')),
            tp AS (
              SELECT p.parent_doc AS doc_id, count(*) AS n_children
              FROM child_hits c JOIN pmap p ON c.doc_id = p.doc_id
              WHERE NOT p.is_parent AND p.parent_doc IS NOT NULL
              GROUP BY p.parent_doc),
            phits AS (
              SELECT DISTINCT c.doc_id
              FROM child_hits c JOIN pmap p ON c.doc_id = p.doc_id
              WHERE p.is_parent),
            tc AS (
              SELECT p.doc_id, p.parent_doc FROM pmap p
              WHERE NOT p.is_parent
                AND p.parent_doc IN (SELECT doc_id FROM phits)),
            -- scored join modes: per-doc BM25 of 'vector' (rounded 4
            -- before aggregation), max/sum per lang, ranks of the
            -- 'data' to-side
            lensj AS (SELECT doc_id, count(*) AS len FROM ({_TOKS})
                      GROUP BY doc_id),
            csj AS (SELECT count(*) AS doc_count, sum(len) AS sum_ttf
                    FROM lensj),
            quantj AS (
              SELECT doc_id,
                CASE WHEN len < 40 THEN len
                     ELSE 24 + (((len - 24) >> (CAST(floor(log2(len - 24)) AS INT) - 3))
                                 << (CAST(floor(log2(len - 24)) AS INT) - 3))
                END AS dlen
              FROM lensj),
            vtf AS (SELECT doc_id, count(*) AS freq FROM ({_TOKS})
                    WHERE tok = 'vector' GROUP BY doc_id),
            vdf AS (SELECT count(*) AS df FROM vtf),
            vsj AS (
              SELECT vtf.doc_id,
                     round(ln(1 + (csj.doc_count - vdf.df + 0.5) / (vdf.df + 0.5))
                       * (1 - 1 / (1 + vtf.freq * (1 / (1.2 * (0.25 + 0.75 * q.dlen
                           / (csj.sum_ttf / CAST(csj.doc_count AS DOUBLE))))))), 4) AS s
              FROM vtf CROSS JOIN vdf JOIN quantj q USING (doc_id)
                   CROSS JOIN csj),
            jmax AS (SELECT d.lang, round(max(v.s), 4) AS js
                     FROM vsj v JOIN documents d USING (doc_id) GROUP BY d.lang),
            jtot AS (SELECT d.lang, round(sum(v.s), 4) AS js
                     FROM vsj v JOIN documents d USING (doc_id) GROUP BY d.lang),
            dhits AS (SELECT DISTINCT doc_id FROM ({_TOKS}) WHERE tok = 'data')
            SELECT 'fk' AS variant, doc_id,
                   CAST(NULL AS BIGINT) AS n_children,
                   CAST(NULL AS BIGINT) AS parent_doc
            FROM fk
            UNION ALL
            SELECT 'to_parent', doc_id, CAST(n_children AS BIGINT),
                   CAST(NULL AS BIGINT)
            FROM tp
            UNION ALL
            SELECT 'to_child', doc_id, CAST(NULL AS BIGINT),
                   CAST(parent_doc AS BIGINT)
            FROM tc
            UNION ALL
            SELECT 'scored_max', doc_id, rank, CAST(NULL AS BIGINT) FROM (
              SELECT h.doc_id,
                     CAST(row_number() OVER (ORDER BY j.js DESC, h.doc_id) AS BIGINT) AS rank
              FROM dhits h JOIN documents d USING (doc_id)
              JOIN jmax j ON j.lang = d.lang
              ORDER BY j.js DESC, h.doc_id LIMIT 10)
            UNION ALL
            SELECT 'scored_total', doc_id, rank, CAST(NULL AS BIGINT) FROM (
              SELECT h.doc_id,
                     CAST(row_number() OVER (ORDER BY j.js DESC, h.doc_id) AS BIGINT) AS rank
              FROM dhits h JOIN documents d USING (doc_id)
              JOIN jtot j ON j.lang = d.lang
              ORDER BY j.js DESC, h.doc_id LIMIT 10)""",
        "winnow_fingerprint": """
            WITH t AS (SELECT doc_id, lower(text) AS s, length(text) AS n
                       FROM documents WHERE length(text) >= 5),
            g AS (SELECT doc_id, unnest(generate_series(1, n - 4)) AS p,
                         n - 4 AS ng, s
                  FROM t),
            h AS (SELECT doc_id, p, ng,
                         ord(substr(s, CAST(p AS INT), 1)) * 923521
                       + ord(substr(s, CAST(p + 1 AS INT), 1)) * 29791
                       + ord(substr(s, CAST(p + 2 AS INT), 1)) * 961
                       + ord(substr(s, CAST(p + 3 AS INT), 1)) * 31
                       + ord(substr(s, CAST(p + 4 AS INT), 1)) AS hv
                  FROM g),
            w AS (SELECT doc_id, p, ng,
                         min(hv) OVER (PARTITION BY doc_id ORDER BY p
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wm
                  FROM h)
            SELECT DISTINCT doc_id, CAST(wm AS BIGINT) AS fingerprint
            FROM w WHERE ng >= 4 AND p <= ng - 3
            UNION
            SELECT doc_id, CAST(min(hv) AS BIGINT) AS fingerprint
            FROM h WHERE ng < 4 GROUP BY doc_id""",
        "ann_cosine_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                       FROM embeddings WHERE vec_id < 10),
            sims AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(q.qe, e.embedding) AS cosine
              FROM q CROSS JOIN embeddings e WHERE e.vec_id != q.query_id)
            SELECT query_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS INT) AS rank,
                   neighbor_id
            FROM sims QUALIFY rank <= 5""",
        "ann_ivf_fullprobe": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                       FROM embeddings WHERE vec_id < 10),
            sims AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(q.qe, e.embedding) AS cosine
              FROM q CROSS JOIN embeddings e WHERE e.vec_id != q.query_id)
            SELECT query_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS INT) AS rank,
                   neighbor_id
            FROM sims QUALIFY rank <= 5""",
        "ann_lsh_topk": """
            WITH pl AS (
              SELECT t.range AS t, j.range AS j, d.range AS d,
                     CAST(((CAST(t.range*73856093 + j.range*19349663
                                 + d.range*83492791 AS HUGEINT)
                            * 2654435761) % 4294967296) % 2001 - 1000
                          AS BIGINT) AS v
              FROM range(8) t, range(8) j, range(64) d),
            qv AS (
              SELECT e.vec_id, d.range AS d,
                     CAST(floor(CAST(e.embedding[d.range + 1] AS DOUBLE)
                                * 1048576) AS BIGINT) AS q
              FROM embeddings e, range(64) d),
            dots AS (
              SELECT qv.vec_id, pl.t, pl.j, sum(pl.v * qv.q) AS dot
              FROM qv JOIN pl USING (d) GROUP BY 1, 2, 3),
            sigs AS (
              SELECT vec_id, t,
                     sum(CASE WHEN dot > 0
                         THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS bucket
              FROM dots GROUP BY 1, 2),
            probes AS (
              SELECT vec_id AS query_id, t, bucket AS probe
              FROM sigs WHERE vec_id < 10
              UNION
              SELECT s.vec_id, s.t, xor(s.bucket, CAST(1 AS BIGINT) << i.range)
              FROM sigs s, range(8) i WHERE s.vec_id < 10),
            cand AS (
              SELECT DISTINCT p.query_id, s.vec_id AS neighbor_id
              FROM probes p JOIN sigs s ON s.t = p.t AND s.bucket = p.probe
              WHERE s.vec_id != p.query_id),
            scored AS (
              SELECT c.query_id, c.neighbor_id,
                     list_cosine_similarity(q.embedding, e.embedding) AS cosine
              FROM cand c
              JOIN embeddings q ON q.vec_id = c.query_id
              JOIN embeddings e ON e.vec_id = c.neighbor_id)
            SELECT 'lsh' AS variant, query_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS INT) AS rank,
                   neighbor_id
            FROM scored QUALIFY rank <= 5
            UNION ALL
            -- pq: product quantization on the same floor(x*2^20)
            -- grid; centroid c of every subspace = quantized
            -- subvector of vec_id 200+c; assignment + ADC are exact
            -- integer sums
            SELECT 'pq', query_id, rank, neighbor_id FROM (
              WITH cb AS (
                SELECT c.range AS c, s.range AS s, d.range AS d,
                       CAST(floor(CAST(e.embedding[s.range * 8 + d.range + 1]
                            AS DOUBLE) * 1048576) AS BIGINT) AS q
                FROM range(16) c
                JOIN embeddings e ON e.vec_id = 200 + c.range,
                     range(8) s, range(8) d),
              ev AS (
                SELECT vec_id, s.range AS s, d.range AS d,
                       CAST(floor(CAST(embedding[s.range * 8 + d.range + 1]
                            AS DOUBLE) * 1048576) AS BIGINT) AS q
                FROM embeddings, range(8) s, range(8) d),
              dist AS (
                SELECT ev.vec_id, ev.s, cb.c,
                       sum((ev.q - cb.q) * (ev.q - cb.q)) AS d2
                FROM ev JOIN cb USING (s, d) GROUP BY 1, 2, 3),
              codes AS (
                SELECT vec_id, s, c FROM (
                  SELECT vec_id, s, c,
                         row_number() OVER (PARTITION BY vec_id, s
                           ORDER BY d2 ASC, c ASC) AS rn
                  FROM dist) WHERE rn = 1),
              adc AS (
                SELECT qd.vec_id AS query_id, codes.vec_id AS neighbor_id,
                       sum(qd.d2) AS ad
                FROM codes
                JOIN dist qd ON qd.s = codes.s AND qd.c = codes.c
                WHERE qd.vec_id < 10 AND codes.vec_id != qd.vec_id
                GROUP BY 1, 2)
              SELECT query_id,
                     CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY ad ASC, neighbor_id ASC) AS INT) AS rank,
                     neighbor_id
              FROM adc QUALIFY rank <= 5)""",
        "ann_ivf_topk": """
            WITH cent AS (
              SELECT vec_id - 100 AS c, embedding FROM embeddings
              WHERE vec_id >= 100 AND vec_id < 132),
            assign AS (
              SELECT vec_id, c FROM (
                SELECT e.vec_id, ct.c,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.embedding,
                                      ct.embedding) DESC, ct.c) AS rn
                FROM embeddings e CROSS JOIN cent ct) WHERE rn = 1),
            probes AS (
              SELECT query_id, c FROM (
                SELECT e.vec_id AS query_id, ct.c,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.embedding,
                                      ct.embedding) DESC, ct.c) AS rn
                FROM embeddings e CROSS JOIN cent ct
                WHERE e.vec_id < 10) WHERE rn <= 8),
            cand AS (
              SELECT p.query_id, a.vec_id AS neighbor_id
              FROM probes p JOIN assign a ON a.c = p.c
              WHERE a.vec_id != p.query_id),
            scored AS (
              SELECT c.query_id, c.neighbor_id,
                     list_cosine_similarity(q.embedding, e.embedding) AS cosine
              FROM cand c JOIN embeddings q ON q.vec_id = c.query_id
              JOIN embeddings e ON e.vec_id = c.neighbor_id)
            SELECT query_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS INT) AS rank,
                   neighbor_id
            FROM scored QUALIFY rank <= 5""",
        "media_stats": """
            SELECT doc_id,
                   CAST(octet_length(CAST(text AS BLOB)) AS INT) AS media_bytes,
                   'application/octet-stream' AS media_type
            FROM documents""",
        "lang_id": """
            WITH aug AS (
              SELECT doc_id, text
                || CASE WHEN doc_id % 4 = 1 THEN repeat(' der die das und ist', 5) ELSE '' END
                || CASE WHEN doc_id % 4 = 2 THEN repeat(' le la les et est', 5) ELSE '' END
                || CASE WHEN doc_id % 4 = 3 THEN repeat(' el los que y por', 5) ELSE '' END
                AS text
              FROM documents),
            toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok
                     FROM aug),
            h AS (
              SELECT a.doc_id,
                     CAST(coalesce(count(tok), 0) AS INT) AS n_tokens,
                     CAST(coalesce(sum(CASE WHEN tok IN ('der','die','das','und','ist','nicht','ein','zu','mit') THEN 1 ELSE 0 END), 0) AS INT) AS hits_de,
                     CAST(coalesce(sum(CASE WHEN tok IN ('the','and','of','to','a','in','is','it','for','on') THEN 1 ELSE 0 END), 0) AS INT) AS hits_en,
                     CAST(coalesce(sum(CASE WHEN tok IN ('el','la','los','de','que','y','es','en','un','por') THEN 1 ELSE 0 END), 0) AS INT) AS hits_es,
                     CAST(coalesce(sum(CASE WHEN tok IN ('le','la','les','et','est','un','une','dans','pour') THEN 1 ELSE 0 END), 0) AS INT) AS hits_fr
              FROM aug a LEFT JOIN toks USING (doc_id) GROUP BY a.doc_id)
            SELECT doc_id, n_tokens, hits_de, hits_en, hits_es, hits_fr,
                   CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'unknown'
                        WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
                        WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
                        WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
                        ELSE 'fr' END AS lang_guess
            FROM h""",
    }
