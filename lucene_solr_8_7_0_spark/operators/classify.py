"""lucene/classification analogs — the INDEX is the training set.

References:
- lucene/classification/src/java/org/apache/lucene/classification/
  SimpleNaiveBayesClassifier.java:135-272 — classes enumerated from the
  class field's terms; per class, score = logPrior + logLikelihood with
  add-1 smoothing, where for each input-token OCCURRENCE
  ``num = docFreq(word AND class) + 1`` (:205-215, getWordFreqForClass
  is a Boolean AND hit COUNT, i.e. a per-class document frequency) and
  ``den = avgUniqueTermsPerDoc * docFreq(class) + docsWithClass``
  (:230-240 getTextTermFreqForClass: sumDocFreq/docCount of the text
  field times the class's docFreq), prior = ``log(docFreq(class)) -
  log(docsWithClass)`` (:266-268), then the scores are softmax-
  normalized to 0..1 (:279-305 normClassificationResults).
- lucene/classification/src/java/org/apache/lucene/classification/
  KNearestNeighborClassifier.java:159-181 — a MoreLikeThis query over
  the input text (same term selection as MoreLikeThis.createQueue:
  tf >= minTermFreq, df >= minDocFreq, score = tf * idf, top
  maxQueryTerms) with per-term boosts ``score/bestScore`` where
  bestScore is the FIRST pop of the min-heap FreqQ — i.e. the LOWEST
  selected term score (MoreLikeThis.java:622-632, FreqQ.lessThan:951);
  BM25 top-k over that query, then per-class vote
  ``(count * avgNormBoost) / k`` with normBoost = score/maxScore,
  rescaled by ``k/sumdoc`` when fewer than k hits carry a class
  (:189-235 buildListFromTopDocs) — algebraically
  ``sum(score/maxScore) / sumdoc``.

Spark-first shape (both classifiers are BATCH operators — classify a
whole DataFrame of inputs in one job graph, not one text at a time):

* the class-conditional document frequencies come from ONE pushed-down
  postings scan restricted to the INPUT VOCABULARY (``term IN (...)``
  on the term-sorted segments parquet — the same row-group pruning as
  a term query), decoded per partition and joined to the docmeta class
  column; the reference runs one Boolean query per (word, class) pair
  — the batched groupBy computes the identical counts in one shuffle.
* kNN's per-(input, doc) BM25 is a sparse join: (input, term, boost)
  x (term, doc, freq) x per-doc quantized length — the engine's
  established SQL-replay scoring model (float64, norm byte4
  quantization via the closed form, scores rounded to 4; ties by
  doc_id asc), so a DuckDB oracle can replay every row.  The per-input
  top-k is a bounded window, never a driver loop.
* scale: both plans are one-or-two-shuffle aggregations whose keys are
  (term, class) / (input, doc); no driver materialization beyond the
  tiny class list and three collection-stats scalars.

Out of scope, deliberately: BM25NBClassifier (its log-prior and
per-token likelihood are the top-1 BM25 score of queries that SCORE
the class keyword field — BM25NBClassifier.java:105-128 — which
requires a second scored postings field, excluded by the
single-scored-field design); KNearestFuzzyClassifier (KNN over
fuzzified terms — same vote machinery, FuzzyQuery-expanded term sets);
BooleanPerceptronClassifier (a sequential per-document training loop
whose weight updates are order-dependent — not faithfully
parallelizable as a batch plan).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["postings_df", "naive_bayes_classify", "knn_classify",
           "mlt_query_terms"]


def postings_df(searcher, terms) -> DataFrame:
    """(term, doc_id, freq) for every posting of ``terms`` — one
    pushed-down scan of the term-sorted segments parquet (``term IN``
    prunes row groups exactly like a multi-term query) + a narrow
    per-partition decode; global doc ids are segment-relative ids
    shifted by the segment base, as everywhere in the engine.

    ``terms`` is either a list (small: literal IN pushdown) or a
    DataFrame with a ``term`` column (large: a distributed semi-join —
    Catalyst broadcasts it below the threshold and degrades to a
    shuffle join past it, so NO term list ever reaches the driver)."""
    import numpy as np
    import pyarrow as pa

    from ..functions.codec import decode_term_postings
    from .search import posting_rows
    from .segments import SENTINEL_TERM

    seg_size = searcher.cfg.segment_size
    seg = searcher.segments.filter(F.col("term") != SENTINEL_TERM)
    if isinstance(terms, DataFrame):
        seg = seg.join(terms.select("term").distinct(), "term", "left_semi")
    else:
        seg = seg.filter(F.col("term").isin(list(terms)))
    seg = seg.select(
        "segment_id", "term", "df", "ttf", "singleton_doc",
        "singleton_freq", "doc_blocks", "doc_block_offsets", "freq_blocks",
        "freq_block_offsets", "block_last_docs", "impacts_flat",
        "impacts_offsets",
    )

    def run(batches):
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            out_term, out_doc, out_freq = [], [], []
            for seg_id, term, tp in zip(tbl["segment_id"].to_pylist(),
                                        tbl["term"].to_pylist(), posting_rows(tbl)):
                docs, freqs, _ = decode_term_postings(tp)
                out_term.append(np.full(len(docs), term, dtype=object))
                out_doc.append(docs.astype(np.int64) + seg_id * seg_size)
                out_freq.append(freqs.astype(np.int32))
            if out_term:
                yield pa.RecordBatch.from_pydict({
                    "term": pa.array(np.concatenate(out_term), pa.string()),
                    "doc_id": np.concatenate(out_doc),
                    "freq": np.concatenate(out_freq),
                })

    return seg.mapInArrow(run, schema="term string, doc_id bigint, freq int")


def _tokens_col(cfg, content_col: str):
    """Input-text tokenization as a JVM array<string> Column, matching
    the engine's build/query analysis chain for the configured
    analyzer (functions/analysis.jvm_token_array parity contract)."""
    from ..functions.analysis import jvm_token_array

    toks = jvm_token_array(content_col, cfg.analyzer)
    if cfg.analyzer == "standard":
        # the standard chain filters on PRE-lowercase length, then lowers
        toks = F.transform(
            F.filter(toks, lambda t: F.length(t) <= cfg.max_token_length),
            F.lower,
        )
    if cfg.stopwords:
        stops = F.array(*[F.lit(s) for s in sorted(cfg.stopwords)])
        toks = F.filter(toks, lambda t: ~F.array_contains(stops, t))
    return toks


def _class_stats(searcher, class_field: str):
    """(classes pdf [cls, df_c], docs_with_class, avg_unique_terms).

    Bounded driver reads: the class list is small by construction (a
    classifier's label space), the other two are single aggregate rows
    — the same budget as the reference's countDocsWithClass /
    getTextTermFreqForClass probes."""
    meta = searcher._docmeta()
    classes = (
        meta.filter(F.col(class_field).isNotNull())
        .groupBy(class_field).agg(F.count("*").alias("df_c"))
        .toPandas()
    )
    docs_with_class = int(classes["df_c"].sum())
    # sumDocFreq / docCount of the content field (SimpleNaiveBayes
    # Classifier.java:230-238): termdict df sums are exact
    row = searcher.termdict.agg(F.sum("df").alias("sdf")).collect()[0]
    sum_doc_freq = int(row["sdf"] or 0)
    doc_count = searcher.stats.doc_count or 1
    return classes, docs_with_class, sum_doc_freq / float(doc_count)


def naive_bayes_classify(
    searcher,
    inputs: DataFrame,
    class_field: str = "lang",
    text_col: str = "text",
    id_col: str = "input_id",
    vocab_pushdown_limit: int = 4096,
) -> DataFrame:
    """SimpleNaiveBayesClassifier over a batch of inputs.

    Returns one row per input: (input_id, label, score, n_classes)
    where label is the argmax class (ties: label asc — the reference's
    HashMap iteration order is unspecified, the engine pins a total
    order) and score is the softmax-normalized posterior (rounded to
    6), exactly normClassificationResults' 0..1 value."""
    spark = searcher.spark
    classes, docs_with_class, avg_unique = _class_stats(searcher, class_field)
    if len(classes) == 0 or docs_with_class == 0:
        return spark.createDataFrame(
            [], f"{id_col} bigint, label string, score double, n_classes int"
        )

    toks = inputs.select(
        F.col(id_col), F.explode(_tokens_col(searcher.cfg, text_col)).alias("term")
    )
    # per-(input, term) occurrence counts — each occurrence contributes
    # one log-likelihood term (calculateLogLikelihood iterates tokens)
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # vocabulary access path: a BOUNDED probe decides between the
    # literal IN pushdown (small interactive batches: row-group pruning
    # on the sorted term column) and a distributed semi-join (corpus-
    # scale batches: the probe stops at the limit, the full vocabulary
    # never reaches the driver — the old unconditional
    # distinct().collect() was a scale-killer for bulk labeling)
    vocab_df = tf.select("term").distinct()
    probe = vocab_df.limit(vocab_pushdown_limit + 1).collect()
    vocab = (
        [r["term"] for r in probe]
        if len(probe) <= vocab_pushdown_limit
        else vocab_df
    )

    # class-conditional docFreq: one pushed-down postings scan + join
    meta = searcher._docmeta().select(
        "doc_id", F.col(class_field).alias("cls")
    )
    wc = (
        postings_df(searcher, vocab)
        .join(meta, "doc_id")
        .groupBy("term", "cls")
        .agg(F.count("*").alias("hits"))
    )

    cls_df = spark.createDataFrame(
        [(str(r[class_field]), int(r["df_c"])) for _, r in classes.iterrows()],
        "cls string, df_c bigint",
    )
    # grid: (input, term, tf) x classes, left-joined with the hit
    # counts; only a literal vocabulary bounds them small enough to
    # broadcast — the semi-join path's counts scale with the corpus
    if isinstance(vocab, list):
        wc = F.broadcast(wc)
    grid = (
        tf.crossJoin(F.broadcast(cls_df))
        .join(wc, ["term", "cls"], "left")
        .fillna({"hits": 0})
    )
    den = F.lit(avg_unique) * F.col("df_c") + F.lit(float(docs_with_class))
    loglik = F.col("tf") * F.log((F.col("hits") + F.lit(1.0)) / den)
    prior = F.log(F.col("df_c").cast("double")) - F.lit(
        math.log(docs_with_class)
    )
    scored = (
        grid.groupBy(id_col, "cls", "df_c")
        .agg(F.sum(loglik).alias("ll"))
        .select(id_col, "cls", (F.col("ll") + prior).alias("raw"))
    )
    # softmax normalization (normClassificationResults :279-305)
    w = Window.partitionBy(id_col)
    norm = scored.withColumn(
        "p",
        F.exp(F.col("raw") - F.max("raw").over(w))
        / F.sum(F.exp(F.col("raw") - F.max("raw").over(w))).over(w),
    )
    pick = Window.partitionBy(id_col).orderBy(
        F.col("p").desc(), F.col("cls").asc()
    )
    return (
        norm.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            id_col,
            F.col("cls").alias("label"),
            F.round("p", 6).alias("score"),
            F.lit(len(classes)).cast("int").alias("n_classes"),
        )
    )


def mlt_query_terms(
    searcher,
    inputs: DataFrame,
    text_col: str = "text",
    id_col: str = "input_id",
    min_tf: int = 2,
    min_df: int = 5,
    max_terms: int = 25,
) -> DataFrame:
    """Per-input MoreLikeThis term selection with the reference's
    query-time boosts: (input_id, term, boost) where boost =
    score / min(selected scores) (MoreLikeThis.java:622-632 — FreqQ is
    a min-heap, so ``bestScore`` is the LOWEST selected score and every
    boost is >= 1).  Ranking policy: score desc, term asc (the engine's
    deterministic stand-in for the reference's hash order)."""
    toks = inputs.select(
        F.col(id_col), F.explode(_tokens_col(searcher.cfg, text_col)).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    n_docs = float(searcher.stats.num_docs)
    cand = (
        tf.filter(F.col("tf") >= min_tf)
        .join(searcher.termdict.select("term", "df"), "term")
        .filter(F.col("df") >= min_df)
        .withColumn(
            "mlt_score",
            F.col("tf") * (F.log(F.lit(n_docs) / (F.col("df") + 1)) + 1.0),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.round("mlt_score", 9).desc(), F.col("term").asc()
    )
    sel = cand.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= max_terms
    )
    best = Window.partitionBy(id_col)
    return sel.select(
        id_col, "term",
        (F.col("mlt_score") / F.min("mlt_score").over(best)).alias("boost"),
    )


def quantized_len_col(name: str = "length"):
    """SmallFloat.intToByte4 round-trip as a closed-form JVM expression
    over the exact token length column ``name`` — identical to the SQL
    oracle's CASE form, so both sides quantize bit-for-bit.  (SQL expr
    because pyspark's F.shiftleft only takes a literal shift.)"""
    s = f"(CAST(floor(log2({name} - 24)) AS INT) - 3)"
    return F.expr(
        f"CASE WHEN {name} < 40 THEN {name} "
        f"ELSE 24 + shiftleft(shiftright({name} - 24, {s}), {s}) END"
    ).cast("bigint")


def knn_classify(
    searcher,
    inputs: DataFrame,
    class_field: str = "lang",
    text_col: str = "text",
    id_col: str = "input_id",
    k: int = 10,
    min_tf: int = 2,
    min_df: int = 5,
    max_terms: int = 25,
) -> DataFrame:
    """KNearestNeighborClassifier over a batch of inputs.

    Per input: MLT term selection (mlt_query_terms) -> boosted BM25
    over the index as a sparse (input, term) x (term, doc) join in the
    engine's SQL-replay scoring model (float64, quantized norms,
    round-4, ties doc asc) -> bounded top-k window -> the reference's
    class vote sum(score/maxScore)/sumdoc.  Returns (input_id, label,
    score, n_hits); ties on the vote break label asc."""
    spark = searcher.spark
    sel = mlt_query_terms(
        searcher, inputs, text_col, id_col, min_tf, min_df, max_terms
    )
    vocab = [r["term"] for r in sel.select("term").distinct().collect()]
    if not vocab:
        return spark.createDataFrame(
            [], f"{id_col} bigint, label string, score double, n_hits int"
        )

    n = float(searcher.stats.doc_count)
    avgdl = searcher.stats.sum_ttf / n
    k1, b = searcher.cfg.k1, searcher.cfg.b
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    meta = searcher._docmeta().select(
        "doc_id", quantized_len_col("length").alias("dlen"),
        F.col(class_field).alias("cls"),
    )
    tfdoc = (
        postings_df(searcher, vocab)
        .join(searcher.termdict.select("term", "df"), "term")
        .join(meta, "doc_id")
    )
    norm_inv = F.lit(1.0) / (
        F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dlen") / F.lit(avgdl))
    )
    per_term = idf * (
        F.lit(1.0) - F.lit(1.0) / (F.lit(1.0) + F.col("freq") * norm_inv)
    )
    scored = (
        sel.join(tfdoc, "term")
        .groupBy(id_col, "doc_id", "cls")
        .agg(F.round(F.sum(F.col("boost") * per_term), 4).alias("score"))
    )
    wk = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    topk = scored.withColumn("rn", F.row_number().over(wk)).filter(
        F.col("rn") <= k
    )
    # vote: sum(score/maxScore) per class / total docs carrying a class;
    # maxScore is the UNFILTERED top-1 (buildListFromTopDocs :192 reads
    # scoreDocs[0] before the class-field loop)
    wi = Window.partitionBy(id_col)
    votes = (
        topk.withColumn("nb", F.col("score") / F.max("score").over(wi))
        .filter(F.col("cls").isNotNull())
        .groupBy(id_col, "cls")
        .agg(F.sum("nb").alias("boost_sum"), F.count("*").alias("cnt"))
        .withColumn("sumdoc", F.sum("cnt").over(Window.partitionBy(id_col)))
        .withColumn("vote", F.col("boost_sum") / F.col("sumdoc"))
    )
    pick = Window.partitionBy(id_col).orderBy(
        F.round("vote", 9).desc(), F.col("cls").asc()
    )
    return (
        votes.withColumn("prn", F.row_number().over(pick))
        .filter(F.col("prn") == 1)
        .select(
            id_col,
            F.col("cls").alias("label"),
            F.round("vote", 6).alias("score"),
            F.col("sumdoc").cast("int").alias("n_hits"),
        )
    )
