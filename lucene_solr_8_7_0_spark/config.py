"""Engine configuration.

Mirrors the knobs of the reference engine's IndexWriterConfig /
Lucene84PostingsFormat (see SURVEY.md §2) re-expressed for a Spark
deployment.  All values that influence *results* (analyzer, BM25
params, norm encoding) are fixed to the reference defaults; values
that influence only *physical layout* (segment size, shuffle width)
are free and must never change query results.
"""

from __future__ import annotations

from dataclasses import dataclass, field


# Postings are encoded in fixed 128-doc blocks, like the reference's
# Lucene84PostingsFormat BLOCK_SIZE=128
# (lucene/core/.../codecs/lucene84/Lucene84PostingsFormat.java:558).
BLOCK_SIZE = 128

# StandardAnalyzer.DEFAULT_MAX_TOKEN_LENGTH
# (lucene/core/.../analysis/standard/StandardAnalyzer.java:39).
DEFAULT_MAX_TOKEN_LENGTH = 255

# IndexSearcher.TOTAL_HITS_THRESHOLD default: collectors start feeding
# minCompetitiveScore back to scorers after this many hits
# (lucene/core/.../search/IndexSearcher.java:102).
DEFAULT_TOTAL_HITS_THRESHOLD = 1000

# BooleanQuery.maxClauseCount default
# (lucene/core/.../search/BooleanQuery.java:44).
MAX_CLAUSE_COUNT = 1024


@dataclass
class EngineConfig:
    """Tunables for one index build / search deployment."""

    # --- result-affecting (reference-pinned defaults) ---
    k1: float = 1.2
    b: float = 0.75
    # default Similarity bound by searchers over this index: "bm25"
    # (BM25Similarity, k1/b above) or "classic" (ClassicSimilarity
    # TF-IDF).  A search can override per query
    # (IndexSearcher.setSimilarity surface); norms store the document
    # LENGTH either way, so the choice is purely query-time.
    similarity: str = "bm25"
    # "standard" | "simple" | "whitespace" (WhitespaceAnalyzer:
    # split on Unicode whitespace, case-preserving) | "keyword"
    # (KeywordAnalyzer: the whole value is one token) | "shingle"
    # (simple -> 2-gram shingles) | "english" (standard -> lower ->
    # stop -> Porter) | "ngram[:min[:max]]" (simple -> char n-grams,
    # NGramTokenFilter defaults 1..2) | "edge_ngram[:min[:max]]"
    # (simple -> prefix grams, the autocomplete chain)
    analyzer: str = "standard"
    # ASCIIFoldingFilter analog (analysis/common/.../miscellaneous/
    # ASCIIFoldingFilter.java): fold accented Latin to ASCII after the
    # analyzer's own case handling.  Python tokenize backend only.
    ascii_folding: bool = False
    # HTMLStripCharFilter analog (analysis/common/.../charfilter/
    # HTMLStripCharFilter.java): strip tags/comments/script/style and
    # decode named entities BEFORE tokenization (a CharFilter sits
    # under the tokenizer).  Supported by both the JVM and the Python
    # tokenize backends (functions/analysis.HTML_STRIP_STEPS).
    html_strip: bool = False
    # index-time synonyms (analysis/common/.../synonym/
    # SynonymGraphFilter.java applied at INDEX time, single-token
    # rules): tuple of (term, (synonym, ...)) pairs; each occurrence
    # of ``term`` additionally emits the synonyms at the SAME position
    # (posIncrement 0), which do not count toward the field length
    # (discountOverlaps norms, BM25Similarity.java:116).  Python
    # tokenize backend only (like ascii_folding); applied after the
    # analyzer's own filters.
    index_synonyms: tuple = ()
    # LimitTokenCountFilter / LimitTokenCountAnalyzer analog
    # (analysis/common/.../miscellaneous/LimitTokenCountFilter.java,
    # consumeAllTokens=false): keep only the first N tokens of each
    # document — the giant-document guard (the reference's
    # IndexWriterConfig used maxFieldLength for the same purpose
    # historically).  0 = unlimited.  Field length counts the KEPT
    # tokens only.
    max_doc_tokens: int = 0
    max_token_length: int = DEFAULT_MAX_TOKEN_LENGTH
    index_positions: bool = True
    # opt-in character-offset store (the .pay / offsets tier,
    # Lucene84PostingsFormat DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS):
    # materializes a doc-major ``termvectors`` table at build time so
    # highlighting can slice ORIGINAL text by stored offsets
    # (operators/termvectors.py).  Off by default — it costs one extra
    # content scan and its own storage, like the reference's opt-in.
    index_offsets: bool = False
    # StopFilter stop set (position-hole semantics); empty = the
    # StandardAnalyzer() default (StandardAnalyzer.java:51-53)
    stopwords: tuple = ()
    # Index-time sort (IndexWriterConfig.setIndexSort,
    # lucene/core/.../index/IndexWriterConfig.java:484): a sequence of
    # (field, reverse) pairs over non-content source columns.  Global
    # doc ids are assigned by RANK OVER the sort key (then repo, path
    # for uniqueness), so ascending doc id IS the index sort order,
    # segments cover contiguous sort-key ranges, and the doc-sorted
    # docmeta parquet carries tight per-row-group min/max on the sort
    # column (the reference's sorted-segment + BKD pruning story).
    # Result-affecting only through doc-id tie-breaks, exactly like
    # the reference (sorting changes docID assignment, not scores).
    index_sort: tuple = ()

    # --- physical layout (never affects results) ---
    # Tokenizer execution backend: "jvm" runs the analyzer regex inside
    # whole-stage codegen (scales with executor threads, no Python
    # allocation); "python" is the Arrow-UDF path.  Token-identical by
    # construction (tests assert full-index equality) — a physical
    # knob, not a semantic one.
    tokenize_backend: str = "jvm"
    # Segment-encode kernel backend: "arrow" feeds the kernel a
    # pyarrow Table (applyInArrow) and dictionary-encodes the token
    # stream in Arrow C++ — zero per-token Python string objects, which
    # is what saturates allocation-throttled hosts; "pandas" is the
    # Arrow->pandas path.  Output is row-identical (tests assert it).
    encode_backend: str = "arrow"
    # Docs per segment.  Segment boundaries are a pure function of the
    # global doc id (segment_id = doc_id // segment_size), so the index
    # contents are identical at any cluster size.
    segment_size: int = 1 << 16
    # Target rows per parquet file on index write.
    write_max_records_per_file: int = 2_000_000

    # --- table format ---
    # "parquet" locally; an Iceberg catalog slots in here unchanged at
    # cluster scale (same dataframe writer API).
    table_format: str = "parquet"

    extra: dict = field(default_factory=dict)

    def num_segments(self, num_docs: int) -> int:
        return max(1, -(-num_docs // self.segment_size))
