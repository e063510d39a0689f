"""The three workloads.  Each puts one layer under load and leaves the
others nearly idle; README.md records why each was chosen and at what
size.  Load comes from one process: Spark ``local[N]``, N half the
usable cores, driven by a single closed-loop client (the calling thread).
The engine sees only the corpus, queries and update batches generated
here from ``--seed``.  The workloads time walls and take a host probe
after every op; run.py scales the walls to the reference speed.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import host
from tracing import Tracer, event_log_conf, span_coverage, spark_layers

K = 10
# query_stream and nrt_update: a 320-file corpus in 16 segments, the
# segment count of the 20k-file bench layout
SEARCH_DOCS, SEARCH_SEGMENT = 320, 20
# build_batch: at least three builds per run.  The first timed build
# ran about 10% slower than the second in most runs, even after a full
# warm-up build; the median of three drops it, a mean of two did not.
BUILD_DOCS, BUILD_SEGMENT = 2000, 125  # 16 segments
MIN_BUILDS = 3
# fixed: every commit rewrites the whole snapshot, so cost grows with
# each.  Two commits per run took 74-94 s a run in a slow period of the
# host, too long for the contract's run-time budget.
COMMITS = 1
UPDATE_SHARE = 0.01  # of the corpus, per commit
# the first 2 searches after a reopen pay QueryCache admission
# (min_uses=2): with 5 per commit, p50 falls among the other 3 and p90
# between the 2
SEARCHES_PER_COMMIT = 5
ORACLE_SAMPLE = 24  # timed searches compared bitwise with the oracle
# warm-up searches: after 6-8, the first timed searches still ran 20-40%
# slower than the rest, and nrt_update's post-commit searches spread
# twice as wide after 6 as after 12
WARMUP_SEARCHES = 12


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    tracer: Tracer = field(init=False)
    attempted: int = 0
    failed: int = 0  # timed ops that raised or failed a check
    faults: list = field(default_factory=list)
    report: dict = field(default_factory=dict)  # named metrics, with units and n
    layers: dict = field(default_factory=dict)  # per-layer metrics (traced)
    info: dict = field(default_factory=dict)  # checks and context, not metrics

    def __post_init__(self):
        self.tracer = Tracer(self.trace)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op_done(self, fault: str | None, what: str) -> bool:
        self.attempted += 1
        if fault is not None:
            self.failed += 1
            if len(self.faults) < 10:
                self.faults.append(f"{what}: {fault}")
        return fault is None

    def named(self, name: str, value: float, unit: str, n: int) -> None:
        self.report[name] = {"value": float(value), "unit": unit, "n": int(n)}


# ---- Spark session -------------------------------------------------------

def spark_cores() -> int:
    """Half the usable cores: on a shared 4-vCPU host, four CPU-bound
    processes at times each ran 3-4x slower than one alone, and local[4]
    spent 50% more CPU per search than local[2] for the same latency."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def start_spark(run: Run, event_log: bool = False):
    from lucene_solr_8_7_0_spark.session import get_spark

    cores = spark_cores()
    jvm_tmp = run.path("jvm-tmp")
    os.makedirs(jvm_tmp, exist_ok=True)
    extra = {
        # keep every file Spark writes inside the run's work directory
        "spark.local.dir": run.path("spark-local"),
        "spark.sql.warehouse.dir": run.path("warehouse"),
        # a fixed-size heap (the initial size set to spark.driver.memory):
        # the JVM's share of peak memory then follows what the run
        # touches, not when the collector chose to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData "
            f"-Xms{os.environ['SPARK_DRIVER_MEM']}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(run.path("eventlog"), exist_ok=True)
        extra.update(event_log_conf(run.path("eventlog")))
    spark = get_spark(cores=cores, shuffle_partitions=4 * cores,
                      app_name=f"perfbench-{run.workload}", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark=None, kill_jvm: bool = True) -> None:
    """Stop the session (the active one when ``spark`` is None); with
    ``kill_jvm``, also end the JVM and its Python workers and wait until
    every one of them has exited.  Safe to call when nothing runs."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    pids = []
    if kill_jvm:
        kids = host.proc_children()
        todo = list(kids.get(os.getpid(), ()))
        while todo:
            pid = todo.pop()
            pids.append(pid)
            todo.extend(kids.get(pid, ()))
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if not kill_jvm or gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


# ---- inputs --------------------------------------------------------------

def make_corpus(run: Run, pdf: pd.DataFrame, name: str) -> tuple[str, int]:
    """Write ``pdf`` as one parquet file per core, the shape bench.py's
    distributed generator writes.  -> (directory, bytes on disk)."""
    out = run.path(name)
    os.makedirs(out, exist_ok=True)
    parts = spark_cores()
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), parts)):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[chunk], preserve_index=False),
            os.path.join(out, f"part-{i:05d}.parquet"),
        )
    return out, dir_bytes(out)


def corpus_pdf(n: int, seed: int, start: int = 0) -> pd.DataFrame:
    from lucene_solr_8_7_0_spark.sources.corpus import generate_corpus_pdf

    return generate_corpus_pdf(np.arange(start, start + n), n, seed=seed)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def query_stream(td: pd.DataFrame, seed: int):
    """Endless seeded stream of distinct ``(kind, Query)``.

    70% are ``generate_query_set`` shapes (term, AND, OR, msm and AND-OR
    over hot, mid and rare df, with missing terms); the other 30% are
    phrase, prefix and MUST_NOT queries, 10% each."""
    from lucene_solr_8_7_0_spark.plans import queries as Q
    from lucene_solr_8_7_0_spark.sources.corpus import generate_query_set

    rng = np.random.default_rng(seed)
    terms = td.sort_values(["df", "term"], ascending=[False, True])["term"].tolist()
    n = len(terms)
    hot = terms[: max(5, n // 100)]
    mid = terms[n // 10 : n // 2] or hot
    by_prefix = Counter(t[:3] for t in terms if len(t) > 3)
    prefixes = sorted(p for p, c in by_prefix.items() if c >= 2)

    def pick(pool):
        return pool[int(rng.integers(len(pool)))]

    def extra(slot: int):
        if slot == 0:
            a = pick(hot)
            b = pick(hot) if rng.random() < 0.5 else pick(mid)
            return "phrase", Q.PhraseQuery((a, b))
        if slot == 1:
            return "prefix", Q.PrefixQuery(pick(prefixes))
        b = Q.Builder()
        b.add(Q.TermQuery(pick(hot) if rng.random() < 0.5 else pick(mid)),
              Q.Occur.MUST)
        b.add(Q.TermQuery(pick(hot)), Q.Occur.MUST_NOT)
        return "must_not", b.build()

    def shaped(row):
        t = list(row.terms)
        if row.qtype == "term":
            return "term", Q.TermQuery(t[0])
        if row.qtype == "and":
            return "and", Q.term_and(t)
        if row.qtype == "or":
            if len(t) >= 3 and row.qid % 2:
                return "msm", Q.term_or(t, 2)
            return "or", Q.term_or(t, int(row.min_should_match))
        b = Q.Builder()  # and_or: MUST hot + SHOULD mids
        b.add(Q.TermQuery(t[0]), Q.Occur.MUST)
        for x in t[1:]:
            b.add(Q.TermQuery(x), Q.Occur.SHOULD)
        return "and_or", b.build()

    seen: set = set()
    batch = 0
    while True:
        rows = generate_query_set(td, seed=seed * 1000 + batch, n_queries=70, k=K)
        batch += 1
        for i, row in enumerate(rows.itertuples()):
            out = [shaped(row)]
            if i % 7 == 6:
                out += [extra(0), extra(1), extra(2)]
            for kind, q in out:
                key = repr(q)
                if key not in seen:
                    seen.add(key)
                    yield kind, q


def warm_up(searcher, stream) -> list[float]:
    """A fixed number of searches, so that every run does the same
    set-up work.  -> their walls (ms)."""
    walls = []
    for _ in range(WARMUP_SEARCHES):
        _, q = next(stream)
        t0 = time.perf_counter()
        searcher.search(q, k=K)
        walls.append(round((time.perf_counter() - t0) * 1000.0, 1))
    return walls


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


# ---- searches ------------------------------------------------------------

def timed_search(run: Run, spark, searcher, kind: str, q, op_id: str,
                 num_docs: int):
    """One search op, then a host probe.  -> record dict, or None when
    the search raised."""
    t0 = time.perf_counter()
    try:
        with run.tracer.op(spark.sparkContext, op_id), run.tracer.span("search"):
            top = searcher.search(q, k=K)
    except Exception as e:  # an op that raises counts as failed
        run.op_done(f"{type(e).__name__}: {e}", f"{op_id} {kind}")
        host.probe_ms()
        return None
    wall = (time.perf_counter() - t0) * 1000.0
    host.probe_ms()
    rec = {"op": op_id, "kind": kind, "query": q, "ms": wall,
           "ids": top.doc_ids, "scores": top.scores, "ok": True}
    fault = checks.check_topk(top.doc_ids, top.scores, K, num_docs)
    rec["ok"] = run.op_done(fault, f"{op_id} {kind}")
    return rec


def oracle_check(run: Run, recs: list[dict], docs: pd.DataFrame,
                 deleted: np.ndarray | None = None) -> None:
    """Compare a seeded sample of ``recs`` bitwise with the oracle over
    ``docs`` (doc_id, content).  Outside the timed window and setup_s.
    A mismatch fails the op."""
    from lucene_solr_8_7_0_spark.config import EngineConfig
    from lucene_solr_8_7_0_spark.functions.oracle import build_oracle_index

    t0 = time.perf_counter()
    oi = build_oracle_index(docs[["doc_id", "content"]], EngineConfig())
    picked = checks.sample_indices(len(recs), ORACLE_SAMPLE, run.seed)
    mismatches = 0
    for i in picked:
        r = recs[i]
        exp_ids, exp_scores = checks.oracle_topk(oi, r["query"], K, deleted)
        fault = checks.compare_topk(r["ids"], r["scores"], exp_ids, exp_scores)
        if fault is not None:
            mismatches += 1
            if r["ok"]:  # the op passed its cheap checks: now it fails
                r["ok"] = False
                run.failed += 1
            if len(run.faults) < 10:
                run.faults.append(f"{r['op']} {r['kind']} vs oracle: {fault}")
    run.info["oracle"] = {"compared": len(picked), "mismatches": mismatches,
                          "seconds": round(time.perf_counter() - t0, 3)}


def doc_contents(index_dir: str, pdf: pd.DataFrame) -> pd.DataFrame:
    """(doc_id, repo, path, content) for ``pdf``'s rows, doc ids read
    from the index's docs table."""
    ids = pq.read_table(os.path.join(index_dir, "docs"),
                        columns=["repo", "path", "doc_id"]).to_pandas()
    return pdf[["repo", "path", "content"]].merge(ids, on=["repo", "path"])


def layer_dirs_mb(index_dir: str) -> dict:
    return {f"build.{t}_mb": dir_bytes(os.path.join(index_dir, t)) / 2**20
            for t in ("segments", "docmeta", "termdict", "docs")}


def manifest_walls(index_dir: str) -> dict:
    """Stage walls the build itself recorded in its manifest."""
    m = pq.read_table(os.path.join(index_dir, "manifest"),
                      columns=["stage", "wall_s"]).to_pandas()
    return {f"build.{s}_s": float(m.loc[m.stage == s, "wall_s"].sum())
            for s in ("docs", "segments", "docmeta", "termdict")}


def median_dicts(dicts: list[dict]) -> dict:
    keys = dicts[0].keys() if dicts else ()
    return {k: float(np.median([d[k] for d in dicts])) for k in keys}


# ---- workloads -----------------------------------------------------------

def end_setup(run: Run, setup: host.Phases) -> None:
    run.named("setup_wall_s", sum(setup.wall.values()), "s", 1)
    run.info["setup_phases_s"] = {k: round(v, 3) for k, v in setup.wall.items()}


def op_percentiles(ms: list[float]) -> dict:
    return {"op_p50_ms": pct(ms, 50), "op_p90_ms": pct(ms, 90), "ops": len(ms)}


def named_latency(run: Run, name: str, recs: list[dict]) -> None:
    """``name``_p50_ms and _p90_ms over the records' walls."""
    ms = [r["ms"] for r in recs]
    run.named(f"{name}_p50_ms", pct(ms, 50), "ms", len(ms))
    run.named(f"{name}_p90_ms", pct(ms, 90), "ms", len(ms))


def _setup_search_index(run: Run, setup: host.Phases):
    """Shared set-up of query_stream and nrt_update: Spark, corpus,
    initial build, searcher open and warm-up."""
    from lucene_solr_8_7_0_spark.config import EngineConfig
    from lucene_solr_8_7_0_spark.operators import build as build_mod
    from lucene_solr_8_7_0_spark.operators.search import IndexSearcher

    spark = start_spark(run, event_log=run.trace and run.workload != "query_stream")
    setup("spark")
    pdf = corpus_pdf(SEARCH_DOCS, run.seed)
    src, src_bytes = make_corpus(run, pdf, "corpus")
    setup("corpus")
    idx = run.path("index")
    with run.tracer.span("build_index"):
        build_mod.build_index(spark, spark.read.parquet(src), idx,
                              EngineConfig(segment_size=SEARCH_SEGMENT),
                              resume=False)
    setup("build")
    searcher = IndexSearcher(spark, idx)
    td = searcher.termdict.select("term", "df").toPandas()
    stream = query_stream(td, run.seed)
    setup("open")
    run.info["warmup_ms"] = warm_up(searcher, stream)
    setup("warmup")
    end_setup(run, setup)
    run.layers.update(manifest_walls(idx))
    run.layers.update(layer_dirs_mb(idx))
    return spark, pdf, src_bytes, idx, searcher, stream


def query_stream_workload(run: Run, setup: host.Phases) -> dict:
    from lucene_solr_8_7_0_spark.operators.search import IndexSearcher

    spark, pdf, src_bytes, idx, searcher, stream = _setup_search_index(run, setup)
    num_docs = searcher.stats.num_docs

    def window(spark, searcher, tag):
        recs, t0 = [], time.perf_counter()
        with host.Window() as win:
            while time.perf_counter() - t0 < run.seconds:
                kind, q = next(stream)
                r = timed_search(run, spark, searcher, kind, q,
                                 f"{tag}{len(recs)}", num_docs)
                if r is not None:
                    recs.append(r)
        run.info.setdefault("window", win.context)
        return recs, win.peak_mb

    recs, peak = window(spark, searcher, "q")
    if not recs:
        raise RuntimeError("no search completed in the timed window")
    named_latency(run, "search", recs)
    run.named("index_bytes_per_source_byte", dir_bytes(idx) / src_bytes,
              "ratio", 1)
    run.named("peak_pss_mb", peak, "MB", 1)
    ms = [r["ms"] for r in recs]
    all_recs = recs
    if run.trace:
        # The event log must be on from SparkContext start, so the traced
        # window runs in a second session over the same index, after its
        # own warm-up; the untraced window above is the overhead baseline.
        stop_spark(spark, kill_jvm=False)
        spark = start_spark(run, event_log=True)
        searcher = IndexSearcher(spark, idx)
        warm_up(searcher, stream)
        traced, _ = window(spark, searcher, "t")
        stop_spark(spark)
        t_ms = [r["ms"] for r in traced]
        run.info["traced_search_p50_ms"] = pct(t_ms, 50)
        run.layers.update(spark_layers(run.tracer, run.path("eventlog"),
                                       [r["op"] for r in traced]))
        run.layers["trace.overhead_ratio"] = pct(t_ms, 50) / pct(ms, 50)
        run.info["span_coverage"] = span_coverage(run.tracer,
                                                  [r["op"] for r in traced])
        all_recs = recs + traced
    else:
        stop_spark(spark)
    oracle_check(run, all_recs, doc_contents(idx, pdf))
    return op_percentiles(ms)


def build_batch_workload(run: Run, setup: host.Phases) -> dict:
    from lucene_solr_8_7_0_spark.config import EngineConfig
    from lucene_solr_8_7_0_spark.operators import build as build_mod

    spark = start_spark(run, event_log=run.trace)
    setup("spark")
    pdf = corpus_pdf(BUILD_DOCS, run.seed)
    src, src_bytes = make_corpus(run, pdf, "corpus")
    docs = spark.read.parquet(src)
    cfg = EngineConfig(segment_size=BUILD_SEGMENT)
    setup("corpus")
    # untimed warm-up build of the same corpus (JIT, codegen, Python
    # workers): after a smaller one, the first timed build ran 20% slow
    build_mod.build_index(spark, docs, run.path("warm_index"), cfg,
                          resume=False)
    setup("warm_build")
    end_setup(run, setup)

    walls, ratios, stage_walls, sizes, ops, built = [], [], [], [], [], []
    t0 = time.perf_counter()
    with host.Window() as win:
        while time.perf_counter() - t0 < run.seconds or len(ops) < MIN_BUILDS:
            op_id = f"b{len(ops)}"
            out = run.path(op_id)
            b0 = time.perf_counter()
            try:
                with run.tracer.op(spark.sparkContext, op_id), \
                        run.tracer.span("build_index"):
                    build_mod.build_index(spark, docs, out, cfg, resume=False)
            except Exception as e:
                run.op_done(f"{type(e).__name__}: {e}", op_id)
                shutil.rmtree(out, ignore_errors=True)
                continue
            walls.append(time.perf_counter() - b0)
            host.probe_ms()
            ops.append(op_id)
            # kept until the output check after the window
            built.append((
                pq.read_table(os.path.join(out, "termdict")).to_pandas(),
                pq.read_table(os.path.join(out, "stats")).to_pylist()[0],
            ))
            ratios.append(dir_bytes(out) / src_bytes)
            stage_walls.append(manifest_walls(out))
            sizes.append(layer_dirs_mb(out))
            shutil.rmtree(out, ignore_errors=True)
    run.info["window"] = win.context
    stop_spark(spark)
    if not walls:
        raise RuntimeError("no build completed in the timed window")
    # output check: every build's termdict and collection stats against
    # the oracle analyzer's count over the same corpus
    exp_td, exp_stats = checks.expected_term_stats(pdf["content"])
    for o, (td, st) in zip(ops, built):
        run.op_done(checks.compare_build(td, st, exp_td, exp_stats), o)
    run.info["build_s"] = walls
    run.named("build_files_per_s", BUILD_DOCS / float(np.median(walls)), "1/s",
              len(walls))
    run.named("index_bytes_per_source_byte", float(np.median(ratios)), "ratio",
              len(ratios))
    run.named("peak_pss_mb", win.peak_mb, "MB", 1)
    run.layers.update(median_dicts(stage_walls))
    run.layers.update(median_dicts(sizes))
    if run.trace:
        run.layers.update(spark_layers(run.tracer, run.path("eventlog"), ops))
        run.info["span_coverage"] = span_coverage(run.tracer, ops)
    return op_percentiles([w * 1000.0 for w in walls])


def nrt_update_workload(run: Run, setup: host.Phases) -> dict:
    from lucene_solr_8_7_0_spark.operators import build as build_mod
    from lucene_solr_8_7_0_spark.operators import deletes as deletes_mod
    from lucene_solr_8_7_0_spark.operators import merge as merge_mod
    from lucene_solr_8_7_0_spark.operators.search import IndexSearcher

    spark, pdf, src_bytes, idx, searcher, stream = _setup_search_index(run, setup)
    n = SEARCH_DOCS
    batch = max(1, int(round(n * UPDATE_SHARE)))
    rng = np.random.default_rng(run.seed)
    victims = rng.choice(n, size=COMMITS * batch, replace=False)
    # replacement content comes from files the corpus never held
    fresh = corpus_pdf(COMMITS * batch, run.seed, start=n)
    docs = doc_contents(idx, pdf)  # every doc id ever written, with content

    run.tracer.wrap(deletes_mod, "delete_documents", "delete")
    run.tracer.wrap(build_mod, "build_index", "delta_build")
    run.tracer.wrap(merge_mod, "merge_indexes", "merge")
    cache = searcher.query_cache
    hits0, misses0 = cache.hits, cache.misses
    cur = idx
    cycles, commits, reopens, written = [], [], [], []
    searches, last = [], []
    try:
        with host.Window() as win:
            for c in range(COMMITS):
                rows = pdf.iloc[victims[c * batch:(c + 1) * batch]].drop(
                    columns=["sha256"]).reset_index(drop=True)
                rows["content"] = fresh["content"].iloc[
                    c * batch:(c + 1) * batch].to_numpy()
                new_docs = spark.createDataFrame(rows)
                out = run.path(f"snapshot{c + 1}")
                op_id = f"c{c}"
                t0 = time.perf_counter()
                try:
                    with run.tracer.op(spark.sparkContext, op_id):
                        with run.tracer.span("update"):
                            deletes_mod.update_documents(spark, cur, new_docs, out)
                        r0 = time.perf_counter()
                        with run.tracer.span("reopen"):
                            searcher = IndexSearcher(spark, out)
                except Exception as e:
                    run.op_done(f"{type(e).__name__}: {e}", op_id)
                    break  # later commits need this snapshot
                commit_s = time.perf_counter() - t0
                reopens.append((time.perf_counter() - r0) * 1000.0)
                host.probe_ms()
                fault = _check_commit(out, n)
                if not run.op_done(fault, op_id):
                    break
                commits.append(commit_s)
                written.append(dir_bytes(out) / 2**20)
                last = []
                for j in range(SEARCHES_PER_COMMIT):
                    kind, q = next(stream)
                    r = timed_search(run, spark, searcher, kind, q,
                                     f"s{c}_{j}", searcher.stats.num_docs)
                    if r is not None:
                        last.append(r)
                searches += last
                # an update cycle: commit, reopen and the reads after it
                cycles.append(commit_s + sum(r["ms"] for r in last) / 1000.0)
                cur = out
                meta = pq.read_table(os.path.join(out, "docmeta"),
                                     columns=["doc_id", "repo", "path"]).to_pandas()
                new = meta[~meta.doc_id.isin(docs.doc_id)].merge(
                    rows[["repo", "path", "content"]], on=["repo", "path"])
                docs = pd.concat([docs, new], ignore_index=True)
    finally:
        run.tracer.unwrap_all()
    if not commits or not searches:
        raise RuntimeError("no commit completed")
    search_ops = [r["op"] for r in searches]
    run.info["commit_s"] = commits
    run.info["search_ms"] = [r["ms"] for r in searches]
    run.named("commit_p50_s", float(np.median(commits)), "s", len(commits))
    named_latency(run, "nrt_search", searches)
    run.named("index_bytes_per_source_byte", dir_bytes(cur) / src_bytes,
              "ratio", 1)
    run.named("peak_pss_mb", win.peak_mb, "MB", 1)
    run.info["window"] = win.context
    lookups = cache.hits + cache.misses - hits0 - misses0
    if run.trace:
        commit_ids = [f"c{c}" for c in range(len(commits))]
        spans = {name: [sum(s.end - s.start for s in run.tracer.children(o, name))
                        for o in commit_ids]
                 for name in ("delete", "delta_build", "merge")}
        run.layers.update({
            "commit.delete_s": float(np.median(spans["delete"])),
            "commit.delta_build_s": float(np.median(spans["delta_build"])),
            "commit.merge_s": float(np.median(spans["merge"])),
            "commit.reopen_ms": float(np.median(reopens)),
            "commit.bytes_written_mb": float(np.median(written)),
            "search.query_cache_hit_ratio":
                (cache.hits - hits0) / lookups if lookups else 0.0,
        })
    stop_spark(spark)
    if run.trace:
        run.layers.update(spark_layers(run.tracer, run.path("eventlog"),
                                       search_ops))
        run.info["span_coverage"] = span_coverage(
            run.tracer, commit_ids + search_ops)
    deleted = np.unique(pq.read_table(os.path.join(cur, "deletes"),
                                      columns=["doc_id"]).column(0).to_numpy())
    oracle_check(run, last, docs, deleted)
    return op_percentiles([c * 1000.0 for c in cycles])


def _check_commit(out: str, live_expected: int) -> str | None:
    """After a commit, docmeta minus the deletes mask must leave exactly
    the expected number of live docs."""
    ids = pq.read_table(os.path.join(out, "docmeta"),
                        columns=["doc_id"]).column(0).to_numpy()
    dels = pq.read_table(os.path.join(out, "deletes"),
                         columns=["doc_id"]).column(0).to_numpy()
    live = len(np.setdiff1d(ids, dels))
    if len(np.unique(ids)) != len(ids):
        return "duplicate doc id in docmeta"
    if live != live_expected:
        return f"{live} live docs, expected {live_expected}"
    return None


WORKLOADS = {
    "query_stream": query_stream_workload,
    "build_batch": build_batch_workload,
    "nrt_update": nrt_update_workload,
}
