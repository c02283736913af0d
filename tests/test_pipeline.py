"""End-to-end RagPipeline lifecycle tests (SURVEY.md §3): ingest ->
retrieve/route -> clear on the sf0.001 documents fixture."""

from __future__ import annotations

import math
import subprocess
import sys
import uuid

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from vectordb_agentic_rag_spark.memo import clear_session_caches
from vectordb_agentic_rag_spark.plans import RagPipeline
from vectordb_agentic_rag_spark.tables import REPO_ROOT, table


@pytest.fixture(scope="module")
def pipe(spark, sf_dir, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("rag") / "index")
    p = RagPipeline(spark, index_dir, dim=64)
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    stats = p.ingest(docs)
    assert stats.n_docs > 0 and stats.n_chunks >= stats.n_docs
    yield p
    p.clear()


def _queries(spark):
    return spark.createDataFrame(
        [
            (0, "spark table merge window batch"),
            (1, "latest news about streaming data"),
            (2, "zqx vwy unmatchable gibberish"),
        ],
        "query_id long, query_text string",
    )


def test_ingest_layout(pipe, spark):
    chunks = spark.read.parquet(f"{pipe.index_dir}/chunks")
    assert set(chunks.columns) == {
        "chunk_id", "doc_id", "chunk_no", "page_content", "embedding"
    }
    # every embedding has the configured dimension
    assert chunks.where(F.size("embedding") != pipe.dim).count() == 0
    idf = spark.read.parquet(f"{pipe.index_dir}/idf").collect()
    assert len(idf) == 1 and len(idf[0].idf) == pipe.dim


def test_retrieve_topk_shape(pipe, spark):
    out = pipe.retrieve(_queries(spark)).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        assert len(rows) <= 5
        ranks = sorted(r.mmr_rank for r in rows)
        assert ranks == list(range(len(rows)))


def test_retrieve_without_mmr_matches_pure_topk(pipe, spark):
    plain = pipe.retrieve(_queries(spark), mmr=False)
    assert "mmr_rank" not in plain.columns
    counts = plain.groupBy("query_id").count().collect()
    assert all(r["count"] <= 5 for r in counts)


def test_mmr_first_pick_is_top_similarity(pipe, spark):
    """MMR's first selection is always the highest-similarity candidate
    (no diversity penalty yet) — invariant of the greedy algorithm."""
    q = _queries(spark)
    mmr0 = (
        pipe.retrieve(q)
        .where(F.col("mmr_rank") == 0)
        .select("query_id", "chunk_id")
        .collect()
    )
    top1 = (
        pipe.retrieve(q, mmr=False, k=1).select("query_id", "chunk_id").collect()
    )
    assert {(r.query_id, r.chunk_id) for r in mmr0} == {
        (r.query_id, r.chunk_id) for r in top1
    }


def test_route_four_way(pipe, spark):
    q = _queries(spark)
    out = pipe.query(q)
    rows = {r.query_id: r for r in out.collect()}
    assert len(rows) == 3
    assert rows[1].plan_type in ("web_search", "hybrid_search")  # freshness words
    for r in rows.values():
        assert r.plan_type in (
            "document_rag", "web_search", "hybrid_search", "direct_answer"
        )
        if r.plan_type in ("document_rag", "hybrid_search"):
            assert r.sources and len(r.sources) <= 3
            assert all(len(s) <= 300 for s in r.sources)  # app.py:544 [:300]


@pytest.mark.parametrize("text_col, id_col", [
    ("q.text", "query_id"), ("query_text", "q.id"), ("q`t", "query_id"),
    ("q{t}", "q{i}"),  # spark.sql formats its text with str.format
])
def test_read_path_quotes_caller_column_names(pipe, spark, text_col, id_col):
    """A legal column name holding a dot, a backtick or a brace names
    the column itself in all four read methods: each answers as it does
    on the default names."""
    base = _queries(spark)
    q = base.toDF(id_col, text_col)
    names = dict(text_col=text_col, id_col=id_col)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(pipe.retrieve(q, **names)) == rows(pipe.retrieve(base))
    assert rows(pipe.retrieve(q, mmr=False, **names)) == rows(pipe.retrieve(base, mmr=False))
    answers = pipe.query(q, **names)
    assert answers.columns == ["query_id", text_col, "plan_type", "sources"]
    assert rows(answers) == rows(pipe.query(base))
    relevance = pipe.assess_relevance(pipe.retrieve(q, **names), q, **names)
    routed = pipe.route(q, relevance, **names)
    assert routed.columns == ["query_id", text_col, "plan_type"]
    want = pipe.route(base, pipe.assess_relevance(pipe.retrieve(base), base))
    assert rows(routed) == rows(want)


def test_reingest_overwrites(pipe, spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id", "text").limit(5)
    stats = pipe.ingest(docs)
    assert stats.n_docs == 5
    chunks = spark.read.parquet(f"{pipe.index_dir}/chunks")
    assert chunks.select("doc_id").distinct().count() == 5


def test_ingest_rejects_modes_other_than_overwrite(spark, tmp_path):
    """An append would add a second idf row that the read path
    cross-joins, returning every chunk twice: refused before any job."""
    p = RagPipeline(spark, str(tmp_path / "idx"), dim=32)
    docs = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")

    def refuse():
        for mode in ("append", "ignore", "error"):
            with pytest.raises(ValueError, match="overwrite"):
                p.ingest(docs, mode=mode)

    assert _count_jobs(spark, refuse)[1] == 0
    assert not (tmp_path / "idx").exists()


def test_clear_removes_index(spark, sf_dir, tmp_path):
    p = RagPipeline(spark, str(tmp_path / "idx"), dim=32)
    docs = table(spark, sf_dir, "documents").select("doc_id", "text").limit(3)
    p.ingest(docs)
    p.clear()
    with pytest.raises(Exception):
        spark.read.parquet(f"{p.index_dir}/chunks").count()


def test_zero_vector_scores_zero_instead_of_raising(spark, tmp_path):
    """A TF-IDF vector can be all zero: a query or chunk whose only word
    is in every chunk (idf 0), or a whitespace-only query. Its cosine is
    0 (operators.ml.mmr_select's convention), not a 0/0 that raises
    DIVIDE_BY_ZERO under ANSI."""
    p = RagPipeline(spark, str(tmp_path / "idx"), dim=64)
    docs = spark.createDataFrame(
        [(1, "common alpha beta"), (2, "common gamma delta"),
         (3, "common alpha gamma"), (4, "common")],
        "doc_id long, text string",
    )
    p.ingest(docs)
    q = spark.createDataFrame(
        [(0, "common"), (1, "   "), (2, "alpha")], "query_id long, query_text string"
    )
    plain = {(r.query_id, r.chunk_id): r.sim
             for r in p.retrieve(q, mmr=False, k=4).collect()}
    chunk_ids = [1_000_000, 2_000_000, 3_000_000, 4_000_000]
    for qid in (0, 1):
        assert [plain[(qid, c)] for c in chunk_ids] == [0.0] * 4
    assert plain[(2, 4_000_000)] == 0.0  # chunk "common" is the zero vector
    assert plain[(2, 1_000_000)] > 0 and plain[(2, 3_000_000)] > 0
    picked = sorted(p.retrieve(q).collect(), key=lambda r: (r.query_id, r.mmr_rank))
    assert [r.mmr_rank for r in picked if r.query_id == 0] == [0, 1, 2, 3]
    # all sims tie at 0: the first pick is the lowest chunk_id
    assert picked[0].chunk_id == 1_000_000 and picked[0].mmr_score == 0.0
    assert sorted(r.query_id for r in p.query(q).collect()) == [0, 1, 2]
    p.clear()


def test_null_query_text_is_answered_as_empty_text(pipe, spark):
    """A null query_text does not fail the batch: it is answered as an
    empty text, its null passed through, and every other row gets the
    answer its text gets alone."""
    schema = "query_id long, query_text string"
    rows = [(1, "spark table merge window batch"), (2, None),
            (3, "latest news about streaming data")]
    got = {r.query_id: (r.query_text, r.plan_type, r.sources)
           for r in pipe.query(spark.createDataFrame(rows, schema)).collect()}
    for qid, text in rows:
        (alone,) = pipe.query(spark.createDataFrame([(qid, text or "")], schema)).collect()
        assert got[qid] == (text, alone.plan_type, alone.sources)
    picked = pipe.retrieve(spark.createDataFrame(rows, schema)).collect()
    assert {r.query_id for r in picked} <= {1, 2, 3}


def test_ingest_skips_null_text_documents(spark, tmp_path):
    """A document with a null text is left out; the others are indexed
    (it used to fail the Tokenizer, and so the whole ingest)."""
    p = RagPipeline(spark, str(tmp_path / "idx"), dim=32)
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, None), (3, "gamma delta")], "doc_id long, text string"
    )
    stats = p.ingest(docs)
    assert (stats.n_docs, stats.n_chunks) == (2, 2)
    chunks = spark.read.parquet(f"{p.index_dir}/chunks")
    assert sorted(r.doc_id for r in chunks.collect()) == [1, 3]
    p.clear()


def test_ingest_of_nothing_raises_and_keeps_the_index(spark, tmp_path):
    """An empty corpus, or one whose every text is null, raises
    ValueError before any write: the previous index still answers."""
    p = RagPipeline(spark, str(tmp_path / "idx"), dim=32)
    schema = "doc_id long, text string"
    p.ingest(spark.createDataFrame([(1, "alpha beta"), (2, "gamma delta")], schema))
    q = spark.createDataFrame([(0, "alpha")], "query_id long, query_text string")
    before = p.query(q).collect()
    for docs in ([], [(3, None)]):
        with pytest.raises(ValueError, match="no document"):
            p.ingest(spark.createDataFrame(docs, schema))
        assert spark.read.parquet(f"{p.index_dir}/chunks").count() == 2
        assert p.query(q).collect() == before
    p.clear()


# ------------------------------------------------ value oracle (Python)

_VALUE_QUERIES = [
    (10, "spark table merge window batch"),
    (11, "latest news about streaming data"),
    (12, "zqx vwy unmatchable gibberish"),
    (13, "current hash join order"),
    (14, "scan scan scan"),
    (15, "a to is"),  # no keyword longer than 3 chars
    (16, "vector query group column small"),
]


@pytest.fixture(scope="module")
def full_pipe(spark, sf_dir, tmp_path_factory):
    """The whole sf0.001 documents table, in an index of its own (the
    ``pipe`` fixture is re-ingested by test_reingest_overwrites)."""
    p = RagPipeline(spark, str(tmp_path_factory.mktemp("rag_full") / "index"), dim=64)
    p.ingest(table(spark, sf_dir, "documents").select("doc_id", "text"))
    yield p
    p.clear()


def _seq_cos(a, b) -> float:
    """Cosine with sequential left folds, the program's arithmetic; 0
    when either norm is 0."""
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return dot / (na * nb) if na and nb else 0.0


def test_pipeline_values_match_python_replay(full_pipe, spark):
    """retrieve(mmr=False) == a NumPy brute-force top-k (ties within
    1e-6); retrieve() == an mmr_select replay over the top fetch_k;
    every query() row's plan_type and sources == a Python replay of
    assess_relevance + route; one query() row per query id."""
    import numpy as np
    import pyarrow.parquet as pq
    from pyspark.ml.feature import HashingTF, Tokenizer
    from pyspark.ml.functions import vector_to_array

    from vectordb_agentic_rag_spark.operators.ml import mmr_select
    from vectordb_agentic_rag_spark.plans.pipeline import (
        DEFAULT_FETCH_K, DEFAULT_K, DEFAULT_LAMBDA,
    )

    k, fetch_k, lam = DEFAULT_K, DEFAULT_FETCH_K, DEFAULT_LAMBDA
    chunks = pq.read_table(f"{full_pipe.index_dir}/chunks").sort_by("chunk_id")
    ids = chunks["chunk_id"].to_pylist()
    texts = chunks["page_content"].to_pylist()
    embs = chunks["embedding"].to_pylist()
    emb = np.array(embs)
    idf = pq.read_table(f"{full_pipe.index_dir}/idf")["idf"][0].as_py()
    q = spark.createDataFrame(_VALUE_QUERIES, "query_id long, query_text string")
    # query TF from pyspark.ml's HashingTF (a library call), times idf
    tf = HashingTF(inputCol="w", outputCol="tf", numFeatures=full_pipe.dim).transform(
        Tokenizer(inputCol="query_text", outputCol="w").transform(q)
    )
    qv = {r.query_id: [t * w for t, w in zip(r.tf, idf)]
          for r in tf.select("query_id", vector_to_array("tf").alias("tf")).collect()}

    def by_query(rows):
        out = {qid: [] for qid, _ in _VALUE_QUERIES}
        for r in rows:
            out[r.query_id].append(r)
        return out

    plain = {n: by_query(full_pipe.retrieve(q, mmr=False, k=n).collect())
             for n in (k, fetch_k)}
    mmr = by_query(full_pipe.retrieve(q).collect())
    # below k = 3 picks the keyword half of the relevance gate decides
    answers = {}
    for kq in (k, 2, 0):
        rows = full_pipe.query(q, k=kq).collect()
        assert sorted(r.query_id for r in rows) == sorted(i for i, _ in _VALUE_QUERIES)
        answers[kq] = {r.query_id: r for r in rows}

    for qid, text in _VALUE_QUERIES:
        v = np.array(qv[qid])
        nrm = np.linalg.norm(emb, axis=1) * np.linalg.norm(v)
        sims = np.divide(emb @ v, nrm, out=np.zeros(len(ids)), where=nrm > 0)
        for n, rows in plain.items():
            want = np.lexsort((ids, -np.round(sims, 6)))[:n]
            kth = sims[want[-1]]
            assert len(rows[qid]) == n
            row_of = {c: i for i, c in enumerate(ids)}
            for r in rows[qid]:
                i = row_of[r.chunk_id]
                assert abs(r.sim - sims[i]) <= 1e-6
                assert sims[i] >= kth - 1e-6  # in the top n up to a tie
                assert (r.doc_id, r.page_content) == (r.chunk_id // 1_000_000, texts[i])
            clear = {ids[i] for i in want if sims[i] > kth + 1e-6}
            assert clear <= {r.chunk_id for r in rows[qid]}

        seq = [round(_seq_cos(e, qv[qid]), 6) for e in embs]
        top = sorted(range(len(ids)), key=lambda i: (-seq[i], ids[i]))[:fetch_k]
        want = mmr_select([(ids[i], embs[i], seq[i]) for i in top], k, lam)
        got = sorted(mmr[qid], key=lambda r: r.mmr_rank)
        assert [r.chunk_id for r in got] == [c for c, _ in want]
        assert [r.mmr_rank for r in got] == list(range(len(want)))
        for r, (_, score) in zip(got, want):
            # both round one raw score to 6 decimals, Spark half-up on its
            # shortest repr and Python on its binary value: they may
            # differ by one unit in the 6th decimal
            assert abs(r.mmr_score - score) <= 1e-6 + 1e-12
            assert r.sim == seq[ids.index(r.chunk_id)]

        for kq, rows in answers.items():
            # greedy MMR: the first kq picks of k are the picks of kq
            picked = [texts[ids.index(c)] for c, _ in want[:kq]]
            kws = [w for w in text.lower().split(" ") if len(w) > 3]
            hits = max((sum(w in t.lower() for w in kws) for t in picked), default=0)
            relevant = bool(picked) and (len(picked) >= 3 or hits >= len(kws) / 2)
            if any(w in text.lower() for w in ("latest", "current", "news")):
                plan = "hybrid_search" if relevant else "web_search"
            else:
                plan = "document_rag" if relevant else "direct_answer"
            a = rows[qid]
            assert (a.query_text, a.plan_type) == (text, plan), kq
            assert a.sources == ([t[:300] for t in picked[:3]] if picked else None)


# ------------------------------------------- job-count and plan pins


def _count_jobs(spark, fn):
    """fn()'s result and the number of Spark jobs it started, counted
    with statusTracker under a job group of its own."""
    sc = spark.sparkContext
    group = f"pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_ingest_job_count(spark, sf_dir, tmp_path):
    """ingest() derives its chunks once: the IDF fit, the two writes
    and the document count — no recount of the written chunks."""
    p = RagPipeline(spark, str(tmp_path / "idx"), dim=64)
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    stats, jobs = _count_jobs(spark, lambda: p.ingest(docs))
    assert jobs <= 5
    assert stats.n_chunks == spark.read.parquet(f"{p.index_dir}/chunks").count()
    p.clear()


def test_query_job_count(pipe, spark):
    """query() runs scan -> window -> MMR once: no more jobs than
    retrieve(), and none while its plan is built (the index tables are
    read with explicit schemas)."""
    q = _queries(spark)
    _, retrieve_jobs = _count_jobs(spark, lambda: pipe.retrieve(q).collect())
    df, build_jobs = _count_jobs(spark, lambda: pipe.query(q))
    _, exec_jobs = _count_jobs(spark, df.collect)
    assert build_jobs == 0
    assert exec_jobs <= retrieve_jobs


def test_query_scans_its_queries_once(pipe, spark):
    """A Python-list query DataFrame is read by a Python worker: query()
    reads it in exactly one scan, not once for the embedding and once
    more to join the answers back."""
    df = pipe.query(_queries(spark))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan ExistingRDD") == 1


def test_query_row_contract(pipe, spark):
    """One output row per input row, each answered on its own text:
    rows sharing a query_id, and rows with a null query_id, get the
    answer their text gets alone, with the id passed through."""
    rows = [
        (7, "spark table merge window batch"),
        (7, "latest news about streaming data"),
        (None, "current hash join order"),
        (None, "vector query group column small"),
    ]
    q = spark.createDataFrame(rows, "query_id long, query_text string")
    got = sorted(
        ((r.query_id, r.query_text, r.plan_type, r.sources)
         for r in pipe.query(q).collect()),
        key=lambda r: r[1],
    )
    alone = []
    for qid, text in rows:
        one = spark.createDataFrame([(1, text)], "query_id long, query_text string")
        (r,) = pipe.query(one).collect()
        assert r.sources  # every text has candidates, so sources to compare
        alone.append((qid, text, r.plan_type, r.sources))
    assert got == sorted(alone, key=lambda r: r[1])


def test_read_path_runs_no_python_worker(pipe, spark):
    """Neither retrieve() nor query() adds a Python-worker node; only
    the scan of a caller's Python-list query DataFrame runs in one."""
    q = _queries(spark)
    for df in (pipe.retrieve(q), pipe.query(q)):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        for node in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
            assert node not in plan


def test_pipeline_imports_no_operator_module():
    """The product path does not load the operator catalogue: a fresh
    interpreter importing plans.pipeline holds no operators.* module and
    no tables (fixture reads, oracle SQL built at import)."""
    script = (
        "import sys\n"
        f"sys.path.insert(0, {REPO_ROOT!r})\n"
        "import vectordb_agentic_rag_spark.plans.pipeline\n"
        "print('\\n'.join(sorted(sys.modules)))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=120, check=True,
    )
    pkg = "vectordb_agentic_rag_spark"
    loaded = [m for m in out.stdout.split() if m.startswith(pkg)]
    assert f"{pkg}.plans.pipeline" in loaded
    assert [
        m for m in loaded
        if m == f"{pkg}.tables" or m.startswith(f"{pkg}.operators")
    ] == []


def _count_py4j(monkeypatch, fn):
    """fn()'s result and the number of py4j commands it sent, GC
    detach messages ("m\\nd\\n") not counted."""
    from py4j.clientserver import ClientServerConnection

    sent = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        out = fn()
    return out, len(sent)


def test_query_build_makes_few_py4j_calls(pipe, spark, monkeypatch):
    """A warm query() build is one SQL text over a session-cached
    hasher and idf literal: a handful of py4j calls, not one per
    Column node (661 before)."""
    pipe.query(_queries(spark))
    q = _queries(spark)
    df, calls = _count_py4j(monkeypatch, lambda: pipe.query(q))
    assert 0 < calls <= 60
    assert len(df.collect()) == 3


def _replay_query(spark, index_dir, dim, rows, k):
    """Per (query_id, text) row: query()'s (text, plan_type, sources)
    and retrieve(mmr=False)'s k best sims, replayed in Python over the
    index on disk, with its idf read from the parquet file."""
    import pyarrow.parquet as pq
    from pyspark.ml.feature import HashingTF, Tokenizer
    from pyspark.ml.functions import vector_to_array

    from vectordb_agentic_rag_spark.operators.ml import mmr_select
    from vectordb_agentic_rag_spark.plans.pipeline import DEFAULT_FETCH_K, DEFAULT_LAMBDA

    chunks = pq.read_table(f"{index_dir}/chunks").sort_by("chunk_id")
    ids = chunks["chunk_id"].to_pylist()
    texts = chunks["page_content"].to_pylist()
    embs = chunks["embedding"].to_pylist()
    idf = pq.read_table(f"{index_dir}/idf")["idf"][0].as_py()
    q = spark.createDataFrame(rows, "query_id long, query_text string")
    tf = HashingTF(inputCol="w", outputCol="tf", numFeatures=dim).transform(
        Tokenizer(inputCol="query_text", outputCol="w").transform(q)
    )
    tfs = {r.query_id: r.tf for r in
           tf.select("query_id", vector_to_array("tf").alias("tf")).collect()}
    out = {}
    for qid, text in rows:
        qv = [t * w for t, w in zip(tfs[qid], idf)]
        seq = [round(_seq_cos(e, qv), 6) for e in embs]
        ranked = sorted(range(len(ids)), key=lambda i: (-seq[i], ids[i]))
        want = mmr_select([(ids[i], embs[i], seq[i]) for i in ranked[:DEFAULT_FETCH_K]],
                          k, DEFAULT_LAMBDA)
        picked = [texts[ids.index(c)] for c, _ in want]
        kws = [w for w in text.lower().split(" ") if len(w) > 3]
        hits = max((sum(w in t.lower() for w in kws) for t in picked), default=0)
        relevant = bool(picked) and (len(picked) >= 3 or hits >= len(kws) / 2)
        if any(w in text.lower() for w in ("latest", "current", "news")):
            plan = "hybrid_search" if relevant else "web_search"
        else:
            plan = "document_rag" if relevant else "direct_answer"
        sources = [t[:300] for t in picked[:3]] if picked else None
        out[qid] = ((text, plan, sources), [seq[i] for i in ranked[:k]])
    return out


def test_idf_cache_follows_the_index_version(spark, tmp_path):
    """The idf literal is cached per index version: a re-ingest, through
    the same RagPipeline or another one, is answered with the new idf;
    after clear_session_caches the hasher and idf are built again; a
    cleared index still raises before any job runs."""
    index_dir = str(tmp_path / "idx")
    schema = "doc_id long, text string"
    corpus_a = [(1, "alpha beta gamma"), (2, "alpha delta delta"),
                (3, "epsilon zeta alpha"), (4, "beta beta eta theta")]
    corpus_b = [(1, "kappa alpha kappa"), (2, "lambda mu beta"), (3, "kappa nu alpha"),
                (4, "xi omicron"), (5, "alpha beta gamma delta")]
    rows = [(0, "alpha beta"), (1, "latest kappa delta"), (2, "gamma theta alpha")]
    q = spark.createDataFrame(rows, "query_id long, query_text string")
    k = 3
    p, other = RagPipeline(spark, index_dir, dim=32), RagPipeline(spark, index_dir, dim=32)

    def check(corpus):
        want = _replay_query(spark, index_dir, 32, rows, k)
        got = {r.query_id: (r.query_text, r.plan_type, r.sources)
               for r in p.query(q, k=k).collect()}
        assert got == {qid: w[0] for qid, w in want.items()}
        sims = {qid: [] for qid, _ in rows}
        for r in sorted(p.retrieve(q, mmr=False, k=k).collect(), key=lambda r: -r.sim):
            sims[r.query_id].append(r.sim)
        assert sims == {qid: w[1] for qid, w in want.items()}
        return want

    p.ingest(spark.createDataFrame(corpus_a, schema))
    on_a = check(corpus_a)
    p.ingest(spark.createDataFrame(corpus_b, schema))
    assert check(corpus_b) != on_a  # the two idf vectors answer differently
    other.ingest(spark.createDataFrame(corpus_a, schema))
    assert check(corpus_a) == on_a
    clear_session_caches()
    check(corpus_a)

    p.clear()

    def cleared():
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            p.query(q)

    assert _count_jobs(spark, cleared)[1] == 0
