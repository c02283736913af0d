"""Ports of the reference's own RAG operators (SURVEY.md §2A).

Each operator here is a deterministic, set-oriented re-expression of a
function in /root/reference/app.py — the parts of the agentic-RAG loop
that are genuinely *data* operations (relevance gating, chat-memory
windowing, context assembly, plan routing). LLM calls, web search, and
UI rendering are out of engine scope (SURVEY §7); their data-side
analogues are in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import table

# R9's gate runs against the user's query keywords (app.py:284-289:
# keywords = [w for w in query.lower().split() if len(w) > 3]).
# Fixed query string so the declared op is deterministic.
_QUERY = "spark table merge window batch io"
_KEYWORDS = [w for w in _QUERY.lower().split() if len(w) > 3]
_THRESHOLD = len(_KEYWORDS) / 2  # app.py:293: matches >= len(keywords)/2


@query(
    "filter_keyword_gate",
    oracle=f"""
    SELECT doc_id,
           CAST(len(list_filter({_KEYWORDS}, kw -> contains(lower(text), kw))) AS INTEGER) AS matches,
           len(list_filter({_KEYWORDS}, kw -> contains(lower(text), kw))) >= {_THRESHOLD} AS relevant
    FROM documents
    """,
)
def filter_keyword_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9 port (assess_document_relevance, app.py:278-295): a document is
    relevant iff it matches >= half of the query's len>3 keywords.
    Substring containment like the reference (`keyword in content`,
    app.py:289). Pure codegen'd expression, one pass."""
    d = table(spark, sf_dir, "documents")
    kw_arr = F.array(*[F.lit(k) for k in _KEYWORDS])
    matches = F.size(
        F.filter(kw_arr, lambda kw: F.instr(F.lower(F.col("text")), kw) > 0)
    )
    return d.select(
        "doc_id",
        matches.alias("matches"),
        (matches >= F.lit(_THRESHOLD)).alias("relevant"),
    )


@query(
    "agg_collect_topk_docs",
    # top_docs is joined on chr(31) (unit separator, never in text):
    # the driver's canonicalizer can't hash list cells, so the ordered
    # stuffing list travels as one delimited string.
    oracle="""
    SELECT lang,
           array_to_string((list(text ORDER BY n_chars DESC, doc_id))[1:3],
                           chr(31)) AS top_docs,
           count(*) AS n_candidates
    FROM documents GROUP BY lang
    """,
)
def agg_collect_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R14 port (stuff-documents chain, app.py:396-417): gather the top-3
    candidate texts per group into an ordered list — the reference
    stuffs retrieved_docs[:3] into its prompt (app.py:359). List order
    pinned by (n_chars DESC, doc_id); serialized on U+001F."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.concat_ws(
                "\x1f",
                F.transform(
                    F.slice(
                        F.sort_array(
                            F.collect_list(
                                F.struct(
                                    (-F.col("n_chars")).alias("neg_len"),
                                    F.col("doc_id").alias("doc_id"),
                                    F.col("text").alias("text"),
                                )
                            )
                        ),
                        1,
                        3,
                    ),
                    lambda x: x.getField("text"),
                ),
            ).alias("top_docs"),
            F.count("*").alias("n_candidates"),
        )
    )


@query(
    "chat_memory_window",
    oracle="""
    WITH msgs AS (
      SELECT user_id AS session_id, ts, event_id,
             CASE WHEN event_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
             event_type AS content
      FROM events),
    recent AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY session_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM msgs) t
      WHERE rn <= 10)
    SELECT session_id,
           string_agg(upper(role) || ': ' || content, chr(10) || chr(10)
                      ORDER BY ts, event_id) AS context,
           count(*) AS n_msgs
    FROM recent GROUP BY session_id
    """,
)
def chat_memory_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10 port (format_chat_memory_for_context, app.py:110-120): keep
    the last max_turns*2 = 10 messages per session and render
    'ROLE: content' joined by blank lines. The events fixture stands in
    for the chat stream (FIXTURES.md); roles alternate by event_id.

    Window top-k + ordered collect_list: the shuffle is one exchange
    on session_id, then everything is per-group local."""
    ev = table(spark, sf_dir, "events")
    msgs = ev.select(
        F.col("user_id").alias("session_id"),
        "ts",
        "event_id",
        F.when(F.col("event_id") % 2 == 0, "user").otherwise("assistant").alias("role"),
        F.col("event_type").alias("content"),
    )
    w = Window.partitionBy("session_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    recent = msgs.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 10)
    line = F.concat(F.upper("role"), F.lit(": "), F.col("content"))
    return (
        recent.select("session_id", "ts", "event_id", line.alias("line"))
        .groupBy("session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("ts", "event_id", F.col("line")))
                    ),
                    lambda x: x.getField("line"),
                ),
                "\n\n",
            ).alias("context"),
            F.count("*").alias("n_msgs"),
        )
    )


# BM25 constants (Robertson/Sparck-Jones defaults used by Lucene/ES).
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = _KEYWORDS  # same len>3 query keywords as the R9 gate


@query(
    "rag_bm25_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    stats AS (
      SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl,
             {', '.join(
                 f"sum(CASE WHEN list_contains(tk, '{t}') THEN 1 ELSE 0 END) AS df_{i}"
                 for i, t in enumerate(_KEYWORDS))}
      FROM toks),
    scored AS (
      SELECT doc_id,
             round({' + '.join(
                 f"(ln(1 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5)) * "
                 f"(len(list_filter(tk, x -> x = '{t}')) * ({_BM25_K1} + 1)) / "
                 f"(len(list_filter(tk, x -> x = '{t}')) + {_BM25_K1} * "
                 f"(1 - {_BM25_B} + {_BM25_B} * len(tk) / avgdl)))"
                 for i, t in enumerate(_KEYWORDS))}, 6) AS score
      FROM toks CROSS JOIN stats)
    SELECT doc_id, score FROM (
      SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rn
      FROM scored)
    WHERE rn <= 10
    """,
)
def rag_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (the sparse half of hybrid search — the
    reference's Qdrant side is dense-only, its web side keyword-ish;
    app.py:348-374). Two passes: (1) one tiny corpus-stats aggregate
    (N, avgdl, per-term document frequency) broadcast to (2) a scoring
    scan that is pure codegen'd higher-order-function arithmetic — no
    shuffle on the big side, no UDF. At 100 TB the stats row is
    computed incrementally at ingest (it's a mergeable aggregate) and
    the scoring pass stays embarrassingly parallel; top-10 plans as
    TakeOrderedAndProject (per-partition partial top-k).

    Ties broken on rounded score then doc_id so the top-10 frontier is
    engine-independent."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("tk"))
    tf = lambda t: F.size(F.filter("tk", lambda x: x == F.lit(t)))  # noqa: E731
    stats = toks.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.size("tk")).alias("avgdl"),
        *[
            F.sum(F.array_contains("tk", t).cast("bigint")).alias(f"df_{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    dl = F.size("tk")
    score = None
    for i, t in enumerate(_BM25_TERMS):
        idf = F.log(
            1
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        term = (
            idf
            * (tf(t) * (_BM25_K1 + 1))
            / (tf(t) + _BM25_K1 * (1 - _BM25_B + _BM25_B * dl / F.col("avgdl")))
        )
        score = term if score is None else score + term
    return (
        toks.crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
    )


_RRF_K = 60  # standard reciprocal-rank-fusion constant (Cormack et al.)
_RRF_N = 100  # per-retriever candidate-list length fed into the fusion


@query(
    "rag_rrf_fusion",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    stats AS (
      SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl,
             {', '.join(
                 f"sum(CASE WHEN list_contains(tk, '{t}') THEN 1 ELSE 0 END) AS df_{i}"
                 for i, t in enumerate(_KEYWORDS))}
      FROM toks),
    bm25 AS (
      SELECT doc_id, r FROM (
        SELECT doc_id, row_number() OVER (ORDER BY
               round({' + '.join(
                   f"(ln(1 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5)) * "
                   f"(len(list_filter(tk, x -> x = '{t}')) * ({_BM25_K1} + 1)) / "
                   f"(len(list_filter(tk, x -> x = '{t}')) + {_BM25_K1} * "
                   f"(1 - {_BM25_B} + {_BM25_B} * len(tk) / avgdl)))"
                   for i, t in enumerate(_KEYWORDS))}, 6) DESC, doc_id) AS r
        FROM toks CROSS JOIN stats) t WHERE r <= {_RRF_N}),
    overlap AS (
      SELECT doc_id, r FROM (
        SELECT doc_id, row_number() OVER (ORDER BY
               len(list_filter({_KEYWORDS}, kw -> list_contains(tk, kw))) DESC,
               doc_id) AS r
        FROM toks) t WHERE r <= {_RRF_N})
    SELECT COALESCE(b.doc_id, o.doc_id) AS doc_id,
           CAST(COALESCE(b.r, 0) AS BIGINT) AS bm25_rank,
           CAST(COALESCE(o.r, 0) AS BIGINT) AS overlap_rank,
           round(COALESCE(1.0 / ({_RRF_K} + b.r), 0)
                 + COALESCE(1.0 / ({_RRF_K} + o.r), 0), 6) AS rrf
    FROM bm25 b FULL OUTER JOIN overlap o ON b.doc_id = o.doc_id
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def rag_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval fusion (R13, app.py:348-374): the reference
    concatenates doc-store hits with web-search hits; the engine's
    analogue fuses two retriever RESULT LISTS — BM25 (rag_bm25_topk's
    scorer) and exact keyword-set overlap (R9's gate as a ranking) —
    by reciprocal-rank fusion, exactly as RRF is defined (over top-N
    lists, absent docs contribute 0; Cormack et al.). Each side is
    gated to its top-N candidates with orderBy+limit
    (TakeOrderedAndProject — a distributed partial top-k, never a
    global sort); only the N survivors are ranked by a window, so the
    partition-less row_number touches N=100 rows, not the corpus. The
    fusion is a full-outer join over <=2N candidate rows; rank 0 in
    the output marks 'absent from that retriever's list'."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("tk"))
    tf = lambda t: F.size(F.filter("tk", lambda x: x == F.lit(t)))  # noqa: E731
    stats = toks.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.size("tk")).alias("avgdl"),
        *[
            F.sum(F.array_contains("tk", t).cast("bigint")).alias(f"df_{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    dl = F.size("tk")
    score = None
    for i, t in enumerate(_BM25_TERMS):
        idf = F.log(
            1
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        term = (
            idf
            * (tf(t) * (_BM25_K1 + 1))
            / (tf(t) + _BM25_K1 * (1 - _BM25_B + _BM25_B * dl / F.col("avgdl")))
        )
        score = term if score is None else score + term
    kw_arr = F.array(*[F.lit(k) for k in _KEYWORDS])
    n_overlap = F.size(F.filter(kw_arr, lambda kw: F.array_contains("tk", kw)))
    # Candidate gates: TakeOrderedAndProject keeps each side's top-N;
    # the window then ranks ONLY those N survivors (their window ranks
    # equal the global ranks because orderBy+limit selects the exact
    # top-N under the same total order).
    bm25 = (
        toks.crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(score, 6).alias("s"))
        .orderBy(F.col("s").desc(), "doc_id")
        .limit(_RRF_N)
        .withColumn(
            "bm25_rank",
            F.row_number().over(Window.orderBy(F.col("s").desc(), "doc_id")).cast("bigint"),
        )
        .select("doc_id", "bm25_rank")
    )
    overlap = (
        toks.select("doc_id", n_overlap.alias("ov"))
        .orderBy(F.col("ov").desc(), "doc_id")
        .limit(_RRF_N)
        .withColumn(
            "overlap_rank",
            F.row_number().over(Window.orderBy(F.col("ov").desc(), "doc_id")).cast("bigint"),
        )
        .select("doc_id", "overlap_rank")
    )
    rrf = F.round(
        F.coalesce(1.0 / (_RRF_K + F.col("bm25_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (_RRF_K + F.col("overlap_rank")), F.lit(0.0)),
        6,
    )
    return (
        bm25.join(overlap, ["doc_id"], "full_outer")
        .select(
            "doc_id",
            F.coalesce("bm25_rank", F.lit(0).cast("bigint")).alias("bm25_rank"),
            F.coalesce("overlap_rank", F.lit(0).cast("bigint")).alias("overlap_rank"),
            rrf.alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(10)
    )


@query(
    "plan_route",
    oracle=f"""
    WITH q AS (
      SELECT doc_id AS query_id,
             array_to_string((string_split(text, ' '))[1:5], ' ') AS query_text,
             contains(text, 'stream') OR contains(text, 'data') AS needs_search,
             len(list_filter({_KEYWORDS}, kw -> contains(lower(text), kw))) >= {_THRESHOLD} AS relevant
      FROM documents WHERE doc_id < 50)
    SELECT query_id, query_text,
           CASE WHEN needs_search AND relevant THEN 'hybrid_search'
                WHEN needs_search THEN 'web_search'
                WHEN relevant THEN 'document_rag'
                ELSE 'direct_answer' END AS plan_type
    FROM q
    """,
)
def plan_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R12's deterministic analogue (process_query router, app.py:298-343):
    the reference asks a low-temperature LLM whether SEARCH is NEEDED
    and combines that bit with document relevance to pick one of four
    plan types (app.py:343-433). The engine's router is a rule: a
    'freshness' predicate stands in for the LLM bit, R9's keyword gate
    supplies the relevance bit, and the four-way CASE mirrors the
    reference's branch structure exactly."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    kw_arr = F.array(*[F.lit(k) for k in _KEYWORDS])
    relevant = (
        F.size(F.filter(kw_arr, lambda kw: F.instr(F.lower(F.col("text")), kw) > 0))
        >= F.lit(_THRESHOLD)
    )
    needs_search = (F.instr("text", "stream") > 0) | (F.instr("text", "data") > 0)
    plan = (
        F.when(needs_search & relevant, "hybrid_search")
        .when(needs_search, "web_search")
        .when(relevant, "document_rag")
        .otherwise("direct_answer")
    )
    return d.select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(F.split("text", " "), 1, 5), " ").alias("query_text"),
        plan.alias("plan_type"),
    )


# Batch retrieval: N queries against the corpus in ONE pass — the shape
# a production retrieval backfill runs (per-query scans would re-read
# the corpus N times). Fixed deterministic query set over the fixture
# vocabulary.
_BATCH_QUERIES = [
    (0, "spark"), (0, "join"),
    (1, "vector"), (1, "scan"),
    (2, "merge"), (2, "batch"), (2, "fast"),
    (3, "window"), (3, "sort"),
]
_BATCH_TERMS = sorted({t for _, t in _BATCH_QUERIES})
_QT_VALUES = ", ".join(f"({q}, '{t}')" for q, t in _BATCH_QUERIES)
_TERM_LIST = ", ".join(f"'{t}'" for t in _BATCH_TERMS)


@query(
    "rag_bm25_batch_queries",
    oracle=f"""
    WITH qt(query_id, term) AS (VALUES {_QT_VALUES}),
    toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    stats AS (SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl FROM toks),
    ex AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS tok FROM toks),
    tf AS (
      SELECT doc_id, tok, max(dl) AS dl, count(*) AS tf
      FROM ex WHERE tok IN ({_TERM_LIST}) GROUP BY doc_id, tok),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    sc AS (
      SELECT q.query_id, t.doc_id,
             sum(ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * (t.tf * ({_BM25_K1} + 1))
                 / (t.tf + {_BM25_K1}
                    * (1 - {_BM25_B} + {_BM25_B} * t.dl / s.avgdl))) AS score
      FROM tf t
      JOIN qt q ON t.tok = q.term
      JOIN df d ON t.tok = d.tok
      CROSS JOIN stats s
      GROUP BY q.query_id, t.doc_id)
    SELECT CAST(query_id AS INTEGER) AS query_id, doc_id,
           round(score, 6) AS score
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY round(score, 6) DESC, doc_id)
                    AS rn
          FROM sc) t
    WHERE rn <= 5
    """,
)
def rag_bm25_batch_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 for a BATCH of queries in one corpus pass — the retrieval
    backfill/evaluation shape (rag_bm25_topk generates per-term score
    expressions for ONE query; that approach re-scans the corpus per
    query and can't take query sets as data). Relational plan:

    1. tokenize once; the exploded token stream is FILTERED to the
       union of query terms (predicate on the stream — only matching
       tokens shuffle) and reduced to a (doc_id, term, tf) inverted
       slice carrying dl alongside (no second corpus join for doc
       length);
    2. per-term document frequencies and the (n_docs, avgdl) stats
       row derive from that slice / one tiny aggregate — both
       broadcast;
    3. the (query_id, term) table — data, not codegen — broadcast-joins
       the slice, each row scores in codegen, and a per-(query, doc)
       sum + per-query window top-5 finishes. At 100 TB the only big
       shuffle is the matching-token reduction, proportional to hits,
       not corpus x queries. Ranking compares round(score, 6) (ties by
       doc_id) so the frontier is engine-independent."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("tk"))
    stats = toks.agg(
        F.count("*").alias("n_docs"), F.avg(F.size("tk")).alias("avgdl")
    )
    ex = toks.select(
        "doc_id", F.size("tk").alias("dl"), F.explode("tk").alias("tok")
    ).where(F.col("tok").isin(_BATCH_TERMS))
    tf = ex.groupBy("doc_id", "tok").agg(
        F.max("dl").alias("dl"), F.count("*").alias("tf")
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    qt = spark.createDataFrame(_BATCH_QUERIES, "query_id int, term string")
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    term_score = (
        idf
        * (F.col("tf") * (_BM25_K1 + 1))
        / (
            F.col("tf")
            + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    sc = (
        tf.join(F.broadcast(qt), tf.tok == qt.term)
        .join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(term_score).alias("score_raw"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round("score_raw", 6).desc(), "doc_id"
    )
    return (
        sc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("query_id", "doc_id", F.round("score_raw", 6).alias("score"))
    )


# ---------------------------------------------------------------------------
# rag_context_window_pack
# ---------------------------------------------------------------------------

_CWP_FETCH = 10  # retrieval depth per query (rank gate BEFORE packing)
_CWP_BUDGET = 900  # context character budget per query


def _context_pack_oracle() -> str:
    from .vector import _DD_COS

    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id < 10),
    c AS (
      SELECT vec_id AS neighbor_id, embedding
      FROM embeddings WHERE vec_id >= 10),
    sims AS (
      SELECT q.query_id, c.neighbor_id,
             round({_DD_COS.format(a='c.embedding', b='q.qv')}, 6) AS sim
      FROM c CROSS JOIN q),
    topk AS (
      SELECT query_id, neighbor_id, sim,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
               AS INTEGER) AS rn
      FROM sims
      QUALIFY rn <= {_CWP_FETCH}),
    packed AS (
      SELECT t.query_id, t.neighbor_id, t.sim, t.rn,
             CAST(d.n_chars AS BIGINT) AS n_chars,
             CAST(coalesce(sum(d.n_chars) OVER (
               PARTITION BY t.query_id ORDER BY t.rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
      FROM topk t JOIN documents d ON d.doc_id = t.neighbor_id)
    SELECT query_id, neighbor_id, sim, rn, n_chars, cum_before
    FROM packed WHERE cum_before < {_CWP_BUDGET}
    """


@query("rag_context_window_pack", oracle=_context_pack_oracle())
def rag_context_window_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUDGETED CONTEXT ASSEMBLY — the data half of the reference's
    stuff-documents chain (app.py:396 concatenates every retrieved doc
    into the prompt and HOPES it fits): per query, take the
    cosine-ranked top-10 retrieved documents and greedily pack them
    into a fixed character budget in rank order — a doc enters the
    context iff the docs ranked above it total under the budget (the
    first doc always enters; the boundary doc may overshoot — the
    text_chunk_recursive greedy-pack convention). Output is exactly
    the per-query context manifest a serving tier concatenates.

    Scale shape (the RRF lesson, applied): the RANK GATE comes first —
    the per-query top-10 window runs over the broadcast-query x corpus
    scores, and the PACKING window then touches only the <= 10
    survivors per query, joined to document lengths by key. No
    unbounded window ever sees the corpus. One corpus pass, two
    bounded windows.

    Parity: sims round(6) (the shared sequential-fold cosine), so the
    rank order — and therefore the integer cum_before prefix sums and
    the budget cut — is identical on both engines."""
    from .vector import _query_vectors, _query_vector_raw
    from ..functions.vector import cosine_fixed

    emb = table(spark, sf_dir, "embeddings")
    docs = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("neighbor_id"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )
    q = _query_vectors(spark, sf_dir, 10)
    corpus = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    d = len(_query_vector_raw(spark, sf_dir, 0))
    sims = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(cosine_fixed("embedding", "qv", d), 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    topk = sims.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= _CWP_FETCH
    )
    wp = (
        Window.partitionBy("query_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = topk.join(docs, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        "sim",
        "rn",
        "n_chars",
        F.coalesce(F.sum("n_chars").over(wp), F.lit(0))
        .cast("bigint")
        .alias("cum_before"),
    )
    return packed.where(F.col("cum_before") < _CWP_BUDGET).select(
        "query_id", "neighbor_id", "sim", "rn", "n_chars", "cum_before"
    )


# ---------------------------------------------------------------------------
# rag_prf_query_expansion
# ---------------------------------------------------------------------------

_PRF_FB_DOCS = 3  # feedback depth (top BM25 docs mined for terms)
_PRF_FB_TERMS = 2  # expansion terms added to the query


def _prf_oracle() -> str:
    q0 = ", ".join(f"('{t}')" for t in _BM25_TERMS)
    q0_not_in = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(len(tk)) AS avgdl
      FROM toks),
    tfc AS (
      SELECT t.doc_id, u.term, CAST(count(*) AS BIGINT) AS tf,
             CAST(max(len(t.tk)) AS BIGINT) AS dl
      FROM toks t, unnest(t.tk) AS u(term)
      GROUP BY t.doc_id, u.term),
    dfc AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY term),
    q0(term) AS (VALUES {q0}),
    w1 AS (
      SELECT f.doc_id,
             sum(CAST(round(
               ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (f.tf * ({_BM25_K1} + 1))
               / (f.tf + {_BM25_K1} * (1 - {_BM25_B}
                                       + {_BM25_B} * f.dl / s.avgdl)),
               9) AS DECIMAL(28,9))) AS sc
      FROM tfc f JOIN q0 ON f.term = q0.term
      JOIN dfc d ON d.term = f.term CROSS JOIN stats s
      GROUP BY f.doc_id),
    top3 AS (
      SELECT doc_id FROM w1 ORDER BY sc DESC, doc_id LIMIT {_PRF_FB_DOCS}),
    exp AS (
      SELECT f.term,
             sum(f.tf * CAST(round(ln(CAST(s.n_docs AS DOUBLE) / d.df), 9)
                             AS DECIMAL(28,9))) AS esc
      FROM tfc f JOIN top3 ON f.doc_id = top3.doc_id
      JOIN dfc d ON d.term = f.term CROSS JOIN stats s
      WHERE f.term NOT IN ({q0_not_in})
      GROUP BY f.term
      ORDER BY esc DESC, f.term LIMIT {_PRF_FB_TERMS}),
    q1 AS (SELECT term FROM q0 UNION SELECT term FROM exp),
    w2 AS (
      SELECT f.doc_id,
             sum(CAST(round(
               ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (f.tf * ({_BM25_K1} + 1))
               / (f.tf + {_BM25_K1} * (1 - {_BM25_B}
                                       + {_BM25_B} * f.dl / s.avgdl)),
               9) AS DECIMAL(28,9))) AS sc
      FROM tfc f JOIN q1 ON f.term = q1.term
      JOIN dfc d ON d.term = f.term CROSS JOIN stats s
      GROUP BY f.doc_id)
    SELECT doc_id, round(CAST(sc AS DOUBLE), 6) AS score,
           CAST(row_number() OVER (ORDER BY sc DESC, doc_id) AS INTEGER)
             AS rank
    FROM w2 ORDER BY sc DESC, doc_id LIMIT 10
    """


@query("rag_prf_query_expansion", oracle=_prf_oracle())
def rag_prf_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSEUDO-RELEVANCE-FEEDBACK retrieval (Rocchio-style query
    expansion, the classic two-pass sparse-retrieval upgrade the
    reference's single-shot hybrid search lacks): (1) BM25 with the
    fixed query keywords, (2) mine the top-3 documents for the
    _PRF_FB_TERMS = 2 highest TF-IDF non-query terms, (3) re-run BM25
    with the expanded term set and return the top-10. Recovers
    documents that discuss the topic in different words — the recall
    mechanism behind "query expansion" boxes in every IR stack.

    This op also carries the GENERAL (join-formulated) BM25: term
    frequencies and document frequencies are keyed aggregates joined
    against the (tiny, broadcast) query-term set — the shape that
    works when query terms are DATA (expansion output), where
    rag_bm25_topk's unrolled fixed-term expressions cannot. Per-term
    contributions quantize round(9) into DECIMAL before the
    order-independent per-doc sum (dynamic term sets have no fixed
    fold order to share), ORDER BY the exact decimal, round(6) on
    output only.

    Scale shape: one explode + two keyed aggregates build tf/df
    (reusable ingest artifacts at 100 TB); each pass is a broadcast
    join of the term set against the tf table — no corpus rescan of
    raw text; top-k frontiers are orderBy+limit."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("tk"))
    stats = toks.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.avg(F.size("tk")).alias("avgdl"),
    )
    ex = toks.select(
        "doc_id", F.size("tk").alias("dl"), F.explode("tk").alias("term")
    )
    tfc = ex.groupBy("doc_id", "term").agg(
        F.count("*").cast("bigint").alias("tf"),
        F.max("dl").cast("bigint").alias("dl"),
    )
    dfc = tfc.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    contrib = F.expr(
        f"CAST(round(ln(1 + (n_docs - df + 0.5) / (df + 0.5))"
        f" * (tf * ({_BM25_K1} + 1))"
        f" / (tf + {_BM25_K1} * (1 - {_BM25_B}"
        f" + {_BM25_B} * dl / avgdl)), 9) AS DECIMAL(28,9))"
    )

    def bm25(terms: DataFrame) -> DataFrame:
        return (
            tfc.join(F.broadcast(terms), "term")
            .join(dfc, "term")
            .crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(F.sum(contrib).alias("sc"))
        )

    q0 = spark.createDataFrame([(t,) for t in _BM25_TERMS], "term string")
    top3 = (
        bm25(q0)
        .orderBy(F.col("sc").desc(), "doc_id")
        .limit(_PRF_FB_DOCS)
        .select("doc_id")
        .localCheckpoint()  # bounded: feedback-depth rows
    )
    exp = (
        tfc.join(F.broadcast(top3), "doc_id")
        .where(~F.col("term").isin(*_BM25_TERMS))
        .join(dfc, "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("term")
        .agg(
            F.sum(
                F.col("tf")
                * F.expr(
                    "CAST(round(ln(CAST(n_docs AS DOUBLE) / df), 9)"
                    " AS DECIMAL(28,9))"
                )
            ).alias("esc")
        )
        .orderBy(F.col("esc").desc(), "term")
        .limit(_PRF_FB_TERMS)
        .select("term")
    )
    q1 = q0.unionByName(exp).distinct()
    w = Window.orderBy(F.col("sc").desc(), "doc_id")
    return (
        bm25(q1)
        .orderBy(F.col("sc").desc(), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            F.round(F.col("sc").cast("double"), 6).alias("score"),
            F.row_number().over(w).cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# rag_team_draft_interleave
# ---------------------------------------------------------------------------

_TDI_N = 10  # per-retriever list length and interleaved output length


def _tdi_oracle() -> str:
    bm25_score = " + ".join(
        f"(ln(1 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5)) * "
        f"(len(list_filter(tk, x -> x = '{t}')) * ({_BM25_K1} + 1)) / "
        f"(len(list_filter(tk, x -> x = '{t}')) + {_BM25_K1} * "
        f"(1 - {_BM25_B} + {_BM25_B} * len(tk) / avgdl)))"
        for i, t in enumerate(_KEYWORDS)
    )
    dfs = ", ".join(
        f"sum(CASE WHEN list_contains(tk, '{t}') THEN 1 ELSE 0 END)"
        f" AS df_{i}"
        for i, t in enumerate(_KEYWORDS)
    )
    # one draft round r: the odd-round team (A = bm25) picks first,
    # then the other — each taking its highest-ranked not-yet-picked
    # doc; DuckDB list indexing returns NULL past the end, so
    # exhausted lists skip naturally
    lx = "CASE WHEN (rnd + 1) % 2 = 1 THEN la ELSE lb END"
    ly = "CASE WHEN (rnd + 1) % 2 = 1 THEN lb ELSE la END"
    tx = "CASE WHEN (rnd + 1) % 2 = 1 THEN 'A' ELSE 'B' END"
    ty = "CASE WHEN (rnd + 1) % 2 = 1 THEN 'B' ELSE 'A' END"
    p1 = f"list_filter({lx}, d -> NOT list_contains(picked, d))[1]"
    pk1 = f"CASE WHEN {p1} IS NULL THEN picked ELSE list_append(picked, {p1}) END"
    p2 = f"list_filter({ly}, d -> NOT list_contains({pk1}, d))[1]"
    return f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    stats AS (
      SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl, {dfs}
      FROM toks),
    bm AS (
      SELECT doc_id, r FROM (
        SELECT doc_id, row_number() OVER (ORDER BY
               round({bm25_score}, 6) DESC, doc_id) AS r
        FROM toks CROSS JOIN stats) t
      WHERE r <= {_TDI_N}),
    ov AS (
      SELECT doc_id, r FROM (
        SELECT doc_id, row_number() OVER (ORDER BY
               len(list_filter({_KEYWORDS}, kw -> list_contains(tk, kw)))
                 DESC, doc_id) AS r
        FROM toks) t
      WHERE r <= {_TDI_N}),
    lists AS (
      -- pinned-order aggregation (round-6 rule): list(x ORDER BY r),
      -- never a bare list() riding a subquery's ORDER BY
      SELECT (SELECT list(doc_id ORDER BY r) FROM bm) AS la,
             (SELECT list(doc_id ORDER BY r) FROM ov) AS lb),
    draft AS (
      SELECT 0 AS rnd,
             CAST([] AS BIGINT[]) AS picked,
             CAST([] AS BIGINT[]) AS docs,
             CAST([] AS VARCHAR[]) AS teams
      UNION ALL
      SELECT rnd + 1,
             CASE WHEN {p2} IS NULL THEN {pk1}
                  ELSE list_append({pk1}, {p2}) END,
             list_concat(docs, list_concat(
               CASE WHEN {p1} IS NULL THEN CAST([] AS BIGINT[])
                    ELSE [{p1}] END,
               CASE WHEN {p2} IS NULL THEN CAST([] AS BIGINT[])
                    ELSE [{p2}] END)),
             list_concat(teams, list_concat(
               CASE WHEN {p1} IS NULL THEN CAST([] AS VARCHAR[])
                    ELSE [{tx}] END,
               CASE WHEN {p2} IS NULL THEN CAST([] AS VARCHAR[])
                    ELSE [{ty}] END))
      FROM draft, lists WHERE rnd < {_TDI_N}),
    fin AS (
      SELECT docs, teams FROM draft WHERE rnd = {_TDI_N})
    SELECT CAST(i AS BIGINT) AS pos,
           docs[i] AS doc_id,
           teams[i] AS team
    FROM fin, (SELECT unnest(generate_series(1, {_TDI_N})) AS i)
    ORDER BY pos
    """


@query("rag_team_draft_interleave", oracle=_tdi_oracle())
def rag_team_draft_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEAM-DRAFT INTERLEAVING (Radlinski et al.) of the two
    retrievers rag_rrf_fusion fuses offline — BM25 (team A) vs exact
    keyword-overlap (team B): the ONLINE ranker-evaluation arm of the
    rag family.  Production search evaluates ranker B against ranker
    A by showing ONE interleaved list and crediting clicks to the
    team that contributed the clicked document; this op emits that
    interleaved list with team attribution (pos, doc_id, team).  The
    draft is the standard one with a DETERMINISTIC coin — round
    parity decides which team picks first (odd rounds A, even B), so
    over 10 rounds each team gets 5 first picks and the assignment is
    reproducible; each pick takes the team's highest-ranked document
    not yet drafted, skipping naturally when a list is exhausted.

    Parity: the two input rankings are the rrf machinery's
    (round(6)-score DESC, doc_id) orders — rank parity exact; the
    draft itself is pure integer/array logic (filter, contains,
    append) folded in pinned round order on both engines (Spark
    aggregate() over sequence(1,10) with a picked/docs/teams struct;
    DuckDB a recursive CTE stepping the same expressions) — no floats
    anywhere in the fold.

    Shape at 100 TB: both candidate lists are orderBy+limit
    TakeOrderedAndProject gates (never a global sort); the draft runs
    on ONE row carrying two 10-element arrays."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("tk"))
    tf = lambda t: F.size(F.filter("tk", lambda x: x == F.lit(t)))  # noqa: E731
    stats = toks.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.size("tk")).alias("avgdl"),
        *[
            F.sum(F.array_contains("tk", t).cast("bigint")).alias(f"df_{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    dl = F.size("tk")
    score = None
    for i, t in enumerate(_BM25_TERMS):
        idf = F.log(
            1
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
        )
        term = (
            idf
            * (tf(t) * (_BM25_K1 + 1))
            / (tf(t) + _BM25_K1 * (1 - _BM25_B + _BM25_B * dl / F.col("avgdl")))
        )
        score = term if score is None else score + term
    kw_arr = F.array(*[F.lit(k) for k in _KEYWORDS])
    n_overlap = F.size(F.filter(kw_arr, lambda kw: F.array_contains("tk", kw)))
    bm = (
        toks.crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(score, 6).alias("s"))
        .orderBy(F.col("s").desc(), "doc_id")
        .limit(_TDI_N)
        .withColumn(
            "r",
            F.row_number().over(Window.orderBy(F.col("s").desc(), "doc_id")),
        )
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(r, doc_id))),"
                " x -> x.doc_id)"
            ).alias("la")
        )
    )
    ov = (
        toks.select("doc_id", n_overlap.alias("ovl"))
        .orderBy(F.col("ovl").desc(), "doc_id")
        .limit(_TDI_N)
        .withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.col("ovl").desc(), "doc_id")
            ),
        )
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(r, doc_id))),"
                " x -> x.doc_id)"
            ).alias("lb")
        )
    )
    lists = bm.crossJoin(F.broadcast(ov))
    lx = "CASE WHEN r % 2 = 1 THEN la ELSE lb END"
    ly = "CASE WHEN r % 2 = 1 THEN lb ELSE la END"
    tx = "CASE WHEN r % 2 = 1 THEN 'A' ELSE 'B' END"
    ty = "CASE WHEN r % 2 = 1 THEN 'B' ELSE 'A' END"
    f1 = f"filter({lx}, d -> NOT array_contains(s.picked, d))"
    p1 = f"CASE WHEN size({f1}) >= 1 THEN element_at({f1}, 1) END"
    pk1 = (
        f"CASE WHEN ({p1}) IS NULL THEN s.picked"
        f" ELSE concat(s.picked, array({p1})) END"
    )
    f2 = f"filter({ly}, d -> NOT array_contains({pk1}, d))"
    p2 = f"CASE WHEN size({f2}) >= 1 THEN element_at({f2}, 1) END"
    fold = (
        f"aggregate(sequence(1, {_TDI_N}), "
        "named_struct("
        "'picked', CAST(array() AS ARRAY<BIGINT>), "
        "'docs', CAST(array() AS ARRAY<BIGINT>), "
        "'teams', CAST(array() AS ARRAY<STRING>)), "
        f"(s, r) -> named_struct("
        f"'picked', CASE WHEN ({p2}) IS NULL THEN {pk1}"
        f" ELSE concat({pk1}, array({p2})) END, "
        f"'docs', concat(s.docs,"
        f" CASE WHEN ({p1}) IS NULL THEN CAST(array() AS ARRAY<BIGINT>)"
        f" ELSE array({p1}) END,"
        f" CASE WHEN ({p2}) IS NULL THEN CAST(array() AS ARRAY<BIGINT>)"
        f" ELSE array({p2}) END), "
        f"'teams', concat(s.teams,"
        f" CASE WHEN ({p1}) IS NULL THEN CAST(array() AS ARRAY<STRING>)"
        f" ELSE array({tx}) END,"
        f" CASE WHEN ({p2}) IS NULL THEN CAST(array() AS ARRAY<STRING>)"
        f" ELSE array({ty}) END)))"
    )
    return (
        lists.select(F.expr(fold).alias("st"))
        .select(
            F.posexplode(
                F.expr(f"slice(arrays_zip(st.docs, st.teams), 1, {_TDI_N})")
            ).alias("p0", "z")
        )
        .selectExpr(
            "CAST(p0 + 1 AS BIGINT) AS pos",
            "z.docs AS doc_id",
            "z.teams AS team",
        )
        .orderBy("pos")
    )


# ---------------------------------------------------------------------------
# rag_hybrid_weighted_fusion
# ---------------------------------------------------------------------------

_FUSION_ALPHA = 0.7  # dense/sparse mix weight (standard hybrid-search knob)


def _bm25_scored_duck() -> str:
    """DuckDB CTE body: (doc_id, s) = rounded BM25 score per document —
    the same scorer as rag.py's rag_bm25_topk oracle."""
    return f"""
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    stats AS (
      SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl,
             {', '.join(
                 f"sum(CASE WHEN list_contains(tk, '{t}') THEN 1 ELSE 0 END) AS df_{i}"
                 for i, t in enumerate(_KEYWORDS))}
      FROM toks),
    scored AS (
      SELECT doc_id,
             round({' + '.join(
                 f"(ln(1 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5)) * "
                 f"(len(list_filter(tk, x -> x = '{t}')) * ({_BM25_K1} + 1)) / "
                 f"(len(list_filter(tk, x -> x = '{t}')) + {_BM25_K1} * "
                 f"(1 - {_BM25_B} + {_BM25_B} * len(tk) / avgdl)))"
                 for i, t in enumerate(_KEYWORDS))}, 6) AS s,
             CAST(len(list_filter({_KEYWORDS}, kw -> list_contains(tk, kw)))
                  AS BIGINT) AS ov
      FROM toks CROSS JOIN stats)"""


def _bm25_scored_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s, ov): rounded BM25 score + keyword-overlap count —
    the Spark twin of _bm25_scored_duck (rag.py's scorer shape)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("tk"))
    tf = lambda t: F.size(F.filter("tk", lambda x: x == F.lit(t)))  # noqa: E731
    stats = toks.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.size("tk")).alias("avgdl"),
        *[
            F.sum(F.array_contains("tk", t).cast("bigint")).alias(f"df_{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    dl = F.size("tk")
    score = None
    for i, t in enumerate(_BM25_TERMS):
        idf = F.log(
            1
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        term = (
            idf
            * (tf(t) * (_BM25_K1 + 1))
            / (tf(t) + _BM25_K1 * (1 - _BM25_B + _BM25_B * dl / F.col("avgdl")))
        )
        score = term if score is None else score + term
    kw_arr = F.array(*[F.lit(k) for k in _KEYWORDS])
    ov = F.size(F.filter(kw_arr, lambda kw: F.array_contains("tk", kw)))
    return toks.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        F.round(score, 6).alias("s"),
        ov.cast("bigint").alias("ov"),
    )


@query(
    "rag_hybrid_weighted_fusion",
    oracle=f"""
    WITH {_bm25_scored_duck()},
    rng AS (
      SELECT min(s) AS min_s, max(s) AS max_s,
             min(ov) AS min_o, max(ov) AS max_o
      FROM scored)
    SELECT doc_id, s AS bm25_score, ov AS kw_overlap,
           round({_FUSION_ALPHA} * (CASE WHEN max_s > min_s
                      THEN (s - min_s) / (max_s - min_s) ELSE 0.0 END)
                 + {1 - _FUSION_ALPHA} * (CASE WHEN max_o > min_o
                      THEN (ov - min_o) / CAST(max_o - min_o AS DOUBLE)
                      ELSE 0.0 END), 6) AS hybrid
    FROM scored CROSS JOIN rng
    ORDER BY hybrid DESC, doc_id
    LIMIT 10
    """,
)
def rag_hybrid_weighted_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED-SCORE hybrid fusion — the other standard fusion next to
    RRF (rag_rrf_fusion): min-max normalize each retriever's score to
    [0,1], then blend with a fixed alpha (0.7 sparse BM25 + 0.3
    keyword-overlap here; the reference's hybrid loop concatenates the
    two result lists instead, app.py:348-374 — score fusion is what a
    real engine does with calibrated scores).

    The normalization bounds come from ONE tiny aggregate broadcast
    back over the scored scan — not a global window (which would sort
    the world on one partition); at 100 TB each retriever contributes
    only its top-k frontier and min-max runs over k+k rows. Top-10 is
    TakeOrderedAndProject. Scores are round(6)'d BEFORE normalization
    so both engines normalize identical doubles."""
    scored = _bm25_scored_spark(spark, sf_dir)
    rng = scored.agg(
        F.min("s").alias("min_s"),
        F.max("s").alias("max_s"),
        F.min("ov").alias("min_o"),
        F.max("ov").alias("max_o"),
    )
    bn = F.when(
        F.col("max_s") > F.col("min_s"),
        (F.col("s") - F.col("min_s")) / (F.col("max_s") - F.col("min_s")),
    ).otherwise(0.0)
    on_ = F.when(
        F.col("max_o") > F.col("min_o"),
        (F.col("ov") - F.col("min_o"))
        / (F.col("max_o") - F.col("min_o")).cast("double"),
    ).otherwise(0.0)
    return (
        scored.crossJoin(F.broadcast(rng))
        .select(
            "doc_id",
            F.col("s").alias("bm25_score"),
            F.col("ov").alias("kw_overlap"),
            F.round(_FUSION_ALPHA * bn + (1 - _FUSION_ALPHA) * on_, 6).alias(
                "hybrid"
            ),
        )
        .orderBy(F.col("hybrid").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# rag_eval_recall_mrr
# ---------------------------------------------------------------------------

_DD_COS_A = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
    "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)


@query(
    "rag_eval_recall_mrr",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding
          FROM embeddings WHERE vec_id >= 10),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 round({_DD_COS_A.format(a='c.embedding', b='q.qv')}, 6) DESC,
                 c.neighbor_id) AS rn
        FROM c CROSS JOIN q) t
      WHERE rn <= 10),
    sys AS (
      SELECT query_id, neighbor_id, rn AS sys_rank FROM (
        SELECT q.query_id, c.neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 len(list_filter(range(1, len(c.embedding) + 1),
                     i -> (c.embedding[i] > 0) <> (q.qv[i] > 0))),
                 c.neighbor_id) AS rn
        FROM c CROSS JOIN q) t
      WHERE rn <= 10),
    hits AS (
      SELECT t.query_id, count(*) AS n_hits,
             min(s.sys_rank) AS first_rank
      FROM truth t JOIN sys s
        ON t.query_id = s.query_id AND t.neighbor_id = s.neighbor_id
      GROUP BY t.query_id)
    SELECT q2.query_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(coalesce(h.n_hits, 0) / 10.0, 6) AS recall_at_10,
           CASE WHEN h.first_rank IS NULL THEN 0.0
                ELSE round(1.0 / h.first_rank, 6) END AS mrr
    FROM (SELECT DISTINCT query_id FROM q) q2
    LEFT JOIN hits h ON q2.query_id = h.query_id
    """,
)
def rag_eval_recall_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRIEVAL-QUALITY evaluation — recall@10 and MRR of the sign-bit
    hamming ranker (vec_signbit_hamming_topk's 32x-compressed index)
    against exact-cosine ground truth, per query. This is the offline
    eval loop every vector-search deployment runs before swapping a
    cheaper index in (the reference trusts Qdrant blindly; an engine
    measures): ground truth = exact top-10, system = hamming top-10,
    recall = overlap/10, MRR = 1/rank of the first true hit.

    Both rankings stream the corpus once against broadcast queries; at
    100 TB each side keeps per-query top-10 frontiers (window over
    candidates already reduced per partition) and the metric join
    touches 10x10 rows per query. Joining system to truth on
    (query, neighbor) and aggregating count + min(rank) is exact
    integer arithmetic; the two divisions are round(6)'d identically.
    Queries with zero true hits keep a row (LEFT join from the query
    list) with recall 0 — silent query dropout is the classic eval
    bug."""
    from .vector import _query_vectors, eval_rankings_topk

    truth_r, system = eval_rankings_topk(spark, sf_dir)
    q = _query_vectors(spark, sf_dir, 10)
    truth = truth_r.select("query_id", "neighbor_id")
    sys_rank = system.select(
        "query_id", "neighbor_id", F.col("p").alias("sys_rank")
    )
    hits = truth.join(sys_rank, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(
        F.count("*").alias("n_hits"), F.min("sys_rank").alias("first_rank")
    )
    qids = q.select("query_id").distinct()
    return qids.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
        F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / 10.0, 6).alias(
            "recall_at_10"
        ),
        F.when(F.col("first_rank").isNull(), 0.0)
        .otherwise(F.round(1.0 / F.col("first_rank"), 6))
        .alias("mrr"),
    )


# ---------------------------------------------------------------------------
# rag_eval_ndcg / rag_rbo_overlap — shared ranking CTEs
# ---------------------------------------------------------------------------

_DD_COS_Q = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
    "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)

# Exact-cosine truth top-10 and sign-bit-hamming system top-10 — the
# identical ranking CTE pair rag_eval_recall_mrr pins (above),
# reused so the three eval metrics grade the same two rankers.
_DD_RANKINGS = f"""
    q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding
          FROM embeddings WHERE vec_id >= 10),
    truth AS (
      SELECT query_id, neighbor_id, rn FROM (
        SELECT q.query_id, c.neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 round({_DD_COS_Q.format(a='c.embedding', b='q.qv')}, 6) DESC,
                 c.neighbor_id) AS rn
        FROM c CROSS JOIN q) t
      WHERE rn <= 10),
    sys AS (
      SELECT query_id, neighbor_id, rn AS p FROM (
        SELECT q.query_id, c.neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 len(list_filter(range(1, len(c.embedding) + 1),
                     i -> (c.embedding[i] > 0) <> (q.qv[i] > 0))),
                 c.neighbor_id) AS rn
        FROM c CROSS JOIN q) t
      WHERE rn <= 10)"""


def _eval_rankings(spark: SparkSession, sf_dir: str):
    """Shared (truth, system) top-10 rankings — vector.py's
    eval_rankings_topk (one implementation for all three eval ops)."""
    from .vector import eval_rankings_topk

    return eval_rankings_topk(spark, sf_dir)


@query(
    "rag_eval_ndcg",
    oracle=f"""
    WITH {_DD_RANKINGS},
    gains AS (SELECT query_id, neighbor_id, 11 - rn AS g, rn FROM truth),
    dcg AS (
      SELECT s.query_id,
             sum(CAST(round((CAST(1 << coalesce(t.g, 0) AS DOUBLE) - 1.0)
                            / (ln(s.p + 1) / ln(2)), 9)
                      AS DECIMAL(28, 9))) AS dcg_q
      FROM sys s LEFT JOIN gains t
        ON s.query_id = t.query_id AND s.neighbor_id = t.neighbor_id
      GROUP BY s.query_id),
    idcg AS (
      SELECT query_id,
             sum(CAST(round((CAST(1 << g AS DOUBLE) - 1.0)
                            / (ln(rn + 1) / ln(2)), 9)
                      AS DECIMAL(28, 9))) AS idcg_q
      FROM gains GROUP BY query_id)
    SELECT d.query_id,
           round(CAST(d.dcg_q AS DOUBLE), 6) AS dcg_10,
           round(CAST(i.idcg_q AS DOUBLE), 6) AS idcg_10,
           round(CAST(d.dcg_q AS DOUBLE) / CAST(i.idcg_q AS DOUBLE), 6)
             AS ndcg_10
    FROM dcg d JOIN idcg i ON d.query_id = i.query_id
    """,
)
def rag_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the sign-bit hamming ranker against exact-cosine
    graded relevance (grade = 11 - truth rank for the true top-10,
    0 otherwise) — the position-sensitive retrieval metric that
    recall@k (rag_eval_recall_mrr) cannot see: a system that returns
    all ten true hits in reverse order scores recall 1.0 but loses
    NDCG. Standard offline-eval companion to recall/MRR.

    Shape at scale: both rankings are the shared broadcast-query scan
    (one corpus pass each, per-query top-10 frontiers); the metric
    arithmetic then touches 10 rows per query. DCG joins system
    positions to truth grades on (query, neighbor); IDCG is the same
    formula over the truth ranking itself — exact by construction.

    Parity: gains are exact integers, 2^g - 1 comes from an integer
    shift (never pow()), log2 is the textually-identical ln(p+1)/ln(2)
    on both engines; per-position terms are round(9)-quantized and
    summed as DECIMAL so the 10-term sums are order-independent."""
    truth, sys_rank = _eval_rankings(spark, sf_dir)
    gains = truth.select(
        "query_id", "neighbor_id", (11 - F.col("rn")).alias("g"), "rn"
    )
    term = (
        "CAST(round((CAST(shiftleft(1, {g}) AS DOUBLE) - 1.0) "
        "/ (ln({p} + 1) / ln(2)), 9) AS DECIMAL(28,9))"
    )
    dcg = (
        sys_rank.join(gains, ["query_id", "neighbor_id"], "left")
        .select(
            "query_id",
            "p",
            F.coalesce(F.col("g"), F.lit(0)).alias("g0"),
        )
        .groupBy("query_id")
        .agg(F.sum(F.expr(term.format(g="g0", p="p"))).alias("dcg_q"))
    )
    idcg = gains.groupBy("query_id").agg(
        F.sum(F.expr(term.format(g="g", p="rn"))).alias("idcg_q")
    )
    return dcg.join(idcg, "query_id").select(
        "query_id",
        F.round(F.col("dcg_q").cast("double"), 6).alias("dcg_10"),
        F.round(F.col("idcg_q").cast("double"), 6).alias("idcg_10"),
        F.round(
            F.col("dcg_q").cast("double") / F.col("idcg_q").cast("double"), 6
        ).alias("ndcg_10"),
    )


@query(
    "rag_rbo_overlap",
    oracle=f"""
    WITH {_DD_RANKINGS},
    pairs AS (
      SELECT t.query_id, greatest(t.rn, s.p) AS d0
      FROM truth t JOIN sys s
        ON t.query_id = s.query_id AND t.neighbor_id = s.neighbor_id),
    depth AS (
      SELECT query_id, d.d, count(*) AS cnt
      FROM pairs, unnest(generate_series(d0, 10)) AS d(d)
      GROUP BY 1, 2),
    agg AS (
      SELECT query_id,
             sum(CAST(round(cnt * 1.0
                            / (CAST(1 << (d - 1) AS DOUBLE) * d), 9)
                      AS DECIMAL(28, 9))) AS s,
             max(CASE WHEN d = 10 THEN cnt ELSE 0 END) AS ov10
      FROM depth GROUP BY query_id)
    SELECT q2.query_id,
           CAST(coalesce(a.ov10, 0) AS BIGINT) AS overlap_at_10,
           round(0.5 * CAST(coalesce(a.s, 0) AS DOUBLE), 6) AS rbo_10
    FROM (SELECT DISTINCT query_id FROM q) q2
    LEFT JOIN agg a ON q2.query_id = a.query_id
    """,
)
def rag_rbo_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK-BIASED OVERLAP (Webber et al. 2010) at p=0.5, depth 10,
    between the exact-cosine and sign-bit-hamming rankings — the
    top-weighted list-similarity metric for comparing two rankers
    without graded labels (NDCG needs a truth grading; RBO treats
    both lists symmetrically). RBO = (1-p) * sum_d p^(d-1) * |A_d
    intersect B_d| / d.

    The per-depth overlap is computed without re-intersecting at each
    depth: a matched pair first counts at depth d0 = max(rank_A,
    rank_B), so exploding sequence(d0, 10) and counting per (query,
    depth) yields every |A_d intersect B_d| with <= 10 rows exploded
    per matched pair. Queries whose lists are disjoint keep a row
    (LEFT join from the query list) with rbo 0 — the eval-dropout
    guard rag_eval_recall_mrr pins.

    Parity: overlap counts are exact integers; p^(d-1) is an integer
    shift (1 << (d-1), never pow()); each depth term divides integers
    and is round(9)-quantized into a DECIMAL sum; one round(6) at the
    end."""
    truth, sys_rank = _eval_rankings(spark, sf_dir)
    pairs = truth.join(sys_rank, ["query_id", "neighbor_id"]).select(
        "query_id", F.greatest("rn", "p").alias("d0")
    )
    depth = (
        pairs.select(
            "query_id", F.explode(F.expr("sequence(d0, 10)")).alias("d")
        )
        .groupBy("query_id", "d")
        .agg(F.count("*").alias("cnt"))
    )
    agg = depth.groupBy("query_id").agg(
        F.sum(
            F.expr(
                "CAST(round(cnt * 1.0 / "
                "(CAST(shiftleft(1, d - 1) AS DOUBLE) * d), 9) "
                "AS DECIMAL(28,9))"
            )
        ).alias("s"),
        F.max(F.when(F.col("d") == 10, F.col("cnt")).otherwise(0)).alias(
            "ov10"
        ),
    )
    # qids from the query-vector SOURCE, not truth.distinct(): the
    # latter re-executes the full truth ranking (corpus crossJoin +
    # window) just to enumerate 10 ids (round-7 advisory fix)
    from .vector import _query_vectors

    qids = _query_vectors(spark, sf_dir, 10).select("query_id")
    return qids.join(agg, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("ov10"), F.lit(0)).cast("bigint").alias(
            "overlap_at_10"
        ),
        F.round(
            F.lit(0.5) * F.coalesce(F.col("s"), F.lit(0)).cast("double"), 6
        ).alias("rbo_10"),
    )


@query(
    "rag_eval_map",
    oracle=f"""
    WITH {_DD_RANKINGS},
    h AS (
      SELECT s.query_id, s.p,
             CASE WHEN t.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
      FROM sys s LEFT JOIN truth t
        ON s.query_id = t.query_id AND s.neighbor_id = t.neighbor_id),
    cm AS (
      SELECT query_id, p, hit,
             sum(hit) OVER (PARTITION BY query_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch
      FROM h)
    SELECT query_id,
           CAST(sum(hit) AS BIGINT) AS n_hits_10,
           round(CAST(sum(CASE WHEN hit = 1
                     THEN CAST(round(CAST(ch AS DOUBLE) / p, 9)
                               AS DECIMAL(28,9))
                     ELSE CAST(0 AS DECIMAL(28,9)) END) AS DOUBLE)
                 / 10.0, 6) AS ap_10
    FROM cm GROUP BY query_id
    """,
)
def rag_eval_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@10 (mean average precision) of the sign-bit-hamming ranker
    against exact-cosine truth — the order-sensitive eval metric that
    completes the offline suite next to recall/MRR (rag_eval_recall_mrr)
    and NDCG (rag_eval_ndcg): AP rewards putting EVERY relevant hit
    early, not just the first (MRR) or graded positions (NDCG).
    AP@10 = (1/10) * sum over hit positions p of precision@p.

    Shape at scale: both rankings are the shared one-pass broadcast-
    query corpus scans (vector.py::eval_rankings_topk — one
    implementation for all four eval ops); the metric arithmetic then
    touches 10 rows per query, and the running-hit window is bounded
    at 10 rows per partition key.

    Parity: precision@p = ch/p is round(9)-quantized per term, summed
    as DECIMAL(28,9) (order-independent), one final /10 and round(6);
    the divisor is the fixed truth size 10, identical on both sides."""
    from .vector import eval_rankings_topk

    truth, sys_rank = eval_rankings_topk(spark, sf_dir)
    h = (
        sys_rank.join(
            truth.select("query_id", "neighbor_id", F.lit(1).alias("hit")),
            ["query_id", "neighbor_id"],
            "left",
        )
        .select(
            "query_id", "p", F.coalesce(F.col("hit"), F.lit(0)).alias("hit")
        )
    )
    w = (
        Window.partitionBy("query_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = h.withColumn("ch", F.sum("hit").over(w))
    term = (
        "CASE WHEN hit = 1 THEN CAST(round(CAST(ch AS DOUBLE) / p, 9)"
        " AS DECIMAL(28,9)) ELSE CAST(0 AS DECIMAL(28,9)) END"
    )
    return c.groupBy("query_id").agg(
        F.sum("hit").cast("bigint").alias("n_hits_10"),
        F.round(F.expr(f"CAST(sum({term}) AS DOUBLE)") / 10.0, 6).alias(
            "ap_10"
        ),
    )


# ---------------------------------------------------------------------------
# rag_hard_negative_mining
# ---------------------------------------------------------------------------

_HN_TOPK = 10


def _hn_oracle() -> str:

    bm25_score = " + ".join(
        f"(ln(1 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5)) * "
        f"(len(list_filter(tk, x -> x = '{t}')) * ({_BM25_K1} + 1)) / "
        f"(len(list_filter(tk, x -> x = '{t}')) + {_BM25_K1} * "
        f"(1 - {_BM25_B} + {_BM25_B} * len(tk) / avgdl)))"
        for i, t in enumerate(_KEYWORDS)
    )
    dfs = ", ".join(
        f"sum(CASE WHEN list_contains(tk, '{t}') THEN 1 ELSE 0 END)"
        f" AS df_{i}"
        for i, t in enumerate(_KEYWORDS)
    )
    kw_list = "[" + ", ".join(f"'{t}'" for t in _KEYWORDS) + "]"
    return f"""
    WITH toksd AS (
      SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
    stats AS (
      SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl, {dfs}
      FROM toksd),
    scored AS (
      SELECT doc_id,
             round({bm25_score}, 6) AS bm25_score,
             CAST(len(list_filter({kw_list},
                  kw -> contains(lower(text), kw))) AS BIGINT)
               AS kw_matches
      FROM toksd CROSS JOIN stats)
    SELECT doc_id, bm25_score, kw_matches
    FROM scored
    WHERE kw_matches < {_THRESHOLD}
    ORDER BY bm25_score DESC, doc_id
    LIMIT {_HN_TOPK}
    """


@query("rag_hard_negative_mining", oracle=_hn_oracle())
def rag_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING for reranker training — the training-data
    op the rag family lacked (its 12 siblings retrieve, fuse, pack,
    or evaluate; none emit contrastive examples): a HARD negative is
    a doc the RANKER scores high but the RELEVANCE RULE rejects, and
    this op composes the reference's own two relevance notions to
    find them — BM25 score over the standing query (rag_bm25_topk's
    exact scorer, app.py:348-374) gated by the R9 keyword rule
    (matches >= len(keywords)/2, app.py:293, filter_keyword_gate).
    The top-10 highest-scoring GATE-FAILING docs are precisely the
    confusing examples a cross-encoder reranker trains against.

    Parity: BM25 terms are the shared expression text of the other
    rag oracles (round-6 vintage, ln/division parity argued there),
    rounded to 6 before the ORDER BY; kw_matches and the gate
    threshold are exact integers; ties break on doc_id.

    Shape at 100 TB: one tiny broadcast stats row + one codegen
    scoring scan + TakeOrderedAndProject — rag_bm25_topk's audited
    plan with one extra integer filter; no shuffle on the corpus."""

    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "text", F.split("text", " ").alias("tk"))
    tf = lambda t: F.size(F.filter("tk", lambda x: x == F.lit(t)))  # noqa: E731
    stats = toks.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.size("tk")).alias("avgdl"),
        *[
            F.sum(F.array_contains("tk", t).cast("bigint")).alias(f"df_{i}")
            for i, t in enumerate(_KEYWORDS)
        ],
    )
    dl = F.size("tk")
    score = None
    for i, t in enumerate(_KEYWORDS):
        idf = F.log(
            1
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
        )
        term = (
            idf
            * (tf(t) * (_BM25_K1 + 1))
            / (tf(t) + _BM25_K1 * (1 - _BM25_B + _BM25_B * dl / F.col("avgdl")))
        )
        score = term if score is None else score + term
    kw_arr = F.array(*[F.lit(k) for k in _KEYWORDS])
    matches = F.size(
        F.filter(kw_arr, lambda kw: F.contains(F.lower(F.col("text")), kw))
    ).cast("bigint")
    return (
        toks.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(score, 6).alias("bm25_score"),
            matches.alias("kw_matches"),
        )
        .where(F.col("kw_matches") < F.lit(_THRESHOLD))
        .orderBy(F.col("bm25_score").desc(), "doc_id")
        .limit(_HN_TOPK)
    )


# ---------------------------------------------------------------------------
# rag_multi_vector_maxsim
# ---------------------------------------------------------------------------

_MV_SLICES = 4   # sub-vectors per embedding
_MV_SUBDIM = 16  # dims per sub-vector (4 x 16 = the fixture's 64)


def _mv_dot(el_a, el_b, i: int, j: int) -> str:
    """Unrolled dot product of sub-vector i of a and j of b (1-based
    slice indexes) — identical left-assoc fold text on both engines."""
    a0 = (i - 1) * _MV_SUBDIM
    b0 = (j - 1) * _MV_SUBDIM
    return " + ".join(
        f"{el_a(a0 + k + 1)} * {el_b(b0 + k + 1)}"
        for k in range(_MV_SUBDIM)
    )


def _mv_score_sql(duck: bool) -> str:
    """The MaxSim scoring expression over pre-aliased sub-norm columns
    (nq1..nq4 query-side, nd1..nd4 doc-side): score = sum over query
    slices of max over doc slices of round(6) sub-cosine. The sum is a
    LITERAL left-to-right 4-term chain (the round-11 pivot rule — no
    aggregate, no quantization loss)."""
    if duck:
        el_a = lambda k: f"CAST(qv[{k}] AS DOUBLE)"  # noqa: E731
        el_b = lambda k: f"CAST(embedding[{k}] AS DOUBLE)"  # noqa: E731
    else:
        el_a = lambda k: f"CAST(element_at(qv, {k}) AS DOUBLE)"  # noqa: E731
        el_b = (  # noqa: E731
            lambda k: f"CAST(element_at(embedding, {k}) AS DOUBLE)"
        )
    maxes = []
    for i in range(1, _MV_SLICES + 1):
        cos_ij = [
            f"round(({_mv_dot(el_a, el_b, i, j)}) "
            f"/ (sqrt(nq{i}) * sqrt(nd{j})), 6)"
            for j in range(1, _MV_SLICES + 1)
        ]
        maxes.append("greatest(" + ", ".join(cos_ij) + ")")
    return "round(" + " + ".join(maxes) + ", 6)"


def _mv_norm_sql(col_el, i: int) -> str:
    base = (i - 1) * _MV_SUBDIM
    return " + ".join(
        f"{col_el(base + k + 1)} * {col_el(base + k + 1)}"
        for k in range(_MV_SUBDIM)
    )


def _maxsim_oracle() -> str:
    el_q = lambda k: f"CAST(qv[{k}] AS DOUBLE)"  # noqa: E731
    el_c = lambda k: f"CAST(embedding[{k}] AS DOUBLE)"  # noqa: E731
    q_norms = ", ".join(
        f"({_mv_norm_sql(el_q, i)}) AS nq{i}"
        for i in range(1, _MV_SLICES + 1)
    )
    c_norms = ", ".join(
        f"({_mv_norm_sql(el_c, j)}) AS nd{j}"
        for j in range(1, _MV_SLICES + 1)
    )
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, {q_norms}
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding, {c_norms}
          FROM embeddings WHERE vec_id >= 10),
    scored AS (
      SELECT q.query_id, c.neighbor_id,
             {_mv_score_sql(duck=True)} AS maxsim
      FROM c CROSS JOIN q)
    SELECT query_id, CAST(rn AS BIGINT) AS rn, neighbor_id, maxsim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY maxsim DESC, neighbor_id)
                      AS rn
          FROM scored) z
    WHERE rn <= 5
    ORDER BY query_id, rn
    """


@query("rag_multi_vector_maxsim", oracle=_maxsim_oracle())
def rag_multi_vector_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-VECTOR LATE-INTERACTION retrieval (ColBERT's MaxSim,
    Khattab & Zaharia 2020) — the scoring family between single-vector
    cosine (vec_cosine_topk) and full cross-attention rerankers:
    score(q, d) = sum over query sub-vectors of the MAX sub-cosine
    against any doc sub-vector, so a document matches if EACH query
    aspect finds its best-matching doc aspect independently.  The
    fixture has no token-level embeddings, so the 64-dim vectors are
    sliced into 4 x 16-dim sub-vectors as the multi-vector stand-in —
    the SCORING SHAPE (16 sub-cosines -> 4 per-slice maxes -> literal
    4-term sum -> top-5 window) is the real ColBERT plan, and in
    production the slices become token vectors with no change to the
    operator structure.

    Parity: sub-cosines round(6) with identical unrolled fold text on
    both engines; per-slice max via greatest() over the SAME rounded
    values; the final sum is a literal left-to-right 4-term chain
    (never an aggregate — order is pinned textually), round(6).
    Sub-norms are ALIASED columns computed once per row, so the
    scoring projection stays under Janino's 64 KB method limit (the
    round-6 rule: alias, never inline a big expression twice).

    Shape at 100 TB: one corpus scan against the broadcast 10-query
    panel; per-query top-5 is a partitioned window after map-side
    reduction (TakeOrderedAndProject shape per query group); the
    multi-vector expansion multiplies FLOPs per row, not rows."""
    el = lambda k: f"CAST(element_at(embedding, {k}) AS DOUBLE)"  # noqa: E731
    el_q = lambda k: f"CAST(element_at(qv, {k}) AS DOUBLE)"  # noqa: E731
    emb = table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        *[
            # references the sibling alias qv — Spark 4 lateral
            # column aliases (CLAUDE.md round-7)
            F.expr(_mv_norm_sql(el_q, i)).alias(f"nq{i}")
            for i in range(1, _MV_SLICES + 1)
        ],
    )
    c = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"),
        "embedding",
        *[
            F.expr(_mv_norm_sql(el, j)).alias(f"nd{j}")
            for j in range(1, _MV_SLICES + 1)
        ],
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.expr(_mv_score_sql(duck=False)).alias("maxsim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("maxsim").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select(
            "query_id",
            F.col("rn").cast("bigint").alias("rn"),
            "neighbor_id",
            "maxsim",
        )
        .orderBy("query_id", "rn")
    )


# ---------------------------------------------------------------------------
# rag_citation_grounding
# ---------------------------------------------------------------------------

_CGR_K = 3  # retrieved docs per query
_CGR_MIN_Q_TOKENS = 20


def _cgr_gram(arr: str, pos: str, elem: str) -> str:
    """Positional 3-gram fold over token codes — the dedup shingle
    combine, kept positional; every intermediate < 2^63 on both
    engines (codes < 1e6, P ~ 1e9). 5-grams were probed first and
    are VACUOUS on this corpus (1 of 5 queries has any supporter);
    trigram sharing is rich (20-68 supporters/query at sf0.01)."""
    from .dedup import P_HASH

    g = f"{elem}({arr}, {pos})"
    for j in range(1, 3):
        g = f"(({g}) * 131 + {elem}({arr}, {pos} + {j})) % {P_HASH}"
    return g


def _cgr_oracle() -> str:
    from .dedup import P_CODE

    gram_q = _cgr_gram("tc", "pos", "list_extract")
    gram_c = _cgr_gram("tc", "i", "list_extract")
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
               tok -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(tok, ''),
                                       c -> CAST(ascii(c) AS BIGINT))),
                      (h, c) -> (h * 31 + c) % {P_CODE})) AS tc
      FROM documents WHERE length(text) > 0),
    q AS MATERIALIZED (
      SELECT doc_id AS q_id, tc FROM toks
      WHERE doc_id % 97 = 3 AND len(tc) >= {_CGR_MIN_Q_TOKENS}
      ORDER BY doc_id LIMIT 5),
    qpos AS (
      SELECT q_id, unnest(generate_series(1, len(tc) - 2)) AS pos, tc
      FROM q),
    qspan AS (SELECT q_id, pos, {gram_q} AS g FROM qpos),
    nsp AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_spans
            FROM qspan GROUP BY q_id),
    cpos AS (
      SELECT doc_id, unnest(generate_series(1, len(tc) - 2)) AS i, tc
      FROM toks WHERE len(tc) >= 3),
    cg AS (SELECT DISTINCT doc_id, {gram_c} AS g FROM cpos),
    hits AS (
      SELECT DISTINCT s.q_id, c.doc_id, s.pos
      FROM qspan s JOIN cg c ON s.g = c.g AND c.doc_id <> s.q_id),
    cand AS (
      SELECT q_id, doc_id, CAST(count(*) AS BIGINT) AS spans_supported
      FROM hits GROUP BY q_id, doc_id),
    ranked AS (
      SELECT q_id, doc_id, spans_supported,
             CAST(row_number() OVER (PARTITION BY q_id
               ORDER BY spans_supported DESC, doc_id) AS BIGINT)
               AS rank
      FROM cand),
    ret AS (SELECT * FROM ranked WHERE rank <= {_CGR_K}),
    rhits AS (
      SELECT h.q_id, h.doc_id, h.pos
      FROM hits h JOIN ret r ON h.q_id = r.q_id AND h.doc_id = r.doc_id),
    sup AS (
      SELECT q_id, pos, CAST(count(*) AS BIGINT) AS n_sup
      FROM rhits GROUP BY q_id, pos),
    cov AS (
      SELECT q_id, CAST(count(*) AS BIGINT) AS covered_any
      FROM sup GROUP BY q_id),
    excl AS (
      SELECT h.q_id, h.doc_id, CAST(count(*) AS BIGINT) AS spans_exclusive
      FROM rhits h JOIN sup s
        ON h.q_id = s.q_id AND h.pos = s.pos AND s.n_sup = 1
      GROUP BY h.q_id, h.doc_id)
    SELECT r.q_id, r.rank, r.doc_id, r.spans_supported,
           CAST(coalesce(e.spans_exclusive, 0) AS BIGINT)
             AS spans_exclusive,
           n.n_spans,
           CAST(coalesce(c.covered_any, 0) AS BIGINT) AS covered_any,
           n.n_spans - CAST(coalesce(c.covered_any, 0) AS BIGINT)
             AS unsupported
    FROM ret r
    JOIN nsp n ON r.q_id = n.q_id
    LEFT JOIN cov c ON r.q_id = c.q_id
    LEFT JOIN excl e ON r.q_id = e.q_id AND r.doc_id = e.doc_id
    ORDER BY r.q_id, r.rank
    """


@query("rag_citation_grounding", oracle=_cgr_oracle())
def rag_citation_grounding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-LEVEL CITATION GROUNDING AUDIT — for each of 5 query
    documents (the generated-answer proxy), retrieve the top-3
    supporting docs by shared positional token-trigram count and report how
    much of the answer each citation actually GROUNDS: spans_supported
    (answer positions the doc contains), spans_exclusive (positions
    ONLY that doc supports among the retrieved set — its
    non-redundant contribution), covered_any, and unsupported (the
    hallucination-risk residue no citation backs). This is the
    hallucination/attribution audit of the RAG eval family — NOT
    text_contamination_check (which audits train/test splits) and
    NOT dedup_containment_ngram (which scores containment for
    dedup): the unit here is the answer SPAN and the output is
    per-citation attribution.

    Parity: token codes and 5-gram folds are the dedup module's
    exact shared arithmetic (char fold % 1e6+3, gram combine % 1e9+7
    — collisions mirror identically); everything downstream is
    integer counting; ranking ties break by doc_id.

    Shape at 100 TB: the 5 queries' span table is tiny and BROADCAST
    into the corpus-gram join (the plan never shuffles the corpus);
    per-query top-3 is a partitioned rank over each query's
    candidates. Reference: the retrieval+answer stage this audits is
    app.py's stuff-documents chain (/root/reference/app.py:396-417).
    """
    from .dedup import P_CODE

    d = table(spark, sf_dir, "documents")
    tc = (
        "transform(split(text, ' '), "
        "tok -> aggregate(split(tok, ''), CAST(0 AS BIGINT), "
        f"(h, c) -> (h * 31 + ascii(c)) % {P_CODE}))"
    )
    toks = d.where(F.expr("length(text) > 0")).select(
        "doc_id", F.expr(tc).alias("tc")
    )
    q = (
        toks.where(
            F.expr(f"doc_id % 97 = 3 AND size(tc) >= {_CGR_MIN_Q_TOKENS}")
        )
        .orderBy("doc_id")
        .limit(5)
        .selectExpr("doc_id AS q_id", "tc")
    )
    gram_q = _cgr_gram("tc", "pos", "element_at")
    qspan = q.select(
        "q_id",
        F.expr("explode(sequence(1, size(tc) - 2))").alias("pos"),
        "tc",
    ).selectExpr("q_id", "pos", f"{gram_q} AS g")
    nsp = qspan.groupBy("q_id").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_spans")
    )
    gram_c = _cgr_gram("tc", "i", "element_at")
    cg = (
        toks.where(F.expr("size(tc) >= 3"))
        .select(
            "doc_id",
            F.expr("explode(sequence(1, size(tc) - 2))").alias("i"),
            "tc",
        )
        .selectExpr("doc_id", f"{gram_c} AS g")
        .distinct()
    )
    hits = (
        cg.join(
            F.broadcast(qspan),
            (cg["g"] == qspan["g"]) & (cg["doc_id"] != qspan["q_id"]),
        )
        .select("q_id", "doc_id", "pos")
        .distinct()
    )
    cand = hits.groupBy("q_id", "doc_id").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("spans_supported")
    )
    from pyspark.sql import Window

    ranked = cand.withColumn(
        "rank",
        F.row_number()
        .over(
            Window.partitionBy("q_id").orderBy(
                F.col("spans_supported").desc(), F.col("doc_id")
            )
        )
        .cast("bigint"),
    )
    ret = ranked.where(F.col("rank") <= _CGR_K)
    rhits = hits.join(
        F.broadcast(ret.select("q_id", "doc_id")), ["q_id", "doc_id"]
    )
    sup = rhits.groupBy("q_id", "pos").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_sup")
    )
    cov = sup.groupBy("q_id").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("covered_any")
    )
    excl = (
        rhits.join(
            sup.where(F.col("n_sup") == 1).select("q_id", "pos"),
            ["q_id", "pos"],
        )
        .groupBy("q_id", "doc_id")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("spans_exclusive"))
    )
    return (
        ret.join(nsp, "q_id")
        .join(cov, "q_id", "left")
        .join(excl, ["q_id", "doc_id"], "left")
        .selectExpr(
            "q_id",
            "rank",
            "doc_id",
            "spans_supported",
            "CAST(coalesce(spans_exclusive, 0) AS BIGINT)"
            " AS spans_exclusive",
            "n_spans",
            "CAST(coalesce(covered_any, 0) AS BIGINT) AS covered_any",
            "n_spans - CAST(coalesce(covered_any, 0) AS BIGINT)"
            " AS unsupported",
        )
        .orderBy("q_id", "rank")
    )


# ---------------------------------------------------------------------------
# rag_context_dedup_pack
# ---------------------------------------------------------------------------

_CDP_FETCH = 20  # retrieved candidate list length
_CDP_BUDGET = 300  # context token budget
_CDP_ENC = 10_000_000  # pair key encoding: a * ENC + b (doc_id << ENC)


def _cdp_oracle() -> str:
    from .dedup import _DUCK_BANDS, _DUCK_CODES, _SIG_ORACLE

    bm25_score = " + ".join(
        f"(ln(1 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5)) * "
        f"(len(list_filter(tk, x -> x = '{t}')) * ({_BM25_K1} + 1)) / "
        f"(len(list_filter(tk, x -> x = '{t}')) + {_BM25_K1} * "
        f"(1 - {_BM25_B} + {_BM25_B} * len(tk) / avgdl)))"
        for i, t in enumerate(_KEYWORDS)
    )
    dfs = ", ".join(
        f"sum(CASE WHEN list_contains(tk, '{t}') THEN 1 ELSE 0 END)"
        f" AS df_{i}"
        for i, t in enumerate(_KEYWORDS)
    )
    # one greedy step: x = the r-th ranked candidate; dup against KEPT
    dup = (
        "len(list_filter(kept, k -> list_contains(pl,"
        f" least(k, rk.doc_id) * {_CDP_ENC}"
        " + greatest(k, rk.doc_id)))) > 0"
    )
    return f"""
    WITH RECURSIVE toksd AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    stats AS (
      SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl, {dfs}
      FROM toksd),
    ranked AS MATERIALIZED (
      SELECT doc_id, CAST(len(tk) AS BIGINT) AS tok,
             row_number() OVER (ORDER BY round({bm25_score}, 6) DESC,
                                doc_id) AS r
      FROM toksd CROSS JOIN stats
      QUALIFY r <= {_CDP_FETCH}),
    codes AS MATERIALIZED (
      SELECT doc_id, list_distinct({_DUCK_CODES}) AS cs
      FROM documents
      WHERE doc_id IN (SELECT doc_id FROM ranked)),
    sigs AS MATERIALIZED (
      SELECT doc_id, {_SIG_ORACLE}
      FROM (SELECT doc_id, list_distinct({_DUCK_CODES}) AS cs
            FROM documents) z),
    bands AS (
      SELECT * FROM ({_DUCK_BANDS}) b
      WHERE doc_id IN (SELECT doc_id FROM ranked)),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band_no = y.band_no AND x.band_key = y.band_key
       AND x.doc_id < y.doc_id),
    pairsl AS (
      SELECT coalesce(list(c.doc_a * {_CDP_ENC} + c.doc_b),
                      CAST([] AS BIGINT[])) AS pl
      FROM cand c JOIN codes ta ON c.doc_a = ta.doc_id
                  JOIN codes tb ON c.doc_b = tb.doc_id
      WHERE CAST(len(list_intersect(ta.cs, tb.cs)) AS DOUBLE)
            / len(list_distinct(ta.cs || tb.cs)) >= 0.5),
    g AS (
      SELECT 0 AS r,
             CAST([] AS BIGINT[]) AS kept,
             CAST(0 AS BIGINT) AS cum,
             CAST([] AS BIGINT[]) AS odocs,
             CAST([] AS BIGINT[]) AS otoks,
             CAST([] AS BIGINT[]) AS ocums
      FROM pairsl
      UNION ALL
      SELECT rk.r,
             CASE WHEN {dup} OR g.cum + rk.tok > {_CDP_BUDGET}
                  THEN g.kept
                  ELSE list_append(g.kept, rk.doc_id) END,
             CASE WHEN {dup} OR g.cum + rk.tok > {_CDP_BUDGET}
                  THEN g.cum ELSE g.cum + rk.tok END,
             CASE WHEN {dup} OR g.cum + rk.tok > {_CDP_BUDGET}
                  THEN g.odocs
                  ELSE list_append(g.odocs, rk.doc_id) END,
             CASE WHEN {dup} OR g.cum + rk.tok > {_CDP_BUDGET}
                  THEN g.otoks
                  ELSE list_append(g.otoks, rk.tok) END,
             CASE WHEN {dup} OR g.cum + rk.tok > {_CDP_BUDGET}
                  THEN g.ocums
                  ELSE list_append(g.ocums, g.cum + rk.tok) END
      FROM g JOIN ranked rk ON rk.r = g.r + 1, pairsl
      WHERE g.r < {_CDP_FETCH}),
    fin AS (
      SELECT odocs, otoks, ocums FROM g WHERE r = {_CDP_FETCH})
    SELECT CAST(i AS BIGINT) AS pos,
           odocs[i] AS doc_id,
           otoks[i] AS n_tokens,
           ocums[i] AS cum_tokens
    FROM fin, (SELECT unnest(generate_series(1, len(odocs))) AS i)
    ORDER BY pos
    """


@query("rag_context_dedup_pack", oracle=_cdp_oracle())
def rag_context_dedup_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUP-AWARE CONTEXT PACKING: take the BM25 top-20
    candidates in rank order, DROP any document that is a verified
    near-duplicate (exact Jaccard >= 0.5 over the minhash banding
    candidates) of a document already packed, and greedily pack the
    survivors into a 300-token context budget (skip-too-big,
    continue) — the standard RAG context-quality move: retrieved
    lists from redundant corpora waste their budget on copies of the
    same passage (measured on this fixture: 29 verified near-dup
    pairs among the very top BM25 docs), and packing distinct
    passages is what actually raises answerable-context coverage.
    Composes three registered families end-to-end: rag_bm25_topk's
    scorer, dedup_near_minhash's verified pairs,
    rag_context_window_pack's budgeted packing.

    Parity: ranks order by round(6) BM25 with id tie-break (rank
    parity exact); near-dup pair keys are exact int64 encodings
    (a * 1e7 + b over canonical a < b); the greedy fold is pure
    integer/array logic stepped in pinned rank order on both engines
    (Spark aggregate() over the ranked array, DuckDB a recursive
    CTE); no floats beyond the already-rounded scores.

    Shape at 100 TB: both the candidate list and the pair list are
    orderBy+limit / semi-join-restricted BOUNDED frames (<= 20 docs,
    <= 190 pairs); the fold runs on one row.  The near-dup pair table
    itself is the banded-LSH join (never all-pairs)."""
    from ..tables import sf_tag
    from .dedup import _minhash_codes_and_candidates, _verify_pairs_jaccard

    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("tk"))
    tf = lambda t: F.size(F.filter("tk", lambda x: x == F.lit(t)))  # noqa: E731
    stats = toks.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.size("tk")).alias("avgdl"),
        *[
            F.sum(F.array_contains("tk", t).cast("bigint")).alias(f"df_{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    dl = F.size("tk")
    score = None
    for i, t in enumerate(_BM25_TERMS):
        idf = F.log(
            1
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
        )
        term = (
            idf
            * (tf(t) * (_BM25_K1 + 1))
            / (tf(t) + _BM25_K1 * (1 - _BM25_B + _BM25_B * dl / F.col("avgdl")))
        )
        score = term if score is None else score + term
    ranked = (
        toks.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.size("tk").cast("bigint").alias("tok"),
            F.round(score, 6).alias("s"),
        )
        .orderBy(F.col("s").desc(), "doc_id")
        .limit(_CDP_FETCH)
        .withColumn(
            "r",
            F.row_number().over(Window.orderBy(F.col("s").desc(), "doc_id")),
        )
        .localCheckpoint()  # 20-row frame referenced by the pair
        # restriction joins AND the fold-input aggregate
    )
    from .dedup import N_BANDS, N_HASH, P_HASH, _spark_sig

    codes, _ = _minhash_codes_and_candidates(spark, sf_dir)
    # restrict the BANDING ITSELF to the 20 ranked docs before any
    # join: the op only needs pairs WITHIN the context candidates, so
    # both the band self-join and the exact verify run on a 20-doc
    # frame — never the corpus pair mass (quadratic in verbatim
    # copies on degenerate corpora: the unrestricted pipeline
    # measured 187 s on the sf1x blow-up, the post-band restriction
    # 5 s, this pre-band restriction is sub-second and is the shape
    # the oracle's restricted `bands` CTE mirrors)
    ids = ranked.select(F.col("doc_id").alias("rid"))
    rcodes = codes.join(
        F.broadcast(ids), codes.doc_id == F.col("rid"), "left_semi"
    )
    rsigs = rcodes.withColumnRenamed("cs", "codes").select(
        "doc_id",
        *[F.expr(_spark_sig(i)).alias(f"s{i}") for i in range(N_HASH)],
    )
    rbands = rsigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_no"),
                        (
                            F.col(f"s{2 * j}") * P_HASH
                            + F.col(f"s{2 * j + 1}")
                        ).alias("band_key"),
                    )
                    for j in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_no", "band.band_key")
    xa = rbands.select(
        F.col("doc_id").alias("doc_a"), "band_no", "band_key"
    )
    xb = rbands.select(
        F.col("doc_id").alias("doc_b"), "band_no", "band_key"
    )
    cand_r = (
        xa.join(xb, ["band_no", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    pairs = _verify_pairs_jaccard(
        spark, codes, cand_r, threshold=0.5, tag=f"minhash_{sf_tag(sf_dir)}"
    ).select("doc_a", "doc_b")
    rp = pairs.agg(
        F.expr(
            f"coalesce(collect_list(doc_a * {_CDP_ENC} + doc_b),"
            " array())"
        ).alias("pl")
    )
    one = ranked.groupBy().agg(
        F.sort_array(
            F.collect_list(F.struct("r", "doc_id", "tok"))
        ).alias("rs")
    ).crossJoin(F.broadcast(rp))
    dup = (
        "size(filter(s.kept, k -> array_contains(pl,"
        f" least(k, x.doc_id) * {_CDP_ENC}"
        " + greatest(k, x.doc_id)))) > 0"
    )
    skip = f"({dup}) OR s.cum + x.tok > {_CDP_BUDGET}"
    fold = (
        "aggregate(rs, named_struct("
        "'kept', CAST(array() AS ARRAY<BIGINT>), "
        "'cum', CAST(0 AS BIGINT), "
        "'odocs', CAST(array() AS ARRAY<BIGINT>), "
        "'otoks', CAST(array() AS ARRAY<BIGINT>), "
        "'ocums', CAST(array() AS ARRAY<BIGINT>)), "
        "(s, x) -> named_struct("
        f"'kept', CASE WHEN {skip} THEN s.kept"
        " ELSE concat(s.kept, array(x.doc_id)) END, "
        f"'cum', CASE WHEN {skip} THEN s.cum ELSE s.cum + x.tok END, "
        f"'odocs', CASE WHEN {skip} THEN s.odocs"
        " ELSE concat(s.odocs, array(x.doc_id)) END, "
        f"'otoks', CASE WHEN {skip} THEN s.otoks"
        " ELSE concat(s.otoks, array(x.tok)) END, "
        f"'ocums', CASE WHEN {skip} THEN s.ocums"
        " ELSE concat(s.ocums, array(s.cum + x.tok)) END))"
    )
    return (
        one.select(F.expr(fold).alias("st"))
        .select(
            F.posexplode(
                F.expr("arrays_zip(st.odocs, st.otoks, st.ocums)")
            ).alias("p0", "z")
        )
        .selectExpr(
            "CAST(p0 + 1 AS BIGINT) AS pos",
            "z.odocs AS doc_id",
            "z.otoks AS n_tokens",
            "z.ocums AS cum_tokens",
        )
        .orderBy("pos")
    )
