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
