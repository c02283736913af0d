"""RagPipeline — the reference application's full lifecycle as a
batch-native Spark facade (SURVEY.md §3 "query lifecycle").

A user of Bharath8080/VectorDB-Agentic-RAG drives three entry points;
each maps to one method here:

| reference entry point                    | app.py        | here        |
|------------------------------------------|---------------|-------------|
| upload -> extract -> chunk -> embed ->   | 160-212,      | ingest()    |
|   upsert into Qdrant                     | 451-484       |             |
| chat query -> MMR retrieve -> relevance  | 256-296,      | retrieve(), |
|   gate -> route to one of 4 plan types   | 298-433       | query()     |
| "Clear All Data" -> drop + recreate      | 492-509       | clear()     |
|   collection                             |               |             |

Scale design (the part the reference outsources to Qdrant/Cohere):

- the "vector store" is two unpartitioned parquet tables under
  ``index_dir``: ``chunks`` (text + embedding per chunk) and ``idf``
  (one row of idf weights) — a storage format a 1000-executor cluster
  can scan in parallel, not a serving index. Both have fixed schemas
  (``CHUNKS_SCHEMA``, ``IDF_SCHEMA``) and are read with them;
- both paths keep per-session state across a user's calls: one
  Tokenizer/HashingTF/IDF set per (session, dim) embeds the chunks and
  the queries alike, and each index version (named by its file listing)
  is read once: its chunks scan, and its idf vector as an ``array(...)``
  literal inlined into the plan, with no idf scan or broadcast. The
  first call on an index version runs one job to read the idf; a warm
  call's plan build runs no Spark job;
- plans are SQL texts with caller column names quoted, each analyzed
  once and built in a few dozen py4j calls, not one per Column node: a
  read call is one ``spark.sql`` from the embedded queries to the output
  row (cosine, window top-k, MMR, gate, route, sources), and ``ingest``
  filters, chunks and numbers its chunks the same way;
- embedding is HashingTF(dim)+IDF: hashing is stateless murmur3 (any
  executor embeds any row with no model shuffle), and the IDF fit is
  the single global aggregate of the write path (SURVEY §3.1);
- retrieval is batch top-k: cosine as a higher-order-function
  expression, fetch_k via a window top-k partitioned by query, and
  greedy MMR as one Catalyst expression over each query's <= fetch_k
  candidates (the reference's own bound, app.py:264-266). No index row
  goes through a Python worker; a caller's query DataFrame built from a
  Python list is read by one Python-worker stage, its only scan;
- queries are a DataFrame, not a string: ``retrieve`` takes a whole
  table of queries and resolves them in ONE pass over the corpus
  (query-side broadcast), because at 100 TB per-query scans are the
  bug, not the feature;
- each call derives its data once: ``ingest`` takes the chunk count
  from the IDF fit instead of recounting its output, and ``query``
  builds relevance and sources from the per-query pick array that
  ``retrieve`` explodes, with each query's text and keywords carried
  along from the one scan of the queries.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import _ident, _quote
from ..functions.chunking import chunk_documents
from ..functions.vector import cosine, mmr_picks
from ..memo import session_artifact

# reference retrieval constants, app.py:264-266
DEFAULT_K = 5
DEFAULT_FETCH_K = 20
DEFAULT_LAMBDA = 0.5

# The stored index tables. ingest() writes exactly these types and the
# read path reads with them, so building a read plan needs no parquet
# schema-inference job.
CHUNKS_SCHEMA = (
    "chunk_id long, doc_id long, chunk_no int, page_content string, "
    "embedding array<double>"
)
IDF_SCHEMA = "idf array<double>"

# app.py:298-343: the words that make a query need fresh (web) results
FRESH_WORDS = ("latest", "current", "news")

# the embedding step's own columns, named so that no caller column is
# replaced by them
_TEXT, _WORDS, _TF, _EMB = "__rag_text", "__rag_words", "__rag_tf", "__rag_emb"


@dataclass(frozen=True)
class _Jvm:
    """A session's JVM handles for both paths. The pyspark.ml wrappers
    are held, not only their ``_java_obj``: a dropped wrapper detaches
    its Java object on GC. A static method looked up once costs one
    py4j call a use instead of one per package level."""

    tokenizer: Any
    hashing_tf: Any
    idf: Any  # the IDF estimator, fitted by ingest()
    to_array: Any  # org.apache.spark.ml.functions.vector_to_array
    path: Any  # the org.apache.hadoop.fs.Path class
    stat2paths: Any
    paths_text: Any  # org.apache.commons.lang3.ArrayUtils.toString
    hadoop_conf: Any

    def hashed(self, jdf: Any) -> Any:
        """The Java Dataset ``jdf`` plus ``__rag_tf``, its ``__rag_text``'s
        term counts hashed by murmur3: one space for chunks and queries."""
        return self.hashing_tf._java_obj.transform(self.tokenizer._java_obj.transform(jdf))


@session_artifact
def _session_jvm(spark: SparkSession, dim: int) -> _Jvm:
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer

    tokenizer = Tokenizer(inputCol=_TEXT, outputCol=_WORDS)
    hashing_tf = HashingTF(inputCol=_WORDS, outputCol=_TF, numFeatures=dim)
    idf = IDF(inputCol=_TF, outputCol=_EMB)
    for t in (tokenizer, hashing_tf, idf):
        t._transfer_params_to_java()
    jvm = spark._jvm
    return _Jvm(
        tokenizer,
        hashing_tf,
        idf,
        jvm.org.apache.spark.ml.functions.vector_to_array,
        jvm.org.apache.hadoop.fs.Path,
        jvm.org.apache.hadoop.fs.FileUtil.stat2Paths,
        jvm.org.apache.commons.lang3.ArrayUtils.toString,
        spark._jsc.hadoopConfiguration(),
    )


@session_artifact
def _index(spark: SparkSession, index_dir: str, version: str) -> tuple:
    """One index version: its chunks scan and its idf weights as an
    ``array(...)`` literal of doubles (repr round-trips each value).
    ``version`` is the index's file listing, whose parquet part names
    carry the writing job's UUID: a re-ingest by any writer makes a new
    key, read once. Older versions stay until ``clear_session_caches``.
    A missing index raises here, before any job."""
    chunks = spark.read.schema(CHUNKS_SCHEMA).parquet(f"{index_dir}/chunks")
    (row,) = spark.read.schema(IDF_SCHEMA).parquet(f"{index_dir}/idf").collect()
    return chunks, "array(" + ", ".join(f"{float(x)!r}D" for x in row.idf) + ")"


# The gate and route below are SQL text, spliced into the read path's
# one spark.sql text or parsed by one F.expr: a Python-built
# higher-order-function Column costs several py4j calls per lambda, and
# plan build is a large share of a one-query call.


def _keywords_sql(text: str) -> str:
    """The query's lower-cased words longer than 3 chars (app.py:282)."""
    return f"filter(split(lower({text}), ' '), w -> length(w) > 3)"


def _hits_sql(keywords: str, content: str) -> str:
    """How many keywords occur in a chunk — substring match, exactly the
    reference's `keyword in content`."""
    return f"size(filter({keywords}, w -> instr(lower({content}), w) > 0))"


def _relevant_sql(n_docs: str, matches: str, n_keywords: str) -> str:
    """R9's gate: >= 3 chunks retrieved OR one chunk holds at least half
    of the keywords."""
    return f"({n_docs} >= 3 OR {matches} >= {n_keywords} / 2)"


def _plan_type_sql(text: str, relevant: str) -> str:
    """R12's four-way branch (app.py:343-433); the LLM search-needed bit
    is a freshness-keyword predicate."""
    fresh = "(" + " OR ".join(f"instr(lower({text}), '{w}') > 0" for w in FRESH_WORDS) + ")"
    return (
        f"CASE WHEN {fresh} AND {relevant} THEN 'hybrid_search' "
        f"WHEN {fresh} THEN 'web_search' "
        f"WHEN {relevant} THEN 'document_rag' ELSE 'direct_answer' END"
    )


@dataclass(frozen=True)
class IngestStats:
    n_docs: int
    n_chunks: int
    dim: int


class RagPipeline:
    """Batch analogue of the reference's Streamlit session: one index
    directory plays the role of the Qdrant collection ``"new"``
    (app.py:81) plus the Cohere embedding config (app.py:70)."""

    def __init__(self, spark: SparkSession, index_dir: str, dim: int = 64):
        self.spark = spark
        self.index_dir = index_dir.rstrip("/")
        self.dim = dim

    # ---------------------------------------------------------- write path

    def ingest(
        self, docs: DataFrame, text_col: str = "text", mode: str = "overwrite"
    ) -> IngestStats:
        """SURVEY §3.1: documents -> 1000/200 chunks -> TF-IDF embed ->
        the ``chunks`` and ``idf`` parquet tables. ``mode="overwrite"``
        reproduces the reference's new-file cache invalidation
        (app.py:455-461): a re-ingest overwrites ``chunks``, then
        ``idf``. The two writes are independent, with no commit point:
        a failure between them leaves new chunks beside the old idf
        weights. It is the only mode: any other raises ``ValueError``
        before any Spark work. Documents with a null text are skipped;
        when none is left the call raises ``ValueError`` before any
        write, and the previous index stays readable.

        The only cross-node boundaries are the IDF document-frequency
        reduce and the final write — same shape at any scale. The chunk
        count comes from that IDF fit (one document per chunk), so the
        chunks are derived once.

        The filter, chunker and ids are SQL texts; the chunks are hashed
        as the queries are (``_Jvm.hashed``) and the session IDF is fitted
        through its Java ``fit``. The idf row is written from Arrow: an
        ``array(...)`` literal of 262,144 weights took 21 s to parse.
        """
        if mode != "overwrite":
            # an append would leave a second idf row that every read
            # cross-joins, returning each chunk twice (ROADMAP item 2)
            raise ValueError(f"ingest supports mode='overwrite' only, not {mode!r}")
        import pyarrow as pa
        from pyspark.ml.feature import IDFModel

        # a null text would chunk into one null page_content, which fails
        # the Tokenizer and so the whole call
        docs = self.spark.sql(f"SELECT * FROM {{d}} WHERE {_ident(text_col)} IS NOT NULL", d=docs)
        n_docs = docs.count()
        if n_docs == 0:
            # IDF.fit would raise "Haven't seen any document yet"; the
            # previous index is left as it was
            raise ValueError("ingest: no document with a non-null text to index")
        jvm = _session_jvm(self.spark, self.dim)
        chunks = chunk_documents(docs, text_col)._jdf
        tf = jvm.hashed(chunks.withColumn(_TEXT, chunks.col("page_content")))
        # held until idf and numDocs are read: a dropped wrapper detaches it
        idf_model = IDFModel(jvm.idf._java_obj.fit(tf))
        emb = idf_model._java_obj.transform(tf)
        emb = emb.withColumn(_EMB, jvm.to_array(emb.col(_EMB), "float64"))
        self.spark.sql(
            "SELECT CAST(doc_id AS BIGINT) * 1000000 + chunk_no AS chunk_id, "
            "CAST(doc_id AS BIGINT) AS doc_id, chunk_no, page_content, "
            f"{_EMB} AS embedding FROM {{emb}}",
            emb=DataFrame(emb, self.spark),
        ).write.mode(mode).parquet(f"{self.index_dir}/chunks")
        # idf weights as a 1-row table so retrieve() can embed queries
        # identically without refitting (hashing itself is stateless).
        # Built from an Arrow table: a Python-list DataFrame would be
        # scanned through a Python worker.
        idf = pa.table(
            {"idf": pa.array([idf_model.idf.toArray().tolist()], pa.list_(pa.float64()))}
        )
        self.spark.createDataFrame(idf).write.mode(mode).parquet(
            f"{self.index_dir}/idf"
        )
        return IngestStats(n_docs=n_docs, n_chunks=int(idf_model.numDocs), dim=self.dim)

    # ----------------------------------------------------------- read path

    def _index_version(self, jvm: _Jvm) -> str:
        """The files of the chunks and idf tables, listed through the
        Hadoop FileSystem with the glob Spark's reader applies to the
        path too; empty for a missing index."""
        path = jvm.path(f"{self.index_dir}/{{chunks,idf}}/*")
        fs = path.getFileSystem(jvm.hadoop_conf)
        return jvm.paths_text(jvm.stat2paths(fs.globStatus(path)))

    def _embed_queries(
        self, queries: DataFrame, text_col: str, id_col: str, jvm: _Jvm
    ) -> DataFrame:
        """(query_id, q_text, __rag_tf): each query row's id and text and
        the hashed term frequencies of its text (``_Jvm.hashed``, as the
        corpus) as array<double>. A null text is hashed as an empty one
        (the Tokenizer fails the whole batch on a null)."""
        text = _ident(text_col)
        pre = self.spark.sql(
            f"SELECT {_ident(id_col)} AS query_id, {text} AS q_text, "
            f"coalesce({text}, '') AS {_TEXT} FROM {{q}}",
            q=queries,
        )
        jdf = jvm.hashed(pre._jdf)
        jdf = jdf.withColumn(_TF, jvm.to_array(jdf.col(_TF), "float64"))
        return DataFrame(jdf, self.spark)

    def _read_plan(
        self, queries: DataFrame, text_col: str, id_col: str,
        k: int, fetch_k: int, lambda_mult: float, shape: str,
    ) -> DataFrame:
        """The read path as one SQL text over the chunks and the embedded
        queries, analyzed once. ``shape`` picks the output: ``"topk"``
        (``retrieve(mmr=False)``), ``"mmr"`` (``retrieve``) or
        ``"answer"`` (``query``).

        Each query's idf-weighted vector is its term frequencies times
        the idf literal. One corpus pass scores every chunk against the
        broadcast queries by 6-decimal cosine; a window top-n keeps each
        group's best, ties to the lowest chunk_id. A group is a
        ``query_id`` in ``retrieve`` and a query row (``q_row``) in
        ``query``, whose id, text and keywords ride along. For MMR the
        groupBy reuses the window's partitioning (no extra exchange) and
        the greedy selection is one Catalyst expression over each
        group's <= fetch_k candidates. A query whose vector is all zero
        scores 0 against every chunk."""
        jvm = _session_jvm(self.spark, self.dim)
        chunks, idf = _index(self.spark, self.index_dir, self._index_version(jvm))
        q = self._embed_queries(queries, text_col, id_col, jvm)
        answer = shape == "answer"
        key = "q_row" if answer else "query_id"
        n = k if shape == "topk" else fetch_k
        carry = ("query_id", "q_text", "keywords") if answer else ()
        q_cols = (
            f"monotonically_increasing_id() AS q_row, query_id, q_text, "
            f"{_keywords_sql('q_text')} AS keywords"
            if answer else "query_id"
        )
        ctes = [
            f"q AS (SELECT {q_cols}, zip_with({_TF}, {idf}, (a, b) -> a * b) AS qv "
            "FROM {q})",
            f"scored AS (SELECT /*+ BROADCAST(q) */ {', '.join((key, *carry))}, "
            "chunk_id, doc_id, page_content, embedding, "
            f"round({cosine('embedding', 'qv')}, 6) AS sim FROM {{chunks}} CROSS JOIN q)",
            f"top AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY {key} "
            f"ORDER BY sim DESC, chunk_id) AS rn FROM scored) WHERE rn <= {int(n)})",
        ]
        if shape == "topk":
            out = "SELECT query_id, chunk_id, doc_id, page_content, sim FROM top"
        else:
            firsts = "".join(f", first({c}) AS {c}" for c in carry)
            ctes += [
                f"grouped AS (SELECT {key}{firsts}, collect_list(named_struct("
                "'chunk_id', chunk_id, 'doc_id', doc_id, 'page_content', page_content, "
                "'embedding', embedding, 'sim', sim)) AS c FROM top GROUP BY " + key + ")",
                "picked AS (SELECT *, "
                f"{mmr_picks('c', k, lambda_mult, id_field='chunk_id')} AS p FROM grouped)",
                f"picks AS (SELECT {', '.join((key, *carry))}, "
                "transform(p, (x, r) -> named_struct("
                "'chunk_id', c[x.idx].chunk_id, 'doc_id', c[x.idx].doc_id, "
                "'page_content', c[x.idx].page_content, 'sim', c[x.idx].sim, "
                "'mmr_score', round(x.score, 6), 'mmr_rank', r)) AS picks FROM picked)",
            ]
            if answer:
                n_docs = "size(picks)"
                matches = (
                    "aggregate(picks, 0, (acc, p) -> "
                    f"greatest(acc, {_hits_sql('keywords', 'p.page_content')}))"
                )
                relevant = (
                    f"({n_docs} > 0 AND {_relevant_sql(n_docs, matches, 'size(keywords)')})"
                )
                sources = (
                    f"CASE WHEN {n_docs} > 0 THEN "
                    "transform(slice(picks, 1, 3), p -> substring(p.page_content, 1, 300)) END"
                )
                out = (
                    f"SELECT query_id, q_text AS {_ident(text_col)}, "
                    f"{_plan_type_sql('q_text', relevant)} AS plan_type, "
                    f"{sources} AS sources FROM picks"
                )
            else:
                out = "SELECT CAST(query_id AS BIGINT) AS query_id, inline(picks) FROM picks"
        return self.spark.sql(
            "WITH " + ",\n".join(ctes) + "\n" + out, q=q, chunks=chunks
        )

    def retrieve(
        self,
        queries: DataFrame,
        text_col: str = "query_text",
        id_col: str = "query_id",
        k: int = DEFAULT_K,
        fetch_k: int = DEFAULT_FETCH_K,
        lambda_mult: float = DEFAULT_LAMBDA,
        mmr: bool = True,
    ) -> DataFrame:
        """R8 port (perform_vector_search, app.py:256-296), set-oriented:
        ALL queries resolve in one corpus pass.

        fetch_k candidates per query via a partitioned window top-k,
        then greedy MMR per query as one Catalyst expression
        (functions.vector.mmr_picks) over that query's collected
        candidates — bounded at fetch_k rows per query, never the
        corpus, and no Python worker. ``mmr=False`` reproduces the
        reference's second, default-settings retriever (app.py:401).
        """
        shape = "mmr" if mmr else "topk"
        return self._read_plan(
            queries, text_col, id_col, k, fetch_k, lambda_mult, shape
        )

    def assess_relevance(
        self, retrieved: DataFrame, queries: DataFrame,
        text_col: str = "query_text", id_col: str = "query_id",
    ) -> DataFrame:
        """R9 port (assess_document_relevance, app.py:278-295), per query:
        relevant iff >= 3 chunks retrieved OR the chunks contain at
        least half of the query's len>3 keywords (substring match,
        exactly the reference's `keyword in content`)."""
        q = queries.select(
            F.col(_quote(id_col)).alias("query_id"),
            F.expr(_keywords_sql(_quote(text_col))).alias("keywords"),
        )
        joined = retrieved.join(F.broadcast(q), "query_id")
        per_chunk = joined.select(
            "query_id",
            "keywords",
            F.expr(_hits_sql("keywords", "page_content")).alias("hits"),
        )
        return per_chunk.groupBy("query_id").agg(
            F.count("*").alias("n_docs"),
            F.max("hits").alias("matches"),
            F.first(F.size("keywords")).alias("n_keywords"),
        ).select(
            "query_id",
            F.expr(_relevant_sql("n_docs", "matches", "n_keywords")).alias("relevant"),
        )

    def route(
        self, queries: DataFrame, relevance: DataFrame,
        text_col: str = "query_text", id_col: str = "query_id",
    ) -> DataFrame:
        """R12's deterministic analogue (app.py:298-343): the LLM
        search-needed bit becomes a freshness-keyword predicate; the
        four-way branch structure is the reference's own
        (app.py:343-433)."""
        text = _quote(text_col)
        q = queries.select(F.col(_quote(id_col)).alias("query_id"), F.col(text))
        j = q.join(relevance, "query_id", "left").fillna({"relevant": False})
        return j.select(
            "query_id", F.col(text),
            F.expr(_plan_type_sql(text, "relevant")).alias("plan_type"),
        )

    def query(
        self, queries: DataFrame,
        text_col: str = "query_text", id_col: str = "query_id",
        k: int = DEFAULT_K,
    ) -> DataFrame:
        """The full read path (SURVEY §3.2): retrieve -> gate -> route ->
        assemble context. Output mirrors the reference's plan dict
        (app.py:405-417): query_id, the query text, plan_type and the
        top-3 source previews (app.py:359 `[:3]`, app.py:544 `[:300]`).

        Row contract: one output row per input row, each answered on its
        own text, with ``query_id`` passed through as given: two rows
        that share a query_id, or have a null one, are two independent
        questions, not one merged candidate set.

        The same gate and route as ``assess_relevance`` + ``route``, but
        computed from each row's one pick array: the queries are read
        once, embedded together with their text and keywords, and those
        ride through the window top-k and the MMR groupBy (keyed by a
        per-row id), so scan -> window -> MMR runs once and nothing joins
        back to the queries.
        """
        return self._read_plan(
            queries, text_col, id_col, k, DEFAULT_FETCH_K, DEFAULT_LAMBDA, "answer"
        )

    # ----------------------------------------------------------- DDL path

    def clear(self) -> None:
        """"Clear All Data" (app.py:492-509): drop the collection. Uses
        the Hadoop FileSystem API so it works on any cluster filesystem,
        not just local disk."""
        jvm = _session_jvm(self.spark, self.dim)
        path = jvm.path(self.index_dir)
        path.getFileSystem(jvm.hadoop_conf).delete(path, True)  # False if absent
