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

- the "vector store" is a partitioned parquet layout under
  ``index_dir`` (chunks + embeddings + idf weights) — a storage format
  a 1000-executor cluster can scan/prune, not a serving index. Its two
  tables have fixed schemas (``CHUNKS_SCHEMA``, ``IDF_SCHEMA``) and are
  read with them, so building a read plan runs no Spark job;
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

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine, mmr_picks
from ..operators.text import chunk_documents

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


# The gate and route below are SQL text, parsed once each by F.expr: a
# Python-built higher-order-function Column costs several py4j calls per
# lambda, and plan build is a large share of a one-query call.


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
        partitioned parquet index. ``mode="overwrite"`` reproduces the
        reference's new-file cache invalidation (app.py:455-461): a
        re-ingest atomically replaces the collection. It is the only
        mode: any other raises ``ValueError`` before any Spark work.

        The only cross-node boundaries are the IDF document-frequency
        reduce and the final write — same shape at any scale. The chunk
        count comes from that IDF fit (one document per chunk), so the
        chunks are derived once.
        """
        if mode != "overwrite":
            # an append would leave a second idf row that every read
            # cross-joins, returning each chunk twice (ROADMAP item 2)
            raise ValueError(f"ingest supports mode='overwrite' only, not {mode!r}")
        import pyarrow as pa
        from pyspark.ml.feature import IDF, HashingTF, Tokenizer
        from pyspark.ml.functions import vector_to_array

        doc_id = F.col("doc_id").cast("long")
        chunks = chunk_documents(docs, text_col).select(
            (doc_id * F.lit(1_000_000) + F.col("chunk_no")).alias("chunk_id"),
            doc_id.alias("doc_id"),
            "chunk_no",
            "page_content",
        )
        toks = Tokenizer(inputCol="page_content", outputCol="words").transform(chunks)
        tf = HashingTF(
            inputCol="words", outputCol="tf", numFeatures=self.dim
        ).transform(toks)
        idf_model = IDF(inputCol="tf", outputCol="embedding").fit(tf)
        out = idf_model.transform(tf).select(
            "chunk_id",
            "doc_id",
            "chunk_no",
            "page_content",
            vector_to_array("embedding").alias("embedding"),
        )
        out.write.mode(mode).parquet(f"{self.index_dir}/chunks")
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
        return IngestStats(
            n_docs=docs.count(), n_chunks=int(idf_model.numDocs), dim=self.dim
        )

    # ----------------------------------------------------------- read path

    def _chunks(self) -> DataFrame:
        return self.spark.read.schema(CHUNKS_SCHEMA).parquet(
            f"{self.index_dir}/chunks"
        )

    def _embed_queries(
        self, queries: DataFrame, text_col: str, id_col: str, *carry
    ) -> DataFrame:
        """(query_id, *carry, qv): query rows embedded with the stored idf
        weights — murmur3 HashingTF is deterministic, so query and corpus
        land in the same space with zero model state beyond the idf
        vector. ``carry`` are further columns of the same scan."""
        from pyspark.ml.feature import HashingTF, Tokenizer
        from pyspark.ml.functions import vector_to_array

        toks = Tokenizer(inputCol=text_col, outputCol="words").transform(queries)
        tf = HashingTF(
            inputCol="words", outputCol="tf", numFeatures=self.dim
        ).transform(toks)
        idf = self.spark.read.schema(IDF_SCHEMA).parquet(f"{self.index_dir}/idf")
        return tf.crossJoin(F.broadcast(idf)).select(
            F.col(id_col).alias("query_id"),
            *carry,
            F.zip_with(vector_to_array("tf"), "idf", lambda a, b: a * b).alias("qv"),
        )

    def _candidates(
        self, q: DataFrame, n: int, key: str = "query_id", carry: tuple = ()
    ) -> DataFrame:
        """Each ``key`` group's ``n`` best chunks by 6-decimal cosine, ties
        to the lowest chunk_id: one corpus pass against the broadcast
        embedded queries ``q``, then a window top-n partitioned by
        ``key``. ``carry`` columns of ``q`` ride along. A query whose
        vector is all zero scores 0 against every chunk."""
        sim = F.round(cosine("embedding", "qv"), 6)
        w = Window.partitionBy(key).orderBy(
            F.col("sim").desc(), F.col("chunk_id")
        )
        return (
            self._chunks()
            .crossJoin(F.broadcast(q))
            .select(key, *carry, "chunk_id", "doc_id", "page_content",
                    "embedding", sim.alias("sim"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= n)
            .drop("rn")
        )

    def _picks(
        self, q: DataFrame, k: int, fetch_k: int, lambda_mult: float,
        key: str = "query_id", carry: tuple = (),
    ) -> DataFrame:
        """One row per ``key`` group with candidates: ``key``, ``carry``
        (each group's first value) and ``picks``, its greedy-MMR selection
        in rank order as array<struct<chunk_id, doc_id, page_content,
        sim, mmr_score, mmr_rank>>. The groupBy reuses the window's
        ``key`` partitioning (no extra exchange) and MMR is one Catalyst
        expression over <= fetch_k candidates."""
        cands = self._candidates(q, fetch_k, key, carry)
        grouped = cands.groupBy(key).agg(
            F.collect_list(
                F.struct("chunk_id", "doc_id", "page_content", "embedding", "sim")
            ).alias("c"),
            *(F.first(c).alias(c) for c in carry),
        )
        picked = grouped.select(
            key, *carry, "c",
            mmr_picks("c", k, lambda_mult, id_field="chunk_id").alias("p"),
        )
        return picked.select(
            key, *carry,
            F.expr(
                "transform(p, (x, r) -> named_struct("
                "'chunk_id', c[x.idx].chunk_id, 'doc_id', c[x.idx].doc_id, "
                "'page_content', c[x.idx].page_content, 'sim', c[x.idx].sim, "
                "'mmr_score', round(x.score, 6), 'mmr_rank', r))"
            ).alias("picks"),
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
        q = self._embed_queries(queries, text_col, id_col)
        if not mmr:
            return self._candidates(q, k).select(
                "query_id", "chunk_id", "doc_id", "page_content", "sim"
            )
        picks = self._picks(q, k, fetch_k, lambda_mult)
        return picks.select(
            F.col("query_id").cast("long").alias("query_id"), F.inline("picks")
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
            F.col(id_col).alias("query_id"),
            F.expr(_keywords_sql(f"`{text_col}`")).alias("keywords"),
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
        q = queries.select(F.col(id_col).alias("query_id"), F.col(text_col))
        j = q.join(relevance, "query_id", "left").fillna({"relevant": False})
        return j.select(
            "query_id", text_col,
            F.expr(_plan_type_sql(f"`{text_col}`", "relevant")).alias("plan_type"),
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
        text = f"`{text_col}`"
        q = self._embed_queries(
            queries, text_col, id_col,
            F.monotonically_increasing_id().alias("q_row"),
            F.col(text_col).alias("q_text"),
            F.expr(_keywords_sql(text)).alias("keywords"),
        )
        picks = self._picks(
            q, k, DEFAULT_FETCH_K, DEFAULT_LAMBDA,
            key="q_row", carry=("query_id", "q_text", "keywords"),
        )
        n_docs = "size(picks)"
        matches = (
            "aggregate(picks, 0, (acc, p) -> "
            f"greatest(acc, {_hits_sql('keywords', 'p.page_content')}))"
        )
        relevant = f"({n_docs} > 0 AND {_relevant_sql(n_docs, matches, 'size(keywords)')})"
        sources = (
            f"CASE WHEN {n_docs} > 0 THEN "
            "transform(slice(picks, 1, 3), p -> substring(p.page_content, 1, 300)) END"
        )
        return picks.select(
            "query_id", F.col("q_text").alias(text_col),
            F.expr(_plan_type_sql("q_text", relevant)).alias("plan_type"),
            F.expr(sources).alias("sources"),
        )

    # ----------------------------------------------------------- DDL path

    def clear(self) -> None:
        """"Clear All Data" (app.py:492-509): drop the collection. Uses
        the Hadoop FileSystem API so it works on any cluster filesystem,
        not just local disk."""
        jvm = self.spark._jvm
        jsc = self.spark._jsc
        path = jvm.org.apache.hadoop.fs.Path(self.index_dir)
        fs = path.getFileSystem(jsc.hadoopConfiguration())
        if fs.exists(path):
            fs.delete(path, True)
