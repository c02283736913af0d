"""File-format sources/sinks: CSV, JSON-lines, raw text, binary files.

The reference ingests pdf/docx/txt uploads through driver-local
tempfiles (app.py:162-164); the engine's sources are distributed scans
with explicit schemas (never runtime inference in production paths —
schema inference is a full extra pass at 100 TB). Each roundtrip op
writes a fixture slice in the target format and reads it back; the
DuckDB oracle runs on the ORIGINAL table, so the check proves the
format encode/decode is lossless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import session_artifact
from ..registry import query
from ..tables import SCRATCH, sf_tag, table

_SCRATCH = f"{SCRATCH}/sources"


@query(
    "source_csv_roundtrip",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer -> CSV (header) -> read back with an explicit schema.
    Doubles round-trip exactly (Spark writes shortest-roundtrip repr)."""
    out = f"{_SCRATCH}/customer_csv"
    c = table(spark, sf_dir, "customer")
    c.write.mode("overwrite").option("header", True).csv(out)
    return spark.read.schema(
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    ).option("header", True).csv(out)


@query(
    "source_jsonl_roundtrip",
    oracle="SELECT event_id, user_id, event_type, ts FROM events",
)
def source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> JSON lines -> read back. Timestamps travel as exact
    integer microseconds (ISO-string round-trips invite tz/precision
    drift; int64 is lossless by construction)."""
    out = f"{_SCRATCH}/events_jsonl"
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    ev.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "event_id bigint, user_id bigint, event_type string, ts_us bigint"
    ).json(out)
    return back.select(
        "event_id", "user_id", "event_type",
        F.timestamp_micros("ts_us").alias("ts"),
    )


@query(
    "source_text_lines",
    oracle="""
    SELECT CAST(split_part(line, '|', 1) AS BIGINT) AS doc_id,
           split_part(line, '|', 2) AS lang
    FROM (SELECT doc_id || '|' || lang AS line FROM documents) t
    """,
)
def source_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-text source (spark.read.text) + delimiter parsing — the R3
    analogue (txt ingest with parse-in-engine, app.py:145-158)."""
    out = f"{_SCRATCH}/docs_txt"
    d = table(spark, sf_dir, "documents")
    d.select(
        F.concat_ws("|", F.col("doc_id").cast("string"), "lang").alias("value")
    ).write.mode("overwrite").text(out)
    lines = spark.read.text(out)
    return lines.select(
        F.split_part("value", F.lit("|"), F.lit(1)).cast("bigint").alias("doc_id"),
        F.split_part("value", F.lit("|"), F.lit(2)).alias("lang"),
    )


@query(
    "source_text_encoding_fallback",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN text || ' café ñ°'
                ELSE text END AS text,
           CASE WHEN doc_id % 3 = 0 THEN 'latin-1'
                ELSE 'utf-8' END AS encoding
    FROM documents WHERE doc_id < 40
    """,
)
def source_text_encoding_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset-fallback text source — the R3 analogue of the
    reference's utf-8-then-latin-1 retry (app.py:145-158), distributed:
    files are scanned as BYTES (binaryFile), and each document decodes
    utf-8 first, falling back to latin-1 (which accepts every byte
    sequence, exactly the reference's except-branch). Decode happens
    in Arrow-batched Python — byte-level charset work is inherent
    per-row logic, and stays a map-side pass at any scale.

    Fixture: every doc_id % 3 == 0 file is WRITTEN latin-1 with
    non-ascii chars (0xE9/0xF1/0xB0 — invalid as standalone utf-8, so
    the fallback genuinely fires); the oracle reconstructs the same
    logical strings from the original table, proving the decode is
    lossless and the fallback classification exact."""
    import os
    import shutil

    import pandas as pd

    # sf_tag-keyed like every other materialized scratch path: the
    # returned DF reads `out` lazily, so an un-keyed fixed path would
    # serve one sf_dir's bytes to a DF built for another (tables.py
    # sf_tag rule)
    out = f"{_SCRATCH}/encoded_docs_{sf_tag(sf_dir)}"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    rows = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 40)
        .select("doc_id", "text")
        .collect()  # bounded fixture-file setup, not a data-path collect
    )
    for r in rows:
        if r.doc_id % 3 == 0:
            payload = (r.text + " café ñ°").encode("latin-1")
        else:
            payload = r.text.encode("utf-8")
        with open(f"{out}/doc_{r.doc_id:05d}.txt", "wb") as f:
            f.write(payload)

    def decode(batches):
        for pdf in batches:
            texts, encs = [], []
            for raw in pdf["content"]:
                try:
                    texts.append(bytes(raw).decode("utf-8"))
                    encs.append("utf-8")
                except UnicodeDecodeError:
                    texts.append(bytes(raw).decode("latin-1"))
                    encs.append("latin-1")
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "text": texts, "encoding": encs}
            )

    binf = spark.read.format("binaryFile").load(f"{out}/*.txt")
    return binf.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt", 1)
        .cast("bigint")
        .alias("doc_id"),
        "content",
    ).mapInPandas(decode, "doc_id bigint, text string, encoding string")


@query(
    "source_binary_files",
    oracle="""
    SELECT doc_id, md5(text) AS content_md5,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents WHERE doc_id < 20
    """,
)
def source_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source — the engine's path for opaque documents
    (pdf/docx bytes in the reference, app.py:123-143; image/audio blobs
    at scale). Writes 20 docs as individual .txt files, scans them back
    as (path, content: binary), parses doc_id from the filename, and
    fingerprints the bytes. Oracle runs on the original rows: proves
    the file write/scan is byte-lossless."""
    import os
    import shutil

    out = f"{_SCRATCH}/binary_docs"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    rows = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 20)
        .select("doc_id", "text")
        .collect()  # 20 tiny rows — sink setup, not a data-path collect
    )
    for r in rows:
        with open(f"{out}/doc_{r.doc_id:05d}.txt", "w", encoding="utf-8") as f:
            f.write(r.text)
    binf = spark.read.format("binaryFile").load(f"{out}/*.txt")
    return binf.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.md5("content").alias("content_md5"),
        F.length("content").cast("bigint").alias("n_bytes"),
    )


@query(
    "source_orc_roundtrip",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write + read-back of a fixture table. The oracle runs on the
    ORIGINAL parquet, so a value match proves the ORC round-trip is
    lossless — the same columnar predicate-pushdown/pruning properties
    as parquet apply (Spark's OrcFileFormat is also vectorized)."""
    from ..tables import table as t

    out = f"{_SCRATCH}/region.orc"
    t(spark, sf_dir, "region").write.mode("overwrite").orc(out)
    return spark.read.orc(out).select("r_regionkey", "r_name")


@query(
    "sink_partitioned_pruning",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events WHERE event_type = 'click'
    """,
)
def sink_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write (partitionBy event_type) + pruned
    read of ONE partition. The read plan must show PartitionFilters and
    scan only the click/ directory — the layout that turns a 100 TB
    full scan into a 100 GB one for per-type pipelines
    (tests/test_plans.py asserts the pruning fires)."""
    return (
        spark.read.parquet(_events_by_type(spark, sf_dir))
        .where(F.col("event_type") == "click")
        .select("event_id", "user_id", "event_type", "value")
    )


@session_artifact
def _events_by_type(spark: SparkSession, sf_dir: str) -> str:
    """Write events partitioned by event_type once per session; return
    the path."""
    out = f"{_SCRATCH}/events_by_type_{sf_tag(sf_dir)}.parquet"
    (
        table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(out)
    )
    return out


@query(
    "source_corrupt_json_permissive",
    # the input file is generated deterministically below (8 good rows,
    # 2 malformed), so the oracle is a literal — no fixture table needed
    oracle="""
    SELECT CAST(8 AS BIGINT) AS n_good, CAST(2 AS BIGINT) AS n_corrupt,
           CAST(360 AS BIGINT) AS id_sum
    """,
)
def source_corrupt_json_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record tolerance: PERMISSIVE JSON parsing routes bad
    lines into _corrupt_record instead of failing the job — at 100 TB
    some records are ALWAYS malformed, and a pipeline that dies on one
    bad line doesn't ship. 8 valid + 2 broken lines; the declared
    result counts both streams and checksums the good ids."""
    out = f"{_SCRATCH}/corrupt.jsonl"
    good = [f'{{"id": {i}, "v": "row{i}"}}' for i in range(10, 90, 10)]
    bad = ['{"id": 999, "v": unquoted}', "{not json at all"]
    import os

    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        f.write("\n".join(good[:4] + bad[:1] + good[4:] + bad[1:]) + "\n")
    df = (
        spark.read.schema("id bigint, v string, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    return df.agg(
        F.count("id").alias("n_good"),
        F.count("_corrupt_record").alias("n_corrupt"),
        F.sum("id").cast("bigint").alias("id_sum"),
    )


@query(
    "maintenance_compact_small_files",
    oracle="""
    SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    """,
)
def maintenance_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the OPTIMIZE/rewrite pass every large
    parquet lake needs: a fragmented table (64 shards of a few KB each,
    simulating per-micro-batch streaming output) is rewritten into
    size-targeted files via coalesce. The oracle checks the compacted
    copy against the original table, proving compaction is lossless;
    tests/test_plans.py asserts the file count actually drops. At
    100 TB the same pass runs per partition-directory with
    repartitionByRange on the sort key to keep files clustered AND
    evenly sized."""
    back = spark.read.parquet(_compacted_docs(spark, sf_dir))
    return back.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@session_artifact
def _compacted_docs(spark: SparkSession, sf_dir: str) -> str:
    """Write documents as 64 fragments, compact them into ~4 files,
    once per session; return the compacted copy's path."""
    frag = f"{_SCRATCH}/docs_fragmented_{sf_tag(sf_dir)}.parquet"
    compact = f"{_SCRATCH}/docs_compacted_{sf_tag(sf_dir)}.parquet"
    d = table(spark, sf_dir, "documents")
    d.repartition(64).write.mode("overwrite").parquet(frag)
    # compact: read the fragments, coalesce to ~4 size-targeted files
    spark.read.parquet(frag).coalesce(4).write.mode("overwrite").parquet(
        compact
    )
    return compact


@query(
    "source_schema_evolution",
    oracle="""
    WITH v1 AS (
      SELECT doc_id, lang, NULL AS quality FROM documents WHERE doc_id % 2 = 0),
    v2 AS (
      SELECT doc_id, lang, n_chars % 100 AS quality
      FROM documents WHERE doc_id % 2 = 1),
    unioned AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(quality) AS BIGINT) AS n_with_quality,
           CAST(sum(quality) AS BIGINT) AS quality_sum
    FROM unioned GROUP BY lang
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a growing lake: generation 1 of a dataset is
    written with (doc_id, lang); generation 2 adds a `quality` column.
    A mergeSchema read unifies both generations — old files surface
    NULL for the added column, a query over the union just works. This
    is the append-only reality of any long-lived 100 TB table: columns
    arrive over time and historical files are never rewritten. Spark
    resolves the superset schema at planning from parquet footers
    (no data pass); the NULL fill is free at scan time.

    Gen-2's quality is derived deterministically (n_chars % 100) so
    the DuckDB oracle can replay both generations exactly."""
    out = _evolving_docs(spark, sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/gen=1", f"{out}/gen=2"
    )
    return merged.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.count("quality").alias("n_with_quality"),
        F.sum("quality").cast("bigint").alias("quality_sum"),
    )


@session_artifact
def _evolving_docs(spark: SparkSession, sf_dir: str) -> str:
    """Write the two documents generations once per session; return
    the dataset path."""
    out = f"{_SCRATCH}/docs_evolving_{sf_tag(sf_dir)}.parquet"
    d = table(spark, sf_dir, "documents")
    (
        d.where(F.col("doc_id") % 2 == 0)
        .select("doc_id", "lang")
        .write.mode("overwrite")
        .parquet(f"{out}/gen=1")
    )
    (
        d.where(F.col("doc_id") % 2 == 1)
        .select("doc_id", "lang", (F.col("n_chars") % 100).alias("quality"))
        .write.mode("overwrite")
        .parquet(f"{out}/gen=2")
    )
    return out


@query(
    "pipeline_incremental_ingest",
    oracle="""
    WITH existing AS (
      SELECT DISTINCT sha256(text) AS h FROM documents WHERE doc_id < 400),
    incoming AS (
      SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id >= 300)
    SELECT i.doc_id, i.h AS content_sha,
           CASE WHEN e.h IS NOT NULL THEN 'skipped_duplicate'
                ELSE 'appended' END AS status
    FROM incoming i LEFT JOIN existing e ON i.h = e.h
    """,
)
def pipeline_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent incremental ingest — the engine's R17 (app.py:453-484:
    re-upload detection + re-ingest) at pipeline scale: an already-
    ingested corpus lives in the warehouse keyed by content hash; an
    incoming batch (here: doc_id >= 300, overlapping the existing
    doc_id < 400 slice to simulate a partial re-upload) is admitted
    only where its sha-256 is unseen. Re-running the ingest is a no-op
    by construction — content addressing, not filename/mtime heuristics
    (the reference's `last_file_name` check, app.py:455, misses
    renamed duplicates).

    Scale shape: the dedup probe is a LEFT join against the hash index
    (a slim (hash) projection of the corpus — bucketable by hash range
    at 100 TB so the probe co-locates; broadcast is deliberately NOT
    forced here because a real corpus index outgrows broadcast). The
    incoming batch streams once; the write path (scratch parquet) is
    exercised for the existing-corpus index to keep this a real
    source->sink pipeline, not a self-join dressed up."""
    out = f"{_SCRATCH}/ingested_hash_index_{sf_tag(sf_dir)}"
    d = table(spark, sf_dir, "documents")
    existing = (
        d.where(F.col("doc_id") < 400)
        .select(F.sha2("text", 256).alias("h"))
        .distinct()
    )
    existing.write.mode("overwrite").parquet(out)
    index = spark.read.schema("h string").parquet(out)
    incoming = d.where(F.col("doc_id") >= 300).select(
        "doc_id", F.sha2("text", 256).alias("content_sha")
    )
    return incoming.join(
        index, incoming.content_sha == index.h, "left"
    ).select(
        "doc_id",
        "content_sha",
        F.when(F.col("h").isNotNull(), F.lit("skipped_duplicate"))
        .otherwise(F.lit("appended"))
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# source_xml_roundtrip
# ---------------------------------------------------------------------------


@query(
    "source_xml_roundtrip",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation ORDER BY n_nationkey
    """,
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML write + read-back of the nation table via Spark 4's
    BUILT-IN xml data source (rowTag records) — the last ubiquitous
    interchange format missing from the source family (csv, jsonl,
    json-props, orc, text, binary, corrupt-permissive all exist).
    The oracle runs on the ORIGINAL parquet, so a value match proves
    the XML round-trip is lossless for scalar columns.

    Parity: XML inference types integers as BIGINT; both sides cast
    the keys explicitly (fixture integer widths differ per sf — the
    tables.py rule), and strings pass through verbatim (ASCII
    fixture).

    Shape at 100 TB: XML is a row format with no pushdown — the
    docstring's contract is interchange, not analytics; the read
    plan is a full scan by design and real pipelines convert to
    parquet on ingest (this op IS that converter's two halves)."""
    from ..tables import SCRATCH, sf_tag, table as t

    out = f"{SCRATCH}/sources/nation_xml_{sf_tag(sf_dir)}"
    (
        t(spark, sf_dir, "nation")
        .selectExpr(
            "CAST(n_nationkey AS BIGINT) AS n_nationkey",
            "n_name",
            "CAST(n_regionkey AS BIGINT) AS n_regionkey",
        )
        .write.mode("overwrite")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .format("xml")
        .save(out)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .load(out)
        .selectExpr(
            "CAST(n_nationkey AS BIGINT) AS n_nationkey",
            "n_name",
            "CAST(n_regionkey AS BIGINT) AS n_regionkey",
        )
        .orderBy("n_nationkey")
    )
