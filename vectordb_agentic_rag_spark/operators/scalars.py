"""Scalar-function suites: string / date / math / array / map / JSON.

The reference's scalar usage is lower/split/len/slice/upper/concat
(app.py:116-118, 284-293, 545). Each suite exercises a family of
built-ins end-to-end with the cross-engine gotchas handled explicitly
(documented inline — they're the difference between a passing and a
flaky oracle). All row-level, all codegen'd, zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import table
from .dedup import _RE_HOST, _RE_PATH, _RE_Q, _URL_DUCK, _URL_SPARK


@query(
    "scalar_string_suite",
    oracle="""
    SELECT doc_id,
           lower(substring(text, 1, 20)) AS head_lower,
           upper(source) AS src_upper,
           CAST(length(text) AS INTEGER) AS n_len,
           concat_ws('|', lang, source) AS lang_src,
           trim(concat('  ', substring(text, 1, 10), '  ')) AS trimmed,
           regexp_extract(text, '([a-z]+)', 1) AS first_word,
           contains(text, 'spark') AS has_spark,
           replace(substring(text, 1, 30), ' ', '_') AS snake_head,
           lpad(lang, 5, '.') AS lang_pad
    FROM documents
    """,
)
def scalar_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String built-ins over documents.text (R9/R16's lower/upper/
    slice/concat, app.py:116,284,545)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.lower(F.substring("text", 1, 20)).alias("head_lower"),
        F.upper("source").alias("src_upper"),
        F.length("text").alias("n_len"),
        F.concat_ws("|", "lang", "source").alias("lang_src"),
        F.trim(F.concat(F.lit("  "), F.substring("text", 1, 10), F.lit("  "))).alias("trimmed"),
        F.regexp_extract("text", "([a-z]+)", 1).alias("first_word"),
        (F.instr("text", "spark") > 0).alias("has_spark"),
        F.replace(F.substring("text", 1, 30), F.lit(" "), F.lit("_")).alias("snake_head"),
        F.lpad("lang", 5, ".").alias("lang_pad"),
    )


@query(
    "scalar_date_suite",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mon,
           CAST(day(o_orderdate) AS INTEGER) AS dom,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(datediff('day', o_orderdate, TIMESTAMP '2002-01-01') AS INTEGER) AS days_to_2002,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS plus_30d,
           CAST(isodow(o_orderdate) AS INTEGER) AS iso_dow,
           CAST(last_day(o_orderdate) AS DATE) AS month_end
    FROM orders
    """,
)
def scalar_date_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time built-ins over o_orderdate. Cross-engine notes:
    DuckDB datediff takes (part, start, end) while Spark datediff is
    (end, start); Spark weekday() is 0=Mon so +1 == DuckDB isodow;
    date_add yields DATE in Spark but TIMESTAMP+INTERVAL in DuckDB,
    so both casts are explicit."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mon"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate")).alias("days_to_2002"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("plus_30d"),
        (F.weekday("o_orderdate") + 1).alias("iso_dow"),
        F.last_day("o_orderdate").alias("month_end"),
    )


@query(
    "scalar_math_suite",
    oracle="""
    SELECT p_partkey,
           CAST(round(CAST(p_retailprice AS DECIMAL(18,2)) * 1.1, 2) AS DOUBLE) AS price_up,
           abs(p_size - 25) AS size_dev,
           round(sqrt(p_size), 6) AS size_sqrt,
           round(ln(p_retailprice), 6) AS price_ln,
           CAST(power(p_size, 2) AS BIGINT) AS size_sq,
           p_size % 7 AS size_mod,
           CAST(ceil(p_retailprice / 100) AS BIGINT) AS price_ceil,
           CAST(floor(p_retailprice / 100) AS BIGINT) AS price_floor,
           CAST(greatest(p_size, 10) AS INTEGER) AS size_floor10,
           CAST(least(p_size, 40) AS INTEGER) AS size_cap40
    FROM part
    """,
)
def scalar_math_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math built-ins over part. Money multiply routed through DECIMAL
    (engine round() on doubles differs at ties); transcendentals
    (sqrt/ln) rounded to 6 — libm vs JVM can differ in the last ulp
    but never at 1e-6 scale for these inputs."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round(F.col("p_retailprice").cast("decimal(18,2)") * F.lit(1.1).cast("decimal(2,1)"), 2)
        .cast("double")
        .alias("price_up"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        F.round(F.sqrt("p_size"), 6).alias("size_sqrt"),
        F.round(F.log(F.col("p_retailprice")), 6).alias("price_ln"),
        F.pow("p_size", 2).cast("bigint").alias("size_sq"),
        (F.col("p_size") % 7).alias("size_mod"),
        F.ceil(F.col("p_retailprice") / 100).cast("bigint").alias("price_ceil"),
        F.floor(F.col("p_retailprice") / 100).cast("bigint").alias("price_floor"),
        F.greatest("p_size", F.lit(10)).alias("size_floor10"),
        F.least("p_size", F.lit(40)).alias("size_cap40"),
    )


@query(
    "scalar_array_map_suite",
    # slice/sort results unpacked to scalar columns: the driver's
    # hasher cannot canonicalize list cells (CORRECTNESS_r03); the
    # HOFs under test (slice, transform, sort_array, element_at) still
    # run — only the final projection scalarizes
    oracle="""
    WITH t AS (
      SELECT vec_id, embedding,
             list_reverse(list_sort(list_transform(embedding[1:5],
                 x -> round(CAST(x AS DOUBLE), 6)))) AS hs
      FROM embeddings)
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 6) AS first_1,
           round(CAST(embedding[2] AS DOUBLE), 6) AS first_2,
           round(CAST(embedding[3] AS DOUBLE), 6) AS first_3,
           round(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6) AS max_val,
           round(CAST(list_aggregate(embedding, 'min') AS DOUBLE), 6) AS min_val,
           CAST(len(list_filter(embedding, x -> x > 0.2)) AS INTEGER) AS n_gt02,
           len(list_filter(embedding, x -> x > 0.2)) > 0 AS has_gt02,
           hs[1] AS sorted_1, hs[2] AS sorted_2, hs[3] AS sorted_3,
           hs[4] AS sorted_4, hs[5] AS sorted_5
    FROM t
    """,
)
def scalar_array_map_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions over the embedding column: size,
    slice, transform, filter, exists, sort, element_at — the toolkit
    every vector operator builds on."""
    e = table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    hs = F.reverse(
        F.sort_array(F.transform(F.slice(emb, 1, 5), lambda x: F.round(x.cast("double"), 6)))
    )
    return e.select(
        "vec_id",
        F.size(emb).alias("dim"),
        F.round(F.element_at(emb, 1).cast("double"), 6).alias("first_1"),
        F.round(F.element_at(emb, 2).cast("double"), 6).alias("first_2"),
        F.round(F.element_at(emb, 3).cast("double"), 6).alias("first_3"),
        F.round(F.array_max(emb).cast("double"), 6).alias("max_val"),
        F.round(F.array_min(emb).cast("double"), 6).alias("min_val"),
        F.size(F.filter(emb, lambda x: x > 0.2)).alias("n_gt02"),
        F.exists(emb, lambda x: x > 0.2).alias("has_gt02"),
        F.element_at(hs, 1).alias("sorted_1"),
        F.element_at(hs, 2).alias("sorted_2"),
        F.element_at(hs, 3).alias("sorted_3"),
        F.element_at(hs, 4).alias("sorted_4"),
        F.element_at(hs, 5).alias("sorted_5"),
    )


@query(
    "scalar_json_suite",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
           json_extract_string(props, '$.k') AS k_str,
           CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
           CAST(json_extract_string(props, '$.missing') AS INTEGER) AS missing_val,
           CAST(json_extract_string(props, '$.k') AS INTEGER) BETWEEN 40 AND 60 AS k_mid
    FROM events
    """,
)
def scalar_json_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over events.props: string path extraction, typed
    cast, key enumeration via from_json to a map, missing-key NULL
    semantics (both engines yield NULL, not an error)."""
    ev = table(spark, sf_dir, "events")
    k_str = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id",
        k_str.cast("int").alias("k_val"),
        k_str.alias("k_str"),
        F.size(F.map_keys(F.from_json("props", "map<string,bigint>"))).alias("n_keys"),
        F.get_json_object("props", "$.missing").cast("int").alias("missing_val"),
        k_str.cast("int").between(40, 60).alias("k_mid"),
    )


@query(
    "scalar_null_suite",
    oracle="""
    SELECT c_custkey,
           coalesce(c_comment_null, 'missing') AS comment_or_default,
           (c_acctbal IS NOT DISTINCT FROM NULL) AS bal_is_null_safe,
           nullif(c_mktsegment, 'BUILDING') AS seg_nullified,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal = 0 THEN 'zero'
                ELSE 'credit' END AS bal_class,
           ifnull(try_cast(c_name AS DOUBLE), -1.0) AS name_as_num
    FROM (SELECT c_custkey, c_acctbal, c_mktsegment, c_name,
                 CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END
                   AS c_comment_null
          FROM customer) t
    """,
)
def scalar_null_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null semantics end to end: coalesce, null-safe equality (<=>),
    nullif, searched CASE, try_cast fallback. Null handling is where
    engines silently diverge (three-valued logic, cast failures), so
    the whole suite is oracle-pinned. Every expression is row-local —
    codegen'd, shuffle-free."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        "c_mktsegment",
        "c_name",
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_comment_null"),
    )
    return c.select(
        "c_custkey",
        F.coalesce("c_comment_null", F.lit("missing")).alias("comment_or_default"),
        F.col("c_acctbal").eqNullSafe(F.lit(None)).alias("bal_is_null_safe"),
        F.nullif("c_mktsegment", F.lit("BUILDING")).alias("seg_nullified"),
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") == 0, "zero")
        .otherwise("credit")
        .alias("bal_class"),
        F.coalesce(F.col("c_name").try_cast("double"), F.lit(-1.0)).alias("name_as_num"),
    )


@query(
    "scalar_bitwise_suite",
    oracle="""
    SELECT event_id,
           event_id & user_id AS x_and,
           event_id | user_id AS x_or,
           xor(event_id, user_id) AS x_xor,
           CAST(bit_count(event_id) AS INTEGER) AS popcnt,
           (event_id % 1000) << 3 AS shl3,
           event_id >> 2 AS shr2,
           (event_id >> 5) & 1 AS bit5
    FROM events WHERE event_id < 500
    """,
)
def scalar_bitwise_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar functions (and/or/xor, popcount, shifts, bit
    probe) — the primitives behind bitmap aggregates, SimHash, sign-bit
    packing, and Bloom/bucket addressing elsewhere in the engine,
    declared as an oracle-checked suite. All exact int64 arithmetic on
    non-negative inputs, so parity is bit-for-bit by construction;
    bit_get-style probes are spelled (x >> n) & 1 because that form is
    identical on every engine."""
    ev = table(spark, sf_dir, "events").where(F.col("event_id") < 500)
    return ev.select(
        "event_id",
        F.expr("event_id & user_id").alias("x_and"),
        F.expr("event_id | user_id").alias("x_or"),
        F.expr("event_id ^ user_id").alias("x_xor"),
        F.bit_count("event_id").alias("popcnt"),
        F.shiftleft(F.col("event_id") % 1000, 3).alias("shl3"),
        F.shiftright("event_id", 2).alias("shr2"),
        F.expr("(event_id >> 5) & 1").alias("bit5"),
    )


@query(
    "scalar_regexp_suite",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '^([a-z]+) ([a-z]+)', 2) AS second_word,
           CAST(len(regexp_extract_all(text, '[a-z]{6,}')) AS BIGINT)
             AS n_long_words,
           regexp_matches(text, 'table.*merge') AS has_table_then_merge,
           regexp_replace(substring(text, 1, 30), '[aeiou]', '*', 'g')
             AS head_novowel,
           CAST(len(string_split_regex(text, ' +')) AS BIGINT)
             AS n_ws_tokens
    FROM documents
    """,
)
def scalar_regexp_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-expression built-ins over documents.text — the one
    scalar family the 8 existing suites left implicit (string_suite
    uses one regexp_extract; this exercises extract-group,
    extract-all + count, match-test, global replace, and regex
    split).  Cross-engine notes: Spark compiles Java regex, DuckDB
    RE2 — the suite sticks to the shared-dialect subset (character
    classes, bounded quantifiers, greedy .*, anchors), which is also
    the subset a portable pipeline should stick to; Spark
    regexp_replace is global by default while DuckDB needs the 'g'
    flag; Spark's regexp_extract on no-match returns '' and DuckDB
    does too (group 2 of the anchored pair).  All row-level codegen,
    zero shuffles."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", "^([a-z]+) ([a-z]+)", 2).alias(
            "second_word"
        ),
        F.expr("CAST(size(regexp_extract_all(text, '[a-z]{6,}', 0)) AS BIGINT)")
        .alias("n_long_words"),
        F.col("text").rlike("table.*merge").alias("has_table_then_merge"),
        F.regexp_replace(F.substring("text", 1, 30), "[aeiou]", "*").alias(
            "head_novowel"
        ),
        F.expr("CAST(size(split(text, ' +')) AS BIGINT)").alias(
            "n_ws_tokens"
        ),
    )


@query(
    "scalar_url_suite",
    oracle=f"""
    WITH u AS (SELECT doc_id, {_URL_DUCK} AS url FROM documents)
    SELECT doc_id, url,
           regexp_extract(url, '{_RE_HOST}', 1) AS host,
           regexp_extract(regexp_extract(url, '{_RE_HOST}', 1),
                          '([^.]+)$', 1) AS tld,
           regexp_extract(url, '{_RE_PATH}', 1) AS path,
           regexp_extract(url, '{_RE_Q}', 1) AS q_param,
           lower(regexp_extract(url, '{_RE_HOST}', 1))
             || regexp_extract(url, '{_RE_PATH}', 1)
             || CASE WHEN regexp_extract(url, '{_RE_Q}', 1) <> ''
                     THEN '?q=' || regexp_extract(url, '{_RE_Q}', 1)
                     ELSE '' END AS canonical
    FROM u
    WHERE doc_id < 100
    """,
)
def scalar_url_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing + canonicalization scalar suite — the string surface
    of web-corpus curation (CommonCrawl-style pipelines spend a pass
    on exactly this): host / TLD / path / query-param extraction via
    anchored regexes, and a canonical form that lowercases the host
    and STRIPS tracking parameters (utm_*, ref) while keeping
    semantic ones (q). Synthetic URLs are derived deterministically
    from fixture columns on both engines (no URL column in the
    fixture; the derivation IS part of the parity surface).

    Pure map-side regexp — scan throughput at any scale. The same
    regex text runs on both engines (RE2-class patterns only: no
    lookahead, anchored where it matters)."""
    d = table(spark, sf_dir, "documents")
    u = d.where(F.col("doc_id") < 100).select(
        "doc_id", F.expr(_URL_SPARK).alias("url")
    )
    host = F.regexp_extract("url", _RE_HOST, 1)
    path = F.regexp_extract("url", _RE_PATH, 1)
    q = F.regexp_extract("url", _RE_Q, 1)
    canonical = F.concat(
        F.lower(host),
        path,
        F.when(q != "", F.concat(F.lit("?q="), q)).otherwise(""),
    )
    return u.select(
        "doc_id",
        "url",
        host.alias("host"),
        F.regexp_extract(host, "([^.]+)$", 1).alias("tld"),
        path.alias("path"),
        q.alias("q_param"),
        canonical.alias("canonical"),
    )
