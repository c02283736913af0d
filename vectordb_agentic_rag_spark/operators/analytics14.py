"""Round-14 operators: data-layout advisories and remaining verdict
queue items.

The reference app (app.py) has no storage layer of its own (Qdrant
holds the vectors); these ops serve the north-star 100 TB lake the
engine is designed for, where the difference between a clustered and
a scattered layout is the difference between scanning 3% and 100% of
row groups for the same predicate.

Float-parity discipline (CLAUDE.md): exact BIGINT logic throughout —
bucket assignment, predicate bounds, and the prune decision are all
integer compares, so no rounding argument is needed anywhere.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import SCRATCH, session_artifact, sf_tag, table

# ---------------------------------------------------------------------------
# maintenance_rowgroup_pruning_sim
# ---------------------------------------------------------------------------

_PRUNE_BUCKETS = 16  # target bucket count for both layouts
_PRUNE_PREDS = 8  # predicate panel size


@session_artifact
def _pruning_layouts(spark: SparkSession, sf_dir: str, *, layouts) -> str:
    """Write one partitioned orders copy per ``layouts`` entry (name ->
    grp expression, a function of sf_dir) once per session; return the
    root the copies sit under."""
    base = f"{SCRATCH}/sources/pruning_{sf_tag(sf_dir)}"
    for layout, grp_expr in layouts.items():
        (
            table(spark, sf_dir, "orders")
            .select("o_orderkey", F.expr(grp_expr).alias("grp"))
            .repartition("grp")  # one task -> one file per bucket
            .write.mode("overwrite")
            .partitionBy("grp")
            .parquet(f"{base}/{layout}")
        )
    return base


def _pruning_oracle() -> str:
    """Oracle recomputes every bucket's min/max/count FROM DATA with the
    same integer bucket formulas, then applies the identical intersect
    logic — a hash match proves the Spark side's REAL footer statistics
    equal the data extrema per bucket AND that the prune decisions
    agree."""
    return f"""
    WITH b AS (
      SELECT CAST(min(o_orderkey) AS BIGINT) AS mn,
             CAST(max(o_orderkey) AS BIGINT) AS mx
      FROM orders),
    p AS (
      SELECT CAST(i AS BIGINT) AS pred_id,
             CAST(mn + (i * (mx - mn + 1)) // {_PRUNE_PREDS} AS BIGINT) AS lo,
             CAST(mn + (i * (mx - mn + 1)) // {_PRUNE_PREDS}
                  + (mx - mn + 1) // 32 AS BIGINT) AS hi
      FROM b, (SELECT unnest(generate_series(0, {_PRUNE_PREDS - 1})) AS i)),
    assigned AS (
      SELECT 'clustered' AS layout,
             (o_orderkey - mn) // ((mx - mn + 1) // {_PRUNE_BUCKETS} + 1) AS grp,
             o_orderkey AS k
      FROM orders, b
      UNION ALL
      SELECT 'scattered' AS layout,
             ((o_orderkey * 2654435761) % 4294967296) // 268435456 AS grp,
             o_orderkey AS k
      FROM orders),
    buckets AS (
      SELECT layout, grp,
             CAST(min(k) AS BIGINT) AS fmin,
             CAST(max(k) AS BIGINT) AS fmax,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM assigned GROUP BY layout, grp)
    SELECT layout, pred_id, lo, hi,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(CASE WHEN fmax < lo OR fmin > hi THEN 1 ELSE 0 END)
                AS BIGINT) AS buckets_pruned,
           CAST(sum(n_rows) AS BIGINT) AS rows_total,
           CAST(sum(CASE WHEN fmax < lo OR fmin > hi THEN n_rows ELSE 0 END)
                AS BIGINT) AS rows_skipped
    FROM buckets CROSS JOIN p
    GROUP BY layout, pred_id, lo, hi
    ORDER BY layout, pred_id
    """


@query("maintenance_rowgroup_pruning_sim", oracle=_pruning_oracle())
def maintenance_rowgroup_pruning_sim(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROW-GROUP PRUNING EFFECTIVENESS — the data-layout advisory that
    motivates maintenance_zorder_cluster and completes the
    footer-stats chain (maintenance_parquet_footer_stats proves the
    stats exist; this op measures what they BUY under two layouts).

    orders is physically rewritten twice: 'clustered' partitions rows
    into {16} contiguous key-range buckets of o_orderkey (what a
    sort/zorder write produces), 'scattered' buckets by a
    multiplicative hash of the same key (high bits, round-9 rule —
    what an unsorted ingest produces). Both copies are REAL parquet
    written by Spark; the op then parses the written files' FOOTERS
    (pyarrow metadata, min/max per row group folded per bucket — the
    exact values a scan's row-group skip consults) and evaluates an
    8-predicate BETWEEN panel spanning the key domain: a bucket is
    pruned when [fmin, fmax] misses [lo, hi]. Expected shape — the
    advisory itself: clustered prunes ~(1 - 1/8 - 1/32) of buckets
    and rows per predicate; scattered prunes NOTHING (every hash
    bucket spans the whole key domain). That row pair is the
    quantitative case for clustering a 100 TB table on its filter
    column.

    Parity: bucket ids, predicate bounds, and prune decisions are all
    exact BIGINT arithmetic ((i*span) div 8 bounds, div/% bucket
    formulas — DuckDB // twin); the oracle recomputes bucket extrema
    FROM DATA, so the hash match proves the writer+footer-parser pair
    is faithful end-to-end, not just that the sim math agrees.

    Shape at 100 TB: the rewrite is the one-off layout job (range
    shuffle, the same pass as maintenance_zorder_cluster); the footer
    walk is metadata-only (KBs per file, per-file parallel via a
    binaryFile scan on a cluster; driver-side here over ~32 small
    files); the panel evaluation is a 32-bucket x 8-predicate
    broadcast cross join — bounded by the layout, not the data.
    """
    import pyarrow.parquet as pq

    mn, mx = (
        table(spark, sf_dir, "orders")
        .agg(
            F.min("o_orderkey").cast("bigint"),
            F.max("o_orderkey").cast("bigint"),
        )
        .first()
    )
    mn, mx = int(mn), int(mx)
    span = mx - mn + 1
    width = span // _PRUNE_BUCKETS + 1
    layouts = {
        "clustered": f"(CAST(o_orderkey AS BIGINT) - {mn}) div {width}",
        "scattered": (
            "((CAST(o_orderkey AS BIGINT) * 2654435761) % 4294967296)"
            " div 268435456"
        ),
    }
    base = _pruning_layouts(spark, sf_dir, layouts=layouts)

    # real footer walk: fold per-row-group min/max/rows per bucket
    bucket_rows = []
    for layout in layouts:
        root = f"{base}/{layout}"
        for d in sorted(os.listdir(root)):
            if not d.startswith("grp="):
                continue
            grp = int(d.split("=", 1)[1])
            fmin = fmax = None
            n_rows = 0
            for f_ in sorted(os.listdir(os.path.join(root, d))):
                if not f_.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(root, d, f_)).metadata
                idx = [
                    md.schema.column(i).name for i in range(md.num_columns)
                ].index("o_orderkey")
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    n_rows += rg.num_rows
                    st = rg.column(idx).statistics
                    if st is None or not st.has_min_max:
                        raise ValueError(
                            f"stats-less row group in {layout}/{d}/{f_} — "
                            "pruning sim requires min/max on every group"
                        )
                    smin, smax = int(st.min), int(st.max)
                    fmin = smin if fmin is None else min(fmin, smin)
                    fmax = smax if fmax is None else max(fmax, smax)
            if fmin is not None:
                bucket_rows.append((layout, grp, fmin, fmax, n_rows))

    buckets = spark.createDataFrame(
        bucket_rows,
        schema="layout string, grp bigint, fmin bigint, fmax bigint,"
        " n_rows bigint",
    )
    preds = spark.createDataFrame(
        [
            (
                i,
                mn + (i * span) // _PRUNE_PREDS,
                mn + (i * span) // _PRUNE_PREDS + span // 32,
            )
            for i in range(_PRUNE_PREDS)
        ],
        schema="pred_id bigint, lo bigint, hi bigint",
    )
    pruned = (F.col("fmax") < F.col("lo")) | (F.col("fmin") > F.col("hi"))
    return (
        buckets.crossJoin(F.broadcast(preds))
        .groupBy("layout", "pred_id", "lo", "hi")
        .agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            F.sum(F.when(pruned, 1).otherwise(0))
            .cast("bigint")
            .alias("buckets_pruned"),
            F.sum("n_rows").cast("bigint").alias("rows_total"),
            F.sum(F.when(pruned, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_skipped"),
        )
        .orderBy("layout", "pred_id")
    )


# ---------------------------------------------------------------------------
# maintenance_bloom_rowgroup_advisor
# ---------------------------------------------------------------------------

_BLF_BUCKETS = 256  # simulated row groups (multiplicative-hash layout)
_BLF_WORDS = 16  # bloom size: 16 x 63 = 1008 usable bits per bucket
_BLF_P = 2147483647  # Lehmer modulus shared with the KMV sketches


def _blf_hash(expr: str, mult: int) -> str:
    """Bloom bit position in [0, 1008) — 63 usable bits per word
    (bit 63 stays clear: DuckDB's `<<` overflow-checks the sign bit);
    exact integer arithmetic, same text modulo div/// on both
    engines."""
    return f"((({expr}) * {mult}) % {_BLF_P}) % {_BLF_WORDS * 63}"


def _bloom_advisor_oracle() -> str:
    nb = _BLF_BUCKETS
    word_sel_1 = " ".join(
        f"WHEN {j} THEN w{j}" for j in range(_BLF_WORDS)
    )
    words = ",\n             ".join(
        "bit_or("
        f"(CASE WHEN {_blf_hash('o_orderkey', 48271)} // 63 = {j}"
        f" THEN (1::BIGINT << CAST({_blf_hash('o_orderkey', 48271)} % 63 AS INTEGER)) ELSE 0 END)"
        f" | (CASE WHEN {_blf_hash('o_orderkey', 69621)} // 63 = {j}"
        f" THEN (1::BIGINT << CAST({_blf_hash('o_orderkey', 69621)} % 63 AS INTEGER)) ELSE 0 END)"
        f") AS w{j}"
        for j in range(_BLF_WORDS)
    )
    return f"""
    WITH b AS (
      SELECT CAST(min(o_orderkey) AS BIGINT) AS mn,
             CAST(max(o_orderkey) AS BIGINT) AS mx
      FROM orders),
    p AS (
      SELECT CAST(i AS BIGINT) AS probe_id,
             CAST(mn + (i * (mx - mn + 1)) // 8 AS BIGINT) AS probe_key
      FROM b, (SELECT unnest(generate_series(0, 7)) AS i)),
    pk AS (
      SELECT probe_id, probe_key,
             {_blf_hash('probe_key', 48271)} AS q1,
             {_blf_hash('probe_key', 69621)} AS q2
      FROM p),
    buckets AS (
      SELECT ((o_orderkey * 2654435761) % 4294967296) // 16777216 AS grp,
             CAST(min(o_orderkey) AS BIGINT) AS bmin,
             CAST(max(o_orderkey) AS BIGINT) AS bmax,
             CAST(count(*) AS BIGINT) AS n_rows,
             {words}
      FROM orders GROUP BY 1),
    truth AS (
      SELECT pk.probe_id,
             ((o.o_orderkey * 2654435761) % 4294967296) // 16777216 AS grp
      FROM orders o JOIN pk ON o.o_orderkey = pk.probe_key
      GROUP BY 1, 2),
    hits AS (
      SELECT pk.probe_id, pk.probe_key, bk.grp, bk.n_rows,
             CASE WHEN pk.probe_key BETWEEN bk.bmin AND bk.bmax
                  THEN 1 ELSE 0 END AS mm_poss,
             CASE WHEN ((CASE CAST(pk.q1 // 63 AS INTEGER) {word_sel_1} END
                         >> CAST(pk.q1 % 63 AS INTEGER)) & 1) = 1
                   AND ((CASE CAST(pk.q2 // 63 AS INTEGER) {word_sel_1} END
                         >> CAST(pk.q2 % 63 AS INTEGER)) & 1) = 1
                  THEN 1 ELSE 0 END AS bl_poss,
             CASE WHEN t.grp IS NOT NULL THEN 1 ELSE 0 END AS is_true
      FROM buckets bk CROSS JOIN pk
      LEFT JOIN truth t ON t.probe_id = pk.probe_id AND t.grp = bk.grp)
    SELECT probe_id, probe_key,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(mm_poss) AS BIGINT) AS minmax_possible,
           CAST(sum(bl_poss) AS BIGINT) AS bloom_possible,
           CAST(sum(is_true) AS BIGINT) AS bloom_true,
           CAST(sum(CASE WHEN bl_poss = 1 AND is_true = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS bloom_false_pos,
           CAST(sum(CASE WHEN bl_poss = 0 THEN n_rows ELSE 0 END)
                AS BIGINT) AS rows_skipped_bloom
    FROM hits
    GROUP BY probe_id, probe_key
    ORDER BY probe_id
    """


@query("maintenance_bloom_rowgroup_advisor", oracle=_bloom_advisor_oracle())
def maintenance_bloom_rowgroup_advisor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BLOOM-FILTER LAYOUT ADVISORY — the complement of
    maintenance_rowgroup_pruning_sim for POINT LOOKUPS on a layout
    min/max cannot help: under the hash-scattered bucketing every
    simulated row group spans the whole key domain (the pruning sim's
    'scattered prunes nothing' row), which is exactly when parquet
    attaches per-row-group BLOOM FILTERS. Each of 256 hash buckets
    builds a 1008-bit bloom (16 exact BIGINT words, 63 bits each, two Lehmer-mix
    hash positions per key, bit_or aggregate — the agg_bitmap_distinct
    idiom); an 8-point lookup panel then reports, per probe: how many
    buckets min/max could skip (none), how many the bloom admits, the
    true containing buckets, the false positives, and the rows a
    scan actually skips. The false-positive column is the m/n sizing
    signal a layout engineer reads: at sf0.01 (~59 keys/bucket, 1008
    bits, k=2) FPs are rare; at sf0.1 (~586 keys/bucket) the filter
    visibly saturates — the advisory shows the budget breaking, not
    just working.

    Parity: every hash, bit position, membership test, and count is
    exact BIGINT arithmetic with shared formula shape (shiftleft /
    `<<` differ textually but operate on identical integers); bucket
    count counts NON-EMPTY buckets (data-derivable on both engines).

    Shape at 100 TB: the bloom build is ONE map-side-combinable
    aggregate over the fact scan (16 words per bucket of shuffle
    payload — the bitmap-distinct shape); the probe evaluation is a
    256 x 8 broadcast cross join, bounded by the layout."""
    mn, mx = (
        table(spark, sf_dir, "orders")
        .agg(
            F.min("o_orderkey").cast("bigint"),
            F.max("o_orderkey").cast("bigint"),
        )
        .first()
    )
    mn, mx = int(mn), int(mx)
    span = mx - mn + 1
    h1 = _blf_hash("o_orderkey", 48271)
    h2 = _blf_hash("o_orderkey", 69621)
    word_aggs = [
        F.bit_or(
            F.expr(
                f"(CASE WHEN CAST(({h1}) div 63 AS INT) = {j}"
                f" THEN shiftleft(CAST(1 AS BIGINT),"
                f" CAST(({h1}) % 63 AS INT)) ELSE CAST(0 AS BIGINT) END)"
                f" | (CASE WHEN CAST(({h2}) div 63 AS INT) = {j}"
                f" THEN shiftleft(CAST(1 AS BIGINT),"
                f" CAST(({h2}) % 63 AS INT)) ELSE CAST(0 AS BIGINT) END)"
            )
        ).alias(f"w{j}")
        for j in range(_BLF_WORDS)
    ]
    o = table(spark, sf_dir, "orders")
    grp = F.expr(
        "((CAST(o_orderkey AS BIGINT) * 2654435761) % 4294967296)"
        " div 16777216"
    )
    buckets = o.groupBy(grp.alias("grp")).agg(
        F.min("o_orderkey").cast("bigint").alias("bmin"),
        F.max("o_orderkey").cast("bigint").alias("bmax"),
        F.count("*").cast("bigint").alias("n_rows"),
        *word_aggs,
    )

    def py_hash(key: int, mult: int) -> int:
        return ((key * mult) % _BLF_P) % (_BLF_WORDS * 63)

    probe_rows = []
    for i in range(8):
        key = mn + (i * span) // 8
        probe_rows.append(
            (i, key, py_hash(key, 48271), py_hash(key, 69621))
        )
    probes = spark.createDataFrame(
        probe_rows,
        "probe_id bigint, probe_key bigint, q1 bigint, q2 bigint",
    )
    truth = (
        o.join(
            F.broadcast(probes),
            F.col("o_orderkey") == F.col("probe_key"),
        )
        .groupBy("probe_id", grp.alias("grp"))
        .agg(F.count("*").alias("n_true"))
        .select("probe_id", "grp", F.lit(1).alias("is_true"))
    )
    word_sel = " ".join(f"WHEN {j} THEN w{j}" for j in range(_BLF_WORDS))
    member = (
        "((CASE CAST(q1 div 63 AS INT) " + word_sel + " END"
        " >> CAST(q1 % 63 AS INT)) & 1) = 1"
        " AND ((CASE CAST(q2 div 63 AS INT) " + word_sel + " END"
        " >> CAST(q2 % 63 AS INT)) & 1) = 1"
    )
    hits = (
        buckets.crossJoin(F.broadcast(probes))
        .join(F.broadcast(truth), ["probe_id", "grp"], "left")
        .select(
            "probe_id",
            "probe_key",
            "n_rows",
            F.expr(
                "CASE WHEN probe_key BETWEEN bmin AND bmax"
                " THEN 1 ELSE 0 END"
            ).alias("mm_poss"),
            F.expr(f"CASE WHEN {member} THEN 1 ELSE 0 END").alias(
                "bl_poss"
            ),
            F.coalesce(F.col("is_true"), F.lit(0)).alias("is_true"),
        )
    )
    return (
        hits.groupBy("probe_id", "probe_key")
        .agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            F.sum("mm_poss").cast("bigint").alias("minmax_possible"),
            F.sum("bl_poss").cast("bigint").alias("bloom_possible"),
            F.sum("is_true").cast("bigint").alias("bloom_true"),
            F.sum(
                F.expr(
                    "CASE WHEN bl_poss = 1 AND is_true = 0"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("bloom_false_pos"),
            F.sum(F.expr("CASE WHEN bl_poss = 0 THEN n_rows ELSE 0 END"))
            .cast("bigint")
            .alias("rows_skipped_bloom"),
        )
        .orderBy("probe_id")
    )


# ---------------------------------------------------------------------------
# agg_hll_dense_registers
# ---------------------------------------------------------------------------

_HLL_M = 64  # registers (rsd ~ 1.04/sqrt(64) = 13%)
_HLL_RELERR_BOUND = 0.5  # collapse guard (~4x the m=64 rsd of 13%;
# worst measured rel_err 0.2213 at sf0.01 purchase with the avalanche
# hash — the ANN-floor margin rule)


def _hll_key_duck() -> str:
    return (
        "user_id * 32 + date_diff('day', DATE '2024-01-01',"
        " CAST(ts AS DATE))"
    )


def _hll_oracle() -> str:
    # rho = leading-zero count of the 26-bit suffix + 1: w = h // 64
    # < 2^26, bitlen via length(bin()) (round-8 exact-integer recipe)
    z_term = (
        "CAST(1 AS DOUBLE)"
        " / CAST((1::BIGINT << CAST(m_j AS INTEGER)) AS DOUBLE)"
    )
    return f"""
    WITH dk AS MATERIALIZED (
      SELECT DISTINCT event_type, {_hll_key_duck()} AS key
      FROM events WHERE event_type IN ('purchase', 'click')),
    h1x AS (
      SELECT event_type, key,
             ((xor(key, key >> 16) % 2147483648) * 2246822519)
               % 4294967296 AS h1
      FROM dk),
    h2x AS (
      SELECT event_type, key,
             ((xor(h1, h1 >> 13) % 2147483648) * 3266489917)
               % 4294967296 AS h2
      FROM h1x),
    hx AS (
      SELECT event_type, key, xor(h2, h2 >> 16) AS h FROM h2x),
    rr AS MATERIALIZED (
      SELECT event_type,
             h % {_HLL_M} AS reg,
             CASE WHEN h // {_HLL_M} = 0 THEN 27
                  ELSE 27 - length(bin(h // {_HLL_M})) END AS rho
      FROM hx),
    regs AS (
      SELECT event_type AS set_name, reg, max(rho) AS m_obs
      FROM rr GROUP BY 1, 2
      UNION ALL
      SELECT 'any', reg, max(rho) FROM rr GROUP BY 2),
    names AS (SELECT unnest(['purchase', 'click', 'any']) AS set_name),
    dom AS (
      SELECT set_name, unnest(generate_series(0, {_HLL_M - 1})) AS reg
      FROM names),
    dense AS (
      SELECT d.set_name, d.reg,
             CAST(coalesce(r.m_obs, 0) AS BIGINT) AS m_j
      FROM dom d LEFT JOIN regs r
        ON d.set_name = r.set_name AND d.reg = r.reg),
    z AS (
      SELECT set_name, sum({z_term}) AS zsum
      FROM dense GROUP BY set_name),
    ex AS (
      SELECT event_type AS set_name, CAST(count(*) AS BIGINT) AS exact_users
      FROM dk GROUP BY 1
      UNION ALL
      SELECT 'any', CAST(count(DISTINCT key) AS BIGINT) FROM dk)
    SELECT z.set_name,
           round(CAST(0.709 AS DOUBLE) * {_HLL_M * _HLL_M} / z.zsum, 6)
             AS est_users,
           ex.exact_users,
           round(abs(CAST(0.709 AS DOUBLE) * {_HLL_M * _HLL_M} / z.zsum
                     - ex.exact_users) / ex.exact_users, 4) AS rel_err
    FROM z JOIN ex ON z.set_name = ex.set_name
    ORDER BY z.set_name
    """


@query("agg_hll_dense_registers", oracle=_hll_oracle())
def agg_hll_dense_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAND-ROLLED HLL WITH A FULL ORACLE — the SQL-expressible twin of
    agg_hll_sketch_merge (which exists to exercise Spark's NATIVE
    Datasketches hll_sketch_agg/hll_union_agg and stays rows-only
    because DuckDB ships a different HLL): deterministic xor-shift
    finalizer hash (murmur3-style avalanche, multiplicands masked to
    31 bits so the products stay in int64 under ANSI — the KMV
    sketches' LINEAR Lehmer hash latticed catastrophically under
    HLL's max-rho on the structured user-day keys: probed +84% bias
    vs +5% after the nonlinear mix; order statistics forgave what
    leading-zero ranks do not), m = 64 registers (reg = h mod 64),
    rho = leading-zero rank of the 26-bit suffix computed exactly
    via length(bin()) — so the registers, the merge,
    and the estimate are all integer-derivable on both engines and
    the driver hash-verifies the WHOLE sketch, closing the same
    assumed-rows-only gap round 13 closed for KMV.

    The MERGE IDENTITY is proven by construction (the round-13
    scatter-gather trick): the Spark side builds per-(type, DAY)
    shard registers and max-merges the shards (plus a second merge
    across types for the 'any' row); the oracle computes each set's
    registers DIRECTLY from the raw keys — the hash match IS the
    proof that register-max merging loses nothing, which is the
    entire reason HLL works on a 100 TB lake (per-partition sketch
    bytes merge; raw keys never re-shuffle).

    Parity: every register value is an exact integer; the harmonic
    sum Z = sum(2^-M_j) is a sum of 64 exact dyadics with common
    denominator 2^27 and numerator total < 2^33 — exactly
    representable in a double REGARDLESS of addition order, so no
    quantization argument is needed; the estimate is one shared
    division shape with round(6). Raw HLL estimate only (no
    small-range linear counting — it would need cross-engine ln();
    the user-day domains here sit in the raw regime at every sf,
    and the in-plan assert bounds |rel_err| <= 0.5 vs measured
    0.009-0.221 across sets and sfs; a register wipe trips the guard
    at rel_err ~ 1).

    Shape at 100 TB: register building is a map-side-combinable max
    aggregate (64 rows per shard of shuffle payload); the dense
    64-register domain join and the 3-row output are bounded by m,
    not the data."""
    ev = table(spark, sf_dir, "events")
    dk = (
        ev.where(F.col("event_type").isin("purchase", "click"))
        .select(
            "event_type",
            F.expr(
                "CAST(user_id AS BIGINT) * 32 + CAST(datediff("
                "CAST(ts AS DATE), DATE '2024-01-01') AS BIGINT)"
            ).alias("key"),
        )
        .distinct()
    )
    hashed = (
        dk.withColumn(
            "h1",
            F.expr(
                "(((key ^ shiftright(key, 16)) % 2147483648)"
                " * 2246822519) % 4294967296"
            ),
        )
        .withColumn(
            "h2",
            F.expr(
                "(((h1 ^ shiftright(h1, 13)) % 2147483648)"
                " * 3266489917) % 4294967296"
            ),
        )
        .withColumn("h", F.expr("h2 ^ shiftright(h2, 16)"))
    )
    rr = hashed.select(
        "event_type",
        (F.col("key") % 32).alias("day_shard"),
        F.expr(f"h % {_HLL_M}").alias("reg"),
        F.expr(
            f"CASE WHEN h div {_HLL_M} = 0 THEN 27"
            f" ELSE 27 - length(bin(h div {_HLL_M})) END"
        ).alias("rho"),
    )
    # per-(set, day) SHARD registers, then the mergeability-defining
    # max-merge across shards (the oracle computes registers directly
    # — the hash match proves the merge identity)
    shard = rr.groupBy("event_type", "day_shard", "reg").agg(
        F.max("rho").alias("m_shard")
    )
    per_set = shard.groupBy(
        F.col("event_type").alias("set_name"), "reg"
    ).agg(F.max("m_shard").alias("m_obs"))
    any_set = shard.groupBy("reg").agg(
        F.max("m_shard").alias("m_obs")
    ).select(F.lit("any").alias("set_name"), "reg", "m_obs")
    regs = per_set.unionByName(any_set)
    names = spark.createDataFrame(
        [("purchase",), ("click",), ("any",)], "set_name string"
    )
    dom = names.crossJoin(
        spark.range(_HLL_M).select(F.col("id").cast("int").alias("reg"))
    )
    dense = dom.join(regs, ["set_name", "reg"], "left").select(
        "set_name",
        F.expr("CAST(coalesce(m_obs, 0) AS BIGINT)").alias("m_j"),
    )
    z = dense.groupBy("set_name").agg(
        F.sum(
            F.expr(
                "CAST(1 AS DOUBLE) / CAST(shiftleft(CAST(1 AS BIGINT),"
                " CAST(m_j AS INT)) AS DOUBLE)"
            )
        ).alias("zsum")
    )
    ex = (
        dk.groupBy(F.col("event_type").alias("set_name"))
        .agg(F.count("*").cast("bigint").alias("exact_users"))
        .unionByName(
            dk.agg(
                F.countDistinct("key").cast("bigint").alias("exact_users")
            ).select(F.lit("any").alias("set_name"), "exact_users")
        )
    )
    est = f"CAST(0.709 AS DOUBLE) * {_HLL_M * _HLL_M} / zsum"
    return (
        z.join(ex, "set_name")
        .selectExpr(
            "set_name",
            f"round({est}, 6) AS est_users",
            "exact_users",
            f"round(abs({est} - exact_users) / exact_users, 4)"
            " AS rel_err",
        )
        .where(
            F.assert_true(
                F.col("rel_err") <= F.lit(_HLL_RELERR_BOUND),
                F.format_string(
                    f"HLL register collapse: rel_err=%s > {_HLL_RELERR_BOUND}",
                    F.col("rel_err"),
                ),
            ).isNull()
        )
        .orderBy("set_name")
    )


# ---------------------------------------------------------------------------
# maintenance_zorder_pruning_2d
# ---------------------------------------------------------------------------

_Z2_BITS = 4  # 4 bits per dimension -> 16x16 = 256 buckets per layout


@session_artifact
def _z2_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 1-row (mnx, mxx, mny, mxy) domain frame referenced by both
    layouts AND the box panel — ckpt once per session (round-13
    lesson: an uncached in-op localCheckpoint re-derives EAGERLY on
    every DataFrame build)."""
    return (
        table(spark, sf_dir, "orders")
        .agg(
            F.expr("CAST(min(o_custkey) AS BIGINT)").alias("mnx"),
            F.expr("CAST(max(o_custkey) AS BIGINT)").alias("mxx"),
            F.expr(
                "min(CAST(o_totalprice * 100 + 0.5 AS BIGINT))"
            ).alias("mny"),
            F.expr(
                "max(CAST(o_totalprice * 100 + 0.5 AS BIGINT))"
            ).alias("mxy"),
        )
        .localCheckpoint()
    )


def _z2_morton(bx: str, by: str) -> str:
    """Closed-form Morton interleave of two 4-bit ints — 8 exact
    integer terms, identical text both engines (shifts by small
    constants only)."""
    terms = []
    for i in range(_Z2_BITS):
        terms.append(f"((({bx}) >> {i}) & 1) * {1 << (2 * i + 1)}")
        terms.append(f"((({by}) >> {i}) & 1) * {1 << (2 * i)}")
    return " + ".join(terms)


def _z2_exprs(duck: bool) -> dict:
    """Shared expression text for both engines; only cents extraction
    and integer division differ (CLAUDE.md money rule / div vs //)."""
    div = "//" if duck else "div"
    y = (
        "CAST(round(o_totalprice * 100, 0) AS BIGINT)"
        if duck
        else "CAST(o_totalprice * 100 + 0.5 AS BIGINT)"
    )
    x = "CAST(o_custkey AS BIGINT)"
    side = 1 << _Z2_BITS  # per-dimension buckets; clamp to side - 1
    bx = (
        f"least({side - 1},"
        f" (({x}) - mnx) * {side} {div} (mxx - mnx + 1))"
    )
    by = (
        f"least({side - 1},"
        f" (({y}) - mny) * {side} {div} (mxy - mny + 1))"
    )
    lin = (
        f"least({side * side - 1},"
        f" (({x}) - mnx) * {side * side} {div} (mxx - mnx + 1))"
    )
    return {"x": x, "y": y, "bx": bx, "by": by, "lin": lin}


def _z2_boxes(duck: bool) -> str:
    """4-box predicate panel: each box covers 1/8 x 1/8 of the 2-D
    domain, anchored per quadrant — integer corner arithmetic."""
    div = "//" if duck else "div"
    rows = []
    for j in range(4):
        jx, jy = j % 2, j // 2
        rows.append(
            f"SELECT CAST({j} AS BIGINT) AS box_id,"
            f" mnx + {jx} * ((mxx - mnx + 1) {div} 2)"
            f" + ((mxx - mnx + 1) {div} 8) AS qx_lo,"
            f" mnx + {jx} * ((mxx - mnx + 1) {div} 2)"
            f" + ((mxx - mnx + 1) {div} 8)"
            f" + ((mxx - mnx + 1) {div} 8) AS qx_hi,"
            f" mny + {jy} * ((mxy - mny + 1) {div} 2)"
            f" + ((mxy - mny + 1) {div} 8) AS qy_lo,"
            f" mny + {jy} * ((mxy - mny + 1) {div} 2)"
            f" + ((mxy - mny + 1) {div} 8)"
            f" + ((mxy - mny + 1) {div} 8) AS qy_hi"
            " FROM b"
        )
    return " UNION ALL ".join(rows)


def _z2_oracle() -> str:
    e = _z2_exprs(duck=True)
    return f"""
    WITH b AS (
      SELECT CAST(min(o_custkey) AS BIGINT) AS mnx,
             CAST(max(o_custkey) AS BIGINT) AS mxx,
             min(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS mny,
             max(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS mxy
      FROM orders),
    assigned AS (
      SELECT 'morton' AS layout,
             {_z2_morton(e['bx'], e['by'])} AS grp,
             {e['x']} AS x, {e['y']} AS y
      FROM orders, b
      UNION ALL
      SELECT 'linear_x', {e['lin']} AS grp, {e['x']}, {e['y']}
      FROM orders, b),
    buckets AS (
      SELECT layout, grp,
             CAST(min(x) AS BIGINT) AS bminx,
             CAST(max(x) AS BIGINT) AS bmaxx,
             CAST(min(y) AS BIGINT) AS bminy,
             CAST(max(y) AS BIGINT) AS bmaxy,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM assigned GROUP BY 1, 2),
    boxes AS ({_z2_boxes(duck=True)}),
    scored AS (
      SELECT bk.layout, bx.box_id, bk.n_rows,
             CASE WHEN bk.bmaxx < bx.qx_lo OR bk.bminx > bx.qx_hi
                    OR bk.bmaxy < bx.qy_lo OR bk.bminy > bx.qy_hi
                  THEN 1 ELSE 0 END AS pruned
      FROM buckets bk CROSS JOIN boxes bx)
    SELECT layout, box_id,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(pruned) AS BIGINT) AS buckets_pruned,
           CAST(sum(n_rows) AS BIGINT) AS rows_total,
           CAST(sum(CASE WHEN pruned = 1 THEN n_rows ELSE 0 END)
                AS BIGINT) AS rows_skipped
    FROM scored
    GROUP BY layout, box_id
    ORDER BY layout, box_id
    """


@query("maintenance_zorder_pruning_2d", oracle=_z2_oracle())
def maintenance_zorder_pruning_2d(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Z-ORDER vs LINEAR-SORT PRUNING on 2-D box predicates — the
    advisory that answers the question maintenance_rowgroup_pruning_sim
    leaves open (it shows single-column clustering wins for
    single-column predicates; THIS op shows why multi-column
    workloads need Morton interleaving): orders is bucketed 256 ways
    under (a) a Morton curve over (o_custkey, price-cents) — 4 bits
    per dimension interleaved by an 8-term exact-integer closed form
    — and (b) a 256-bucket linear sort on o_custkey alone. A 4-box
    panel (each box 1/8 x 1/8 of the joint domain) is then scored
    against per-bucket zone maps of BOTH columns: the Morton layout
    bounds both dimensions per bucket and prunes ~all non-overlapping
    cells; the linear layout bounds only x — every surviving x-slice
    bucket spans the full y domain, so ~1/8 of the table is scanned
    to serve a 1/64-area box. The row pair is the quantitative
    z-order case (Delta/Iceberg OPTIMIZE ZORDER BY).

    Parity: bucket ids (Morton interleave, rank-div formulas with
    least() clamps), box corners, and prune decisions are all exact
    BIGINT arithmetic; price cents via the asymmetric money pair
    (Spark +0.5 cast / DuckDB round — CLAUDE.md rule); both engines
    derive zone maps from data, and the mirrored-logic risk is
    covered by a plain-Python recompute pytest (round-9 rule).

    Shape at 100 TB: the bucket zone-map build is one
    map-side-combinable aggregate over the fact scan; the panel is a
    512-bucket x 4-box broadcast cross join — bounded by the layout.
    The physical rewrite this simulates is the same one-off range
    shuffle as maintenance_rowgroup_pruning_sim's clustered copy."""
    e = _z2_exprs(duck=False)
    o = table(spark, sf_dir, "orders")
    b = _z2_domain(spark, sf_dir)
    b.createOrReplaceTempView("z2_domain")
    base = o.crossJoin(F.broadcast(b))
    assigned = base.selectExpr(
        "'morton' AS layout",
        f"{_z2_morton(e['bx'], e['by'])} AS grp",
        f"{e['x']} AS x",
        f"{e['y']} AS y",
    ).unionByName(
        base.selectExpr(
            "'linear_x' AS layout",
            f"{e['lin']} AS grp",
            f"{e['x']} AS x",
            f"{e['y']} AS y",
        )
    )
    buckets = assigned.groupBy("layout", "grp").agg(
        F.min("x").cast("bigint").alias("bminx"),
        F.max("x").cast("bigint").alias("bmaxx"),
        F.min("y").cast("bigint").alias("bminy"),
        F.max("y").cast("bigint").alias("bmaxy"),
        F.count("*").cast("bigint").alias("n_rows"),
    )
    boxes = spark.sql(
        _z2_boxes(duck=False).replace("FROM b", "FROM z2_domain")
    )
    pruned = F.expr(
        "CASE WHEN bmaxx < qx_lo OR bminx > qx_hi"
        " OR bmaxy < qy_lo OR bminy > qy_hi THEN 1 ELSE 0 END"
    )
    return (
        buckets.crossJoin(F.broadcast(boxes))
        .select("layout", "box_id", "n_rows", pruned.alias("pruned"))
        .groupBy("layout", "box_id")
        .agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            F.sum("pruned").cast("bigint").alias("buckets_pruned"),
            F.sum("n_rows").cast("bigint").alias("rows_total"),
            F.sum(F.expr("CASE WHEN pruned = 1 THEN n_rows ELSE 0 END"))
            .cast("bigint")
            .alias("rows_skipped"),
        )
        .orderBy("layout", "box_id")
    )


# ---------------------------------------------------------------------------
# agg_logistic_newton
# ---------------------------------------------------------------------------

_LGN_T = 4  # Fisher-scoring iterations (betas move < 1e-6 by step 4)


def _lgn_user_sql(duck: bool) -> str:
    """Per-user label/features; identical arithmetic text both
    engines (x scales are /64 — an exact power-of-two division)."""
    return """
      SELECT CASE WHEN np >= 12 THEN 1 ELSE 0 END AS y,
             CAST(nv AS DOUBLE) / 64 AS x1,
             CAST(nc AS DOUBLE) / 64 AS x2
      FROM (
        SELECT user_id,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS np,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 AS nv,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS nc
        FROM events GROUP BY user_id) g
    """


def _lgn_link_exprs(b0: str, b1: str, b2: str) -> dict:
    """Shared per-row link expressions given beta SQL references: the
    ALGEBRAIC sigmoid p = 0.5 + eta/(2(1+|eta|)) and its derivative
    w = 0.5/(1+|eta|)^2 — division/abs only, so the per-row values
    are bit-identical on both engines (no exp(), no libm)."""
    eta = f"({b0} + {b1} * x1 + {b2} * x2)"
    d = f"(1 + abs({eta}))"
    return {
        "eta": eta,
        "p": f"(0.5 + {eta} / (2 * {d}))",
        "w": f"(0.5 / ({d} * {d}))",
    }


_LGN_TERMS = [
    ("g0", "(CAST(y AS DOUBLE) - {p})"),
    ("g1", "((CAST(y AS DOUBLE) - {p}) * x1)"),
    ("g2", "((CAST(y AS DOUBLE) - {p}) * x2)"),
    ("h00", "{w}"),
    ("h01", "({w} * x1)"),
    ("h02", "({w} * x2)"),
    ("h11", "({w} * x1 * x1)"),
    ("h12", "({w} * x1 * x2)"),
    ("h22", "({w} * x2 * x2)"),
]


def _lgn_term_selects(b0: str, b1: str, b2: str) -> list:
    e = _lgn_link_exprs(b0, b1, b2)
    return [
        f"CAST(round({tpl.format(**e)}, 9) AS DECIMAL(38,9)) AS t_{nm}"
        for nm, tpl in _LGN_TERMS
    ]


def _lgn_solve_selects(b0: str, b1: str, b2: str) -> list:
    """Cramer 3x3 solve over the DOUBLE casts of the decimal sums —
    one fixed literal expression chain per determinant, identical
    text both engines; new betas are round(9) decimals."""
    ref = {nm: f"CAST(s_{nm} AS DOUBLE)" for nm, _ in _LGN_TERMS}
    a, b, c = ref["h00"], ref["h01"], ref["h02"]
    d, e, f_ = ref["h11"], ref["h12"], ref["h22"]
    g0, g1, g2 = ref["g0"], ref["g1"], ref["g2"]
    det = (
        f"({a} * ({d} * {f_} - {e} * {e})"
        f" - {b} * ({b} * {f_} - {e} * {c})"
        f" + {c} * ({b} * {e} - {d} * {c}))"
    )
    det0 = (
        f"({g0} * ({d} * {f_} - {e} * {e})"
        f" - {b} * ({g1} * {f_} - {e} * {g2})"
        f" + {c} * ({g1} * {e} - {d} * {g2}))"
    )
    det1 = (
        f"({a} * ({g1} * {f_} - {e} * {g2})"
        f" - {g0} * ({b} * {f_} - {e} * {c})"
        f" + {c} * ({b} * {g2} - {g1} * {c}))"
    )
    det2 = (
        f"({a} * ({d} * {g2} - {g1} * {e})"
        f" - {b} * ({b} * {g2} - {g1} * {c})"
        f" + {g0} * ({b} * {e} - {d} * {c}))"
    )
    return [
        f"CAST(round({b0} + {det0} / {det}, 9) AS DECIMAL(38,9)) AS b0",
        f"CAST(round({b1} + {det1} / {det}, 9) AS DECIMAL(38,9)) AS b1",
        f"CAST(round({b2} + {det2} / {det}, 9) AS DECIMAL(38,9)) AS b2",
        f"{det} AS det",
    ]


def _lgn_correct_expr(b0: str, b1: str, b2: str) -> str:
    e = _lgn_link_exprs(b0, b1, b2)
    return (
        "CAST(sum(CASE WHEN (CASE WHEN"
        f" {e['eta']} >= 0 THEN 1 ELSE 0 END) = y"
        " THEN 1 ELSE 0 END) AS BIGINT)"
    )


@session_artifact
def _lgn_fit(spark: SparkSession, sf_dir: str) -> tuple:
    """Session-cached (users_ckpt, per-iteration beta strings): the
    fit machinery shared by agg_logistic_newton and the downstream
    model-evaluation ops (AUC). Caching the collected betas makes
    rebuilding the output DataFrame pure plan-build (the round-13
    localCheckpoint-in-op lesson: never redo driver actions per
    build)."""
    ev = table(spark, sf_dir, "events")
    users = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN event_type = 'purchase' THEN 1"
                    " ELSE 0 END"
                )
            ).alias("np"),
            F.sum(
                F.expr("CASE WHEN event_type = 'view' THEN 1 ELSE 0 END")
            ).alias("nv"),
            F.sum(
                F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END")
            ).alias("nc"),
        )
        .selectExpr(
            "CASE WHEN np >= 12 THEN 1 ELSE 0 END AS y",
            "CAST(nv AS DOUBLE) / 64 AS x1",
            "CAST(nc AS DOUBLE) / 64 AS x2",
        )
        .localCheckpoint()
    )
    betas = [("0.0", "0.0", "0.0")]
    cur = betas[0]
    for _ in range(_LGN_T):
        bref = [f"CAST({b} AS DOUBLE)" for b in cur]
        terms = users.selectExpr(*_lgn_term_selects(*bref))
        sums = terms.agg(
            *[F.sum(f"t_{nm}").alias(f"s_{nm}") for nm, _ in _LGN_TERMS]
        )
        row = sums.selectExpr(*_lgn_solve_selects(*bref)).first()
        if row["det"] == 0.0:
            raise ValueError("logistic_newton: singular information matrix")
        cur = tuple(f"{row[c]:.9f}" for c in ("b0", "b1", "b2"))
        betas.append(cur)
    return users, betas


def _lgn_cte_chain() -> list:
    """The oracle-side fit: WITH-parts for u, s0..s{T} (MATERIALIZED)
    — shared by agg_logistic_newton's oracle and the downstream
    model-eval oracles so both engines derive the SAME betas."""
    parts = [
        f"WITH u AS MATERIALIZED ({_lgn_user_sql(duck=True)})",
        "s0 AS MATERIALIZED (SELECT"
        " CAST(0 AS DECIMAL(38,9)) AS b0,"
        " CAST(0 AS DECIMAL(38,9)) AS b1,"
        " CAST(0 AS DECIMAL(38,9)) AS b2)",
    ]
    for i in range(1, _LGN_T + 1):
        bref = [f"CAST(s{i-1}.b{j} AS DOUBLE)" for j in range(3)]
        terms = ", ".join(_lgn_term_selects(*bref))
        sums = ", ".join(
            f"sum(t_{nm}) AS s_{nm}" for nm, _ in _LGN_TERMS
        )
        solve = ", ".join(_lgn_solve_selects(*bref)[:3])
        parts.append(f"t{i} AS (SELECT {terms} FROM u, s{i-1})")
        parts.append(f"a{i} AS (SELECT {sums} FROM t{i})")
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT {solve} FROM a{i}, s{i-1})"
        )
    return parts


def _lgn_oracle() -> str:
    parts = _lgn_cte_chain()
    outs = []
    for i in range(_LGN_T + 1):
        bref = [f"CAST(s{i}.b{j} AS DOUBLE)" for j in range(3)]
        cexp = _lgn_correct_expr(*bref)
        outs.append(
            f"SELECT CAST({i} AS BIGINT) AS iter,"
            f" CAST(round(s{i}.b0, 6) AS DOUBLE) AS b0,"
            f" CAST(round(s{i}.b1, 6) AS DOUBLE) AS b1,"
            f" CAST(round(s{i}.b2, 6) AS DOUBLE) AS b2,"
            f" {cexp} AS n_correct,"
            " CAST(count(*) AS BIGINT) AS n_users"
            f" FROM u, s{i} GROUP BY s{i}.b0, s{i}.b1, s{i}.b2"
        )
    return (
        ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(outs)
        + "\nORDER BY iter"
    )


@query("agg_logistic_newton", oracle=_lgn_oracle())
def agg_logistic_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED GLM TRAINING — Fisher-scoring (Newton/IRLS) fit of
    a binary adopter model (>= 12 purchases, the round-10 rule that
    splits fixture users ~68/32 at every sf) on per-user view/click
    rates, the one model-TRAINING op the engine lacked
    (vec_knn_classify infers, vec_kmeans_lloyd clusters; nothing
    fitted supervised coefficients). Each of the 4 unrolled
    iterations is the textbook distributed GLM step a 100 TB trainer
    runs: ONE scan computing the 9 sufficient statistics X'(y-p) and
    X'WX as map-side-combinable sums, a driver-side (here in-plan)
    3x3 Cramer solve, betas rebroadcast into the next pass — the
    same shape as agg_ols_regression's one-shot solve, iterated.

    Full cross-engine parity WITHOUT a shared libm: the link is the
    ALGEBRAIC sigmoid p = 0.5 + eta/(2(1+|eta|)) (the 'fast
    sigmoid'; division and abs are correctly-rounded IEEE ops, so
    per-row p and w = 0.5/(1+|eta|)^2 are bit-identical on both
    engines — the trick that makes an ITERATIVE fit verifiable where
    exp() would drift per-ulp and compound). Per-user terms quantize
    round(9) -> DECIMAL(38,9) before the unordered sums (the
    PageRank recipe); the solve runs on DOUBLE casts of the exact
    decimal sums in one shared expression text; new betas round(9)
    back into DECIMAL. Features scale by /64 (exact power-of-two).
    The oracle steps the identical recursion as chained MATERIALIZED
    CTEs; accuracy rows use the link's monotonicity (p >= 0.5 iff
    eta >= 0) so n_correct is pure integer comparison.

    Output: one row per iteration 0..4 with round(6) betas,
    n_correct at those betas, and n_users — the convergence trace.
    Signal is weak by fixture construction (counts are random), so
    accuracy hovers near the base rate; the op demonstrates the
    distributed fit mechanics, not the fixture's predictability.

    Shape at 100 TB: each iteration is one groupBy-free aggregate
    over the user grain (itself one shuffled pre-aggregate of
    events); state between iterations is 3 numbers. The per-user
    frame is checkpointed once and reused across all 4 iterations +
    5 accuracy branches (bounded-intermediate rule); collected betas
    are session-cached so warm rebuilds are pure plan-build."""
    users, betas = _lgn_fit(spark, sf_dir)

    outs = []
    for i, (b0, b1, b2) in enumerate(betas):
        bref = [f"CAST({b} AS DOUBLE)" for b in (b0, b1, b2)]
        outs.append(
            users.agg(
                F.expr(f"CAST({i} AS BIGINT)").alias("iter"),
                F.expr(
                    f"CAST(round(CAST({b0} AS DECIMAL(38,9)), 6)"
                    " AS DOUBLE)"
                ).alias("b0"),
                F.expr(
                    f"CAST(round(CAST({b1} AS DECIMAL(38,9)), 6)"
                    " AS DOUBLE)"
                ).alias("b1"),
                F.expr(
                    f"CAST(round(CAST({b2} AS DECIMAL(38,9)), 6)"
                    " AS DOUBLE)"
                ).alias("b2"),
                F.expr(_lgn_correct_expr(*bref)).alias("n_correct"),
                F.expr("CAST(count(*) AS BIGINT)").alias("n_users"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.orderBy("iter")


# ---------------------------------------------------------------------------
# sample_kcenter_greedy
# ---------------------------------------------------------------------------

_KCG_K = 8  # seeds
_KCG_D = 64  # embedding dim


@session_artifact
def _kcg_picks(spark: SparkSession, sf_dir: str) -> list:
    """The farthest-first seeds as (seed_rank, vec_id, d2_covered, emb)
    tuples, picked once per session (k driver actions)."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    first = emb.orderBy("vec_id").limit(1).collect()[0]
    picks = [
        (1, int(first["vec_id"]), 0.0,
         [float(x) for x in first["embedding"]])
    ]
    for t in range(2, _KCG_K + 1):
        dcols = [
            F.expr(_kcg_dist_spark("embedding", p[3])).alias(f"d_{j}")
            for j, p in enumerate(picks)
        ]
        scored = emb.select("vec_id", "embedding", *dcols)
        dmin = (
            "least(" + ", ".join(f"d_{j}" for j in range(len(picks))) + ")"
            if len(picks) > 1
            else "d_0"
        )
        row = (
            scored.selectExpr(
                "vec_id", "embedding", f"round({dmin}, 6) AS dmin"
            )
            .orderBy(F.col("dmin").desc(), F.col("vec_id"))
            .limit(1)
            .collect()[0]
        )
        picks.append(
            (t, int(row["vec_id"]), float(row["dmin"]),
             [float(x) for x in row["embedding"]])
        )
    return picks


def _kcg_dist_duck(erow: str, srow: str) -> str:
    """Unrolled 64-term squared-L2 chain (DuckDB side): per-element
    CAST to DOUBLE then one left-assoc sum — the identical shape the
    Spark side renders with seed LITERALS, so every distance is
    bit-exact across engines."""
    terms = [
        f"(CAST(list_extract({erow}, {i + 1}) AS DOUBLE)"
        f" - CAST(list_extract({srow}, {i + 1}) AS DOUBLE))"
        f" * (CAST(list_extract({erow}, {i + 1}) AS DOUBLE)"
        f" - CAST(list_extract({srow}, {i + 1}) AS DOUBLE))"
        for i in range(_KCG_D)
    ]
    return "(" + " + ".join(terms) + ")"


def _kcg_dist_spark(col: str, seed: list) -> str:
    terms = []
    for i, x in enumerate(seed):
        lit = f"{float(x)!r}D"
        terms.append(
            f"(CAST(element_at({col}, {i + 1}) AS DOUBLE) - {lit})"
            f" * (CAST(element_at({col}, {i + 1}) AS DOUBLE) - {lit})"
        )
    return "(" + " + ".join(terms) + ")"


def _kcg_oracle() -> str:
    dist = _kcg_dist_duck("e.embedding", "s.embedding")
    parts = [
        "WITH emb AS MATERIALIZED"
        " (SELECT vec_id, embedding FROM embeddings)",
        "seeds1 AS MATERIALIZED (SELECT CAST(1 AS BIGINT) AS seed_rank,"
        " vec_id, embedding, CAST(0.0 AS DOUBLE) AS d2_covered"
        " FROM emb ORDER BY vec_id LIMIT 1)",
    ]
    for t in range(2, _KCG_K + 1):
        parts.append(
            f"d{t - 1} AS (SELECT e.vec_id,"
            f" round(min({dist}), 6) AS dmin"
            f" FROM emb e, seeds{t - 1} s GROUP BY e.vec_id)"
        )
        parts.append(
            f"pick{t} AS MATERIALIZED (SELECT CAST({t} AS BIGINT)"
            " AS seed_rank, e.vec_id, e.embedding, d.dmin AS d2_covered"
            f" FROM emb e JOIN d{t - 1} d ON e.vec_id = d.vec_id"
            " ORDER BY d.dmin DESC, e.vec_id LIMIT 1)"
        )
        parts.append(
            f"seeds{t} AS MATERIALIZED (SELECT * FROM seeds{t - 1}"
            f" UNION ALL SELECT * FROM pick{t})"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT seed_rank, vec_id, d2_covered FROM seeds{_KCG_K}"
        + "\nORDER BY seed_rank"
    )


@query("sample_kcenter_greedy", oracle=_kcg_oracle())
def sample_kcenter_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CENTER GREEDY (farthest-first traversal) CORESET SEEDING —
    the deterministic 2-approximation to the k-center cover and the
    standard coreset/active-learning selector, filling the sampling
    family's diversity gap (sample_* ops draw by hash/weight/strata;
    nothing selected points to COVER the embedding space, and
    vec_kmeans_lloyd REFINES pivoted centroids rather than seeding
    them). Seed 1 is the min vec_id; each of the 7 further rounds
    picks the point FARTHEST from its nearest chosen seed (squared
    L2), i.e. argmax_i min_s ||x_i - x_s||^2 — whose selection value
    is exactly the covering radius the next seed removes.

    Parity is the ANN-family recipe end-to-end: every distance is an
    unrolled 64-term squared-diff chain in IDENTICAL text (seed
    vectors embedded as exact float literals on the Spark side,
    list_extract casts on the DuckDB side — float->double promotion
    is exact, the chains are left-assoc both engines, so distances
    are bit-identical); the argmax ranks on round(dmin, 6) with
    vec_id as tie-break (TakeOrderedAndProject, never a global
    window); the oracle replays the same 8 rounds as chained
    MATERIALIZED CTEs, so the driver hash match proves pick-by-pick
    agreement of the whole traversal.

    Shape at 100 TB: k scans, each a map-only projection (<= k
    distance columns + least()) feeding a TakeOrdered(1) — no
    shuffle beyond the k-row reduce; seed vectors broadcast as plan
    literals (they are k x 64 floats). For k beyond ~32 the
    per-round plan-literal growth argues for the mini-batch variant
    (sample a candidate pool per round); documented, not needed at
    k=8. Picks are session-cached so warm rebuilds are pure
    plan-build."""
    picks = _kcg_picks(spark, sf_dir)
    return spark.createDataFrame(
        [(r, v, d) for r, v, d, _ in picks],
        schema="seed_rank bigint, vec_id bigint, d2_covered double",
    ).orderBy("seed_rank")


# ---------------------------------------------------------------------------
# agg_decision_stump
# ---------------------------------------------------------------------------


def _stump_sql(duck: bool) -> str:
    """Engine-shared stump search; only integer division spelling
    differs (none needed — all arithmetic is products/sums) and the
    unpivot syntax (stack vs UNION ALL)."""
    if duck:
        unpivot = """
      SELECT 'views' AS feature, nv AS x, y FROM u
      UNION ALL
      SELECT 'clicks' AS feature, nc AS x, y FROM u"""
    else:
        unpivot = (
            "SELECT stack(2, 'views', nv, 'clicks', nc)"
            " AS (feature, x), y FROM u"
        )
    return f"""
    WITH u AS (
      SELECT CASE WHEN np >= 12 THEN 1 ELSE 0 END AS y,
             CAST(nv AS BIGINT) AS nv, CAST(nc AS BIGINT) AS nc
      FROM (
        SELECT user_id,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS np,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 AS nv,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS nc
        FROM events GROUP BY user_id) g),
    fx AS ({unpivot}),
    vals AS (
      SELECT feature, x AS threshold,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(y) AS BIGINT) AS pos
      FROM fx GROUP BY feature, x),
    cum AS (
      SELECT feature, threshold,
             sum(cnt) OVER w AS n_left,
             sum(pos) OVER w AS pos_left,
             sum(cnt) OVER (PARTITION BY feature) AS n_all,
             sum(pos) OVER (PARTITION BY feature) AS pos_all
      FROM vals
      WINDOW w AS (PARTITION BY feature ORDER BY threshold
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    split AS (
      SELECT feature, threshold,
             CAST(n_left AS BIGINT) AS n_left,
             CAST(pos_left AS BIGINT) AS pos_left,
             CAST(n_all - n_left AS BIGINT) AS n_right,
             CAST(pos_all - pos_left AS BIGINT) AS pos_right
      FROM cum WHERE n_all - n_left > 0),
    scored AS (
      SELECT feature, threshold, n_left, pos_left, n_right, pos_right,
             (n_left * n_left - pos_left * pos_left
              - (n_left - pos_left) * (n_left - pos_left)) * n_right
             + (n_right * n_right - pos_right * pos_right
                - (n_right - pos_right) * (n_right - pos_right))
               * n_left AS cost_num,
             n_left * n_right AS cost_den
      FROM split)
    SELECT feature, threshold, n_left, pos_left, n_right, pos_right,
           round(CAST(cost_num AS DOUBLE) / CAST(cost_den AS DOUBLE), 6)
             AS gini_cost,
           CAST(row_number() OVER (
             ORDER BY CAST(cost_num AS DOUBLE) / CAST(cost_den AS DOUBLE),
                      feature, threshold) AS BIGINT) AS sel_rank
    FROM scored
    ORDER BY feature, threshold
    """


@query("agg_decision_stump", oracle=_stump_sql(duck=True))
def agg_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECISION-STUMP TRAINING (exact Gini split search) — the
    integer-exact counterpart to agg_logistic_newton, completing the
    supervised-training pair: for each feature (per-user view and
    click counts) and each threshold in its VALUE DOMAIN (~25
    distinct counts — the round-7 value-domain collapse, so the
    search grid is bounded by the domain, not the row count), the
    weighted Gini impurity of the x <= t split against the >= 12-
    purchase adopter label.

    Parity needs no quantization argument anywhere: with integer
    class counts, weighted impurity is the exact rational
    (aL*nR + aR*nL) / (nL*nR) where aX = nX^2 - posX^2 - negX^2 —
    every term BIGINT; the only float is the final ranking/display
    division of two exact integers < 2^53, which is one correctly-
    rounded IEEE op and therefore identical on both engines
    (the round-9 dyadic-p-value principle, extended to ratios of
    exact ints). sel_rank = 1 marks the trained stump; the rank
    window runs over the bounded threshold panel.

    Shape at 100 TB: one shuffled user-grain pre-aggregate of
    events, one groupBy per (feature, value) onto the bounded
    domain, cumulative sums over that domain (partitioned by
    feature), and a ~50-row scoring panel — the classic distributed
    split-finder every tree library (XGBoost's exact mode) runs per
    node."""
    ev = table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events")
    return spark.sql(_stump_sql(duck=False))


# ---------------------------------------------------------------------------
# agg_model_auc_exact
# ---------------------------------------------------------------------------


def _auc_oracle() -> str:
    bref = [f"CAST(s{_LGN_T}.b{j} AS DOUBLE)" for j in range(3)]
    score = f"({bref[0]} + {bref[1]} * x1 + {bref[2]} * x2)"
    parts = _lgn_cte_chain()
    parts.append(
        f"sc AS (SELECT {score} AS s, y FROM u, s{_LGN_T})"
    )
    parts.append(
        "g AS (SELECT s, CAST(sum(y) AS BIGINT) AS c1,"
        " CAST(count(*) - sum(y) AS BIGINT) AS c0"
        " FROM sc GROUP BY s)"
    )
    parts.append(
        "w AS (SELECT s, c1, c0,"
        " CAST(coalesce(sum(c0) OVER (ORDER BY s"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
        " AS BIGINT) AS cum0 FROM g)"
    )
    return (
        ",\n".join(parts)
        + """
    SELECT CAST(sum(c1) AS BIGINT) AS n_pos,
           CAST(sum(c0) AS BIGINT) AS n_neg,
           CAST(sum(c1 * (2 * cum0 + c0)) AS BIGINT) AS u2,
           round(CAST(sum(c1 * (2 * cum0 + c0)) AS DOUBLE)
                 / CAST(2 * sum(c1) * sum(c0) AS DOUBLE), 6) AS auc
    FROM w
    """
    )


@query("agg_model_auc_exact", oracle=_auc_oracle())
def agg_model_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC OF THE TRAINED GLM — the evaluation half of the
    round-14 training pair, composing agg_logistic_newton's fitted
    betas (shared _lgn_fit cache / oracle CTE chain, the
    rag_prf-style pass-2-from-pass-1 pattern) with the repo's exact
    rank machinery: AUC == U/(n1*n0) (the Mann-Whitney identity),
    computed tie-correctly WITHOUT per-row ranks by collapsing users
    to distinct SCORE values (bounded by the feature-count support
    grid, not the row count — the round-7 value-domain rule) and
    folding 2U = sum c1*(2*cum_less_0 + c0) in exact BIGINTs, the
    midrank doubling trick from agg_mann_whitney_u applied to model
    scores.

    Parity: scores eta = b0 + b1*x1 + b2*x2 are bit-identical on
    both engines (literal-embedded round(9) decimal betas, exact /64
    features, one shared expression shape); grouping and ordering by
    a bit-identical double is deterministic; everything after is
    integer arithmetic with ONE final division of exact ints < 2^53
    (correctly rounded, identical both engines — the decision-stump
    principle). u2 is emitted so the driver hash pins the exact
    integer statistic, not just the rounded ratio.

    Shape at 100 TB: one user-grain pre-aggregate, one groupBy onto
    the bounded score domain, one cumulative window over that
    domain, a 1-row reduce. The betas arrive as plan literals from
    the session-cached fit."""
    users, betas = _lgn_fit(spark, sf_dir)
    b0, b1, b2 = betas[-1]
    bref = [f"CAST({b} AS DOUBLE)" for b in (b0, b1, b2)]
    score = f"({bref[0]} + {bref[1]} * x1 + {bref[2]} * x2)"
    g = (
        users.selectExpr(f"{score} AS s", "y")
        .groupBy("s")
        .agg(
            F.expr("CAST(sum(y) AS BIGINT)").alias("c1"),
            F.expr("CAST(count(*) - sum(y) AS BIGINT)").alias("c0"),
        )
    )
    w = g.selectExpr(
        "s",
        "c1",
        "c0",
        "CAST(coalesce(sum(c0) OVER (ORDER BY s"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
        " AS BIGINT) AS cum0",
    )
    return w.agg(
        F.expr("CAST(sum(c1) AS BIGINT)").alias("n_pos"),
        F.expr("CAST(sum(c0) AS BIGINT)").alias("n_neg"),
        F.expr(
            "CAST(sum(c1 * (2 * cum0 + c0)) AS BIGINT)"
        ).alias("u2"),
        F.expr(
            "round(CAST(sum(c1 * (2 * cum0 + c0)) AS DOUBLE)"
            " / CAST(2 * sum(c1) * sum(c0) AS DOUBLE), 6)"
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# agg_calibration_bins
# ---------------------------------------------------------------------------

_CAL_BINS = 5


def _cal_oracle() -> str:
    bref = [f"CAST(s{_LGN_T}.b{j} AS DOUBLE)" for j in range(3)]
    e = _lgn_link_exprs(*bref)
    parts = _lgn_cte_chain()
    parts.append(
        f"sc AS (SELECT {e['p']} AS p, y FROM u, s{_LGN_T})"
    )
    parts.append(
        "b AS (SELECT CAST(floor(p * 5) AS BIGINT) AS bin,"
        " CAST(round(p, 9) AS DECIMAL(38,9)) AS pq, y FROM sc)"
    )
    return (
        ",\n".join(parts)
        + """
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(y) AS BIGINT) AS n_pos,
           round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS rate,
           round(CAST(sum(pq) AS DOUBLE) / count(*), 6) AS mean_p,
           round(abs(CAST(sum(y) AS DOUBLE) / count(*)
                     - CAST(sum(pq) AS DOUBLE) / count(*)), 6) AS gap
    FROM b
    GROUP BY bin
    ORDER BY bin
    """
    )


@query("agg_calibration_bins", oracle=_cal_oracle())
def agg_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION AUDIT OF THE TRAINED GLM — the third leg of the
    round-14 model triple (train: agg_logistic_newton, discriminate:
    agg_model_auc_exact, calibrate: THIS): users bin by their
    predicted adoption probability (5 equal-width bins of the
    algebraic-sigmoid p) and each bin reports observed adopter rate
    vs mean predicted p — the reliability-diagram rows whose
    n-weighted gap sum is expected calibration error.

    Parity: p is bit-identical on both engines (the _lgn_link_exprs
    shared shape — division/abs only, betas as round(9) decimal
    literals), so floor(p*5) binning is deterministic; per-user p
    quantizes round(9) -> DECIMAL before the unordered bin sum (the
    module rule); rate/mean/gap are shared-shape divisions of exact
    quantities with one round(6). The oracle re-derives the SAME
    betas through the MATERIALIZED fit CTE chain.

    Shape at 100 TB: one user-grain pass, one groupBy onto <= 5
    bins; betas are plan literals from the session-cached fit."""
    users, betas = _lgn_fit(spark, sf_dir)
    bref = [f"CAST({b} AS DOUBLE)" for b in betas[-1]]
    e = _lgn_link_exprs(*bref)
    b = users.selectExpr(
        f"CAST(floor({e['p']} * 5) AS BIGINT) AS bin",
        f"CAST(round({e['p']}, 9) AS DECIMAL(38,9)) AS pq",
        "y",
    )
    return (
        b.groupBy("bin")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_users"),
            F.expr("CAST(sum(y) AS BIGINT)").alias("n_pos"),
            F.expr(
                "round(CAST(sum(y) AS DOUBLE) / count(*), 6)"
            ).alias("rate"),
            F.expr(
                "round(CAST(sum(pq) AS DOUBLE) / count(*), 6)"
            ).alias("mean_p"),
            F.expr(
                "round(abs(CAST(sum(y) AS DOUBLE) / count(*)"
                " - CAST(sum(pq) AS DOUBLE) / count(*)), 6)"
            ).alias("gap"),
        )
        .orderBy("bin")
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
