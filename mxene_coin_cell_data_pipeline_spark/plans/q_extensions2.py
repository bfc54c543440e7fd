"""Extensions2 queries (split from the former monolithic plans/queries.py).

Importing this module REGISTERS its queries (oracle SQL inline) into
the shared registry — plans/queries.py imports every family module in
the original definition order, so driver-facing ordering is unchanged.
"""

from __future__ import annotations

from ..checkpoint import durable_checkpoint
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources.tables import load_table
from ._registry import QUERIES, _ctx, _dsum6, _register

# =====================================================================
# Nation-pair volume (Q7), PageRank iterations, sketch bound check,
# one-pass table profile
# =====================================================================


@_register(
    "q07_nation_pair_volume",
    """
    SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
           year(l.l_shipdate) AS ship_year,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount), 6)
                         AS DECIMAL(38,6))) AS DOUBLE) AS volume,
           count(*) AS n
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
    JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
    WHERE n1.n_name < n2.n_name
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """,
    survey="J-family extension: bidirectional nation-pair trade volume "
    "(TPC-H Q7 shape) — the SAME dimension broadcast twice under two "
    "aliases (customer-side and supplier-side nation), an asymmetric "
    "pair filter, and a year rollup; one fact shuffle, four broadcasts",
)
def q07_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trade volume between nation pairs by ship year. nation enters
    the plan twice (aliased) — both copies broadcast; customer and
    supplier broadcast too, so the only shuffle is lineitem⋈orders and
    the final pair-year aggregate."""
    li, orders, cust, sup, nat = _ctx(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    n1 = nat.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("cust_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("c_nationkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("s_nationkey"))
        .filter(F.col("cust_nation") < F.col("supp_nation"))
    )
    return j.groupBy(
        "cust_nation", "supp_nation", F.year("l_shipdate").alias("ship_year")
    ).agg(
        _dsum6(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("volume"),
        F.count(F.lit(1)).alias("n"),
    )


_G01_ITER = 3
_G01_D = 0.85
_G01_BASE = 0.15  # teleport mass; keep as a literal (see agg comment)


def _g01_edges_sql() -> str:
    # MATERIALIZED pins one evaluation of the symmetrized edge list:
    # g01/g02/g03 reference `g` up to 6 times and DuckDB's default CTE
    # inlining recomputed the 120M-row distinct per reference at 100x,
    # spilling past the disk budget (observed: g02 oracle crash in the
    # 100x sweep). Same result set, bounded oracle memory.
    return """
    edges AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
    back AS (SELECT dst AS src, src AS dst FROM edges),
    g AS MATERIALIZED (
      SELECT src, dst FROM edges UNION SELECT src, dst FROM back),
    deg AS (SELECT src, count(*) AS outdeg FROM g GROUP BY src),
    verts AS (SELECT DISTINCT src AS v FROM g)
    """


@_register(
    "g01_pagerank",
    """
    WITH {edges},
    r0 AS (SELECT v, 1.0 AS pr FROM verts),
    r1 AS (
      SELECT g.dst AS v,
             0.15 + 0.85 * (CAST(sum(CAST(floor(r0.pr / deg.outdeg
               * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1000000000000.0) AS pr
      FROM g JOIN r0 ON r0.v = g.src JOIN deg ON deg.src = g.src
      GROUP BY g.dst),
    r2 AS (
      SELECT g.dst AS v,
             0.15 + 0.85 * (CAST(sum(CAST(floor(r1.pr / deg.outdeg
               * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1000000000000.0) AS pr
      FROM g JOIN r1 ON r1.v = g.src JOIN deg ON deg.src = g.src
      GROUP BY g.dst),
    r3 AS (
      SELECT g.dst AS v,
             0.15 + 0.85 * (CAST(sum(CAST(floor(r2.pr / deg.outdeg
               * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1000000000000.0) AS pr
      FROM g JOIN r2 ON r2.v = g.src JOIN deg ON deg.src = g.src
      GROUP BY g.dst)
    SELECT v AS node, pr FROM r3
    """.format(edges=_g01_edges_sql()),
    survey="extension: iterative graph algorithm (3 unrolled PageRank "
    "rounds over the customer–supplier trade graph) — each round is one "
    "edges⋈ranks shuffle + a dst aggregate; degree table computed once and "
    "re-joined (broadcast when vertices are small); the undirected graph "
    "is symmetrized via union, distinct-deduped. The driver loop "
    "materializes nothing — the whole 3-round DAG is one lazy plan "
    "(checkpoint/persist every k rounds is the long-chain production knob, "
    "same as s05's k-means loop)",
)
def g01_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (d=0.85, 3 synchronous rounds, init pr=1) on the
    symmetrized customer→supplier graph derived from lineitem⋈orders.
    Every vertex has outdeg ≥ 1 by construction (edges define the
    vertex set), so no dangling-mass term is needed and float op order
    matches the SQL exactly: sum over incoming (pr/outdeg)."""
    from ..functions.dedup import _sym_edges

    li, orders = _ctx(spark, sf_dir, "lineitem", "orders")
    raw = li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
    g = _sym_edges(raw, "o_custkey", "l_suppkey")
    # Degrees via a window over src, not groupBy+join: the window runs
    # on the same src partitioning as the dedup above (no exchange of
    # its own) and drops the separate aggregate + join stages (measured
    # 3.8s → 2.5s steady-state at sf0.1). Skew note: all edges of one
    # vertex land in one task either way (that is the degree
    # semantics); a web-scale supernode would need the standard
    # two-level degree sum before this point.
    ge = g.withColumn(
        "outdeg", F.count(F.lit(1)).over(Window.partitionBy("src"))
    ).persist()
    # The edge+degree table feeds every iteration: without persist the
    # lazy DAG re-derives lineitem⋈orders + distinct once PER ROUND
    # (measured 2× total time at sf0.1). Persisting the reused iteration
    # input is the standard iterative-algorithm materialization point —
    # same knob as checkpointing every k rounds on long chains.
    # Vertex init reuses ge's src-partitioning: the distinct needs no
    # new exchange over the persisted partitions.
    ranks = ge.select(F.col("src").alias("v")).distinct().withColumn("pr", F.lit(1.0))
    for _ in range(_G01_ITER):
        ranks = (
            ge.join(ranks, ge["src"] == ranks["v"])
            .groupBy(F.col("dst").alias("_v"))
            .agg(
                (
                    # literal 0.15, NOT python `1 - 0.85` (which is
                    # 0.15000000000000002 — one ulp off the SQL literal)
                    F.lit(_G01_BASE)
                    + F.lit(_G01_D)
                    # pure-double fixed-point: quantize each pr/outdeg
                    # contribution to integer pico-units with
                    # floor(x*1e12 + 0.5) — multiply, add, floor are all
                    # IEEE-deterministic, so both engines derive the
                    # SAME int64 (unlike round()/decimal casts, whose
                    # tie-breaking differs across engines) — then the
                    # integer sum is exact and associative: bit-stable
                    # under any partition layout, any engine
                    * (
                        F.sum(
                            F.floor(
                                F.col("pr") / F.col("outdeg") * 1e12 + 0.5
                            ).cast("long")
                        ).cast("double")
                        / 1e12
                    )
                ).alias("pr")
            )
            .withColumnRenamed("_v", "v")
        )
    out = ranks.select(F.col("v").alias("node"), "pr")
    # materialize the final ranks, then release the iteration input —
    # otherwise the persist pins executor storage for the rest of the
    # session (it taxed every later query in the r02 bench)
    out = durable_checkpoint(out)
    ge.unpersist()
    return out


@_register(
    "a20_approx_distinct_bound",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_exact, TRUE AS approx_ok
    FROM events GROUP BY event_type
    """,
    survey="A-family extension: sketch-based approximate distinct "
    "(HyperLogLog++ approx_count_distinct) validated against the exact "
    "count in the same aggregate — the query RETURNS the exact count plus "
    "a bound check (relative error < 3·rsd), so the oracle stays "
    "hash-comparable while the sketch path is genuinely executed; at "
    "100 TB the sketch is the only mergeable constant-memory distinct",
)
def a20_approx_distinct_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct vs exact distinct per event_type. approx is
    deterministic (hash-based, no RNG); the emitted boolean asserts
    |approx − exact| < 3·rsd·exact with rsd=0.05."""
    (ev,) = _ctx(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("n_exact"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.05).cast("double")
                - F.count_distinct(F.col("user_id")).cast("double")
            )
            < F.lit(0.15) * F.count_distinct(F.col("user_id")).cast("double")
        ).alias("approx_ok"),
    )


@_register(
    "a26_hll_sketch_merge",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_exact, TRUE AS merge_ok
    FROM events GROUP BY event_type
    """,
    survey="A-family completion: MERGEABLE sketch rollup (Datasketches "
    "HllSketch via hll_sketch_agg / hll_union_agg) — per-day partial "
    "sketches are union-merged into the per-type estimate WITHOUT "
    "rescanning raw events; the emitted boolean validates the two-level "
    "merge against the exact distinct, so the oracle stays "
    "hash-comparable while the sketch build+merge path genuinely "
    "executes. This is the incremental-rollup shape at 100 TB: persist "
    "the daily sketch bytes (O(2^lgK) each), answer any date-range "
    "distinct by unioning stored partials — raw-data rescans and exact "
    "distinct shuffles both drop out of the steady state",
    note="a20 validates the one-shot HLL++ estimate; a26 validates "
    "sketch MERGE associativity — partials built independently per day "
    "must union to (approximately) the direct estimate.",
)
def a26_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily HLL sketches per event_type, union-merged to a per-type
    distinct-user estimate, validated within 10% of the exact count
    (default lgConfigK=12 -> rsd ~1.6%; merge adds no bias). The daily
    sketch table is what a production pipeline would PERSIST — the
    merge query never touches raw events."""
    (ev,) = _ctx(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.hll_sketch_agg(F.col("user_id").cast("string")).alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"))).alias("est")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("n_exact")
    )
    return exact.join(F.broadcast(merged), "event_type").select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("est").cast("double") - F.col("n_exact").cast("double"))
            < F.lit(0.10) * F.col("n_exact").cast("double")
        ).alias("merge_ok"),
    )


@_register(
    "o10_table_profile",
    """
    WITH s AS (SELECT * FROM orders)
    SELECT 'o_orderkey' AS col, count(*) AS n,
           count(*) - count(o_orderkey) AS n_null,
           count(DISTINCT o_orderkey) AS n_distinct,
           min(o_orderkey)::DOUBLE AS min_v, max(o_orderkey)::DOUBLE AS max_v
    FROM s
    UNION ALL
    SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
           count(DISTINCT o_custkey),
           min(o_custkey)::DOUBLE, max(o_custkey)::DOUBLE FROM s
    UNION ALL
    SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           min(o_totalprice), max(o_totalprice) FROM s
    """,
    survey="extension: one-pass table profiling (per-column null count, "
    "distinct count, min/max envelope — the stats layer every lakehouse "
    "maintenance/data-quality loop runs) — all columns profiled in a "
    "SINGLE aggregate over one scan, then unpivoted to the long "
    "(column, stats) shape; never one scan per column",
)
def o10_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile three orders columns in one scan: the wide single-row
    aggregate computes every per-column stat at once (mergeable,
    map-side partial), and the long output shape comes from stacking
    the struct per column — the inverse-of-pivot trick (w07) applied
    to profiling."""
    (orders,) = _ctx(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__n_null"),
            F.count_distinct(F.col(c)).alias(f"{c}__n_distinct"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
        ]
    wide = orders.agg(*aggs)
    stacked = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(f"{c}__n").alias("n"),
                        F.col(f"{c}__n_null").alias("n_null"),
                        F.col(f"{c}__n_distinct").alias("n_distinct"),
                        F.col(f"{c}__min").alias("min_v"),
                        F.col(f"{c}__max").alias("max_v"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    )
    return stacked.select("p.*")


@_register(
    "e07_funnel",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id)
    SELECT v.user_id,
           epoch_us(v.t_view) AS view_us,
           epoch_us(c.t_click) AS click_us,
           epoch_us(p.t_purchase) AS purchase_us,
           epoch_us(p.t_purchase) - epoch_us(v.t_view) AS view_to_purchase_us
    FROM v LEFT JOIN c ON c.user_id = v.user_id
           LEFT JOIN p ON p.user_id = v.user_id
    """,
    survey="extension: ordered funnel analysis (first view → first click "
    "after it → first purchase after that, per user) — the SQL literal is "
    "three grouped self-joins; the Spark plan is three chained conditional "
    "window minima over ONE user_id partitioning (the exchange is planned "
    "once and reused — zero extra shuffles, no self-join rescans)",
)
def e07_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage timestamps + end-to-end latency per funnel user. Each
    stage's 'earliest event after the previous stage' is a conditional
    min window over the same user partition; rows collapse to one per
    user at the end. Users who never viewed are out (inner semantics on
    the first stage); later stages are NULL when unreached."""
    (ev,) = _ctx(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    us = F.unix_micros(F.col("ts"))
    s1 = ev.select(
        "user_id",
        "event_type",
        us.alias("ts_us"),
        F.min(F.when(F.col("event_type") == "view", us)).over(w).alias("view_us"),
    )
    s2 = s1.withColumn(
        "click_us",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts_us") > F.col("view_us")),
                F.col("ts_us"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "purchase_us",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts_us") > F.col("click_us")),
                F.col("ts_us"),
            )
        ).over(w),
    )
    return (
        s3.filter(F.col("view_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.first("view_us").alias("view_us"),
            F.first("click_us").alias("click_us"),
            F.first("purchase_us").alias("purchase_us"),
            (F.first("purchase_us") - F.first("view_us")).alias(
                "view_to_purchase_us"
            ),
        )
    )


@_register(
    "o11_compaction_bins",
    """
    WITH f AS (
      SELECT source, doc_id, n_chars,
             coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      FROM documents),
    b AS (
      SELECT source, doc_id, n_chars,
             CAST(floor(prior / 4000.0) AS BIGINT) AS bin_id
      FROM f)
    SELECT source, bin_id, count(*) AS n_files,
           CAST(sum(n_chars) AS BIGINT) AS bytes,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM b GROUP BY source, bin_id
    """,
    survey="extension: small-file compaction planning (the OPTIMIZE/"
    "bin-packing pass of lakehouse table maintenance) — files assigned to "
    "~target-size compaction groups by exclusive running size within each "
    "partition (floor(cumsum/target): deterministic, one window, no "
    "driver-side loop; true first-fit is sequential and gains little), "
    "emitting per-bin manifests a rewrite job would execute",
)
def o11_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan ~4000-char compaction bins per source over the documents
    'file listing'. One shuffle on source; the manifest (first/last
    doc, file count, total bytes) is exactly what the rewrite tasks
    consume."""
    (docs,) = _ctx(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum("n_chars").over(w), F.lit(0))
    return (
        docs.select(
            "source",
            "doc_id",
            "n_chars",
            F.floor(prior / F.lit(4000.0)).alias("bin_id"),
        )
        .groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_chars").alias("bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@_register(
    "d11_url_dedup",
    """
    WITH u AS (
      SELECT doc_id,
             doc_id // 4 AS base, doc_id % 4 AS v,
             'www.src' || (doc_id // 4 % 20)::VARCHAR || '.example.com' AS host
      FROM documents),
    raw AS (
      SELECT doc_id,
             CASE v
               WHEN 0 THEN 'https://' || host || '/doc/' || base::VARCHAR
               WHEN 1 THEN 'HTTPS://' || upper(host) || '/doc/' || base::VARCHAR
                           || '#sec2'
               WHEN 2 THEN 'https://' || host || ':443/doc/' || base::VARCHAR
                           || '?utm_source=feed'
               ELSE 'https://' || host || '/doc/' || base::VARCHAR || '/'
             END AS url
      FROM u),
    stripped AS (
      SELECT doc_id, url,
             regexp_replace(regexp_replace(url, '#.*$', '', 'g'),
                            '\\?utm_[a-z_]+=[^&#]*$', '', 'g') AS s
      FROM raw),
    canon AS (
      SELECT doc_id, url,
             regexp_replace(
               lower(regexp_extract(s, '^([A-Za-z]+://[^/]+)', 1)),
               ':443$', '')
             || substr(s, length(regexp_extract(s, '^([A-Za-z]+://[^/]+)', 1))
                          + 1) AS c3
      FROM stripped),
    fin AS (SELECT doc_id, url, regexp_replace(c3, '/$', '') AS canonical
            FROM canon)
    SELECT canonical, count(*) AS n_variants,
           count(DISTINCT url) AS n_raw_forms,
           min(doc_id) AS keeper
    FROM fin GROUP BY canonical
    """,
    survey="north-star dedup: URL canonicalization dedup (the crawl-"
    "pipeline pre-pass: strip fragment + utm tracking params, lowercase "
    "scheme/host, drop default port and trailing slash, then group by the "
    "canonical form) — RE2-compatible regexp chain (no lookahead), all "
    "codegen, one groupBy shuffle; the fixture derives four messy variants "
    "per logical URL so the collapse is non-vacuous",
)
def d11_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic messy URLs (case/port/fragment/tracking/slash variants)
    collapsed by functions.dedup.canonicalize_url."""
    from ..functions.dedup import canonicalize_url

    (docs,) = _ctx(spark, sf_dir, "documents")
    base = F.floor(F.col("doc_id") / 4).cast("long")
    v = F.col("doc_id") % 4
    host = F.concat(
        F.lit("www.src"), (base % 20).cast("string"), F.lit(".example.com")
    )
    b = base.cast("string")
    url = (
        F.when(v == 0, F.concat(F.lit("https://"), host, F.lit("/doc/"), b))
        .when(
            v == 1,
            F.concat(F.lit("HTTPS://"), F.upper(host), F.lit("/doc/"), b, F.lit("#sec2")),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("https://"), host, F.lit(":443/doc/"), b, F.lit("?utm_source=feed")
            ),
        )
        .otherwise(F.concat(F.lit("https://"), host, F.lit("/doc/"), b, F.lit("/")))
    )
    raw = docs.select("doc_id", url.alias("url"))
    return (
        raw.withColumn("canonical", canonicalize_url(F.col("url")))
        .groupBy("canonical")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.count_distinct(F.col("url")).alias("n_raw_forms"),
            F.min("doc_id").alias("keeper"),
        )
    )


