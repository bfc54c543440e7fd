"""Extension family, wave 3 (round 4): BPE-style pre-tokenization,
connected components, linear-interpolation gap fill, Bloom-prefiltered
decontamination, and the ORC source/sink roundtrip.

North-star additions (no reference counterpart): the remaining
primitives a 100 TB training-data pipeline leans on — a *tokenizer-
faithful* token counter (whitespace counts under-estimate BPE sequence
length by 1.3-1.5×, which breaks packing budgets), graph components
over an entity graph, time-series gap repair, and the Bloom-filter
probe that keeps a decontamination join from shuffling the corpus.
"""

from __future__ import annotations

from ..checkpoint import durable_checkpoint
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ._registry import QUERIES, _ctx, _dsum6, _register  # noqa: F401
from .q_extensions2 import _g01_edges_sql

# GPT-2-style pre-tokenizer, lookahead-free so ONE pattern runs
# identically under Java regex (Spark) and RE2 (DuckDB): contraction
# suffixes, space-prefixed letter runs, space-prefixed digit runs,
# space-prefixed punctuation runs, whitespace runs. Explicit
# whitespace classes (never ``\\s``: Java includes U+000B, RE2 does
# not). Both engines match leftmost-first over the same alternation
# order — verified token-for-token on unicode + contraction + mixed
# alphanumeric inputs.
_BPE_PRETOKEN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\r\f\p{L}\p{N}]+|[ \t\n\r\f]+"
_WS_TOKEN = r"[^ \t\n\r\f]+"


@_register(
    "t15_bpe_pretokenize",
    f"""
    WITH c AS (
      SELECT doc_id,
             len(regexp_extract_all(text,
                 '{_BPE_PRETOKEN.replace("'", "''")}')) AS n_bpe,
             len(regexp_extract_all(text, '{_WS_TOKEN}')) AS n_ws,
             length(text) AS n_chars
      FROM documents)
    SELECT doc_id, n_bpe, n_ws, n_chars,
           CASE WHEN n_bpe > 0
                THEN CAST(n_chars * 1000000 // n_bpe AS BIGINT)
           END AS chars_per_bpe_micro
    FROM c
    """,
    survey="north-star text: BPE-style pre-tokenization counts (the "
    "SURVEY token-counting brief's 'whitespace + a BPE-ish regex') — a "
    "GPT-2-shape pre-tokenizer regex (contractions / space-prefixed "
    "letter, digit, punctuation runs / whitespace runs) counted per doc "
    "next to the whitespace count, plus the chars-per-token compression "
    "proxy as an EXACT integer micro-ratio (integer floor-division — no "
    "float anywhere, bit-portable across engines). Plan: one scan, "
    "row-local regexp_extract_all + size, codegen end to end, zero "
    "shuffles — at 100 TB this is scan-bound and embarrassingly "
    "parallel, the cheapest possible pre-pass for packing budgets.",
    note="The regex is lookahead-free so the SAME pattern string drives "
    "Java regex and RE2; alternation order is the GPT-2 one, both "
    "engines match leftmost-first.",
)
def t15_bpe_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BPE-ish pre-token count vs whitespace count.

    chars_per_bpe_micro = floor(n_chars * 1e6 / n_bpe): the
    compression-ratio proxy as an exact integer (float ratio rounding
    is engine-dependent at ties; integer floor-division is not).
    """
    (docs,) = _ctx(spark, sf_dir, "documents")
    n_bpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_PRETOKEN), 0))
    n_ws = F.size(F.regexp_extract_all("text", F.lit(_WS_TOKEN), 0))
    return docs.select(
        "doc_id",
        n_bpe.alias("n_bpe"),
        n_ws.alias("n_ws"),
        F.length("text").alias("n_chars"),
    ).withColumn(
        "chars_per_bpe_micro",
        F.when(
            F.col("n_bpe") > 0,
            F.expr("CAST(n_chars * 1000000L DIV n_bpe AS BIGINT)"),
        ),
    )


@_register(
    "g02_connected_components",
    """
    WITH {edges},
    l0 AS (SELECT v, v AS lbl FROM verts),
    n1 AS (SELECT g.dst AS v, min(l0.lbl) AS nl
           FROM g JOIN l0 ON l0.v = g.src GROUP BY g.dst),
    l1 AS (SELECT l0.v, least(l0.lbl, n1.nl) AS lbl
           FROM l0 JOIN n1 ON n1.v = l0.v),
    n2 AS (SELECT g.dst AS v, min(l1.lbl) AS nl
           FROM g JOIN l1 ON l1.v = g.src GROUP BY g.dst),
    l2 AS (SELECT l1.v, least(l1.lbl, n2.nl) AS lbl
           FROM l1 JOIN n2 ON n2.v = l1.v),
    n3 AS (SELECT g.dst AS v, min(l2.lbl) AS nl
           FROM g JOIN l2 ON l2.v = g.src GROUP BY g.dst),
    l3 AS (SELECT l2.v, least(l2.lbl, n3.nl) AS lbl
           FROM l2 JOIN n3 ON n3.v = l2.v)
    SELECT v AS node, lbl AS comp FROM l3
    """.format(edges=_g01_edges_sql()),
    survey="extension: connected components by synchronous hash-min label "
    "propagation (3 unrolled rounds) over the symmetrized customer–"
    "supplier trade graph — the graph-family sibling of g01 and the "
    "general-graph form of d06's near-dup closure. Each round is one "
    "edges⋈labels shuffle + a min-aggregate + a label join; all-integer "
    "state, so the result is bit-deterministic on any engine/partition "
    "layout. The edge list is persisted once and reused per round. At "
    "100 TB the per-round cost is one hash exchange of the edge list; "
    "round count grows with component diameter (log D with path-doubling "
    "variants; the synchronous form is the portable baseline).",
    note="3 rounds is the oracle-pinned iteration count, matching the "
    "unrolled SQL; convergence for larger diameters is the s05-style "
    "driver loop (iterate until label sum stops changing).",
)
def g02_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-min connected components (3 synchronous rounds, labels
    initialized to the vertex id) on the symmetrized trade graph: the
    near-dup closure's edge build and round
    (``functions.dedup._sym_edges`` / ``_hash_min_round``) for a fixed
    3 rounds as one lazy plan, without ``near_dup_groups``' per-round
    checkpoint and fixpoint collect."""
    from ..functions.dedup import _hash_min_round, _sym_edges

    li, orders = _ctx(spark, sf_dir, "lineitem", "orders")
    raw = li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
    g = _sym_edges(raw, "o_custkey", "l_suppkey", self_loops=True).persist()
    labels = None
    for _ in range(3):
        labels = _hash_min_round(g, labels)
    out = durable_checkpoint(
        labels.select(F.col("v").alias("node"), F.col("lbl").alias("comp"))
    )
    g.unpersist()
    return out


@_register(
    "e14_linear_interp",
    """
    WITH bounds AS (
      SELECT user_id, date_trunc('day', min(ts)) AS d0,
             date_trunc('day', max(ts)) AS d1
      FROM events GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS step
      FROM bounds),
    daily AS (
      SELECT user_id, step, day_value FROM (
        SELECT user_id, date_trunc('day', ts) AS step, value AS day_value,
               row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1),
    j AS (
      SELECT g.user_id, epoch_us(g.step) AS step_us, d.day_value
      FROM grid g LEFT JOIN daily d
        ON g.user_id = d.user_id AND g.step = d.step),
    w AS (
      SELECT user_id, step_us, day_value,
             last_value(day_value IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY step_us
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN day_value IS NOT NULL THEN step_us END
                        IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY step_us
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pu,
             first_value(day_value IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY step_us
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN day_value IS NOT NULL THEN step_us END
                         IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY step_us
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nu
      FROM j)
    SELECT user_id, step_us,
           CASE WHEN nu = pu THEN pv
                ELSE pv + (nv - pv) * (CAST(step_us - pu AS DOUBLE)
                                       / CAST(nu - pu AS DOUBLE))
           END AS value_interp
    FROM w
    """,
    survey="extension: regular-grid resample + LINEAR interpolation gap "
    "fill (e04's forward-fill sibling — the other half of the pandas "
    "interpolate/resample surface). Per-key daily grid via sequence() "
    "explode, last-observation-per-day, then prev/next anchor windows "
    "(last/first IGNORE NULLS) and the time-weighted blend "
    "pv + (nv-pv)·(t-pu)/(nu-pu). Grid endpoints are observation days by "
    "construction, so anchors never miss. One shuffle per key for the "
    "windows; the blend is a fixed IEEE op chain (sub/div/mul/add in "
    "declared order), bit-identical across engines with NO rounding "
    "step. At 100 TB identical to e04: grid rows generated per key, "
    "never a global calendar cross join.",
)
def e14_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-user grid with linear interpolation between the
    nearest observed values (time-weighted by µs offsets)."""
    (ev,) = _ctx(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    rn = F.row_number().over(
        Window.partitionBy("user_id", day.alias("_d")).orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
    )
    # last observation of each (user, day)
    daily = (
        ev.select("user_id", day.alias("step"), F.col("value").alias("day_value"),
                  "ts", "event_id")
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("user_id", "step", "day_value")
    )
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("step"),
    )
    j = grid.join(daily, ["user_id", "step"], "left").select(
        "user_id", F.unix_micros("step").alias("step_us"), "day_value"
    )
    back = (
        Window.partitionBy("user_id")
        .orderBy("step_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("step_us")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_us = F.when(F.col("day_value").isNotNull(), F.col("step_us"))
    w = j.select(
        "user_id",
        "step_us",
        F.last("day_value", ignorenulls=True).over(back).alias("pv"),
        F.last(obs_us, ignorenulls=True).over(back).alias("pu"),
        F.first("day_value", ignorenulls=True).over(fwd).alias("nv"),
        F.first(obs_us, ignorenulls=True).over(fwd).alias("nu"),
    )
    # fixed IEEE op chain, mirrored operator-for-operator in the oracle
    blend = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("step_us") - F.col("pu")).cast("double")
        / (F.col("nu") - F.col("pu")).cast("double")
    )
    return w.select(
        "user_id",
        "step_us",
        F.when(F.col("nu") == F.col("pu"), F.col("pv"))
        .otherwise(blend)
        .alias("value_interp"),
    )


@_register(
    "d16_bloom_decontaminate",
    """
    WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
                  FROM documents),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           FROM toks, range(1, 4096) t(i) WHERE i + 2 <= len(w)),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
    tr AS (SELECT * FROM sh WHERE doc_id % 50 <> 0),
    per AS (
      SELECT tr.doc_id, count(*) AS n_sh,
             count(*) FILTER (WHERE bench.shingle IS NOT NULL) AS n_hit
      FROM tr LEFT JOIN bench ON tr.shingle = bench.shingle
      GROUP BY tr.doc_id)
    SELECT doc_id, n_sh, n_hit,
           n_hit * 1.0 / n_sh >= 0.05 AS contaminated
    FROM per
    """,
    survey="north-star curation: d15's decontamination re-planned through "
    "a BLOOM-FILTER prefilter — the physical strategy Spark's own runtime "
    "row-level filtering uses, built explicitly: the benchmark shingle "
    "set is hashed k=3 ways into an m-bit array (driver-side bit_or "
    "aggregate, sized from the observed key count), shipped as an ARRAY "
    "LITERAL into the probe predicate, and every corpus shingle is "
    "screened ROW-LOCALLY (three xxhash64 + element_at bit tests — no "
    "join, no shuffle) before the exact residual join confirms survivors "
    "(Bloom has no false negatives, so the final result is exactly "
    "d15's). At 100 TB the corpus-side cost is a codegen'd predicate in "
    "the scan stage; only the ~fpp fraction of candidate shingles ever "
    "reaches the exact join. d12/d13's lesson applied to joins: screen "
    "cheaply first, pay the exchange only for survivors.",
    note="Oracle = d15's exact SQL (the Bloom pass is result-invisible "
    "by construction). Bloom build is a bounded driver collect of m/64 "
    "int64 words (same bounded-broadcast discipline as s02's IVF "
    "centroids); m scales with the benchmark key count, never the "
    "corpus.",
)
def d16_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered benchmark decontamination (exact result).

    Build: k=3 xxhash64 positions per benchmark shingle into m bits,
    OR-folded per 64-bit word by a bit_or aggregate, collected into a
    python list (m/64 longs). Probe: the corpus predicate tests all
    three bits against the array LITERAL — row-local, fused into the
    scan stage — then the surviving shingles take the exact broadcast
    join d15 applies to everything.
    """
    from ..functions.dedup import shingles

    (docs,) = _ctx(spark, sf_dir, "documents")
    sh = shingles(docs, "text", n=3)
    bench = sh.filter(F.col("doc_id") % 50 == 0).select("shingle").distinct()

    n_keys = bench.count()  # driver-side: benchmark set is the SMALL side
    m_bits = 64
    while m_bits < 16 * max(n_keys, 1):  # ~16 bits/key → fpp ≈ 0.1% at k=3
        m_bits *= 2
    n_words = m_bits // 64

    # seeds as BIGINT on both sides: xxhash64 hashes by input TYPE, so
    # an INT seed here and a `1L` seed in the probe expr would bucket
    # differently and silently drop every true hit
    positions = [
        F.pmod(F.xxhash64(F.lit(seed).cast("long"), F.col("shingle")), F.lit(m_bits))
        for seed in (1, 2, 3)
    ]
    word_rows = (
        bench.select(F.explode(F.array(*positions)).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("int").alias("w"),
            (F.col("pos") % 64).cast("int").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), b)")).alias("bits"))
        .collect()
    )
    words = [0] * n_words
    for r in word_rows:
        words[r["w"]] = r["bits"]

    # the bloom words ride along as a constant array column so the bit
    # tests can reference it from expr (shift amounts are per-row
    # columns, which the python shiftleft/shiftright API doesn't take)
    train = sh.filter(F.col("doc_id") % 50 != 0).withColumn(
        "_bloom", F.lit(words).cast("array<bigint>")
    )
    cond = F.lit(True)
    for seed in (1, 2, 3):
        bit_set = F.expr(
            f"shiftright(element_at(_bloom, "
            f"CAST(pmod(xxhash64({seed}L, shingle), {m_bits}L) DIV 64 AS INT) + 1), "
            f"CAST(pmod(xxhash64({seed}L, shingle), {m_bits}L) % 64 AS INT)) & 1 = 1"
        )
        cond = cond & bit_set
    cand = train.filter(cond).drop("_bloom")
    train = train.drop("_bloom")

    bench_hit = bench.withColumn("_hit", F.lit(1))
    hits = (
        cand.join(F.broadcast(bench_hit), "shingle", "left")
        .filter(F.col("_hit").isNotNull())
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    per = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    out = per.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_sh",
        F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
        (
            F.coalesce(F.col("n_hit"), F.lit(0)) * F.lit(1.0) / F.col("n_sh")
            >= F.lit(0.05)
        ).alias("contaminated"),
    )
    return out


@_register(
    "src04_orc_roundtrip",
    """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6)))
                AS DOUBLE) AS sum_value,
           min(epoch_us(ts)) AS min_ts_us, max(epoch_us(ts)) AS max_ts_us
    FROM events GROUP BY event_type
    """,
    survey="S-family extension: ORC source/sink — events written to ORC "
    "(Spark's second first-class columnar format; nanosecond-capable "
    "timestamps, so the µs instants roundtrip exactly) and re-read with "
    "an explicit schema, aggregated identically to the parquet path; "
    "equality against the parquet oracle proves the columnar roundtrip "
    "end to end. Predicate pushdown and column pruning apply to the ORC "
    "scan exactly as to parquet.",
)
def src04_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events to ORC, read back with explicit schema, rollup.
    The oracle reads the original parquet — equality proves the ORC
    roundtrip is lossless (timestamps to the microsecond)."""
    import tempfile

    (ev,) = _ctx(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="src04_") + "/events_orc"
    ev.write.mode("overwrite").orc(path)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    back = spark.read.schema(schema).orc(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum6(F.col("value")).alias("sum_value"),
        F.min(F.unix_micros(F.col("ts"))).alias("min_ts_us"),
        F.max(F.unix_micros(F.col("ts"))).alias("max_ts_us"),
    )


@_register(
    "m06_ppm_resize",
    """
    WITH d AS (SELECT doc_id, 3 + doc_id % 6 AS w, 2 + doc_id % 4 AS h
               FROM documents),
    px AS (SELECT d.doc_id, d.w, d.h, r.r, c.c, ch.ch,
                  3 * ((r.r * d.h // 2) * d.w + (c.c * d.w // 2)) + ch.ch AS k
           FROM d,
                LATERAL (SELECT unnest(generate_series(0, 1)) AS r) r,
                LATERAL (SELECT unnest(generate_series(0, 1)) AS c) c,
                LATERAL (SELECT unnest(generate_series(0, 2)) AS ch) ch),
    v AS (SELECT doc_id, w, h, r, c, ch,
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                    || CAST(k AS VARCHAR)), 1, 1)) - 1) * 16
               + (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                    || CAST(k AS VARCHAR)), 2, 1)) - 1) AS val
          FROM px),
    agg AS (SELECT doc_id, w, h,
                   sum(CASE WHEN ch = 0 THEN 299 * val
                            WHEN ch = 1 THEN 587 * val
                            ELSE 114 * val END) AS lsum
            FROM v GROUP BY doc_id, w, h)
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           2 AS out_w, 2 AS out_h,
           CAST(lsum AS DOUBLE) / (255000.0 * 2 * 2) AS mean_luma_resized
    FROM agg
    """,
    survey="north-star multimodal: REAL image RESIZE — nearest-neighbor "
    "downsample to 2×2 over the same deterministic P3 payloads as m05, "
    "parsed by the real PPM codec (shared parse_ppm) under Arrow-batched "
    "mapInPandas; source pixel (r·h div 2, c·w div 2) is integer floor "
    "sampling, so the oracle re-derives the exact sampled offsets and "
    "the integer Rec.601 luma sum from the md5 byte stream without ever "
    "building the image. Completes the brief's decode / feature-extract "
    "/ RESIZE / frame-sample quartet with zero stubs. At 100 TB: "
    "scan-bound, shuffle-free, scales with payload bytes (a PIL NEAREST "
    "resize drops into resize_ppm_nn's slot unchanged).",
    note="out (2,2) pinned so every generated size (w∈[3,8], h∈[2,5]) "
    "is a genuine downsample.",
)
def m06_ppm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generate real P3 images per doc_id, resize nearest-neighbor to
    2×2 with the real codec, emit dims + resized mean luma."""
    from ..functions.multimodal import resize_images, with_ppm_payload

    (docs,) = _ctx(spark, sf_dir, "documents")
    return resize_images(with_ppm_payload(docs.select("doc_id")), out_w=2, out_h=2)


@_register(
    "t16_linear_classifier",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents),
    feats AS (
      SELECT doc_id,
             (('0x' || substr(md5(tok), 1, 8))::BIGINT) % 4096 AS feat_idx
      FROM toks),
    scored AS (
      SELECT doc_id,
             (('0x' || substr(md5('w|' || CAST(feat_idx AS VARCHAR)), 1, 8))
                ::BIGINT) % 2001 - 1000 AS w_milli
      FROM feats)
    SELECT doc_id, count(*) AS n_tok,
           CAST(sum(w_milli) AS BIGINT) AS score_milli,
           sum(w_milli) > 0 AS positive
    FROM scored GROUP BY doc_id
    """,
    survey="north-star curation: linear quality-classifier INFERENCE "
    "(the fastText-style filter stage of C4/CCNet/FineWeb pipelines) — "
    "tokens hash into a 4096-dim feature space (t11's hashing trick), "
    "each dimension carries a fixed milli-unit integer weight, and the "
    "document score is the sparse dot product folded inside ONE "
    "map-side-combined aggregate; the sign is the keep/drop verdict. "
    "Plan: scan → explode → hash → sum, no vocabulary table, no "
    "broadcast, no shuffle beyond the per-doc aggregate — at 100 TB "
    "this is the cheapest model-inference shape there is. Weights here "
    "are md5-derived from the dimension index (a deterministic stand-in "
    "with the exact cost profile); a TRAINED weight vector drops in as "
    "a 4096-element literal/broadcast array indexed by feat_idx with "
    "the plan unchanged. Integer milli-unit accumulation end to end — "
    "bit-portable, no float anywhere.",
    note="score_milli = Σ w_milli(feat(tok)) over token OCCURRENCES "
    "(not distinct tokens) — inference counts every occurrence, like "
    "the mean-of-embeddings fastText formulation scaled by n_tok.",
)
def t16_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear classifier scoring per document (integer
    milli-unit weights derived from the feature index)."""
    from ..functions.sampling import hash_bucket
    from ..functions.text import tokenize

    (docs,) = _ctx(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
    feat = hash_bucket(F.col("tok"), n_buckets=4096)
    w_milli = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("w|"), feat.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2001
        - 1000
    )
    return (
        toks.select("doc_id", w_milli.alias("w_milli"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("w_milli").alias("score_milli"),
            (F.sum("w_milli") > 0).alias("positive"),
        )
    )


@_register(
    "st09_stream_decode",
    """
    WITH d AS (SELECT doc_id, 3 + doc_id % 6 AS w, 2 + doc_id % 4 AS h
               FROM documents),
    s AS (SELECT d.doc_id, d.w, d.h, u.k,
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(d.doc_id AS VARCHAR) || ':'
                                    || CAST(u.k AS VARCHAR)), 1, 1)) - 1) * 16
               + (strpos('0123456789abcdef',
                         substr(md5(CAST(d.doc_id AS VARCHAR) || ':'
                                    || CAST(u.k AS VARCHAR)), 2, 1)) - 1) AS v
          FROM d, LATERAL (SELECT unnest(generate_series(0, 3*d.w*d.h - 1))
                           AS k) u),
    agg AS (SELECT doc_id, w, h,
                   sum(CASE WHEN k % 3 = 0 THEN 299 * v
                            WHEN k % 3 = 1 THEN 587 * v
                            ELSE 114 * v END) AS lsum,
                   sum(CASE WHEN v < 10 THEN 1
                            WHEN v < 100 THEN 2
                            ELSE 3 END) AS digits,
                   count(*) AS n3
            FROM s GROUP BY doc_id, w, h),
    per AS (
      SELECT doc_id, CAST(w AS INT) AS width,
             3 + 6 + length(CAST(doc_id AS VARCHAR))
               + length(CAST(w AS VARCHAR)) + 1
               + length(CAST(h AS VARCHAR)) + 1
               + 4 + digits + n3 AS n_bytes,
             CAST(lsum AS DOUBLE) / (255000.0 * w * h) AS mean_luma
      FROM agg)
    SELECT width, count(*) AS n_docs,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           CAST(sum(CAST(round(mean_luma, 6) AS DECIMAL(38,6)))
                AS DOUBLE) AS luma_sum6
    FROM per GROUP BY width
    """,
    survey="streaming × multimodal: the m05 decode DAG run as a REAL "
    "Structured Streaming pipeline — documents replayed through the "
    "file-stream source, P3 payloads generated and parsed by the real "
    "PPM codec via mapInPandas ON THE STREAM (stateless Arrow-batched "
    "python stage per micro-batch), then a stateful per-width aggregate "
    "in complete mode to an availableNow memory sink. Pins the one "
    "composition the streaming family didn't cover: python/Arrow "
    "stages inside a streaming micro-batch plan. At 100 TB this is the "
    "continuous-ingest multimodal shape: decode cost rides the stream "
    "(amortized per arriving file), only width-bucket partials cross "
    "the exchange, state is one row per width.",
    note="Aggregates are integer (count, byte totals) plus the "
    "addend-rounded _dsum6 luma sum — batching-invariant, so the "
    "stream's micro-batch boundaries cannot shift the result.",
)
def st09_stream_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming decode: stream documents → generate+parse real P3
    payloads (mapInPandas on the stream) → per-width rollup, run to
    completion with availableNow into a memory sink."""
    from ..functions.multimodal import decode_images, decode_ppm, with_ppm_payload
    from ..streaming.ingest import read_table_stream
    from ..streaming.run import run_stream_to_memory

    docs = read_table_stream(spark, sf_dir, "documents").select("doc_id")
    decoded = decode_images(with_ppm_payload(docs), decoder=decode_ppm)
    rolled = decoded.groupBy("width").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_bytes").cast("long")).alias("total_bytes"),
        _dsum6(F.col("mean_luma")).alias("luma_sum6"),
    )
    return run_stream_to_memory(rolled, output_mode="complete")
