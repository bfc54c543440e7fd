"""Extension wave 13 — round 11 (second half):

- src07: the IVFADC index MATERIALIZED — s14's codes table written
  hive-partitioned by list_id and re-read through the probe filter, so
  "the probe becomes partition pruning" is a measured physical plan
  (PartitionFilters on the index scan), not a docstring claim
- s16: maximal-marginal-relevance diverse top-k (Carbonell &
  Goldstein, SIGIR 1998) — the diversity-aware selection pass real
  curation pipelines run after retrieval; at λ=1/2 the objective is
  already pure int64 on the cosine-nanos grid (rel − max_sim)
- o19: deterministic fractional epoch upsampling — the "repeat small
  high-quality sources ~2.7×" half of LLM mixture construction (o16
  covers the downsample half), realized with pure int64 hash
  thresholds so the emitted multiset is engine- and layout-stable
- o20 (wave 14): deterministic epoch shard shuffle — the dataloader
  shard-and-shuffle pass, per-epoch keyed-hash permutations
  materialized as ordered shards with the full permutation pinned by
  an integer order signature

Importing this module REGISTERS its queries (oracle SQL inline);
plans/queries.py imports it after q_extensions10.
"""

from __future__ import annotations

import os
import tempfile

from ..checkpoint import durable_checkpoint
from pyspark.sql import DataFrame, SparkSession, functions as F

from ._registry import _ctx, _register
from .q_extensions10 import ivfadc_oracle_sql

# ---------------------------------------------------------------------------
# src07: materialized IVF-PQ index, probed via partition pruning
# ---------------------------------------------------------------------------

_SRC07_KC, _SRC07_M, _SRC07_K = 8, 4, 4
_SRC07_NPROBE, _SRC07_TOPK = 3, 10


@_register(
    "src07_ivf_index_layout",
    ivfadc_oracle_sql(
        kc=_SRC07_KC,
        m=_SRC07_M,
        k=_SRC07_K,
        nprobe=_SRC07_NPROBE,
        topk=_SRC07_TOPK,
    ),
    survey="S-family scale completion: the IVFADC index as a WRITTEN "
    "LAYOUT (VERDICT r10 item 1's closing claim, made physical) — s14 "
    "proved the algorithm with the probe as an expression filter; "
    "this variant BUILDS the index (all kc=8 lists PQ-encoded, "
    "written partitionBy(list_id) as hive-layout parquet — the build "
    "cost a real index pays once) and SEARCHES it by re-reading with "
    "the nprobe=3 probe filter, which resolves as PartitionFilters on "
    "the index scan: non-probed list directories are never listed, "
    "let alone read (plan-pinned). This is exactly how a 100 TB "
    "deployment runs compressed ANN: the codes table is the index, "
    "list routing is the partition key, and every query prunes to "
    "nprobe/kc of the files. Results are identical to the fused form "
    "by construction, so the oracle is the same parameterized IVFADC "
    "SQL (the layout is invisible to relational semantics) — what "
    "changes, and what the plan pin verifies, is the access path.",
    note="Same dual int-grid recall audit as s14 (exact-L2 and "
    "exact-cosine top-10 flags). Constants kc=8/nprobe=3 differ from "
    "s14's kc=4/nprobe=2 so the two queries exercise genuinely "
    "different routings (finer lists, wider probe) — not a re-labeled "
    "copy of the same answer.",
)
def src07_ivf_index_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the PQ-codes index hive-partitioned by list_id, probe it
    through partition pruning, return the ADC top-10 with recall
    flags (see functions.similarity.ivfpq_residual_topk,
    materialize_dir path)."""
    from ..functions.similarity import ivfpq_residual_topk

    (emb,) = _ctx(spark, sf_dir, "embeddings")
    idx = os.path.join(tempfile.mkdtemp(prefix="src07_"), "ivf_index")
    return ivfpq_residual_topk(
        emb,
        query_vec_id=0,
        kc=_SRC07_KC,
        m=_SRC07_M,
        k=_SRC07_K,
        nprobe=_SRC07_NPROBE,
        topk=_SRC07_TOPK,
        materialize_dir=idx,
    )


# ---------------------------------------------------------------------------
# s16: maximal-marginal-relevance diverse top-k
# ---------------------------------------------------------------------------

_S16_QID, _S16_CAND, _S16_N = 0, 30, 10


def _s16_oracle() -> str:
    """Unrolled n-round MMR selection: pick t = argmax over the
    remaining candidates of rel_nanos − max_sim_nanos (λ=1/2 — the
    common ×2 cancels in an argmax, so the objective is already pure
    int64), then fold the pick's similarity into every survivor's
    running max. Each round is two tiny CTEs over the 30-row candidate
    relation — the relational mirror of the engine's per-round max()
    update. Every c/p CTE is AS MATERIALIZED: each level references
    its predecessor twice (once through p_t, once directly), so
    DuckDB's default inlining would re-evaluate the chain 2^rounds
    times (the d12/m12 lesson — measured here as 29.6s of oracle time
    at sf0.001 before materialization, milliseconds after)."""

    def _cosn(a: str, b: str) -> str:
        return (
            f"CAST(round((list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})))) * 1e9) AS BIGINT)"
        )

    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        f"q AS (SELECT e AS qv FROM e WHERE vec_id = {_S16_QID})",
        "rel AS (SELECT e.vec_id, e.e,\n"
        f"             {_cosn('e.e', 'q.qv')} AS rel_nanos\n"
        f"      FROM e, q WHERE e.vec_id <> {_S16_QID})",
        "c0 AS MATERIALIZED (SELECT vec_id, e, rel_nanos,"
        " CAST(0 AS BIGINT) AS msim\n"
        f"       FROM rel ORDER BY rel_nanos DESC, vec_id LIMIT {_S16_CAND})",
    ]
    return _mmr_rounds_sql(ctes, _S16_N)


def _mmr_rounds_sql(prefix_ctes: list[str], n: int) -> str:
    """The unrolled MMR round CTEs + final trace select over an
    existing ``c0(vec_id, e, rel_nanos, msim)`` candidate CTE — shared
    by s16 (exact top-k candidates) and s17 (IVFADC-probed
    candidates); the s16 output is string-identity-pinned across this
    refactor."""

    def _cosn(a: str, b: str) -> str:
        return (
            f"CAST(round((list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})))) * 1e9) AS BIGINT)"
        )

    ctes = list(prefix_ctes)
    for t in range(1, n + 1):
        ctes.append(
            f"p{t} AS MATERIALIZED (SELECT * FROM c{t - 1}\n"
            f"        ORDER BY rel_nanos - msim DESC, vec_id LIMIT 1)"
        )
        if t < n:
            ctes.append(
                f"c{t} AS MATERIALIZED (SELECT c.vec_id, c.e, c.rel_nanos,\n"
                f"               greatest(c.msim, {_cosn('c.e', 'p.e')}) AS msim\n"
                f"        FROM c{t - 1} c, p{t} p WHERE c.vec_id <> p.vec_id)"
            )
    sel = "\n    UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS sel_rank, vec_id, rel_nanos,\n"
        f"           msim AS max_sim_nanos,\n"
        f"           rel_nanos - msim AS mmr_nanos FROM p{t}"
        for t in range(1, n + 1)
    )
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + "\n    "
        + sel
        + "\n    ORDER BY sel_rank\n    "
    )


@_register(
    "s16_mmr_diverse_topk",
    _s16_oracle(),
    survey="north-star curation completion: DIVERSE selection — "
    "maximal marginal relevance (Carbonell & Goldstein, SIGIR 1998) "
    "over the top-30 cosine candidates of query vec 0: round t picks "
    "argmax of λ·relevance − (1−λ)·max-similarity-to-already-selected "
    "(λ=1/2), so the 10-exemplar budget spreads across embedding "
    "modes instead of returning near-duplicates of one mode — the "
    "pass RAG/exemplar-curation pipelines run AFTER retrieval (s01/"
    "s13/s14/s15 rank; s16 diversifies). Tolerance-free by "
    "construction: relevance and pairwise similarity live on the "
    "round(·1e9) int64 cosine grid (sequential-fold dots, the s13/s14 "
    "discipline) and at λ=1/2 the objective is ALREADY pure integer "
    "(mmr_nanos = rel_nanos − max_sim_nanos; the common ×2 cancels in "
    "an argmax — a 2·rel−sim form is λ=2/3 and was rejected by its "
    "own fixture: at 2:1 weighting an exact clone of the top pick "
    "still beats every diverse candidate); ties break to the smaller "
    "vec_id everywhere. Scale: the only corpus-scale stage is the "
    "candidate top-k scan (TakeOrderedAndProject — at 100 TB the "
    "candidates come from the s14 index probe instead); the "
    "inherently sequential selection is driver arithmetic over the "
    "quota-seed-sized collected candidates (the s13/s14 seed/LUT "
    "class — a lazy per-round DataFrame loop was measured first: 35s "
    "of Catalyst recompiles for a 30-row selection), with one int of "
    "running-max state per survivor — never a pairwise matrix.",
    note="Output (sel_rank, vec_id, rel_nanos, max_sim_nanos, "
    "mmr_nanos) exposes the full selection trace, so the oracle "
    "re-proves WHY each pick won its round, not just which ids "
    "survived. Oracle CTEs are AS MATERIALIZED — each level is "
    "referenced twice, and default inlining re-evaluates the chain "
    "2^rounds times (measured 29.6s → ms at sf0.001).",
)
def s16_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diverse 10-of-30 selection trace for query vec 0 (see
    functions.similarity.mmr_diverse_topk)."""
    from ..functions.similarity import mmr_diverse_topk

    (emb,) = _ctx(spark, sf_dir, "embeddings")
    return mmr_diverse_topk(
        emb,
        query_vec_id=_S16_QID,
        n_candidates=_S16_CAND,
        n_select=_S16_N,
    )


# ---------------------------------------------------------------------------
# o19: deterministic fractional epoch upsampling
# ---------------------------------------------------------------------------

_O19_CAP = 4


@_register(
    "o19_epoch_upsample",
    f"""
    WITH cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_g
                 FROM documents GROUP BY lang),
    mx AS (SELECT max(n_g) AS m FROM cnt),
    fac AS (SELECT lang, n_g,
                   CASE WHEN m >= {_O19_CAP} * n_g
                        THEN CAST({_O19_CAP} AS BIGINT)
                        ELSE m // n_g END AS whole,
                   CASE WHEN m >= {_O19_CAP} * n_g THEN CAST(0 AS BIGINT)
                        ELSE ((m % n_g) * 4294967296) // n_g END AS thresh
            FROM cnt, mx),
    u AS (SELECT d.doc_id, d.lang,
                 ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                   AS u32
          FROM documents d),
    r AS (SELECT u.doc_id, u.lang,
                 f.whole + CASE WHEN u.u32 < f.thresh THEN 1 ELSE 0 END AS reps
          FROM u JOIN fac f USING (lang)),
    em AS (SELECT r.doc_id, r.lang, g.copy_idx
           FROM r, LATERAL (SELECT unnest(generate_series(1, r.reps))
                            AS copy_idx) g)
    SELECT f.lang, f.n_g AS n_before,
           f.whole AS whole_epochs, f.thresh AS extra_thresh,
           CAST(count(*) AS BIGINT) AS n_emitted,
           CAST(sum(em.doc_id) AS BIGINT) AS sum_ids,
           CAST(sum(em.doc_id * em.copy_idx) AS BIGINT) AS emit_sig
    FROM fac f JOIN em ON em.lang = f.lang
    GROUP BY f.lang, f.n_g, f.whole, f.thresh
    """,
    survey="north-star mixture completion: fractional EPOCH upsampling "
    "— o16 downsamples toward the rarest group; this is the other "
    "half of mixture construction (repeat small high-quality sources "
    "~f epochs, f non-integer, the way LLM pretrain mixtures run "
    "books at 2.x epochs while crawl runs <1): every group (lang "
    "here — the generator's sources are uniform, languages are "
    "skewed) repeats toward the LARGEST group's count with factor "
    "f = min(4, M/n) "
    "realized per row as whole = M div n epochs for everyone plus one "
    "extra copy iff the row's md5-uniform u32 < ((M mod n)·2³²) div n "
    "— ALL int64 arithmetic, no float rate anywhere, so the realized "
    "multiset (not just its size) is stable across runs, engines, and "
    "partition layouts. The audit row pins that multiset: emit_sig = "
    "Σ doc_id·copy_idx changes if any copy of any document appears or "
    "vanishes. Plan: O(#sources) count aggregate broadcast back over "
    "one corpus scan → explode(sequence(1, reps)) — linear in OUTPUT "
    "rows, the inherent cost of upsampling — → per-source rollup.",
    note="reps ≥ 1 always (M ≥ n ⇒ whole ≥ 1): upsampling never drops "
    "a row, so the audit join is inner. The binomial-in-count trade "
    "vs exact-n is o16's documented one; o06/o18 are the exact-quota "
    "paths when hard counts are required.",
)
def o19_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language epoch-upsampling audit (see
    functions.sampling.epoch_upsample). Grouped by lang, not source:
    the generator's sources are uniform-25 (every factor would be
    exactly 1 — the fractional path dead), while languages are skewed
    (en dominates), so whole-epoch, fractional-threshold and
    realized-extra-copy paths all exercise on the driver data."""
    from ..functions.sampling import epoch_upsample

    (docs,) = _ctx(spark, sf_dir, "documents")
    return epoch_upsample(docs, key="doc_id", group="lang", cap=_O19_CAP)


# ---------------------------------------------------------------------------
# o20: deterministic epoch shard shuffle
# ---------------------------------------------------------------------------

_O20_SHARDS = 8
_O20_EPOCHS = (1, 2)


@_register(
    "o20_epoch_shard_shuffle",
    f"""
    WITH x AS (
      SELECT e.epoch, d.doc_id,
             ('0x' || substr(md5(CAST(e.epoch AS VARCHAR) || ':'
                || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT AS u32
      FROM documents d,
           (SELECT unnest([{", ".join(str(x) for x in _O20_EPOCHS)}])
            AS epoch) e),
    s AS (SELECT epoch, doc_id, u32,
                 CAST(u32 % {_O20_SHARDS} AS INTEGER) AS shard FROM x),
    r AS (SELECT epoch, shard, doc_id, u32,
                 row_number() OVER (PARTITION BY epoch, shard
                                    ORDER BY u32, doc_id) AS rnk
          FROM s)
    SELECT epoch, shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id * rnk) AS BIGINT) AS order_sig,
           CAST(min(CASE WHEN rnk = 1 THEN doc_id END) AS BIGINT) AS head_id
    FROM r GROUP BY epoch, shard
    """,
    survey="north-star training-prep completion: deterministic EPOCH "
    "shard shuffle — the dataloader pass every LLM training pipeline "
    "runs between curation and consumption: each epoch needs a "
    "DIFFERENT pseudo-random permutation of the corpus materialized "
    "as ordered shards, reproducible enough to resume a crashed epoch "
    "or re-derive what batch N contained. rand() gives neither; a "
    "per-epoch keyed hash gives both: u32 = md5_u32(epoch||':'||key) "
    "drives BOTH shard (u32 mod 8) and within-shard order (u32, key), "
    "so a new epoch reshuffles membership AND order while the same "
    "epoch is bit-stable across runs, engines, partition layouts. The "
    "audit row per (epoch, shard) pins the full permutation: "
    "order_sig = Σ doc_id·rank changes if ANY row moves position; "
    "head_id pins the shard's first element; both epochs' audits come "
    "from ONE corpus scan (the epoch axis is an explode). Scale: hash "
    "and shard are map-side; the within-shard rank is the one genuine "
    "shuffle — which IS the output (materializing shuffled shards is "
    "a repartition+sort by construction), expressed as one exchange "
    "with n_shards-way independent sorts instead of a global orderBy.",
    note="Epoch-variation is part of the contract: "
    "tests/test_wave13.py pins that epoch 1 and epoch 2 produce "
    "different order_sigs (different permutations) with identical "
    "corpus totals, and a pure-Python differential re-derives every "
    "audit column.",
)
def o20_epoch_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(epoch, shard) permutation audit over two epochs (see
    functions.sampling.epoch_shard_shuffle)."""
    from ..functions.sampling import epoch_shard_shuffle

    (docs,) = _ctx(spark, sf_dir, "documents")
    sh = epoch_shard_shuffle(
        docs, key="doc_id", n_shards=_O20_SHARDS, epochs=_O20_EPOCHS
    )
    return sh.groupBy("epoch", "shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("doc_id") * F.col("rank")).cast("long").alias("order_sig"),
        F.min(F.when(F.col("rank") == 1, F.col("doc_id")))
        .cast("long")
        .alias("head_id"),
    )


# ---------------------------------------------------------------------------
# d21: quality-keeper dedup (argmax-quality keeper per closure group)
# ---------------------------------------------------------------------------

from ._registry import QUERIES  # noqa: E402
from .q_dedup_pairs import _D12_CAP, _label_chain_ctes  # noqa: E402


def _d21_oracle(pair_sql: str, rounds: int = 12) -> str:
    """d14's certified hash-min label chain (shared via
    _label_chain_ctes — string-identical to the d06/d14 oracles'
    chain) with a quality-keeper final: join the labels onto
    documents.n_chars, pick rn=1 of (n_chars DESC, doc_id ASC) per
    group — exactly argmax(quality, tie → smaller id), the window
    form of the engine's packed-decimal max aggregate (r12) — and
    emit the bounded audit with drop_sig over the DROPPED members.
    Same poison-sentinel convergence certificate as d06/d14."""
    ctes, last = _label_chain_ctes(pair_sql, rounds)
    ctes.append(
        f"bad AS (SELECT count(*) AS n FROM sym s\n"
        f"        JOIN {last} a ON a.doc_id = s.src\n"
        f"        JOIN {last} b ON b.doc_id = s.dst\n"
        f"        WHERE a.lbl <> b.lbl)"
    )
    ctes.append(
        f"q AS (SELECT l.lbl AS group_id, l.doc_id, d.n_chars,\n"
        f"             row_number() OVER (PARTITION BY l.lbl\n"
        f"                                ORDER BY d.n_chars DESC, l.doc_id)\n"
        f"               AS rn,\n"
        f"             ((l.doc_id % 2147483647) * 2654435761) % 2147483647\n"
        f"               AS mix\n"
        f"      FROM {last} l JOIN documents d ON d.doc_id = l.doc_id)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
    SELECT group_id, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
             AS keeper_id,
           CAST(min(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
             AS keeper_quality,
           CAST(sum(CASE WHEN rn > 1 THEN mix ELSE 0 END) AS BIGINT)
             AS drop_sig
    FROM q GROUP BY group_id
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS group_id, n AS n_docs,
           CAST(NULL AS BIGINT) AS keeper_id,
           CAST(NULL AS BIGINT) AS keeper_quality,
           CAST(NULL AS BIGINT) AS drop_sig
    FROM bad WHERE n > 0
    """
    )


@_register(
    "d21_quality_keeper_groups",
    None,  # assigned below from d12's registered capped-pair oracle
    survey="north-star dedup completion: keeper-by-QUALITY selection — "
    "near_dup_groups labels groups by min doc_id (the hash-min "
    "invariant the closure needs), but the member a production "
    "pipeline KEEPS is the BEST one: d21 runs the full capped chain "
    "(d12 star-capped LSH emission → jaccard refine → hash-min "
    "closure) and then picks argmax(n_chars, tie → smaller id) per "
    "group, emitting (group_id, n_docs, keeper_id, keeper_quality, "
    "drop_sig) where drop_sig checksums exactly the DROPPED members — "
    "the reproducible kill-list a curation run logs. Engine shape: "
    "one id-keyed equi-join of the closure relation onto the quality "
    "column and ONE groupBy with map-side partials (argmax travels as "
    "max of one DECIMAL(38,0) pack q*2^63 + (2^63-1-id), hash-"
    "aggregable and strictly monotone in (quality, -id) — r12; "
    "drop_sig derives post-agg as "
    "Σmix − mix(keeper)) — no per-group window/sort anywhere; state "
    "O(#groups). Oracle: the d06/d14 certified label chain (shared "
    "builder, string-identity-verified) + a row_number keeper pick — "
    "the window form of the same argmax, identical on the int grid.",
    note="Keeper ≠ group label by construction wherever a longer "
    "member exists: tests/test_wave13.py pins a fixture where the "
    "min-id member is NOT the keeper, plus full pure-Python "
    "differential of all five columns over the real corpus.",
)
def d21_quality_keeper_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-keeper audit over the capped near-dup closure (see
    functions.dedup.quality_keeper_audit)."""
    from ..functions.dedup import (
        minhash_near_dup_pairs,
        near_dup_groups,
        quality_keeper_audit,
    )

    (docs,) = _ctx(spark, sf_dir, "documents")
    groups = near_dup_groups(
        minhash_near_dup_pairs(
            docs, threshold=0.8, bucket_cap=_D12_CAP, hash_fn="md5"
        )
    )
    return quality_keeper_audit(groups, docs, quality_col="n_chars")


QUERIES["d21_quality_keeper_groups"].oracle = _d21_oracle(
    QUERIES["d12_lsh_star_cap"].oracle
)


# ---------------------------------------------------------------------------
# s17: MMR diversification over the IVFADC index probe
# ---------------------------------------------------------------------------

_S17_CAND, _S17_N = 30, 10


def _s17_oracle() -> str:
    """s16's MMR round chain over candidates produced by the IVFADC
    probe instead of the exact top-k: the s14 oracle SQL (src07
    constants, topk widened to 30) nests as a subquery — DuckDB scopes
    its inner WITH locally — and its vec_ids become c0. Relevance and
    diversity stay exact cosine over the probed set, so the selection
    layer is shared verbatim (_mmr_rounds_sql)."""

    def _cosn(a: str, b: str) -> str:
        return (
            f"CAST(round((list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})))) * 1e9) AS BIGINT)"
        )

    inner = ivfadc_oracle_sql(
        kc=_SRC07_KC,
        m=_SRC07_M,
        k=_SRC07_K,
        nprobe=_SRC07_NPROBE,
        topk=_S17_CAND,
    )
    prefix = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        "q AS (SELECT e AS qv FROM e WHERE vec_id = 0)",
        f"cand AS MATERIALIZED (SELECT vec_id FROM ({inner}) t)",
        "rel AS (SELECT e.vec_id, e.e,\n"
        f"             {_cosn('e.e', 'q.qv')} AS rel_nanos\n"
        "      FROM e JOIN cand USING (vec_id), q WHERE e.vec_id <> 0)",
        "c0 AS MATERIALIZED (SELECT vec_id, e, rel_nanos,"
        " CAST(0 AS BIGINT) AS msim\n       FROM rel)",
    ]
    return _mmr_rounds_sql(prefix, _S17_N)


@_register(
    "s17_mmr_over_ivfadc",
    _s17_oracle(),
    survey="north-star retrieval capstone: ANN-prefiltered "
    "diversification — s16's survey line claims 'at 100 TB the "
    "candidates come from the s14 index probe instead'; s17 IS that "
    "composition, registered: candidate GENERATION is the IVFADC "
    "probe (src07 constants kc=8/nprobe=3, top-30 by ADC distance — "
    "sub-scan: only probed lists are read), and the SELECTION is "
    "exact-cosine λ=1/2 MMR over those 30 (the s16 machinery, shared "
    "verbatim — engine via candidate_ids, oracle via the shared "
    "_mmr_rounds_sql builder with the s14 SQL nested as the candidate "
    "subquery). The full modern retrieval stack in one oracle-backed "
    "query: compressed index probe → exact re-rank → diversity "
    "selection, each stage exact-integer-pinned.",
    note="The selection trace differs from s16's wherever the probe's "
    "top-30 differs from the exact top-30 (quantization loss surfaces "
    "as candidate-set drift — tests pin both the equality of the "
    "shared machinery and the existence of drift on the real corpus).",
)
def s17_mmr_over_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diverse 10 over the IVFADC probe's top-30 (see
    functions.similarity.mmr_diverse_topk, candidate_ids path)."""
    from ..functions.similarity import ivfpq_residual_topk, mmr_diverse_topk

    (emb,) = _ctx(spark, sf_dir, "embeddings")
    hits = ivfpq_residual_topk(
        emb,
        query_vec_id=0,
        kc=_SRC07_KC,
        m=_SRC07_M,
        k=_SRC07_K,
        nprobe=_SRC07_NPROBE,
        topk=_S17_CAND,
    ).collect()
    return mmr_diverse_topk(
        emb,
        query_vec_id=0,
        n_select=_S17_N,
        candidate_ids=[int(r["vec_id"]) for r in hits],
    )


# ---------------------------------------------------------------------------
# g04: label-propagation communities (synchronous, mode-based)
# ---------------------------------------------------------------------------

from .q_extensions2 import _g01_edges_sql  # noqa: E402

_G04_ROUNDS = 3


def _g04_oracle() -> str:
    """Unrolled synchronous LPA: each round counts NEIGHBOR labels per
    node and adopts argmax(count DESC, label ASC) — the mode-based
    sibling of g02's hash-min (min-based) propagation; communities are
    dense mode-basins, not connectivity classes. Shares the
    MATERIALIZED edge CTEs with g01/g02/g03."""
    ctes = [f"l0 AS (SELECT v, v AS lbl FROM verts)"]
    for k in range(1, _G04_ROUNDS + 1):
        p = k - 1
        ctes.append(
            f"c{k} AS (SELECT g.dst AS v, l{p}.lbl, count(*) AS c\n"
            f"        FROM g JOIN l{p} ON l{p}.v = g.src\n"
            f"        GROUP BY g.dst, l{p}.lbl)"
        )
        ctes.append(
            f"l{k} AS (SELECT v, lbl FROM (\n"
            f"          SELECT v, lbl,\n"
            f"                 row_number() OVER (PARTITION BY v\n"
            f"                                    ORDER BY c DESC, lbl) AS rn\n"
            f"          FROM c{k}) WHERE rn = 1)"
        )
    return (
        "\n    WITH "
        + _g01_edges_sql().strip().rstrip()
        + ",\n    "
        + ",\n    ".join(ctes)
        + f"""
    SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(v) AS BIGINT) AS min_node,
           CAST(max(v) AS BIGINT) AS max_node,
           CAST(sum(((v % 2147483647) * 2654435761) % 2147483647)
                AS BIGINT) AS member_sig
    FROM l{_G04_ROUNDS} GROUP BY lbl
    """
    )


@_register(
    "g04_label_propagation",
    _g04_oracle(),
    survey="graph-family completion: community detection by synchronous "
    "label propagation (Raghavan et al. 2007, the near-linear-time "
    "community algorithm) over the symmetrized customer–supplier trade "
    "graph — the MODE-based sibling of g02's hash-min components: each "
    "of 3 unrolled rounds every node adopts its neighbors' most "
    "frequent label (ties → smaller label), so labels pool in DENSE "
    "basins rather than flooding whole connectivity classes — the "
    "structure marketplace/fraud analyses actually segment on. "
    "Deterministic by construction (integer counts, total tie order, "
    "synchronous update from the PREVIOUS round's labels), so the "
    "driver compare is tolerance-free where textbook async LPA is "
    "run-order dependent. Registered as bounded per-community audit "
    "rows (size, node range, the closure_audit int64 mixer — the "
    "d06/d14 audit-output contract). Scale: per round ONE edges⋈labels "
    "shuffle + a (node,label) count + a per-node argmax (max_by "
    "struct, map-side partials); the persisted distinct edge list is "
    "the g01/g02/g03 pattern; rounds are fixed (3, oracle-pinned).",
    note="Engine argmax travels as max of one DECIMAL(38,0) pack "
    "c·2⁶³ + (2⁶³−1−lbl) — hash-aggregable (mutable buffer) and "
    "strictly monotone in the oracle's (c DESC, lbl ASC) total order, "
    "so no per-node window and no SortAggregate. Edge relation is the "
    "SHARED _g01_edges_sql CTEs (MATERIALIZED — referenced 2× per "
    "round).",
)
def g04_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round synchronous LPA communities on the trade graph,
    audited per community (size, range, member mixer). Vertex ids
    (customer and supplier keys) must be non-negative: the per-node
    argmax is the packed DECIMAL of ``dedup._argmax_aggs``, and a
    negative label raises."""
    from ..functions.dedup import (
        _argmax_aggs,
        _argmax_id,
        _sym_edges,
        closure_audit,
    )

    li, orders = _ctx(spark, sf_dir, "lineitem", "orders")
    raw = li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
    g = _sym_edges(raw, "o_custkey", "l_suppkey").persist()
    labels = g.select(F.col("src").alias("v")).distinct().withColumn(
        "lbl", F.col("v")
    )
    for _ in range(_G04_ROUNDS):
        cnt = (
            g.join(labels, g["src"] == labels["v"])
            # ONE exchange per round, not two: hashpartitioning(dst)
            # satisfies BOTH the (dst, lbl) count's clustered
            # distribution and the per-node argmax's, so the count and
            # the argmax aggregate on the same partitions. The trade —
            # the exchange ships the joined edge rows instead of
            # (dst, lbl) map-side partials — is favorable here because
            # early-round labels are nearly distinct per edge (partials
            # reduce almost nothing); a corpus where labels pool FAST
            # would prefer the partials.
            .repartition("dst")
            .groupBy(F.col("dst"), F.col("lbl"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax(count DESC, label ASC) per node, one hash aggregate
        labels = (
            cnt.groupBy(F.col("dst").alias("v"))
            .agg(*_argmax_aggs("c", "lbl"))
            .select("v", _argmax_id("lbl").alias("lbl"))
        )
    groups = labels.select(
        F.col("v").alias("doc_id"), F.col("lbl").alias("group_id")
    )
    out = closure_audit(groups).select(
        F.col("group_id").alias("community"),
        F.col("n_docs").alias("n_nodes"),
        F.col("min_doc_id").alias("min_node"),
        F.col("max_doc_id").alias("max_node"),
        "member_sig",
    )
    out = durable_checkpoint(out)
    g.unpersist()
    return out
