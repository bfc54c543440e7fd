"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard (north-star training-data pipeline ops).

Design for 100 TB:
- exact dedup is a hash groupBy on the text (or its md5 fingerprint for
  wide rows) — one shuffle, map-side combining;
- MinHash signatures are computed per doc with explode → groupBy
  (shuffle keyed by doc_id), band buckets join candidates so the
  pairwise comparison is LSH-bounded, never O(n²);
- hashed hot paths (MinHash permutations, band buckets) default to
  seed-keyed JVM ``xxhash64`` — the production configuration; every
  such operator also takes ``hash_fn="md5"`` (seeded by
  concatenation, deterministic and engine-portable) as the
  DuckDB-oracle/parity knob, which the registered oracle queries pin
  explicitly. Exact-dedup fingerprints and chunk keys stay md5: they
  double as cross-engine audit digests.
"""

from __future__ import annotations

from ..checkpoint import durable_checkpoint
from pyspark.sql import Column, DataFrame, Window, functions as F

from .text import tokenize

DEFAULT_NUM_HASHES = 8
DEFAULT_BAND_SIZE = 2
#: Library DEFAULT for per-bucket pair emission in the LSH/SimHash
#: candidate generators. A band bucket of m co-hashed docs emits
#: m(m-1)/2 pairs from the self-join — at web scale one viral
#: boilerplate cluster (m ~ 1e6) is 5e11 pairs from ONE bucket, the
#: single quadratic scale-killer in the dedup family (measured:
#: SCALING.md — uncapped edges grew 100.5× on 10× duplicate-heavy
#: data; capped 10.1×, linear). Buckets of m ≤ 64 keep the exact
#: all-pairs emission; larger buckets emit m-1 star edges to the
#: bucket's min doc_id, which keeps every bucket connected so the
#: hash-min transitive closure builds identical keeper groups
#: (pinned: tests/test_dedup_star_cap.py). Star-capped emission is
#: the PRODUCTION default; pass ``bucket_cap=None`` to opt out into
#: the fully-exact all-pairs shape (the DuckDB oracle queries
#: d02/d05/d06/d08/d09 do, because their oracles define all-pairs
#: semantics).
DEFAULT_BUCKET_CAP = 64
#: Same scale guard for the exact inverted-index path
#: (``ngram_jaccard_pairs``): a shingle with document frequency df
#: contributes O(df²) join pairs, so ultra-common shingles from a
#: duplicate cluster blow up the posting-list self-join. The default
#: restricts the shingle universe to df ≤ 64 (set sizes and
#: intersections both computed over the SAME capped universe — a
#: well-defined jaccard of stop-filtered shingle sets); pass
#: ``max_df=None`` for the fully-exact all-shingle score.
DEFAULT_MAX_DF = 64
#: production fingerprint width: 64 bits = 4 bands × 16 bits, so the
#: pigeonhole band join buckets on 2^16 values per band and candidate
#: volume tracks true near-dups instead of corpus²/2^4 (the quadratic
#: trap of narrow fingerprints — see SCALING.md d09). Bit j of the
#: fingerprint is bit (3 - j%4) of md5 hex char j//4, so any width up
#: to 128 shares one code path and one oracle formulation.
SIMHASH_BITS = 64


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: md5 fingerprint → keeper id + copy count."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("fp"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def shingles(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle).

    ZERO-shuffle formulation. A naive
    ``transform(sequence, i -> element_at(tokenize(text), …))`` gets the
    tokenization re-inlined by projection collapse, re-running the
    regexp per array element (measured 10× slower); a
    posexplode + lead-window version fixes that but pays a doc_id
    shuffle + sort. Instead, ``explode`` of a one-element array is a
    Generate node — projection collapse does not cross it — so the
    token array materializes exactly once per doc and the n-gram
    assembly + per-doc dedup (``array_distinct``) stay map-side.
    Measured 2× faster than the window version at sf0.1 and shuffle-free
    at any scale. (``scale_out`` first rebalances a
    parallelism-starved scan — identity on splittable layouts.)
    """
    from ..sources.tables import scale_out

    toks = scale_out(docs.select("doc_id", text_col), "doc_id").select(
        "doc_id", F.explode(F.array(tokenize(F.col(text_col)))).alias("toks")
    )
    gram = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at("toks", i + k) for k in range(n)]),
    )
    grams = F.when(F.size("toks") >= n, gram).otherwise(
        F.array().cast("array<string>")
    )
    return toks.select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))


def minhash_signatures(
    sh: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-doc MinHash signature columns mh0..mh{k-1}.

    ``hash_fn`` picks the permutation family (t07's discipline):

    - ``xxhash64`` (default, the PRODUCTION path): seed-keyed JVM
      xxhash64 compared as int64 — a few ns per shingle, no hex
      materialization. md5 was the dominant per-row cost in the d02/
      d12 100× profile (~3k docs/s), so the hot path must not pay it.
    - ``md5``: md5 of "<seed>|<shingle>" compared lexicographically —
      ~10× slower but byte-identical in any engine with md5; the
      DuckDB-oracle/parity configuration (d02/d06/d08/d12/d14 pass it
      explicitly).

    Both families are uniform and deterministic, so every downstream
    property (band collision probability, jaccard refine, closure) is
    hash_fn-independent; only the concrete signature values differ.
    """
    if hash_fn == "xxhash64":
        aggs = [
            F.min(F.xxhash64(F.lit(i).cast("long"), F.col("shingle"))).alias(
                f"mh{i}"
            )
            for i in range(num_hashes)
        ]
    elif hash_fn == "md5":
        aggs = [
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(
                f"mh{i}"
            )
            for i in range(num_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    return sh.groupBy("doc_id").agg(*aggs)


def band_buckets(
    sig: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(doc_id, band, bucket) rows — one per LSH band per doc, the
    probe/build key space every LSH consumer joins on.

    Extracted from ``lsh_candidate_pairs`` unchanged (same explode of a
    per-row literal-struct array, so the plan is one Generate node with
    no shuffle) so the INCREMENTAL path (``incremental_minhash_dedup``)
    can build corpus-side buckets and probe them with batch-side
    buckets instead of self-joining one table.

    ``hash_fn`` picks the band-bucket hash: ``xxhash64`` (default)
    folds the band's signature columns directly into one int64 —
    no string concat, no hex; ``md5`` concatenates and hex-hashes,
    the engine-portable oracle form. Use the same ``hash_fn`` as the
    signatures were built with.
    """
    n_bands = num_hashes // band_size

    def band_bucket(b: int) -> Column:
        cols = [F.col(f"mh{b * band_size + r}") for r in range(band_size)]
        if hash_fn == "xxhash64":
            return F.xxhash64(*cols).cast("string")
        if hash_fn == "md5":
            return F.md5(F.concat_ws("|", *cols))
        raise ValueError(f"unknown hash_fn: {hash_fn}")

    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_bucket(b).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    sig: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing ≥1 band bucket.

    ``hash_fn`` picks the band-bucket hash: ``xxhash64`` (default)
    folds the band's signature columns directly into one int64 —
    no string concat, no hex; ``md5`` concatenates and hex-hashes,
    the engine-portable oracle form. Use the same ``hash_fn`` as the
    signatures were built with (``minhash_near_dup_pairs`` threads it).

    ``bucket_cap`` is the scale guard against quadratic pair emission:
    a bucket of m co-hashed docs emits m(m−1)/2 pairs from the
    self-join — at web scale a single viral boilerplate cluster
    (m ~ 10⁶) is 5·10¹¹ pairs from ONE bucket. With a cap, buckets of
    m ≤ cap keep the exact all-pairs emission, and larger buckets emit
    only STAR edges to the bucket's min doc_id (m−1 edges, the d10
    first-occurrence pattern) — per-bucket work drops from O(m²) to
    O(m) while the candidate graph keeps every bucket connected, so
    hash-min transitive closure (``near_dup_groups``) builds the same
    keeper groups over the unrefined candidates. The documented trade:
    similarity REFINES of star edges score (min, x) pairs only, so a
    link (b, c) inside a giant bucket whose members are dissimilar to
    the min doc can be missed — acceptable precisely because a full
    band collision at large m is overwhelming evidence of boilerplate.
    Capped emission (``DEFAULT_BUCKET_CAP``) is the production
    default; ``bucket_cap=None`` opts out into the fully-exact
    all-pairs shape.
    """
    bands = band_buckets(sig, num_hashes, band_size, hash_fn)
    if bucket_cap is None:
        # Persist the band relation (optimization r11): it is COMPACT
        # (n_bands rows per doc, id + band + bucket) but BOTH self-join
        # legs re-derive the full shingle → minhash-signature chain
        # (the per-shingle hashing that dominates this family's per-row
        # cost) without it. Scoped to the uncapped branch only — the
        # capped path (r12) reads the band relation exactly once.
        # NOTE: SQL-cached relations live until unpersist()/clearCache()
        # — a long-lived session running many queries should clear the
        # cache between them (bench.py does after every execution).
        bands = bands.persist()
        a = bands.alias("a")
        b = bands.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .distinct()
        )
    return _capped_bucket_pairs(bands, ["band", "bucket"], bucket_cap)


def _capped_bucket_pairs(
    bands: DataFrame, bucket_keys: list[str], bucket_cap: int
) -> DataFrame:
    """All-pairs within small buckets + star edges (min doc_id → member)
    within large ones; distinct over both.

    Single-pass form (optimization r12, guide §2.4): ONE groupBy over
    the bucket keys collects each bucket's (distinct-by-construction)
    members into a sorted array, and the pair emission is a row-local
    array expression — all ordered pairs of the array when the bucket
    is small, star edges from the array's minimum (element 0 after the
    sort) past the cap. This replaces the r11 shape (a count/min window
    + a small-bucket SELF-JOIN + a star filter over a persisted window
    output): the window exchange, both join exchanges and the persist
    all disappear — the band relation is read exactly once and only the
    final ``distinct`` shuffles pair rows.

    Memory boundary: one aggregation buffer holds one bucket's member
    array (8 bytes/id) — 8 MB at m = 10⁶, fine for any real boilerplate
    cluster; a pathological m ≳ 10⁸ bucket would pressure a single
    task's buffer, but such a bucket also emits m−1 star rows, so the
    right guard at that scale is pre-filtering the bucket key upstream,
    not a streamier pair emitter.
    """
    g = bands.groupBy(*bucket_keys).agg(
        F.array_sort(F.collect_list("doc_id")).alias("_ds")
    )
    # all ordered pairs (x at 0-based i, every later y) of the sorted
    # member array — doc_a < doc_b by construction, exactly the old
    # self-join's emission; slice() truncates at the array end
    all_pairs = F.expr(
        "flatten(transform(_ds, (x, i) ->"
        " transform(slice(_ds, i + 2, size(_ds)),"
        "           y -> struct(x AS doc_a, y AS doc_b))))"
    )
    # star edges: min member (element 0) → every other member
    star = F.expr(
        "transform(slice(_ds, 2, size(_ds) - 1),"
        " y -> struct(_ds[0] AS doc_a, y AS doc_b))"
    )
    pairs = F.when(F.size("_ds") <= bucket_cap, all_pairs).otherwise(star)
    return (
        g.select(F.explode(pairs).alias("_p"))
        .select("_p.doc_a", "_p.doc_b")
        .distinct()
    )


def _thin_buckets(buckets: DataFrame, bucket_cap: int) -> DataFrame:
    """Keep each (band, bucket)'s ``bucket_cap`` smallest doc_ids —
    the deterministic corpus-side thinning of the incremental dedup
    family. Single-pass form (optimization r12, same move as
    ``_capped_bucket_pairs``): one groupBy collecting the sorted member
    array and a row-local ``slice`` replaces the r11 row_number window
    (an exchange + per-partition sort over the full band relation);
    the hash aggregate needs no sort and its partials combine map-side.
    Same memory boundary note as ``_capped_bucket_pairs``."""
    return (
        buckets.groupBy("band", "bucket")
        .agg(
            F.slice(
                F.array_sort(F.collect_list("doc_id")), 1, bucket_cap
            ).alias("_ks")
        )
        .select("band", "bucket", F.explode("_ks").alias("doc_id"))
    )


def pair_jaccard(sh: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact shingle-set jaccard for given (doc_a, doc_b) pairs.

    Candidate-pair sets are small after LSH, so instead of a quadratic
    inverted-index self-join we attach each doc's shingle set as an
    array (one groupBy) and intersect per pair — work is
    O(|pairs| · set size), independent of shingle document frequency.
    """
    doc_sets = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("_set"))
    a = doc_sets.select(F.col("doc_id").alias("doc_a"), F.col("_set").alias("_sa"))
    b = doc_sets.select(F.col("doc_id").alias("doc_b"), F.col("_set").alias("_sb"))
    n_inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    n_a, n_b = F.size(F.col("_sa")), F.size(F.col("_sb"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (n_inter.cast("double") / (n_a + n_b - n_inter)).alias("jaccard"),
        )
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    threshold: float = 0.8,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """shingle → minhash → band-bucket join → exact-jaccard refine.

    The shingle table feeds both the signatures and the refine step,
    but it is NOT persisted: shingling is map-side-only (zero-shuffle,
    see ``shingles``), so recomputing the two branches is cheaper than
    materializing an exploded table that is ~10× the corpus size —
    measured 3.8× faster cold at sf0.1, and at 100 TB the cache would
    not fit storage memory anyway.

    ``bucket_cap`` bounds per-bucket pair emission (star edges past
    the cap — see ``lsh_candidate_pairs``); capped is the DEFAULT
    because on duplicate-heavy corpora one boilerplate cluster would
    otherwise emit O(m²) candidates. ``bucket_cap=None`` opts out
    into the fully-exact all-pairs shape (the d02 oracle does).
    """
    sh = shingles(docs, text_col, n)
    sig = minhash_signatures(sh, num_hashes, hash_fn)
    cand = lsh_candidate_pairs(sig, num_hashes, band_size, bucket_cap, hash_fn)
    return pair_jaccard(sh, cand).filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Exact n-gram jaccard dedup without LSH, with PREFIX FILTERING
    (the AllPairs/PPJoin candidate prune — Bayardo et al. WWW'07,
    Chaudhuri et al. ICDE'06): order every shingle set rarest-first;
    two sets with jaccard ≥ t MUST share a shingle among each set's
    first ``n − ceil(t·n) + 1`` entries (pigeonhole: a pair meeting t
    shares ≥ ceil(t·n) shingles, so it cannot avoid every prefix
    slot). Only prefixes enter the inverted-index self-join — on a
    template-heavy corpus the naive all-shingle join's aggregate is
    quadratic in per-shingle document frequency (the 100× OOM), while
    prefixes collide mostly on genuinely rare, doc-specific shingles.
    Candidates then verify with the EXACT jaccard over the full sets,
    so the output is identical to the unfiltered join at any t (at
    t=0 the prefix is the whole set and the prune gracefully
    degenerates to the classic inverted index).

    Three further EXACT prunes keep the candidate set bounded on
    template-heavy corpora, where even prefixes stay common (measured
    at 100×: 5.6M prefix postings over 12,978 distinct shingles, max
    prefix df 891 → 1.21e9 distinct unfiltered candidates):

    - **length filter** (AllPairs): jaccard = |∩|/|∪| ≤ min(nₐ,n_b) /
      max(nₐ,n_b), so J ≥ t needs min ≥ ceil(t·max) — applied inside
      the prefix join before the distinct.
    - **positional filter** (PPJoin): J ≥ t ⟺ |∩| ≥ ceil(t/(1+t) ·
      (nₐ+n_b)); for the FIRST colliding prefix slot (ranks rₐ, r_b in
      the shared rarest-first canonical order) no earlier element
      matched, so |∩| ≤ min(nₐ−rₐ, n_b−r_b) + 1. Filtering collision
      ROWS then taking DISTINCT pairs is sound: a qualifying pair's
      first collision always survives the bound.
    - **row-local verify**: candidates score via ``array_intersect``
      over per-doc shingle arrays (broadcast: |docs| rows regardless
      of corpus bytes) instead of the candidate×postings co-shingle
      aggregate — that aggregate's hash state is O(|cand|) groups fed
      by O(|cand|·set) rows (~6e10 at 100×, the 3h20m / OOM wall),
      while the array form streams candidates through two broadcast
      hash joins with per-row O(set) work and NO aggregate. (Beyond
      broadcast reach — corpora ≫ 10M distinct docs — swap the hint
      for two sort-merge joins and accept the array shuffle; at that
      scale the LSH family (d02/d12) is the production path anyway.)

    Plan shape: one shingle computation → document frequency in one
    shingle-keyed window → rarest-first rank in one doc-keyed window →
    length+position-filtered prefix self-join → distinct → broadcast
    array-intersect verify. ``max_df`` (optional) additionally
    restricts the shingle UNIVERSE to document frequency ≤ cap — the
    stop-shingle guard at scale; set sizes and intersections are both
    computed over the SAME capped universe, so the score is a
    well-defined jaccard (of stop-filtered shingle sets). The capped
    universe (``DEFAULT_MAX_DF``) is the production default;
    ``max_df=None`` opts out into the fully-exact all-shingle score
    (the d05 oracle does — the filters keep even that exact form
    feasible at 100×).
    """
    t = float(threshold)
    sh = shingles(docs, text_col, n)
    doc_sets = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("_set"))
    posting = doc_sets.select(
        "doc_id", F.size("_set").alias("n"), F.explode("_set").alias("shingle")
    )
    # rarest-first canonical order; ties broken by shingle text so the
    # rank — and with it the prefix — is deterministic and reproducible
    # by the SQL oracle (row_number over the identical ORDER BY)
    dw = Window.partitionBy("doc_id").orderBy("_df", "shingle")
    if max_df is not None:
        posting = (
            posting.withColumn(
                "_df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
            )
            .filter(F.col("_df") <= max_df)
            # _df is KEPT (optimization r12): the prefix ranking needs
            # it, and recomputing it over the already-capped postings
            # (the df filter drops whole shingle groups, so the
            # per-shingle count is unchanged for survivors) cost a
            # second shingle exchange + sort + window pass. The capped
            # per-doc size n and the rank share ONE window pass (same
            # partition + order, n on the full-partition frame — the
            # d19 move); the r11 shape paid a separate unordered
            # n-window.
            .withColumn(
                "n",
                F.count(F.lit(1)).over(
                    dw.rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                ),
            )
            .withColumn("_rn", F.row_number().over(dw))
            # persisted (optimization r11): the capped posting feeds
            # both the recomputed doc_sets and the prefix ranking —
            # the lazy form replayed the df-window chain per consumer
            .persist()
        )
        # sets over the SAME capped universe as the postings
        doc_sets = posting.groupBy("doc_id").agg(
            F.collect_set("shingle").alias("_set")
        )
        ranked = posting
    else:
        ranked = posting.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        ).withColumn("_rn", F.row_number().over(dw))
    # persisted (optimization r11): referenced by the two verify legs
    # (and in the uncapped branch also by the posting derivation) —
    # one collect_set shuffle instead of one per reference; one row
    # per doc, the broadcast side by construction
    doc_sets = doc_sets.persist()
    prefix = (
        ranked.filter(
            F.col("_rn") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1
        )
        .select("doc_id", "n", "_rn", "shingle")
        # persisted (optimization r11): both self-join legs read the
        # prefix — the lazy form replayed the two ranking windows per
        # leg; prefix rows are a small slice of the postings
        .persist()
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("n_a"),
        F.col("_rn").alias("rn_a"),
        "shingle",
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("n_b"),
        F.col("_rn").alias("rn_b"),
        "shingle",
    )
    cand = (
        a.join(b, "shingle")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # length filter: min(n_a,n_b) >= ceil(t*max(n_a,n_b))
            & (F.col("n_b") >= F.ceil(F.lit(t) * F.col("n_a")))
            & (F.col("n_a") >= F.ceil(F.lit(t) * F.col("n_b")))
            # positional filter: suffix past the first collision must
            # still be able to reach the required overlap
            & (
                F.least(
                    F.col("n_a") - F.col("rn_a"), F.col("n_b") - F.col("rn_b")
                )
                + 1
                >= F.ceil(F.lit(t / (1.0 + t)) * (F.col("n_a") + F.col("n_b")))
            )
        )
        .select("doc_a", "n_a", "doc_b", "n_b")
        .distinct()
    )
    # exact row-local verify over the FULL sets: two broadcast joins to
    # the per-doc arrays, |A∩B| computed per candidate row — no
    # aggregate, state bounded by |docs| not |cand|
    sa = doc_sets.select(
        F.col("doc_id").alias("doc_a"), F.col("_set").alias("_sa")
    )
    sb = doc_sets.select(
        F.col("doc_id").alias("doc_b"), F.col("_set").alias("_sb")
    )
    return (
        cand.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("_sa", "_sb")))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    docs: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS
) -> DataFrame:
    """``bits``-wide SimHash over word tokens (default 64).

    Bit j of the fingerprint is set when the majority of the doc's
    tokens have bit ``3 - j%4`` of md5-hex-char ``j//4`` set — i.e. the
    md5 hex digest is consumed nibble-by-nibble, giving up to 128
    independent bits from one hash. Fully expressible as ``bits``
    conditional-sum aggregates — one token shuffle, map-side partials,
    engine-portable and oracle-checkable at any width.
    """
    if not 1 <= bits <= 128:
        raise ValueError("md5 provides at most 128 fingerprint bits")
    from ..sources.tables import scale_out

    toks = scale_out(docs.select("doc_id", text_col), "doc_id").select(
        "doc_id", F.explode(tokenize(F.col(text_col))).alias("tok")
    )
    h = F.md5(F.col("tok"))

    def tok_bit(j: int) -> Column:
        v = F.conv(F.substring(h, j // 4 + 1, 1), 16, 10).cast("int")
        mask = 1 << (3 - j % 4)
        return F.when(v.bitwiseAND(F.lit(mask)) > 0, 1).otherwise(-1)

    bit_sums = [F.sum(tok_bit(j)).alias(f"s{j}") for j in range(bits)]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    out_bits = F.concat(
        *[F.when(F.col(f"s{j}") > 0, "1").otherwise("0") for j in range(bits)]
    )
    return agg.select("doc_id", out_bits.alias("simhash_bits"))


def _sym_edges(
    pairs: DataFrame, a: str, b: str, self_loops: bool = False
) -> DataFrame:
    """Undirected edge list of ``pairs``: distinct ``(src, dst)`` rows
    holding both directions of every ``(a, b)`` pair, plus both
    endpoints' self-loops when ``self_loops`` (the hash-min form).

    Every direction comes out of ONE pass via explode, so an expensive
    ``pairs`` subtree (a join) runs once. The rows are hash-partitioned
    on ``src``, the key every caller's rounds join on; that
    partitioning also satisfies the ``(src, dst)`` dedup, so one
    exchange serves both. Under adaptive execution a persisted or
    checkpointed edge list does not report that partitioning, so each
    round's join still exchanges it once.
    """
    dirs = [(a, b), (b, a)] + ([(a, a), (b, b)] if self_loops else [])
    return (
        pairs.select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.col(s).alias("src"), F.col(d).alias("dst"))
                        for s, d in dirs
                    ]
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .repartition("src")
        .dropDuplicates(["src", "dst"])
    )


def _hash_min_round(edges: DataFrame, labels: DataFrame | None) -> DataFrame:
    """One synchronous hash-min round over self-looped ``_sym_edges``:
    every vertex takes the minimum label over its neighbours ∪ itself.

    ``labels`` is ``(v, lbl)``; ``None`` means round 1, where
    label₀(v) = v, so the round is ``min(dst)`` per ``src`` over the
    edge list alone (no join). Later rounds are one
    edges⋈labels join on ``src`` plus one ``groupBy(dst)``. Returns
    ``(v, lbl, _chg)``: the self-loop row carries the vertex's old
    label, so ``_chg`` (the label moved) needs no second join.
    """
    if labels is None:
        return edges.groupBy("src").agg(F.min("dst").alias("lbl")).select(
            F.col("src").alias("v"),
            "lbl",
            (F.col("lbl") != F.col("src")).alias("_chg"),
        )
    own = F.when(F.col("src") == F.col("dst"), F.col("lbl"))
    return (
        edges.join(labels.withColumnRenamed("v", "src"), "src")
        .groupBy("dst")
        .agg(F.min("lbl").alias("lbl"), F.min(own).alias("_old"))
        .select(
            F.col("dst").alias("v"),
            "lbl",
            (F.col("lbl") != F.col("_old")).alias("_chg"),
        )
    )


def near_dup_groups(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over near-dup pairs → ``(doc_id, group_id)``.

    Turning pairwise matches into keep/drop decisions needs the
    transitive closure (A~B, B~C ⇒ one group). Distributed hash-min
    label propagation: every doc starts labeled with its own id; each
    round a doc takes the min label among itself and its neighbors
    (one hop per round); fixpoint after O(component diameter) rounds,
    at most ``max_iter``. group_id = the component's minimum doc_id
    (the canonical "keeper" under keep-first policy).

    Scale: the edge list (both directions plus self-loops) is
    checkpointed once, partitioned on the round's join key; each round
    is one join plus one aggregation (round 1 only the aggregation),
    see :func:`_hash_min_round`. The round's labels are checkpointed
    lazily, so round N's plan does not replay rounds 1..N-1, and the
    1-row ``sum(_chg)`` collect that decides the fixpoint is the one
    action that materializes them.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    edges = durable_checkpoint(
        _sym_edges(pairs, "doc_a", "doc_b", self_loops=True)
    )
    labels = None
    for _ in range(max_iter):
        stepped = durable_checkpoint(
            _hash_min_round(edges, labels), eager=False
        )
        changed = stepped.agg(F.sum(F.col("_chg").cast("int"))).collect()
        labels = stepped.select("v", "lbl")
        if not changed[0][0]:
            break
    return labels.select(
        F.col("v").alias("doc_id"), F.col("lbl").alias("group_id")
    )


#: Knuth multiplicative hash constant / Mersenne-31 modulus for the
#: order-independent membership checksums used by the audit shapes.
_KNUTH = 2654435761
_MOD31 = 2147483647


def closure_audit(groups: DataFrame) -> DataFrame:
    """Bounded per-group audit of a ``(doc_id, group_id)`` closure
    relation: one row per group — size, member-id range, and an exact
    order-independent int64 membership checksum.

    AUDIT-OUTPUT CONTRACT (the d04/d10/t17 bounded-oracle discipline):
    the RAW per-doc relation from :func:`near_dup_groups` is the API
    shape users consume; the REGISTERED d06/d14 queries return this
    aggregate of it, so the verified output stays O(#groups) at any
    scale while a wrong, missing, or extra member anywhere flips its
    group's row. ``tests/test_audit_contract.py`` pins that this
    aggregate reconciles with the raw relation. The three fields
    mitigate each other: the additive checksum alone could cancel a
    compensating swap of hash-colliding members across two groups,
    which n_docs/min/max then catch unless sizes also compensate.

    member_sig mixer: ``((doc_id % 2147483647) * 2654435761) %
    2147483647`` — bounded below 2^62 for ANY doc_id, so it never
    overflows int64 under ANSI sessions (unlike raw Knuth
    multiplication, which overflows past doc_id ~3.4e9).
    """
    sig = ((F.col("doc_id") % F.lit(_MOD31)) * F.lit(_KNUTH)) % F.lit(_MOD31)
    return groups.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.sum(sig).alias("member_sig"),
    )


def edit_distance_refine(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Character-level refine of candidate pairs: levenshtein distance
    and normalized similarity ``1 − lev/max(len)`` for each
    ``(doc_a, doc_b)``.

    Edit distance is O(len²) per pair — never run it all-pairs; it is
    the third refine tier after cheap candidate generation (LSH bands)
    and set-overlap jaccard, catching near-dups that shingle sets miss
    (small in-place edits shift every overlapping shingle). Texts join
    to candidates by id (two hash joins touching only candidate rows);
    the distance itself is the built-in JVM ``levenshtein``, codegen
    end to end.
    """
    a = docs.select(
        F.col(id_col).alias("doc_a"), F.col(text_col).alias("_ta")
    )
    b = docs.select(
        F.col(id_col).alias("doc_b"), F.col(text_col).alias("_tb")
    )
    lev = F.levenshtein(F.col("_ta"), F.col("_tb"))
    max_len = F.greatest(F.length("_ta"), F.length("_tb"))
    return (
        pairs.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            lev.alias("lev"),
            F.when(max_len == 0, F.lit(1.0))
            .otherwise(1.0 - lev / max_len)
            .alias("edit_sim"),
        )
    )


def simhash_hamming_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``,
    found via the pigeonhole band join: split the fingerprint into
    ``n_bands`` equal bands — ≤ ``n_bands - 1`` differing bits cannot
    touch every band, so hamming-close pairs MUST share at least one
    exact band. Bucket-join per (band index, band value), dedupe, then
    refine with ``bit_count(xor)`` over 32-bit fingerprint words — all
    JVM built-ins (32-bit words keep every intermediate inside a
    non-overflowing signed int64 under ANSI mode, at any width).

    Guaranteed recall needs ``max_hamming < n_bands``. At the default
    64-bit/4-band configuration each band carries 2¹⁶ values, so
    bucket occupancy (and candidate volume) tracks true near-dups; a
    16-bit fingerprint (``bits=16``) has only 2⁴ values per band and
    candidate volume degrades to corpus²/2⁴ — kept available as the
    cross-check width, never the production path (SCALING.md d09).

    ``bucket_cap``: same per-bucket quadratic guard as
    ``lsh_candidate_pairs`` — a cluster of m identical documents puts
    all m fingerprints in the same bucket of EVERY band (m²/2 pairs ×
    4 bands before dedup); past the cap the bucket emits m−1 star
    edges to its min doc_id instead, hamming-refined like any other
    candidate. Capped (``DEFAULT_BUCKET_CAP``) by default;
    ``bucket_cap=None`` opts out into the exact all-pairs shape (the
    d09 oracle does).
    """
    return hamming_pairs_from_bits(
        simhash(docs, text_col, bits=bits),
        bits_col="simhash_bits",
        bits=bits,
        max_hamming=max_hamming,
        n_bands=n_bands,
        bucket_cap=bucket_cap,
    )


def hamming_pairs_from_bits(
    fps: DataFrame,
    bits_col: str = "simhash_bits",
    bits: int = SIMHASH_BITS,
    max_hamming: int = 3,
    n_bands: int = 4,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """The pigeonhole band join + bit_count(xor) refine over ANY
    (doc_id, bit-string) fingerprint relation — extracted verbatim
    from ``simhash_hamming_pairs`` (which now delegates here) so other
    fingerprint families reuse the exact verified machinery: m10 feeds
    it image aHash bits, d09/d13 the text SimHash. Semantics, bounds
    and the ``bucket_cap`` star-edge guard are documented on
    ``simhash_hamming_pairs``.
    """
    if max_hamming >= n_bands:
        raise ValueError("guaranteed recall needs max_hamming < n_bands")
    if bits % n_bands:
        raise ValueError("bits must divide evenly into n_bands")
    band_w = bits // n_bands
    n_words = (bits + 31) // 32
    word_cols = [f"_w{i}" for i in range(n_words)]
    words = [
        F.conv(F.substring(bits_col, i * 32 + 1, min(32, bits - i * 32)), 2, 10)
        .cast("long")
        .alias(word_cols[i])
        for i in range(n_words)
    ]
    # Persist the COMPACT per-doc fingerprint table (optimization r11,
    # guide §5 caching rule: reused AND expensive to recompute). The
    # lazy form replicated the upstream fingerprint derivation under
    # THREE plan subtrees (r12: the capped path's band groupBy plus the
    # two word re-attach legs; the r11 window/self-join shape had five)
    # — for the multimodal callers each replay re-runs the codec kernel
    # (measured: m10's kernel 0.84s, full query 2.7s). One narrow row
    # per doc (id + bits + words), so the cache is corpus-linear and
    # MEMORY_AND_DISK-safe at scale. NOTE (r12, corrected): SQL-cached
    # blocks live until unpersist()/clearCache() — CacheManager holds
    # the plan strongly, so GC of this handle does NOT free them; a
    # long-lived session running many queries should clear its cache
    # between them (bench.py does after every execution).
    sh = fps.select("doc_id", bits_col, *words).persist()
    bands = sh.select(
        "doc_id",
        *word_cols,
        F.posexplode(
            F.array(
                *[
                    F.substring(bits_col, j * band_w + 1, band_w)
                    for j in range(n_bands)
                ]
            )
        ).alias("_j", "_band"),
    )
    if bucket_cap is None:
        a = bands.select(
            F.col("doc_id").alias("doc_a"),
            *[F.col(w).alias(f"{w}a") for w in word_cols],
            "_j",
            "_band",
        )
        b = bands.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(w).alias(f"{w}b") for w in word_cols],
            "_j",
            "_band",
        )
        cand = (
            a.join(b, ["_j", "_band"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select(
                "doc_a",
                "doc_b",
                *[c for w in word_cols for c in (f"{w}a", f"{w}b")],
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
    else:
        # star edges past the cap; fingerprint words re-attached by id
        # (two hash joins against the compact per-doc fingerprint table
        # — touches candidate rows only, never the band explosion)
        pairs = _capped_bucket_pairs(
            bands.select("doc_id", "_j", "_band"), ["_j", "_band"], bucket_cap
        )
        wa = sh.select(
            F.col("doc_id").alias("doc_a"),
            *[F.col(w).alias(f"{w}a") for w in word_cols],
        )
        wb = sh.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(w).alias(f"{w}b") for w in word_cols],
        )
        cand = pairs.join(wa, "doc_a").join(wb, "doc_b")
    hamming = sum(
        F.bit_count(F.col(f"{w}a").bitwiseXOR(F.col(f"{w}b"))) for w in word_cols
    )
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def chunk_dedup(
    docs: DataFrame,
    text_col: str = "text",
    chunk_words: int = 3,
) -> DataFrame:
    """Sub-document exact dedup with reassembly (the C4/CCNet
    paragraph-dedup pattern): split each document into consecutive
    ``chunk_words``-word chunks, keep only the globally FIRST occurrence
    of each distinct chunk (first = smallest (doc_id, chunk_idx)), and
    reassemble every document from its surviving chunks in order.

    Production corpora chunk on paragraph/line boundaries; the fixed
    word-window here is the same machinery with a deterministic
    splitter. Two shuffles total, both keyed uniformly: one on the
    chunk hash (the global first-occurrence ranking), one on doc_id
    (reassembly). Emits per-doc audit columns only, and every audit
    column is a PURE BOUNDED AGGREGATE (the t17 discipline):
    ``dedup_len`` is sum(len(kept chunk)) + n_kept - 1 — numerically
    identical to the length of the space-joined reassembly, without
    materializing it — and ``dedup_sig`` is the position-weighted
    integer signature sum((chunk_idx + 1) · hash32(chunk)) over kept
    chunks, order/content-sensitive w.h.p. with per-doc-bounded int64
    state on both engines (the earlier string_agg reassembly grew
    oracle intermediates with the corpus and OOM'd DuckDB at 100×).
    """
    w = tokenize(F.col(text_col))
    n_chunks = F.ceil(F.size(w) / F.lit(float(chunk_words))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(w, i * chunk_words + 1, chunk_words), " "
        ),
    )
    ch = (
        docs.filter(F.size(w) > 0)
        .select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
    )
    first = Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "chunk_idx")
    ranked = ch.withColumn("rn", F.row_number().over(first))
    hash32 = F.conv(F.substring(F.md5("chunk"), 1, 8), 16, 10).cast("long")
    agg = ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.sum(
            F.when(F.col("rn") == 1, F.length("chunk").cast("long"))
        ).alias("_kept_chars"),
        F.sum(
            F.when(
                F.col("rn") == 1,
                (F.col("chunk_idx").cast("long") + 1) * hash32,
            )
        ).alias("_sig"),
    )
    return agg.select(
        "doc_id",
        "n_chunks",
        "n_kept",
        F.when(
            F.col("n_kept") > 0, F.col("_kept_chars") + F.col("n_kept") - 1
        ).cast("long").alias("dedup_len"),
        F.when(F.col("n_kept") > 0, F.col("_sig")).alias("dedup_sig"),
    )


def canonicalize_url(url: Column) -> Column:
    """URL canonicalization for web-corpus dedup: strip the fragment,
    strip trailing ``?utm_*`` tracking params, lowercase the
    scheme://host[:port] prefix (path/query stay case-sensitive), drop
    an explicit ``:443`` default port, drop a trailing slash. Pure
    RE2-compatible regexp chain (no lookahead — RE2 has none), codegen,
    no shuffle. The canonical string is the dedup key crawl pipelines
    group on before any content-based pass."""
    c = F.regexp_replace(url, r"#.*$", "")
    c = F.regexp_replace(c, r"\?utm_[a-z_]+=[^&#]*$", "")
    pre = F.regexp_extract(c, r"^([A-Za-z]+://[^/]+)", 1)
    rest = F.substring(c, F.length(pre) + 1, F.lit(1 << 30))
    pre = F.regexp_replace(F.lower(pre), r":443$", "")
    c = F.concat(pre, rest)
    return F.regexp_replace(c, r"/$", "")


def window_dup_rate(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    gram_key: str = "raw",
) -> DataFrame:
    """Cross-document duplicated-window rate — the exact-substring dedup
    signal of Lee et al., "Deduplicating Training Data Makes Language
    Models Better" (arXiv:2107.06499), restated over k-TOKEN windows:
    every k-token window of every document is counted, and a window
    position is "duplicated" when its gram text also occurs in at least
    one OTHER document (within-doc repetition is deliberately excluded —
    that is t08's repetition screen / t17's span self-dedup; this
    operator isolates the cross-document boilerplate signal that drives
    train-set memorization). Returns one row per doc with ≥1 window:
    ``n_windows`` (all k-token positions), ``n_dup_windows`` (positions
    whose gram appears in another doc) and ``dup_frac`` — the fraction
    curation pipelines threshold on (e.g. drop docs >50% duplicated).

    Spark-first shape, three skinny shuffles and nothing quadratic:
    (1) the window grams are assembled ROW-LOCALLY (same Generate-node
    trick as ``shingles`` — the token array materializes once per doc,
    no per-token explode) and reduced to (doc_id, gram, n_pos) with a
    map-side-combining groupBy, collapsing within-doc repeats BEFORE
    anything hits the wire; (2) the cross-doc document frequency is a
    ``count() over (partition by gram)`` window on that already-reduced
    relation — one exchange on gram, no self-join, and since each
    (doc, gram) appears once the count IS the distinct-doc count;
    (3) the per-doc rollup. Work is O(total windows); a boilerplate
    gram shared by m docs costs m rows in one window partition — linear,
    never m² (contrast the naive gram self-join).

    ``gram_key``: ``"raw"`` (default, and the oracle configuration)
    shuffles the gram STRING — exact, engine-portable; ``"xxhash64"``
    replaces it with the 64-bit gram hash before the exchanges — ~k·8
    bytes less per row on the wire at 100 TB, with a ~n²/2⁶⁴ collision
    probability that only ever OVERCOUNTS duplication (two distinct
    grams colliding merge their doc sets), the same trade the MinHash
    family documents.
    """
    from ..sources.tables import scale_out

    toks = scale_out(docs.select("doc_id", text_col), "doc_id").select(
        "doc_id", F.explode(F.array(tokenize(F.col(text_col)))).alias("toks")
    )
    gram = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (k - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at("toks", i + j) for j in range(k)]
        ),
    )
    grams = F.when(F.size("toks") >= k, gram).otherwise(
        F.array().cast("array<string>")
    )
    g = toks.select("doc_id", F.explode(grams).alias("gram"))
    if gram_key == "xxhash64":
        g = g.select("doc_id", F.xxhash64("gram").alias("gram"))
    elif gram_key != "raw":
        raise ValueError(f"unknown gram_key: {gram_key}")
    per_doc_gram = g.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).alias("n_pos")
    )
    gw = Window.partitionBy("gram")
    ann = per_doc_gram.withColumn("n_docs", F.count(F.lit(1)).over(gw))
    dup_pos = F.sum(
        F.when(F.col("n_docs") >= 2, F.col("n_pos")).otherwise(F.lit(0))
    )
    return (
        ann.groupBy("doc_id")
        .agg(
            F.sum("n_pos").cast("long").alias("n_windows"),
            dup_pos.cast("long").alias("n_dup_windows"),
        )
        .withColumn(
            "dup_frac",
            F.col("n_dup_windows").cast("double") / F.col("n_windows"),
        )
    )


def incremental_minhash_dedup(
    docs: DataFrame,
    batch_mod: int = 5,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    threshold: float = 0.8,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Incremental (batch-vs-corpus) MinHash dedup — THE production
    ingestion shape: a new batch arrives, and each batch document is
    screened against the existing corpus for near-duplicates; batch
    docs with no corpus match are the novel survivors that get
    appended. Here the split is carved deterministically out of one
    table (``doc_id % batch_mod == 0`` → batch, else corpus) so the
    operator is closed over the driver's test data; in production the
    corpus side is the persisted signature/bucket store and the batch
    side is the day's crawl.

    Returns one row per MATCHED batch doc: ``batch_doc``,
    ``n_matches`` (corpus docs with jaccard ≥ threshold),
    ``first_match`` (smallest matching corpus doc_id) and
    ``max_jaccard_nanos`` (exact int64 of round(j·1e9)). The novel
    survivors are the batch anti-join against this relation — kept out
    of the output so the interesting structure (who matched what, how
    strongly) is what gets checked.

    Scale design: signatures and band buckets are built once over both
    sides (same per-doc groupBy as ``minhash_near_dup_pairs``); the
    candidate join is corpus-bands ⋈ batch-bands on (band, bucket) —
    batch is typically ≪ corpus, so this is a build-small/probe-large
    hash join, never a corpus self-join — and the jaccard verify is the
    candidate-bounded array-intersect of ``pair_jaccard`` (O(|cand| ·
    set size), independent of shingle document frequency). CRITICALLY,
    at steady state the corpus side's shingling + signatures need not
    be recomputed per batch: they are append-only state keyed by
    doc_id, written once when a doc is admitted (this function
    recomputes them only because its input is one ephemeral table).

    ``bucket_cap`` guards the skew case of a batch doc's bucket landing
    in viral corpus boilerplate: corpus buckets larger than the cap are
    thinned to their ``cap`` smallest doc_ids (deterministic), so one
    bucket contributes ≤ cap candidates per probe instead of m. The
    documented recall trade: a batch doc whose ONLY match sits in the
    dropped tail of a >cap bucket can slip through — acceptable because
    any of the cap retained members of the same full-band collision is
    overwhelmingly likely to match too (the star-cap argument).
    ``bucket_cap=None`` opts out into the exact all-members probe (the
    registered oracle does).
    """
    sh = shingles(docs, text_col, n)
    sig = minhash_signatures(sh, num_hashes, hash_fn)
    bands = band_buckets(sig, num_hashes, band_size, hash_fn)
    is_batch = F.col("doc_id") % batch_mod == 0
    corpus_bands = bands.filter(~is_batch)
    if bucket_cap is not None:
        corpus_bands = _thin_buckets(corpus_bands, bucket_cap)
    batch_bands = bands.filter(is_batch)
    cand = (
        corpus_bands.alias("c")
        .join(
            batch_bands.alias("b"),
            (F.col("c.band") == F.col("b.band"))
            & (F.col("c.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col("c.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    scored = pair_jaccard(sh, cand).filter(F.col("jaccard") >= threshold)
    return scored.groupBy(F.col("doc_b").alias("batch_doc")).agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.min("doc_a").alias("first_match"),
        F.max(F.round(F.col("jaccard") * 1e9).cast("long")).alias(
            "max_jaccard_nanos"
        ),
    )


def dedup_corpus_state(
    corpus_docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    hash_fn: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """The persisted corpus side of incremental dedup: ``(buckets,
    sets)`` — the (doc_id, band, bucket) LSH probe keys and the per-doc
    shingle arrays the jaccard verify intersects against.

    This pair IS the append-only state a production ingest maintains:
    both relations are keyed by doc_id, written once when a document is
    admitted and never updated, so "dedup today's crawl against the
    corpus" costs O(batch), not O(corpus). ``bucket_cap`` thins
    oversized buckets to their cap smallest doc_ids at state-build time
    (the ``incremental_minhash_dedup`` recall trade, applied once
    instead of per probe).
    """
    sh = shingles(corpus_docs, text_col, n)
    sig = minhash_signatures(sh, num_hashes, hash_fn)
    buckets = band_buckets(sig, num_hashes, band_size, hash_fn)
    if bucket_cap is not None:
        buckets = _thin_buckets(buckets, bucket_cap)
    sets = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("_set"))
    return buckets, sets


def probe_dedup_state(
    batch_docs: DataFrame,
    corpus_buckets: DataFrame,
    corpus_sets: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    threshold: float = 0.8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Probe a batch of new documents against prebuilt corpus dedup
    state (``dedup_corpus_state``): per MATCHED batch doc, the same
    audit row as ``incremental_minhash_dedup`` — ``batch_doc``,
    ``n_matches``, ``first_match``, ``max_jaccard_nanos``.

    Built for the micro-batch path (``streaming.features.
    stream_incremental_dedup`` calls it inside ``foreachBatch``): every
    step is batch-sized except the two joins against the persisted
    corpus relations, and since each document's verdict depends only on
    itself and the STATIC corpus, per-micro-batch evaluation is exact —
    no cross-batch streaming state at all. Signatures/buckets must use
    the same ``num_hashes``/``band_size``/``hash_fn`` the state was
    built with (as with ``lsh_candidate_pairs``).
    """
    sh_b = shingles(batch_docs, text_col, n)
    sig_b = minhash_signatures(sh_b, num_hashes, hash_fn)
    bands_b = band_buckets(sig_b, num_hashes, band_size, hash_fn)
    cand = (
        corpus_buckets.alias("c")
        .join(
            bands_b.alias("b"),
            (F.col("c.band") == F.col("b.band"))
            & (F.col("c.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col("c.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sets_b = sh_b.groupBy("doc_id").agg(F.collect_set("shingle").alias("_set"))
    a = corpus_sets.select(
        F.col("doc_id").alias("doc_a"), F.col("_set").alias("_sa")
    )
    b = sets_b.select(F.col("doc_id").alias("doc_b"), F.col("_set").alias("_sb"))
    n_inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    n_a, n_b = F.size(F.col("_sa")), F.size(F.col("_sb"))
    scored = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (n_inter.cast("double") / (n_a + n_b - n_inter)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return scored.groupBy(F.col("doc_b").alias("batch_doc")).agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.min("doc_a").alias("first_match"),
        F.max(F.round(F.col("jaccard") * 1e9).cast("long")).alias(
            "max_jaccard_nanos"
        ),
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Near-CONTAINMENT pairs: c(A,B) = |A∩B| / min(|A|,|B|) ≥ t over
    n-gram shingle sets — the doc-inside-doc signal (quotes, aggregator
    pages, chunk-of-a-larger-doc) that symmetric jaccard structurally
    misses: a 50-shingle doc fully embedded in a 5000-shingle doc has
    jaccard ≈ 0.01 but containment 1.0, and MinHash-LSH (a jaccard
    estimator) won't surface it either — containment needs its own
    candidate generation.

    Candidate prune — the AllPairs prefix theorem specialized to the
    asymmetric score: c ≥ t means the SMALLER set shares ≥ ceil(t·n_s)
    of its elements, so it cannot avoid its own rarest-first prefix of
    n_s − ceil(t·n_s) + 1 entries; the larger set has NO length or
    prefix constraint (any size ratio qualifies — that is the point).
    So the inverted-index join is smaller-side PREFIXES against
    larger-side FULL postings, with the positional bound
    (n_s − r_s) + 1 ≥ ceil(t·n_s) on the first collision. Verify is the
    row-local broadcast ``array_intersect`` (d05's discipline — no
    candidate-keyed aggregate).

    ``max_df`` restricts the shingle universe to document frequency ≤
    cap, and HERE the cap is part of the REGISTERED semantics, not just
    a production knob: the larger side keeps full (unprefixed) posting
    lists, so an uncapped universe pays O(df) join rows per posting and
    a boilerplate shingle re-creates the quadratic wall the jaccard
    prefix filter escapes via its length bound — which containment, by
    definition, does not have. Sizes and intersections both compute
    over the SAME capped universe, so the score is a well-defined
    containment of stop-filtered shingle sets (also statistically the
    right universe for the signal: ultra-common shingles carry no
    containment evidence). ``max_df=None`` exists for small-corpus
    exactness checks only.
    """
    t = float(threshold)
    sh = shingles(docs, text_col, n)
    posting = sh.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    )
    if max_df is not None:
        posting = posting.filter(F.col("_df") <= max_df)
    # Per-doc size AND rarest-first rank in ONE window pass
    # (optimization r12): both expressions share the (doc_id) partition
    # and the (_df, shingle) order — the size just uses the full-
    # partition frame, which is exactly count() over (partition by
    # doc_id) — so Spark evaluates them in a single WindowExec; the
    # r11 shape paid a separate exchange + sort + window pass over the
    # exploded posting relation for the unordered n-window.
    dw = Window.partitionBy("doc_id").orderBy("_df", "shingle")
    posting = posting.withColumn(
        "n",
        F.count(F.lit(1)).over(
            dw.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    ).withColumn("_rn", F.row_number().over(dw))
    # Persist the annotated posting relation (optimization r11): it
    # feeds doc_sets, the prefix ranking AND the full-side join — the
    # lazy form replayed the shingle explode + window chain (two
    # shuffles of the exploded relation) once per consumer (4 scan
    # branches in the physical plan). One disk-spillable cache beats
    # three recomputes of the same two-shuffle chain at any scale.
    # NOTE (r12, corrected): SQL-cached blocks live until
    # unpersist()/clearCache(), not until GC of this handle; bench.py
    # clears the session cache after every query execution.
    posting = posting.persist()
    doc_sets = posting.groupBy("doc_id").agg(
        F.collect_set("shingle").alias("_set")
    )
    prefix = posting.filter(
        (F.col("_rn") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1)
        # positional bound on the smaller side's first collision slot
        & (F.col("n") - F.col("_rn") + 1 >= F.ceil(F.lit(t) * F.col("n")))
    ).select(
        F.col("doc_id").alias("doc_s"),
        F.col("n").alias("n_s"),
        "shingle",
    )
    full = posting.select(
        F.col("doc_id").alias("doc_l"), F.col("n").alias("n_l"), "shingle"
    )
    cand = (
        prefix.join(full, "shingle")
        .filter((F.col("doc_s") != F.col("doc_l")) & (F.col("n_s") <= F.col("n_l")))
        .select(
            F.least("doc_s", "doc_l").alias("doc_a"),
            F.greatest("doc_s", "doc_l").alias("doc_b"),
        )
        .distinct()
    )
    sa = doc_sets.select(
        F.col("doc_id").alias("doc_a"), F.col("_set").alias("_sa")
    )
    sb = doc_sets.select(
        F.col("doc_id").alias("doc_b"), F.col("_set").alias("_sb")
    )
    n_inter = F.size(F.array_intersect("_sa", "_sb"))
    return (
        cand.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_inter.cast("long").alias("n_inter"),
            (
                n_inter.cast("double")
                / F.least(F.size("_sa"), F.size("_sb"))
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def crossdoc_span_removal(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    gram_key: str = "raw",
) -> DataFrame:
    """Cross-document exact-substring REMOVAL — the actual dedup
    TRANSFORM of Lee et al. (arXiv:2107.06499), completing d17 (which
    only measures the duplicated-window rate) and t17 (which removes
    only within-doc spans): every k-token window whose gram also occurs
    in a document with a SMALLER doc_id is a duplicated occurrence, the
    tokens it covers are excised, and each document is reassembled from
    its surviving tokens in order. First-occurrence-wins is defined
    deterministically: the corpus-minimum doc_id containing a gram
    keeps ALL its occurrences (within-doc repeats included — those are
    t17's business); every later document loses every token covered by
    that gram. A token survives iff NO flagged window starting in
    ``[q-k+1, q]`` covers it.

    Per-doc audit output (one row per doc with ≥1 token), every column
    a PURE BOUNDED AGGREGATE (the t17/d10 oracle discipline — neither
    engine materializes reassembled text):
    ``n_tokens``, ``n_removed``, ``n_kept``,
    ``kept_len`` = sum(len(kept token)) + n_kept − 1 (the length of
    the space-joined reassembly, NULL when nothing survives), and
    ``kept_sig`` = Σ new_idx · hash32(token) over survivors (new_idx =
    1-based position in the REASSEMBLED doc), order/content-sensitive
    w.h.p. with per-doc-bounded int64 state.

    Spark-first shape, three skinny linear shuffles, nothing quadratic:
    (1) window grams are assembled ROW-LOCALLY (the d17 Generate-node
    trick) into (doc_id, start_pos, gram) and the corpus-minimum owner
    per gram is a ``min(doc_id) over (partition by gram)`` window —
    one exchange on gram, no self-join; a boilerplate gram shared by m
    docs costs m rows in one partition, linear, never m²;
    (2) flagged starts equi-join back to the posexploded token relation
    on (doc_id, pos) — both sides uniform in doc position;
    (3) one per-doc sort window computes coverage (``max(flag)`` over
    the trailing k−1 starts) AND the running kept index in the same
    partitioning, then a map-side-combining per-doc rollup.
    Work is O(total tokens + total windows) at any corpus size.

    ``gram_key``: ``"raw"`` (default, the oracle configuration)
    shuffles the gram STRING — exact, engine-portable; ``"xxhash64"``
    shuffles the 64-bit gram hash instead — ~k·8 bytes less per wire
    row at 100 TB, with ~n²/2⁶⁴ collision odds that only ever
    OVER-remove (two distinct grams colliding merge their doc sets),
    the same trade d17 documents.
    """
    st = crossdoc_kept_tokens(docs, text_col=text_col, k=k, gram_key=gram_key)
    hash32 = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    kept = F.col("covered") == 0
    n_kept = F.sum(F.when(kept, 1).otherwise(0))
    return (
        st.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("covered").cast("long").alias("n_removed"),
            n_kept.cast("long").alias("n_kept"),
            F.sum(F.when(kept, F.length("tok").cast("long"))).alias(
                "_kept_chars"
            ),
            F.sum(F.when(kept, F.col("rn_kept") * hash32)).alias("_sig"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_removed",
            "n_kept",
            F.when(F.col("n_kept") > 0, F.col("_kept_chars") + F.col("n_kept") - 1)
            .cast("long")
            .alias("kept_len"),
            F.when(F.col("n_kept") > 0, F.col("_sig"))
            .cast("long")
            .alias("kept_sig"),
        )
    )


def crossdoc_kept_tokens(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    gram_key: str = "raw",
) -> DataFrame:
    """The span-removal TOKEN relation behind ``crossdoc_span_removal``
    (which aggregates it to the registered per-doc audit), exposed so
    composed pipelines (p06) can keep processing the surviving tokens:
    one row per input token — ``(doc_id, q, tok, covered, rn_kept)``
    with ``q`` the 1-based original position, ``covered`` the excision
    flag, and ``rn_kept`` the 1-based position in the reassembled doc
    (only meaningful on survivor rows). Plan shape and scale notes are
    documented on ``crossdoc_span_removal``."""
    from ..sources.tables import scale_out

    # explode(array(tokenize)) = the d17 Generate-node barrier: the
    # token array materializes ONCE per doc (projection collapse would
    # otherwise inline the regexp into every downstream reference)
    toks = scale_out(docs.select("doc_id", text_col), "doc_id").select(
        "doc_id", F.explode(F.array(tokenize(F.col(text_col)))).alias("w")
    )
    toks = toks.filter(F.size("w") > 0)

    # (1) gram starts, row-locally assembled; corpus-min owner per gram
    gram = F.transform(
        F.sequence(F.lit(1), F.size("w") - (k - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at("w", i + j) for j in range(k)]
        ),
    )
    grams = F.when(F.size("w") >= k, gram).otherwise(
        F.array().cast("array<string>")
    )
    occ = toks.select(
        "doc_id", F.posexplode(grams).alias("p0", "gram")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "gram")
    if gram_key == "xxhash64":
        occ = occ.select("doc_id", "p", F.xxhash64("gram").alias("gram"))
    elif gram_key != "raw":
        raise ValueError(f"unknown gram_key: {gram_key}")
    gw = Window.partitionBy("gram")
    flagged = (
        occ.withColumn("min_doc", F.min("doc_id").over(gw))
        .filter(F.col("min_doc") < F.col("doc_id"))
        .select("doc_id", F.col("p").alias("q"))
        .distinct()  # within-doc repeated grams flag one start once
        .withColumn("start_flag", F.lit(1))
    )

    # (2) token relation joined to flagged starts on (doc_id, pos)
    tok = toks.select(
        "doc_id", F.posexplode("w").alias("q0", "tok")
    ).select("doc_id", (F.col("q0") + 1).alias("q"), "tok")
    st = tok.join(flagged, ["doc_id", "q"], "left").withColumn(
        "start_flag", F.coalesce("start_flag", F.lit(0))
    )

    # (3) trailing-window coverage + running kept index, per-doc rollup
    dw = Window.partitionBy("doc_id").orderBy("q")
    covered = F.max("start_flag").over(dw.rowsBetween(-(k - 1), 0))
    return st.withColumn("covered", covered).withColumn(
        "rn_kept",
        F.sum(1 - F.col("covered")).over(
            dw.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )


def _argmax_aggs(score: str, ident: str) -> list[Column]:
    """Aggregates for argmax(``score``, ties → smaller ``ident``) over
    an integral score and a non-negative integral id; unpack the
    aggregated row with :func:`_argmax_id`.

    The argmax travels as ``max`` of ONE DECIMAL(38,0) packing
    ``score·2⁶³ + (2⁶³−1−id)``, strictly monotone in (score asc,
    id desc) for any long score and any non-negative id, and bounded
    by ~8.6·10³⁷ < 10³⁸, so it never overflows. A decimal buffer is
    mutable, so the aggregate plans as HashAggregate with map-side
    partials (a ``max(struct)`` would force a SortAggregate).
    ``min(id)`` rides the same aggregate so a negative id, which would
    break the order, fails the unpack instead of naming a wrong
    member.
    """
    pack = F.expr(
        f"CAST(`{score}` AS DECIMAL(20,0)) * 9223372036854775808BD"
        f" + (9223372036854775807BD - CAST(`{ident}` AS DECIMAL(20,0)))"
    )
    return [
        F.max(pack).alias("_bp"),
        F.max(score).alias("_bs"),
        F.min(ident).alias("_bmin"),
    ]


def _argmax_id(ident: str) -> Column:
    """The id of the :func:`_argmax_aggs` winner: ``max(score)`` is
    the winner's score, so ``id = 2⁶³−1 − (_bp − _bs·2⁶³)`` exactly.
    Raises when the group held a negative id."""
    # 2^63 and 2^63−1 as DECIMAL literals (BD suffix): both exceed
    # int64, so they cannot ride F.lit
    unpack = F.expr(
        "CAST(9223372036854775807BD"
        " - (_bp - CAST(_bs AS DECIMAL(20,0)) * 9223372036854775808BD)"
        " AS BIGINT)"
    )
    error = f"packed argmax needs non-negative {ident} values"
    return F.when(
        F.col("_bmin") < 0, F.raise_error(F.lit(error))
    ).otherwise(unpack)


def quality_keeper_audit(
    groups: DataFrame,
    docs: DataFrame,
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keeper-by-QUALITY selection over a ``(doc_id, group_id)``
    closure relation — what production dedup actually ships:
    :func:`near_dup_groups` labels every group by its min doc_id
    (the hash-min invariant the closure needs), but the member a
    pipeline KEEPS should be the best one, not the first one. This
    pass picks argmax(quality, tie → smaller id) per group and emits
    one bounded audit row: ``(group_id, n_docs, keeper_id,
    keeper_quality, drop_sig)`` where drop_sig is the closure_audit
    int64 mixer summed over exactly the DROPPED members — the
    reproducible kill-list checksum a curation run logs.

    Scale shape: one equi-join of the closure relation onto the docs'
    quality column (id-keyed, co-partitionable) and ONE groupBy with
    map-side partials; drop_sig is derived as (Σ mixer over ALL
    members) − mixer(keeper) after the aggregate, exact in int64.
    State is O(#groups) end to end.

    Id contract: for an integral quality column the argmax is the
    packed DECIMAL of :func:`_argmax_aggs`, which needs non-negative
    doc ids; a group holding a negative id raises. A non-integral
    quality column keeps the exact ``max(struct(q, −id))`` form (a
    decimal cast would truncate).
    """
    q = groups.join(
        docs.select(F.col(id_col).alias("doc_id"), quality_col), "doc_id"
    )
    mix = ((F.col("doc_id") % F.lit(_MOD31)) * F.lit(_KNUTH)) % F.lit(_MOD31)
    integral = dict(q.dtypes).get(quality_col) in (
        "tinyint",
        "smallint",
        "int",
        "bigint",
    )
    if integral:
        agg = q.groupBy("group_id").agg(
            F.count(F.lit(1)).alias("n_docs"),
            *_argmax_aggs(quality_col, "doc_id"),
            F.sum(mix).alias("_sig_all"),
        )
        keeper_id = _argmax_id("doc_id")
        keeper_q = F.col("_bs")
    else:
        best = F.max(
            F.struct(
                F.col(quality_col).alias("q"), (-F.col("doc_id")).alias("nid")
            )
        )
        agg = q.groupBy("group_id").agg(
            F.count(F.lit(1)).alias("n_docs"),
            best.alias("_best"),
            F.sum(mix).alias("_sig_all"),
        )
        keeper_id = -F.col("_best.nid")
        keeper_q = F.col("_best.q")
    keeper_mix = ((keeper_id % F.lit(_MOD31)) * F.lit(_KNUTH)) % F.lit(_MOD31)
    return agg.select(
        "group_id",
        "n_docs",
        keeper_id.cast("long").alias("keeper_id"),
        keeper_q.cast("long").alias("keeper_quality"),
        (F.col("_sig_all") - keeper_mix).cast("long").alias("drop_sig"),
    )
